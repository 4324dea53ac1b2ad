package graft.operators

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Multimodal-column plumbing: opaque `binary` payloads with typed
  * metadata, decoded per-partition in batches — the plan shape a real
  * image/audio pipeline needs (scan → narrow mapPartitions → columnar
  * metadata), with a REAL pure-JVM codec at the image seam
  * ([[graft.functions.Bmp]]: uncompressed 24-bpp BMP — header parse, row
  * de-padding, bottom-up flip) and deterministic byte plumbing at the
  * video/audio seams (no media libraries ship in this environment; a
  * JNI/FFmpeg decoder slots into the same mapPartitions boundary).
  *
  * The Spark-side contract is real and tested:
  *  - payloads travel as `BinaryType` columns (no driver collect);
  *  - decode runs inside `mapPartitions` over a typed Dataset, one
  *    partition-sized batch iterator per task — exactly where a JNI/FFmpeg
  *    or JPEG decoder would sit, and where a Python pipeline would use
  *    `mapInPandas`;
  *  - extracted metadata comes back as ordinary columns for downstream
  *    relational ops.
  *
  * q27 (metadata), q41 (resize math) and q38 (embedding) run on genuine
  * encoded image bytes: the fixture renders each document as a real BMP
  * whose pixel CONTENT is a per-position formula of the text, so the
  * DuckDB oracle replays the content while the Spark side must parse
  * the actual file format to reach it.
  */
object MultimodalPipeline {

  /** Input record: payload + format tag (as a real media table would be). */
  final case class MediaRecord(doc_id: Long, payload: Array[Byte], fmt: String)

  /** Typed metadata the image decode extracts. */
  final case class MediaMeta(doc_id: Long, n_bytes: Int, width: Int,
                             height: Int, channels: Int, checksum: String)

  /** Image dimensions for a doc's BMP render — small (w 4..19, h 4..15,
    * ≤ 855 pixel bytes) so the oracle's per-pixel replay stays cheap at
    * sf0.1 while every document still gets a distinct geometry. */
  def bmpDims(textLen: Int): (Int, Int) =
    (textLen % 16 + 4, (textLen * 7) % 12 + 4)

  /** Raster-order pixel bytes for a doc's BMP: byte k is
    * `(7·c + 13·k) mod 256` with `c` the code point of text[k mod len] —
    * full-range bytes tied to both the text AND the position, so a
    * decoder that mis-handles the bottom-up row flip or the row padding
    * produces a different raster sequence and the checksum/hash gate
    * fires. Same ASCII-source precondition as [[mediaTableWide]]
    * (DuckDB's ascii() reads code points; this corpus is ASCII). */
  def bmpPixels(text: String, width: Int, height: Int): Array[Byte] = {
    val n = width * height * 3
    val out = new Array[Byte](n)
    val len = text.length
    var k = 0
    while (k < n) {
      val c = if (len == 0) 0 else text.charAt(k % len).toInt
      out(k) = ((c * 7 + k * 13) % 256).toByte
      k += 1
    }
    out
  }

  /** Documents rendered as REAL uncompressed 24-bpp BMP files — the
    * image-table fixture q27/q41/q38 decode. Encoding happens
    * per-partition on executors (BinaryType column, never the driver). */
  def bmpMediaTable(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val (w, h) = bmpDims(text.length)
        (id, graft.functions.Bmp.encode(w, h, bmpPixels(text, w, h)),
          "image/bmp")
      })
      .toDF("doc_id", "payload", "fmt")
  }

  /** The REAL image decode: parse the BMP container, then fingerprint
    * the decoded raster (md5 of the pixel bytes' lowercase-hex — q37's
    * DuckDB-replayable digest discipline). The checksum covers the
    * DECODED raster in top-down order, so it proves the decoder's row
    * flip and padding handling, not just byte passthrough. */
  def decodeImage(r: MediaRecord): MediaMeta = {
    val img = graft.functions.Bmp.decode(r.payload)
    val md = MessageDigest.getInstance("MD5")
    val hex = graft.functions.Hex.lower(img.pixels)
    MediaMeta(r.doc_id, r.payload.length, img.width, img.height,
      3, graft.functions.Hex.lower(md.digest(hex.getBytes("UTF-8"))))
  }

  /** 64-bit average-hash of a decoded raster: 64 contiguous chunks of
    * the top-down pixel byte sequence; bit j is set iff chunk j's mean
    * is at or above the global mean, compared by exact integer
    * cross-multiplication (`sum_j * n >= total * count_j`) so unequal
    * chunk sizes never introduce float rounding. The products are
    * compared in 128 bits ([[crossGe]]) — `sum_j` can reach `255*n`,
    * so the 64-bit product overflows for rasters past ~190 MB and the
    * API is documented for arbitrary raster sizes. Empty chunks
    * (rasters under 64 bytes) read as 0. This is the aHash
    * construction of perceptual image dedup, over the raster the REAL
    * container decode produced — a decoder bug (row flip, padding)
    * changes the hash. */
  def aHash(pixels: Array[Byte]): Long = {
    val n = pixels.length
    val sums = new Array[Long](64)
    val cnts = new Array[Long](64)
    var total = 0L
    var k = 0
    while (k < n) {
      val j = ((k.toLong * 64) / n).toInt
      val p = pixels(k) & 0xff
      sums(j) += p; cnts(j) += 1; total += p
      k += 1
    }
    var h = 0L
    var j = 0
    while (j < 64) {
      if (cnts(j) > 0 && crossGe(sums(j), n, total, cnts(j))) h |= 1L << j
      j += 1
    }
    h
  }

  /** Exact `a*b >= c*d` for non-negative longs: both products are
    * formed as (high, low) 128-bit pairs via `Math.multiplyHigh`, so
    * the comparison never wraps — a 64-bit `a*b` silently flips hash
    * bits once a raster crosses ~190 MB (sum_j*n ~ 255*n^2). */
  private[graft] def crossGe(a: Long, b: Long, c: Long, d: Long): Boolean = {
    val hi1 = Math.multiplyHigh(a, b); val lo1 = a * b
    val hi2 = Math.multiplyHigh(c, d); val lo2 = c * d
    if (hi1 != hi2) hi1 > hi2
    else java.lang.Long.compareUnsigned(lo1, lo2) >= 0
  }

  /** Q106: IMAGE near-dup by perceptual hash — the dedup family extended
    * to the multimodal columns (SemDeDup needs an embedding model; aHash
    * needs only the decoder, and catches re-encodes/minor edits). Each
    * BMP is decoded and hashed per-partition (the q27 seam: binary in,
    * 8 bytes out — at 100 TB of images the exchange carries ONE LONG per
    * image, never pixels), then q48's pigeonhole applies: hamming <= 3
    * across 64 bits means at least one of four 16-bit bands is equal, so
    * the band-equality self-join generates every qualifying pair without
    * an all-pairs comparison, and `bit_count(xor)` verifies exactly.
    * Oracle replays pixel formula -> chunk means -> bands -> banded join
    * in SQL, so a drift anywhere in decode/hash/join fires the gate. */
  def q106ImageNearDup(spark: SparkSession, sfDir: String,
                       maxHamming: Int = 7): DataFrame = {
    import spark.implicits._
    // 8 bands x 8 bits: the pigeonhole guarantee needs bands > hamming,
    // and this fixture's closest non-identical pairs sit at hamming 7
    // (no raw-text dups in the corpus, and the per-position pixel
    // formula decorrelates unequal texts fast). 8-bit bands collide
    // more than q48's 16-bit ones — the production knob at image-corpus
    // scale is a wider perceptual hash (256-bit pHash), same topology.
    val hashes = bmpMediaTable(spark, sfDir).as[MediaRecord]
      .mapPartitions(_.map(r =>
        (r.doc_id, aHash(graft.functions.Bmp.decode(r.payload).pixels))))
      .toDF("doc_id", "ahash")
    val banded = hashes.select(col("doc_id"), col("ahash"),
      explode(array((0 until 8).map(j => struct(lit(j).as("band"),
        shiftrightunsigned(col("ahash"), j * 8)
          .bitwiseAND(lit(0xffL)).as("bv"))): _*)).as("b"))
      .select(col("doc_id"), col("ahash"),
        col("b.band").as("band"), col("b.bv").as("bv"))
    val a = banded.select(col("doc_id").as("doc_id_1"),
      col("ahash").as("h1"), col("band"), col("bv"))
    val bb = banded.select(col("doc_id").as("doc_id_2"),
      col("ahash").as("h2"), col("band"), col("bv"))
    a.join(bb, Seq("band", "bv"))
      .where(col("doc_id_1") < col("doc_id_2"))
      .select("doc_id_1", "doc_id_2", "h1", "h2").distinct()
      .select(col("doc_id_1"), col("doc_id_2"),
        bit_count(col("h1").bitwiseXOR(col("h2"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .orderBy("doc_id_1", "doc_id_2")
  }

  /** The WIDE media fixture: payloads whose bytes regularly exceed 0x7F,
    * so the byte-slicing operators (q37 frames, q61 audio windows) are
    * exercised on genuine binary data, not on an ASCII corpus where
    * chars == bytes hides offset bugs. Each text char expands to TWO
    * bytes — the char itself and `(7·c + 13) mod 256` (a full-range
    * mixed byte) — a deterministic formula the DuckDB oracle replays
    * per byte position, so frame offsets/lengths/digests verify against
    * real multi-range bytes. PRECONDITION that remains: the SOURCE text
    * must be single-code-unit chars with codepoint ≤ 127 (this corpus
    * is), because Scala reads UTF-16 units (`charAt(i).toInt`, byte =
    * mod 256) while DuckDB's `ascii(substr(...))` returns the full
    * Unicode codepoint and `length()` counts codepoints — a char >
    * 0xFF (or any astral char, which also changes the byte count)
    * makes the two formulas diverge and the hash gate fire. What the
    * fixture removed is the chars==bytes assumption in the PAYLOAD
    * (slicing runs on real >0x7F bytes); the text→byte derivation
    * itself is still ASCII-anchored by construction. */
  def mediaTableWide(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // parallelism floor before the per-row payload render (guide §2.5):
    // the corpus parquet is a single row group → one scan task, and
    // every downstream frame/decode closure would inherit that width.
    // Round-robin is row-preserving; consumers re-sort or aggregate.
    val docs0 = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val cores = spark.sparkContext.defaultParallelism
    val docs = if (docs0.rdd.getNumPartitions < cores)
      docs0.repartition(cores) else docs0
    docs.as[(Long, String)]
      .map { case (id, text) =>
        val bytes = new Array[Byte](text.length * 2)
        var i = 0
        while (i < text.length) {
          val c = text.charAt(i).toInt
          bytes(2 * i) = c.toByte
          bytes(2 * i + 1) = ((c * 7 + 13) % 256).toByte
          i += 1
        }
        (id, bytes, "bin/wide")
      }
      .toDF("doc_id", "payload", "fmt")
  }

  /** Q27: scan binary payloads, batch-decode per partition, return typed
    * metadata. The mapPartitions boundary is the only non-codegen stage —
    * by design, since that's where the native decoder lives; here it is
    * a REAL one ([[graft.functions.Bmp.decode]] over the BMP fixture),
    * so width/height/checksum come out of an actual container parse. */
  def q27MultimodalMeta(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    bmpMediaTable(spark, sfDir).as[MediaRecord]
      .mapPartitions(batch => batch.map(decodeImage))
      .toDF()
      .orderBy("doc_id")
  }

  /** One sampled frame: parent doc, frame index, byte offset, and the
    * frame's own payload slice (what a video pipeline hands to the
    * per-frame model). */
  final case class Frame(doc_id: Long, frame_idx: Int, byte_offset: Int,
                         frame_bytes: Array[Byte])

  /** Frames every `stride` bytes, up to `maxFrames` — the frame-sampling
    * plumbing of a video pipeline (seek table stands in for real codec
    * keyframe offsets). Emission is a per-partition iterator: one input
    * record fans out to ≤ maxFrames rows without materializing the whole
    * partition. Reads the [[mediaTableWide]] fixture: frame slicing is
    * byte arithmetic, and it must be proven on bytes > 0x7F. */
  def sampleFrames(spark: SparkSession, sfDir: String,
                   stride: Int = 64, maxFrames: Int = 8): Dataset[Frame] = {
    import spark.implicits._
    mediaTableWide(spark, sfDir).as[MediaRecord]
      .mapPartitions(_.flatMap { r =>
        val n = math.min(maxFrames, math.max(1, r.payload.length / stride))
        (0 until n).iterator.map { i =>
          val off = i * stride
          val end = math.min(off + stride, r.payload.length)
          Frame(r.doc_id, i, off, r.payload.slice(off, end))
        }
      })
  }

  /** Q37: frame sampling + per-frame feature extraction (stub: frame
    * length and a digest of the slice). The real pipeline swaps the
    * digest for a JNI decoder + model call; plan shape (scan → narrow
    * fan-out → columnar features → relational ops downstream) is
    * identical.
    *
    * Over the [[mediaTableWide]] fixture, so offsets and lengths are
    * byte semantics on real >0x7F bytes (the payload-side chars==bytes
    * assumption is gone; the fixture's ASCII-source precondition is
    * documented on [[mediaTableWide]]).
    * The fingerprint is md5 of the slice's lowercase-hex rendering (a
    * bijection of the bytes): DuckDB 1.0 has no BLOB digests, and
    * hashing the hex lets the oracle verify every sliced byte while the
    * Spark side still slices genuine byte arrays. */
  def q37FrameSample(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    sampleFrames(spark, sfDir)
      .map { f =>
        val md = MessageDigest.getInstance("MD5")
        val hex = graft.functions.Hex.lower(f.frame_bytes)
        (f.doc_id, f.frame_idx, f.byte_offset, f.frame_bytes.length,
          graft.functions.Hex.lower(md.digest(hex.getBytes("UTF-8"))))
      }
      .toDF("doc_id", "frame_idx", "byte_offset", "frame_len", "frame_md5")
      .orderBy("doc_id", "frame_idx")
  }

  /** Resize stub: scale the decoded dimensions to fit a bounding box,
    * preserving aspect ratio (integer arithmetic only, so the DuckDB
    * oracle reproduces it exactly). A real pipeline would transform the
    * pixel buffer here; the metadata contract downstream is identical. */
  def q41Resize(spark: SparkSession, sfDir: String,
                maxW: Int = 12, maxH: Int = 8): DataFrame = {
    // default box 12x8 sits INSIDE the BMP fixture's 4..19 x 4..15
    // dimension range, so both resize branches (downscale and
    // keep-as-is) run on real decoded dims — a 64x64 box would make
    // every fixture image a no-op scale_milli=1000 row
    import spark.implicits._
    bmpMediaTable(spark, sfDir).as[MediaRecord]
      .mapPartitions(_.map { r =>
        // dims-only decode: Bmp.decodeDims validates the container
        // exactly like the full decode but never allocates or copies
        // the raster — at real media sizes the full decode materializes
        // megabytes per record this query would immediately discard
        val (w, h) = graft.functions.Bmp.decodeDims(r.payload)
        // scale = min(maxW/w, maxH/h) in 1/1000ths, capped at 1000 (never
        // upscale); integer math keeps both engines bit-identical
        val scaleMilli = math.min(1000L,
          math.min(maxW * 1000L / w, maxH * 1000L / h))
        val outW = math.max(1L, w * scaleMilli / 1000L)
        val outH = math.max(1L, h * scaleMilli / 1000L)
        (r.doc_id, w, h, scaleMilli, outW, outH)
      })
      .toDF("doc_id", "width", "height", "scale_milli", "out_width", "out_height")
      .orderBy("doc_id")
  }

  /** Documents rendered as REAL RIFF/WAVE files carrying 16-bit PCM —
    * the audio-table fixture q61 decodes ([[graft.functions.Wav]]; the
    * [[bmpMediaTable]] discipline applied to audio). Sample CONTENT is
    * a per-position formula of the text — sample k is
    * `((c·131 + k·71) mod 65536) − 32768` with `c` the code point of
    * `text[k mod len]`, 2·len samples per doc — full-range 16-bit
    * values the DuckDB oracle replays per position, while the Spark
    * side must walk the actual RIFF container (header fields, chunk
    * layout, LE sample decode) to reach them. Same ASCII-source
    * precondition as [[mediaTableWide]]. Encoding happens per-partition
    * on executors (BinaryType column, never the driver). */
  def wavMediaTable(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val len = text.length
        val samples = new Array[Short](len * 2)
        var k = 0
        while (k < samples.length) {
          val c = text.charAt(k % len).toInt
          samples(k) = (((c * 131 + k * 71) % 65536) - 32768).toShort
          k += 1
        }
        (id, graft.functions.Wav.encode(16000, 1, samples), "audio/wav")
      })
      .toDF("doc_id", "payload", "fmt")
  }

  /** Q61: audio-style OVERLAPPING window framing + per-window features —
    * the audio twin of q37's video frame sampling, now over REAL WAV
    * bytes: each record is a RIFF/WAVE container ([[wavMediaTable]])
    * that [[graft.functions.Wav.decode]] must actually parse (magic,
    * fmt/data chunk walk, 16-bit LE samples) before any analysis runs —
    * the round-9 synthetic-payload seam closed with the Bmp discipline.
    * What makes audio different from video frames is hop < window
    * (50% overlap: window 256 samples, hop 128), the frame/hop layout
    * every STFT/fbank front-end uses. The per-window feature is signal
    * energy Σ s² over the decoded 16-bit samples — an exact integer
    * (≤ 256·2³⁰ per window, far inside a long), so the DuckDB oracle
    * reproduces it bit-for-bit by replaying the fixture's sample
    * formula (a real pipeline swaps in an FFT/filterbank at the same
    * mapPartitions seam). Window count capped at 16 per doc, mirroring
    * q37's maxFrames. */
  def q61AudioWindows(spark: SparkSession, sfDir: String,
                      window: Int = 256, hop: Int = 128,
                      maxWindows: Int = 16): DataFrame = {
    import spark.implicits._
    wavMediaTable(spark, sfDir).as[MediaRecord]
      .mapPartitions(_.flatMap { r =>
        val audio = graft.functions.Wav.decode(r.payload)
        val s = audio.samples
        val nWin = math.min(maxWindows, math.max(1, s.length / hop))
        (0 until nWin).iterator.map { i =>
          val off = i * hop
          val end = math.min(off + window, s.length)
          var energy = 0L
          var k = off
          while (k < end) { energy += s(k).toLong * s(k); k += 1 }
          (r.doc_id, i, off, end - off, energy)
        }
      })
      .toDF("doc_id", "win_idx", "sample_offset", "n_samples", "energy")
      .orderBy("doc_id", "win_idx")
  }

  /** Q153: the SPECTRAL TRANSFORM q61's framing was the front-end for —
    * per overlapping window (q61's exact frame/hop layout: 256/128,
    * ≤ 16 windows/doc, decoded from the real WAV container), Goertzel
    * DFT bins at the integer-twiddle analysis frequencies: DC
    * (re only), the quarter band fs/4 (re, im, and power re²+im²), and
    * Nyquist fs/2 (power). [[graft.functions.Goertzel.exactBin]] runs
    * the O(len)-per-bin RECURRENCE; the DuckDB oracle replays the
    * DIRECT sum `Σ s_n·e^{−iωn}` with ±1/0 coefficient patterns over
    * the fixture's sample formula — two independent formulations of the
    * same integer-exact quantity, so a recurrence/phase/container bug
    * fires the hash gate (the q61 differential-oracle discipline
    * extended from energy to spectra). Arbitrary bins ship as the
    * fixed-point Q15 variant ([[graft.functions.Goertzel.powerQ15]]),
    * spec-gated since its per-sample floor shift is not SQL-replayable.
    *
    * Scale shape: identical to q61 — one pass over the media table,
    * per-partition decode + O(windows · bins · window) integer work,
    * no shuffle before the final order; a production fbank/MFCC
    * front-end swaps into the same mapPartitions seam. */
  def q153SpectralBins(spark: SparkSession, sfDir: String,
                       window: Int = 256, hop: Int = 128,
                       maxWindows: Int = 16): DataFrame = {
    import spark.implicits._
    wavMediaTable(spark, sfDir).as[MediaRecord]
      .mapPartitions(_.flatMap { r =>
        val audio = graft.functions.Wav.decode(r.payload)
        val s = audio.samples
        val nWin = math.min(maxWindows, math.max(1, s.length / hop))
        (0 until nWin).iterator.map { i =>
          val off = i * hop
          val len = math.min(window, s.length - off)
          val (dc, _) = graft.functions.Goertzel.exactBin(s, off, len, 1)
          val (reQ, imQ) = graft.functions.Goertzel.exactBin(s, off, len, 4)
          val (reN, _) = graft.functions.Goertzel.exactBin(s, off, len, 2)
          (r.doc_id, i, len, dc, reQ, imQ,
            reQ * reQ + imQ * imQ, reN * reN)
        }
      })
      .toDF("doc_id", "win_idx", "n_samples", "dc", "re_q", "im_q",
        "pow_q", "pow_nyq")
      .orderBy("doc_id", "win_idx")
  }

  /** Embedding extraction: DECODED-PIXEL histogram over 16 buckets,
    * L2-normalized, as `array<float>` — the column type the similarity
    * operators (q17/q21/q22) consume. The histogram runs over the
    * raster the REAL BMP decode produced (not the encoded file bytes:
    * headers and padding are not image content), so the embedding is a
    * genuine decoded-image feature; the production version replaces the
    * histogram with a model forward pass at the same seam, and
    * everything downstream (schema, joins, ANN) is unchanged.
    *
    * Emits both the raw vector (for in-JVM consumers and the unit-norm
    * spec) and an integer projection of it: `norm_milli = floor(norm*1e3)`
    * and `embedding_csv` = comma-joined `floor(f32_component * 1e6)`.
    * Every step of that projection (integer counts, exact double sums
    * < 2^53, IEEE sqrt/divide, round-to-nearest float32 cast, floor) is
    * bit-reproducible in any IEEE-754 engine, so the DuckDB oracle can
    * hash-verify it — and the projection is plain longs/strings, which
    * keeps the driver's pandas sort path happy (raw float arrays are not
    * sortable there). */
  private def embedAll(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    bmpMediaTable(spark, sfDir).as[MediaRecord]
      .map { r =>
        val px = graft.functions.Bmp.decode(r.payload).pixels
        val hist = new Array[Float](16)
        px.foreach(b => hist((b & 0xff) / 16) += 1f)
        val norm = math.sqrt(hist.map(x => x.toDouble * x).sum).max(1e-9)
        val emb = hist.map(x => (x / norm).toFloat)
        (r.doc_id, emb, emb.length,
          math.floor(norm * 1000d).toLong,
          emb.map(f => math.floor(f.toDouble * 1e6).toLong).mkString(","))
      }
      .toDF("doc_id", "embedding", "dim", "norm_milli", "embedding_csv")
  }

  /** The `array<float>` embedding column for JVM consumers (specs, ANN). */
  def embedVectors(spark: SparkSession, sfDir: String): DataFrame =
    embedAll(spark, sfDir).select("doc_id", "embedding")

  /** Q38: the driver-facing, oracle-checkable projection (see embedAll). */
  def q38EmbedStub(spark: SparkSession, sfDir: String): DataFrame =
    embedAll(spark, sfDir)
      .select("doc_id", "dim", "norm_milli", "embedding_csv")
      .orderBy("doc_id")
}
