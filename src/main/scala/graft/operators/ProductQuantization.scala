package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graftbridge.Bridge

import graft.{Artifacts, Delta, Tables}
import graft.functions.Vectors

/** Product quantization on top of the IVF index — the rest of
  * Jégou-Douze-Schmid, "Product quantization for nearest neighbor
  * search" (TPAMI 2011): q57 built the coarse quantizer (§II, k-means
  * cells); this file adds the RESIDUAL codes (§III) and asymmetric
  * distance search (§IV).
  *
  *  - Q76: per-vector PQ CODES. Each vector's residual against its
  *    coarse centroid is split into [[M]] subvectors of [[SubDim]] dims;
  *    each subvector is quantized to its subspace codebook ([[K]]
  *    entries, trained by one deterministic Lloyd round on the corpus
  *    residuals). A 64-dim float vector becomes M 4-bit codes — a
  *    64-bit compressed representation whose size, not the raw
  *    vectors', is what a 100 TB ANN index actually stores.
  *  - Q77: ADC top-k — queries probe their NProbe coarse cells (q57's
  *    probe path), compute their own residual per probed cell, and rank
  *    candidates by the sum of per-subspace distances to each
  *    candidate's CODE centroids (asymmetric: query exact, index
  *    quantized). Scan cost per query: NProbe/NumCells of the index,
  *    reading codes instead of vectors.
  *
  * Every distance is computed in integer MICRO units (vectors and
  * centroids floored to 1e-6): sums of integer squares are exact and
  * order-independent, so codes, quantization errors, and ADC ranks are
  * bit-reproducible and the DuckDB oracle hash-checks the whole model —
  * training included — the same way q57's oracle replays the Lloyd
  * rounds.
  */
object ProductQuantization {

  /** Subspaces × dims per subspace = [[SimilarityQueries.Dims]]. */
  val M = 16
  val SubDim: Int = SimilarityQueries.Dims / M
  /** Sub-codebook size (codes per subspace). M=16 × log2(16) bits = a
    * 64-bit code per vector — the canonical PQ operating point (Jégou
    * §V evaluates m=16, 64-bit codes; production also commonly runs
    * K=256 one-byte codes). Code width is THE recall knob on this
    * near-uniform synthetic corpus: 16-bit codes (M=8, K=4) measured
    * ADC recall@10 0.19 at sf0.1, 32-bit (M=8, K=16) 0.30, 64-bit
    * (this setting) 0.36 — the quantization error has to drop below
    * the corpus's tiny inter-neighbor distance gaps before ADC can
    * rank them, which is q78's re-rank job. The FAISS-default M=8,
    * K=256 one-byte-code point measures 0.41 ADC / 0.96 with re-rank
    * at the same 64 bits ([[pqModelAt]] sweep, SCALING.md) — the
    * production guidance, shipped as q84/q85 at ([[M256]], [[K256]]). */
  val K = 16

  /** The FAISS-default production operating point (one-byte codes,
    * 8 × 8 bits = the same 64-bit budget as ([[M]], [[K]])): q84/q85
    * run the identical recipe here. */
  val M256 = 8
  val K256 = 256

  private def vecs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), Vectors.asDouble(col("embedding")).as("v"))

  private def micros(cv: Seq[Double]): Seq[Long] =
    cv.map(x => math.floor(x * 1e6).toLong)

  /** Micro residual of `v` against the coarse centroid of the row's
    * `cell`, looked up in one literal cell → micros map. */
  private def coarseResidual(v: Column,
                             coarse: Seq[(Long, Seq[Double])]): Column = {
    val cm = typedlit(coarse.map { case (c, cv) => c -> micros(cv) }.toMap)
    Bridge.column(graft.functions.PqMicroResidual(
      Bridge.expression(v), Bridge.expression(element_at(cm, col("cell")))))
  }

  /** Residuals in integer micros: r_d = floor(v_d·1e6) − floor(c_d·1e6)
    * for the vector's assigned coarse cell (q57's assignment semantics,
    * map-side argmax — adds `cell` and `r` columns). */
  private def residuals(df: DataFrame,
                        coarse: Seq[(Long, Seq[Double])]): DataFrame =
    SimilarityQueries.assignCells(df, coarse)
      .withColumn("r", coarseResidual(col("v"), coarse))

  /** Per-subspace distance TABLE: the K distances from subvector m of
    * residual column `r` to the m-th sub-codebook — the FAISS
    * lookup-table shape, as ONE native codegen expression
    * ([[graft.functions.PqDistTable]], exact integer loops inside
    * whole-stage codegen). The previous `transform(typedlit(codebook))`
    * HOF was semantically identical but CodegenFallback: every row paid
    * K·sd interpreted expression evaluations per subspace — 5.8 s
    * executor time for one M256/K256 training pass at sf0.1
    * (`git show f7c7d6f:src/main/scala/graft/tools/PqTrainProbe.scala`).
    * PqExpressionParitySpec pins bit-equality
    * against the HOF form. (An even earlier formulation unrolled K
    * columns × M subspaces of branch chains and Janino refused the
    * generated method — the table shape is also the only viable one at
    * production K=256.) */
  private def distTable(r: Column, m: Int, cents: Seq[Seq[Seq[Long]]],
                        sd: Int = SubDim): Column =
    Bridge.column(graft.functions.PqDistTable(
      Bridge.expression(r), cents(m), m * sd))

  /** Adds `code_m` (argmin centroid, ties → smallest code — the native
    * expression's first-minimum rule, identical to array_position's
    * first match) and `dist_m` (that minimum) for every subspace m, via
    * the FUSED [[graft.functions.PqArgmin]]: one integer pass per
    * subspace, no K-array materialization and no re-scan for the min
    * and its position (the previous shape built the K-entry table per
    * row and scanned it three times). */
  private def withCodes(df: DataFrame, cents: Seq[Seq[Seq[Long]]],
                        m: Int = M): DataFrame = {
    val sd = SimilarityQueries.Dims / m
    // TWO selects, not a withColumn fold (quadratic analyzer cost —
    // r19); the second only unpacks the structs.
    val withArg = df.select(
      (df.columns.map(col).toSeq ++
        (0 until m).map(mi =>
          Bridge.column(graft.functions.PqArgmin(
            Bridge.expression(col("r")), cents(mi), mi * sd))
            .as(s"am_$mi"))): _*)
    // column ORDER of the original fold preserved (dist_0, code_0,
    // dist_1, ... follow the input columns) — consumers select by name,
    // but the csv rendering of the coded index concatenates in order
    withArg.select(
      (df.columns.map(col).toSeq ++
        (0 until m).flatMap { mi =>
          Seq(col(s"am_$mi").getField("dist").as(s"dist_$mi"),
            col(s"am_$mi").getField("code").as(s"code_$mi"))
        }): _*)
  }

  private val models =
    new Artifacts.Memo[(Seq[(Long, Seq[Double])], Seq[Seq[Seq[Long]]])]

  /** The trained PQ model at (subspaces, codebook size): (coarse
    * codebook, sub-codebooks[m][k][j] in micros). Training is ONE
    * deterministic Lloyd round per subspace on the corpus residuals:
    * init = residual subvectors of vectors 0..K−1; assignment = integer
    * argmin; update = floor(mean) per component (empty codes keep their
    * init) — the q57 build recipe applied per subspace, all driver-held
    * state bounded by M·K·SubDim, never by data size. The recall sweep
    * trains other widths through the same recipe. Public for the spec. */
  def pqModelAt(spark: SparkSession, sfDir: String, m: Int, k: Int)
      : (Seq[(Long, Seq[Double])], Seq[Seq[Seq[Long]]]) =
    models(spark, sfDir, s"$m:$k")(trainModel(spark, sfDir, m, k))

  private def trainModel(spark: SparkSession, sfDir: String, m: Int, k: Int)
      : (Seq[(Long, Seq[Double])], Seq[Seq[Seq[Long]]]) = {
        val sd = SimilarityQueries.Dims / m
        val coarse = SimilarityQueries.kmeansCodebook(spark, sfDir)
        val res = residuals(vecs(spark, sfDir), coarse)
          .select("vec_id", "r")
        val init: Seq[Seq[Seq[Long]]] = {
          val first = res.where(col("vec_id") < k).orderBy("vec_id")
            .collect().map(_.getSeq[Long](1).toIndexedSeq)
          require(first.nonEmpty,
            s"K=$k init needs at least one seed vector; $sfDir has none " +
              "with vec_id < " + k)
          // modulo wrap: a corpus with n < k seed vectors reuses them
          // cyclically. Duplicate init centroids are harmless — the
          // argmin tie rule (array_position first match) routes every
          // row to the smallest code, and untouched codes keep their
          // init. For n >= k this is the identity, so the shipped
          // (M, K) model is byte-identical to the unwrapped form.
          (0 until m).map(mi => (0 until k).map(ki =>
            first(ki % first.length).slice(mi * sd, (mi + 1) * sd).toSeq))
        }
        val sums = withCodes(res, init, m)
          .select(explode(array((0 until m).map { mi =>
            struct(lit(mi).as("m"), col(s"code_$mi").as("code"),
              slice(col("r"), mi * sd + 1, sd).as("sub"))
          }: _*)).as("s"))
          .select(col("s.m").as("m"), col("s.code").as("code"),
            col("s.sub").as("sub"))
          .groupBy("m", "code")
          .agg(count(lit(1)).as("n"),
            (0 until sd).map(j =>
              sum(element_at(col("sub"), j + 1)).as(s"s$j")): _*)
          .collect()
        val upd = sums.map { row =>
          val n = row.getLong(2).toDouble
          (row.getInt(0), row.getInt(1)) ->
            (0 until sd).map(j =>
              math.floor(row.getLong(j + 3) / n).toLong)
        }.toMap
    val cents = (0 until m).map(mi => (0 until k).map(ki =>
      upd.getOrElse((mi, ki), init(mi)(ki)).toSeq))
    (coarse, cents)
  }

  /** The PQ-coded INDEX as an artifact: one row per vector with its
    * coarse cell, per-subspace codes, the csv rendering, and the exact
    * integer quantization error — built once per (session, scale dir)
    * and stored, because a PQ index IS a stored structure: at 100 TB
    * the coding job writes the code table once and every search reads
    * codes, never raw vectors. Coding itself is map-side over the
    * embeddings scan (model shipped as literals — spec-pinned). */
  def pqIndex(spark: SparkSession, sfDir: String): DataFrame =
    Artifacts.materialize(spark, sfDir, "graft_pqcodes_", "vec_id") {
      computePqCodes(spark, sfDir)
    }

  /** The code-table artifact at an explicit (m, k) — q84/q85's stored
    * index at the production operating point (the shipped ([[M]], [[K]])
    * table keeps its original name via [[pqIndex]]). Before this, the
    * K=256 queries re-coded the whole index inline on every run — 2.9 s
    * vs q77's 1.1 s at sf0.01, all of it re-deriving a structure a real
    * deployment writes exactly once. */
  def pqIndexAt(spark: SparkSession, sfDir: String,
                m: Int, k: Int): DataFrame =
    if (m == M && k == K) pqIndex(spark, sfDir)
    else Artifacts.materialize(spark, sfDir,
      s"graft_pqcodes_${m}_${k}_", "vec_id") {
      computePqCodesAt(spark, sfDir, m, k)
    }

  /** [[computePqCodes]] at an explicit (m, k): the same pure projection
    * over the embeddings scan, model as literals. */
  def computePqCodesAt(spark: SparkSession, sfDir: String,
                       m: Int, k: Int): DataFrame = {
    val (coarse, cents) = pqModelAt(spark, sfDir, m, k)
    codesOver(vecs(spark, sfDir), coarse, cents, m)
  }

  /** The coding projection over an EXPLICIT (vec_id, v) relation — the
    * seam the full build and the incremental refresh share, so the two
    * paths cannot drift: assign coarse cell, residual, per-subspace
    * argmin code, csv + exact integer quantization error. Pure map-side
    * (model as literals). */
  private def codesOver(e: DataFrame, coarse: Seq[(Long, Seq[Double])],
                        cents: Seq[Seq[Seq[Long]]], m: Int): DataFrame =
    withCodes(residuals(e, coarse), cents, m)
      .select(Seq(col("vec_id"), col("cell"),
        concat_ws(",",
          (0 until m).map(mi => col(s"code_$mi").cast("string")): _*)
          .as("codes"),
        (0 until m).map(mi => col(s"dist_$mi")).reduce(_ + _).as("qerr"))
        ++ (0 until m).map(mi => col(s"code_$mi")): _*)

  /** The coding BUILD plan — public so the spec can pin its shape (the
    * model is literals, so coding must be a pure projection over the
    * embeddings scan: no hash exchange anywhere). */
  def computePqCodes(spark: SparkSession, sfDir: String): DataFrame =
    computePqCodesAt(spark, sfDir, M, K)

  /** Q76: the PQ-coded index, presented. */
  def q76PqCodes(spark: SparkSession, sfDir: String): DataFrame =
    pqIndex(spark, sfDir)
      .select("vec_id", "cell", "codes", "qerr")
      .orderBy("vec_id")

  /** The ADC-ranked candidate stream of q77/q78 (at ([[M]], [[K]])),
    * q84 and the recall sweep: probes (q57's path) → per-cell query
    * residual → candidates scored by asymmetric distance over the
    * STORED codes of that setting ([[pqIndexAt]] — a search never
    * re-codes its index; the model trains via [[pqModelAt]]) → rank per
    * query by (adc asc, neighbor asc). `depth` bounds the per-query
    * heap — callers that re-rank deeper than [[RerankDepth]] must say
    * so here, or the shortlist silently caps. */
  def adcRankedAt(spark: SparkSession, sfDir: String, m: Int, k: Int,
                  depth: Int = RerankDepth): DataFrame = {
    val (coarse, cents) = pqModelAt(spark, sfDir, m, k)
    val index = pqIndexAt(spark, sfDir, m, k)
      .select(Seq(col("vec_id").as("neighbor_id"), col("cell")) ++
        (0 until m).map(mi => col(s"code_$mi")): _*)
    val sd = SimilarityQueries.Dims / m
    // the ADC LOOKUP TABLES (Jégou §IV) are computed on the PROBE side —
    // one K-entry distance array per subspace per (query, probed cell),
    // i.e. nProbe·M tiny arrays per query — and candidates are then
    // scored by M table lookups each. Computing the table per CANDIDATE
    // (the first formulation) re-evaluated the K distances 125× per
    // cell for identical input.
    val probes = (0 until m).foldLeft(
      SimilarityQueries.probedQueries(spark, sfDir, coarse)
        .withColumn("rq", coarseResidual(col("qv"), coarse))) { (d, mi) =>
      d.withColumn(s"lut_$mi", distTable(col("rq"), mi, cents, sd))
    }.select(Seq(col("query_id"), col("cell")) ++
      (0 until m).map(mi => col(s"lut_$mi")): _*)
    val adc = (0 until m).map { mi =>
      element_at(col(s"lut_$mi"), col(s"code_$mi") + 1)
    }.reduce(_ + _)
    // per-query top-`depth` by (adc ASC, neighbor ASC) via the
    // bounded-heap aggregate (negate both keys inside the largest-first
    // struct compare): map tasks ship ≤ depth rows per query instead of
    // shuffling every candidate to a window sort — the shuffle-bounded
    // form once the query batch grows. q77 keeps the first 10 ranks,
    // q78 all RerankDepth.
    broadcast(probes).join(index, Seq("cell"))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), adc.as("adc"))
      .groupBy("query_id")
      .agg(graft.functions.Aggregates.topK(
        struct((-col("adc")).as("na"), (-col("neighbor_id")).as("nn")),
        depth).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), (-col("col.nn")).as("neighbor_id"),
        (-col("col.na")).as("adc"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** Q77: IVF-PQ ANN — the q57 probe path ranked by ASYMMETRIC distance
    * (Jégou §IV): each query computes its own residual per probed cell
    * and candidates are scored by Σ_m ‖query_sub_m − centroid(code_m)‖²
    * over their stored codes — the index contributes CODES only, so at
    * scale the scan reads M small codes per vector instead of the
    * vector. Top-10 per query by (adc asc, neighbor asc).
    *
    * Measured (tools.IvfRecall): pure-ADC recall@10 at sf0.1 is 0.19 /
    * 0.30 / 0.36 for 16- / 32- / 64-bit codes — on this UNIFORM
    * synthetic corpus the inter-neighbor distance gaps are tiny, so the
    * quantization error dominates the ranking; q78's re-rank stage is
    * the production answer. */
  def q77AnnIvfPq(spark: SparkSession, sfDir: String): DataFrame =
    adcRankedAt(spark, sfDir, M, K)
      .where(col("rank") <= 10)
      .orderBy("query_id", "rank")

  /** ADC shortlist depth for q78 — the L of IVFADC+R (Jégou §VII). */
  val RerankDepth = 100

  /** Q78: IVF-PQ with RE-RANKING (IVFADC+R) — the production operating
    * point: the PQ codes cheaply SELECT an ADC shortlist of
    * [[RerankDepth]] per query, then the shortlist's RAW vectors are
    * fetched and re-ranked by exact cosine for the final top-10. At
    * scale the expensive exact math touches L vectors per query instead
    * of a cell's worth, and the code scan that produced the shortlist
    * never read a raw vector at all. Measured (tools.IvfRecall, sf0.1):
    * recall@10 recovers to 0.94 — against the 0.96 IVF-exact ceiling
    * and 0.36 pure-ADC (0.84 at L=50) — because the true neighbors only
    * need to survive INTO the shortlist, not win the quantized
    * ranking. */
  def q78AnnPqRerank(spark: SparkSession, sfDir: String): DataFrame =
    rerankOver(spark, sfDir, adcRankedAt(spark, sfDir, M, K), RerankDepth)

  /** q78's re-rank at an explicit (m, k) code setting — the sweep's
    * IVFADC+R row per operating point. The depth reaches the ADC heap
    * too, so a deeper-than-[[RerankDepth]] shortlist is actually that
    * deep (it used to cap silently at the default). */
  def rerankAt(spark: SparkSession, sfDir: String, m: Int, k: Int,
               depth: Int = RerankDepth): DataFrame =
    rerankOver(spark, sfDir, adcRankedAt(spark, sfDir, m, k, depth), depth)

  /** Q84: ADC search at the PRODUCTION operating point — (M=[[M256]],
    * K=[[K256]]) one-byte codes, the FAISS default, same 64-bit budget
    * as q77's ([[M]], [[K]]). Measured ADC recall@10 at sf0.1: 0.41 vs
    * q77's 0.36 — fewer, bigger sub-codebooks quantize this corpus
    * better at equal code width. Same query shape as q77; the model
    * trains through the identical recipe at the explicit setting. */
  def q84AnnPq256(spark: SparkSession, sfDir: String): DataFrame =
    adcRankedAt(spark, sfDir, M256, K256)
      .where(col("rank") <= 10)
      .orderBy("query_id", "rank")

  /** Q85: IVFADC+R at the production operating point — q84's one-byte
    * ADC shortlist re-ranked exactly (q78's recipe at ([[M256]],
    * [[K256]])). Measured recall@10 at sf0.1: 0.96, matching the
    * IVF-exact ceiling — the production configuration this engine
    * recommends for 100 TB ANN. */
  def q85AnnPq256Rerank(spark: SparkSession, sfDir: String): DataFrame =
    rerankAt(spark, sfDir, M256, K256)

  /** Snapshot B of the embedding corpus — q79's recrawl delta rules
    * transposed to vectors, ONE definition shared by the refresh build,
    * its from-scratch bench twin and the oracle: every vec_id ending in
    * 7 removed, ending in 3 modified (vector reversed — deterministic,
    * norm-preserving, and both engines replay it exactly), ending in 1
    * duplicated under the negative-id namespace. */
  def vectorSnapshotB(e: DataFrame): DataFrame =
    e.where(col("vec_id") % 10 =!= 7)
      .withColumn("v",
        when(col("vec_id") % 10 === 3, reverse(col("v")))
          .otherwise(col("v")))
      .unionByName(e.where(col("vec_id") % 10 === 1)
        .withColumn("vec_id", -(col("vec_id") + 1L)))

  /** The VECTOR snapshot delta STAGED as a bucketed artifact —
    * [[CurationPipeline.snapshotDeltaStaged]]'s discipline for the
    * embedding corpus: the full-outer hash diff of a snapshot pair is
    * one staged job, not a cost every index refresh re-pays (at toy
    * scale the re-derived diff alone made pq_refresh read slower than
    * pq_rebuild, r8: 0.95 s vs 0.38 s). Bucketed on vec_id, the base
    * code table's layout, so the refresh's anti/semi joins against it
    * are exchange-free. */
  def vectorDeltaStaged(spark: SparkSession, sfDir: String): DataFrame =
    Artifacts.materialize(spark, sfDir, "graft_vecdelta_", "vec_id") {
      computeVectorDelta(spark, sfDir)
    }

  /** The vector diff's build plan (what [[vectorDeltaStaged]]
    * materializes) — public so Bench can time the shared one-off on its
    * own (`delta_sec`). */
  def computeVectorDelta(spark: SparkSession, sfDir: String): DataFrame = {
    val e = vecs(spark, sfDir)
    def hashed(d: DataFrame) = d.select(col("vec_id"),
      md5(concat_ws(",", transform(col("v"), _.cast("string")))).as("h"))
    Delta.classify(hashed(e), hashed(vectorSnapshotB(e)), "vec_id", "h")
      .select("vec_id", "change")
  }

  /** The INCREMENTAL PQ-INDEX REFRESH build plan (round-7 verdict gap
    * #2): a PQ code is a pure per-vector function of a FROZEN model, so
    * the q79/q80 delta discipline applies verbatim to the code table —
    *
    *  1. diff snapshots by content hash (map-side md5 of the vector's
    *     exact decimal rendering; the full-outer join carries digests,
    *     never vectors — delta-sized output, q79's shape), STAGED once
    *     per snapshot pair as [[vectorDeltaStaged]];
    *  2. drop removed/modified rows from the base code table (anti join
    *     on vec_id — the base reads its bucket layout in place);
    *  3. code added/modified vectors — and ONLY those — with the model
    *     trained on snapshot A (frozen: retraining would recode the
    *     whole index; production freezes the codebooks between periodic
    *     full retrains, exactly so refreshes stay delta-sized);
    *  4. the union is the refreshed index.
    *
    * Runs at the production ([[M256]], [[K256]]) operating point — the
    * table q84/q85 search. The oracle recomputes snapshot B's codes
    * from scratch with the same frozen model, so the hash gate is the
    * refresh ≡ rebuild claim (q80/q83's gate, third artifact in the
    * chain). Public so the spec pins the build shape. */
  def computeRefreshedPqCodes(spark: SparkSession, sfDir: String): DataFrame = {
    val b = vectorSnapshotB(vecs(spark, sfDir))
    val (coarse, cents) = pqModelAt(spark, sfDir, M256, K256)
    Delta.apply(pqIndexAt(spark, sfDir, M256, K256),
        vectorDeltaStaged(spark, sfDir), "vec_id") { ids =>
      codesOver(b.join(ids, Seq("vec_id")), coarse, cents, M256)
    }
  }

  /** The from-scratch twin: snapshot B coded in full with the same
    * frozen model — Bench times it against the refresh (the pair of
    * numbers that states the incremental claim), and the spec proves
    * row-identity. */
  def computeSnapshotBPqCodes(spark: SparkSession, sfDir: String): DataFrame = {
    val (coarse, cents) = pqModelAt(spark, sfDir, M256, K256)
    codesOver(vectorSnapshotB(vecs(spark, sfDir)), coarse, cents, M256)
  }

  /** The refreshed (snapshot-B) PQ code-table ARTIFACT — q91's table,
    * bucketed on vec_id like the base index. */
  def refreshedPqIndex(spark: SparkSession, sfDir: String): DataFrame =
    Artifacts.materialize(spark, sfDir,
      s"graft_pqcodes_b_${M256}_${K256}_", "vec_id") {
      computeRefreshedPqCodes(spark, sfDir)
    }

  /** Q91: the incrementally refreshed PQ index, presented like q76.
    * The DuckDB oracle codes snapshot B from scratch with the
    * snapshot-A model, so the hash gate proves refresh ≡ rebuild for
    * the ANN index family — the delta discipline's third artifact
    * (shingles → signatures → PQ codes). */
  def q91PqRefresh(spark: SparkSession, sfDir: String): DataFrame =
    refreshedPqIndex(spark, sfDir)
      .select("vec_id", "cell", "codes", "qerr")
      .orderBy("vec_id")

  private def rerankOver(spark: SparkSession, sfDir: String,
                         ranked: DataFrame, depth: Int): DataFrame = {
    val e = vecs(spark, sfDir)
    val shortlist = ranked
      .where(col("rank") <= depth)
      .select("query_id", "neighbor_id")
    SimilarityQueries.topKBySim(
      shortlist
        .join(e.select(col("vec_id").as("neighbor_id"), col("v")),
          Seq("neighbor_id"))
        .join(broadcast(e.where(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("v").as("qv"))),
          Seq("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          Vectors.cosineRounded(col("qv"), col("v")).as("sim")), 10)
      .orderBy("query_id", "rank")
  }
}
