package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Artifacts, Tables}

/** Z-ORDER (Morton-curve) data layout — the third leg of the storage-
  * layout story next to q75's bucketing (exchange-free joins) and q82's
  * directory partitioning (partition-pruned scans): MULTI-dimensional
  * clustering for min-max pruned scans.
  *
  * A table sorted by one column prunes scans on that column only: a
  * rectangle query (user range × time range) over a ts-sorted events
  * table must read the entire time slab — every user — because each
  * file's user_id stats span the whole domain. Interleaving the bits of
  * both dimensions into one Z-value (Morton 1966; the same layout
  * behind Delta/Databricks `OPTIMIZE ZORDER BY`) and range-sorting the
  * files by it makes every file a small hyper-rectangle in (user, time)
  * space, so the ORDINARY pushed per-column predicates skip most files
  * through their native parquet column statistics — no query-side
  * Z-arithmetic, no BIGMIN range cover, is needed for correctness or
  * for the pruning to engage; the curve only shapes the file stats.
  * At 100 TB this is write-once clustering that every consumer's
  * two-dimensional dashboard/debug slice benefits from.
  *
  * The bit-interleave is pure shift/mask arithmetic on built-in
  * expressions (whole-stage codegen'd, no UDF), and [[zValueSql]] emits
  * the IDENTICAL chain as SQL text from the same constants, so the
  * DuckDB oracle replays the Z-value bit-for-bit by construction.
  */
object ZOrderLayout {

  /** The classic parallel bit-spread: after the fold, bit i of the
    * 31-bit input sits at bit 2i. Each step doubles the gap between
    * groups of bits; masks keep the even positions. */
  private val SpreadSteps: Seq[(Int, Long)] = Seq(
    16 -> 0x0000FFFF0000FFFFL,
    8 -> 0x00FF00FF00FF00FFL,
    4 -> 0x0F0F0F0F0F0F0F0FL,
    2 -> 0x3333333333333333L,
    1 -> 0x5555555555555555L)

  private def zSpread(c: Column): Column =
    SpreadSteps.foldLeft(c) { case (x, (s, m)) =>
      x.bitwiseOR(shiftleft(x, s)).bitwiseAND(lit(m))
    }

  /** Morton interleave of two long columns in [0, 2^31): x takes the
    * even bits, y the odd — 62 bits total, always non-negative. */
  def zValue(x: Column, y: Column): Column =
    zSpread(x).bitwiseOR(shiftleft(zSpread(y), 1))

  /** The N-DIMENSIONAL Morton interleave: bit b of dimension d lands
    * at bit `b*N + d` (dimension 0 lowest — the 2-D layout's exact bit
    * assignment, which this generalizes). Inputs must sit in
    * [0, 2^bits); `N * bits <= 63` keeps the result a non-negative
    * long. Plain shift/mask arithmetic on built-in expressions (one
    * term per (dimension, bit) — whole-stage codegen'd; the 2-D case
    * keeps the parallel-spread fast path above). */
  def zValueN(xs: Seq[Column], bits: Int = 10): Column = {
    require(xs.nonEmpty, "zValueN needs at least one dimension")
    require(xs.size * bits <= 63,
      s"${xs.size} dims x $bits bits overflow a signed long")
    if (xs.size == 2 && bits <= 31)
      zValue(xs(0), xs(1))
    else if (xs.size == 1) xs.head
    else xs.zipWithIndex.map { case (x, d) =>
      (0 until bits).map(b =>
        shiftleft(shiftright(x, b).bitwiseAND(lit(1L)),
          b * xs.size + d))
        .reduce(_ bitwiseOR _)
    }.reduce(_ bitwiseOR _)
  }

  /** The same interleave as SQL text over expressions `x` and `y` —
    * generated from the SAME constants as [[zValue]], so engine and
    * oracle cannot drift. */
  def zValueSql(x: String, y: String): String = {
    def spread(e: String): String =
      SpreadSteps.foldLeft(e) { case (s, (sh, m)) =>
        s"(($s | ($s << $sh)) & $m)"
      }
    s"(${spread(x)} | (${spread(y)} << 1))"
  }

  /** Z-curve resolution per dimension. Raw values must NOT be
    * interleaved directly: dimensions of different bit-width stack all
    * the curve's significant bits on the wider one (user ids vary in ~8
    * low bits, epoch seconds in ~21, so every file cut would land on a
    * time bit and the layout degenerates to a plain time sort — measured
    * exactly so in development). Range-bucketing each dimension to the
    * same 10-bit scale first — the same normalization Delta's `OPTIMIZE
    * ZORDER BY` applies via range-partition ids — makes the interleave
    * alternate between dimensions at every level. */
  private[graft] val ZBuckets = 1024L

  /** `((v - lo) * ZBuckets) intdiv (span+1)` — a proportional bucket in
    * [0, ZBuckets) as ONE template rendered for both engines (`DIV` in
    * Spark SQL, `//` in DuckDB), so the bucket arithmetic cannot drift;
    * integer division throughout, never a double. */
  private[graft] def zBucketSql(e: String, lo: String, spanPlus1: String,
                                intDiv: String): String =
    s"((($e - $lo) * $ZBuckets) $intDiv $spanPlus1)"

  private def zBucket(e: String, lo: Long, hi: Long): Column =
    expr(zBucketSql(e, lo.toString, (hi - lo + 1).toString, "DIV"))

  /** Events clustered on z(user-bucket, time-bucket): range-partitioned
    * and sorted by the Z-value, materialized once per (session, scale
    * dir). 64 output files = the top 6 z-bits become file cuts (3 bits
    * per dimension: an 8x8 grid of (user, time) tiles), so file-level
    * min-max stats give real two-dimensional skipping even at test
    * scale; at production scale the same layout also prunes at
    * row-group granularity. */
  def zEvents(spark: SparkSession, sfDir: String): DataFrame =
    Artifacts.materializeManifest(spark, sfDir, "graft_events_zorder_")(
      zOrdered(spark, sfDir))

  /** The events with their Z-value, in [[zEvents]]' layout — the frame
    * it materializes, unwritten (q162 commits the same frame with
    * per-file stats). */
  private[graft] def zOrdered(spark: SparkSession,
                              sfDir: String): DataFrame = {
    val (uMax, tMin, tMax) = boundsOf(spark, sfDir)
    ManifestTable.clustered(Tables.events(spark, sfDir)
      .withColumn("zv", zValue(
        zBucket("user_id", 0L, uMax),
        zBucket("unix_micros(ts)", tMin, tMax))), col("zv"), 64)
  }

  /** Domain bounds both engines derive identically (driver-side here,
    * scalar subqueries in the oracle). */
  private[graft] def boundsOf(spark: SparkSession, sfDir: String)
      : (Long, Long, Long) = {
    val b = Tables.events(spark, sfDir)
      .agg(max("user_id"), min(expr("unix_micros(ts)")),
        max(expr("unix_micros(ts)"))).head()
    (b.getLong(0), b.getLong(1), b.getLong(2))
  }

  /** The rectangle both engines derive with the same integer
    * arithmetic: users [0, max/10] (~10% of one dimension), time
    * [25%, 75%] of the span (~50% of the other) — a one-dimensional
    * time sort must read the whole 50% slab for every user, while the
    * Z-layout reads only the slab's first user tile (ScaleSpec
    * measures the gap). */
  private[graft] def rectangleOf(spark: SparkSession, sfDir: String)
      : (Long, Long, Long) = {
    val (uMax, tMin, tMax) = boundsOf(spark, sfDir)
    (uMax / 10, tMin + (tMax - tMin) / 4, tMin + (tMax - tMin) * 3 / 4)
  }

  /** q193's three dimensions and rectangle. Lineitem's key triple is
    * the one genuinely INDEPENDENT 3-D space in the test data (events'
    * event_id is time-ordered — corr(event_id, ts) ≈ 1.0 — so a third
    * "dimension" there would be the time axis twice); each dimension's
    * lower quarter makes the predicates comparably selective, the
    * regime a 3-D layout exists for. Derived with integer arithmetic
    * both engines replay identically. */
  private[graft] val Z3Cols = Seq("l_orderkey", "l_partkey", "l_suppkey")

  private[graft] def rectangle3Of(spark: SparkSession, sfDir: String)
      : Seq[(String, Long, Long)] = {
    val mx = Tables.lineitem(spark, sfDir)
      .agg(max("l_orderkey"), max("l_partkey"), max("l_suppkey")).head()
    Z3Cols.zipWithIndex.map { case (c, i) => (c, 0L, mx.getLong(i) / 4) }
  }

  private[graft] def tsOfMicros(m: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(m / 1000)
    t.setNanos((m % 1000000L).toInt * 1000)
    t
  }
}
