package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** TABLE PROFILER — the first tool a data engineer points at an unknown
  * 100 TB table: per-column row/null/distinct counts plus typed [lo, hi]
  * facets, computed in ONE aggregation pass over the scan. The facet
  * encoding keeps every metric an EXACT integer (the engine's
  * hash-gate discipline — no float accumulation anywhere):
  *   - integral columns: min/max value;
  *   - doubles: min/max in CENTS (`round(x*100)` — exact on the
  *     2-decimal money domain, deterministic HALF_UP on both engines;
  *     comparisons, not sums, so no accumulation-order risk);
  *   - strings: min/max LENGTH (lexical min/max would hash-drift on
  *     collation; length is collation-free and is what a pipeline
  *     actually sizes buffers with);
  *   - timestamps: min/max epoch MICROS (the parquet encoding).
  *
  * Scale note: null counts and bounds are plain one-pass aggregates;
  * the EXACT per-column distincts make Spark plan an Expand (one input
  * row fans out to |cols| aggregation rows before the shuffle — the
  * standard multi-count-distinct plan). That ×|cols| expansion is the
  * price of exactness and is what the DuckDB gate can replay; at
  * 100 TB a profiler uses [[profileApprox]] (q180) — the SAME code
  * with `approx_count_distinct` (the q34 HLL++ surface), where the
  * Expand disappears into one pass of constant-size sketches
  * (spec-pinned, <5% per-column error vs the exact run). The driver
  * materializes exactly ONE aggregated row (O(cols) values), never
  * data.
  *
  * Reference scope: the reference engine has no profiling surface at
  * all (its only dataset statistic is the final key count its sinks
  * print); this is extension surface for the curation pipeline.
  */
object TableProfile {

  /** The profile facets of one column, all as nullable longs. */
  private case class Facet(name: String, loExpr: String => Column,
                           hiExpr: String => Column,
                           duckLo: String => String,
                           duckHi: String => String)

  private def facetOf(dt: DataType): Option[Facet] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some(Facet(
      "integral",
      c => min(col(c)).cast("long"), c => max(col(c)).cast("long"),
      c => s"min($c)::BIGINT", c => s"max($c)::BIGINT"))
    case DoubleType | FloatType => Some(Facet(
      "cents",
      c => round(min(col(c)) * 100).cast("long"),
      c => round(max(col(c)) * 100).cast("long"),
      c => s"round(min($c) * 100)::BIGINT",
      c => s"round(max($c) * 100)::BIGINT"))
    case StringType => Some(Facet(
      "strlen",
      c => min(length(col(c))).cast("long"),
      c => max(length(col(c))).cast("long"),
      c => s"min(length($c))::BIGINT", c => s"max(length($c))::BIGINT"))
    case TimestampType => Some(Facet(
      "epoch_us",
      c => min(unix_micros(col(c))), c => max(unix_micros(col(c))),
      c => s"min(epoch_us($c))::BIGINT", c => s"max(epoch_us($c))::BIGINT"))
    case _ => None
  }

  /** One aggregation pass → one long-format row per column:
    * (column, facet, n_rows, n_nulls, n_distinct, lo, hi). Columns
    * whose type has no integer-exact facet still profile counts with
    * null bounds. */
  def profile(spark: SparkSession, df: DataFrame): DataFrame =
    profileWith(spark, df, c => countDistinct(col(c)), widen = true)

  /** The 100 TB shape of [[profile]]: `approx_count_distinct` (HLL++,
    * the q34 surface) instead of exact distincts, so the plan is ONE
    * straight aggregation pass of constant-size sketches — the ×|cols|
    * Expand the exact multi-count-distinct needs is GONE (spec-pinned,
    * with the <5% per-column error gate against the exact run).
    * Everything else — null counts, typed integer-exact bounds, the
    * one driver row — is identical.
    *
    * rsd = 0.02, MEASURED at sf0.1 (`git show
    * f7c7d6f:src/main/scala/graft/tools/Q180Probe.scala`): the precision
    * knob is the whole cost — the bare 11-column approx aggregation
    * runs 0.75 s at rsd 0.05, 2.1 s at 0.02, 7.2 s at 0.01 (2^14
    * registers per column per partial buffer — 3× the EXACT Expand
    * plan at this SF, the sketch merge dominating), while the default
    * 0.05 measured 6.4% error on l_orderkey and misses the 5% gate.
    * 0.02 holds the gate with margin at ~4 KB/sketch and stays
    * constant-size as the table grows — which is the 100 TB argument:
    * the exact Expand's shuffle grows ×|cols| with the DATA, the
    * sketch pass doesn't. */
  def profileApprox(spark: SparkSession, df: DataFrame): DataFrame =
    profileWith(spark, df, c => approx_count_distinct(col(c), 0.02),
      // NO widening here, MEASURED: the approx pass is bound by its
      // per-task HLL buffers (11 columns × 2^12 registers of
      // interpreted-path partial state — far past codegen's field
      // cap), so multiplying partial buffers ×cores made it 3.2 →
      // 29.6 s at sf0.1 while the exact pass improved. Constant-size
      // sketches per TASK mean fewer, larger tasks win — the opposite
      // trade from the exact Expand.
      widen = false)

  /** The one-pass aggregation frame behind [[profileWith]]. */
  private def aggFrame(spark: SparkSession, df: DataFrame,
                              distinctAgg: String => Column,
                              widen: Boolean): DataFrame = {
    val fields = df.schema.fields.toSeq
    // SCAN-PARALLELISM FLOOR (guide §2.5 "input skew … repartition
    // immediately after the read"): the exact profiler's heavy stage
    // is the pre-shuffle ×|cols| Expand partial aggregation, which
    // runs at the SCAN's parallelism. A small or single-file table
    // splits into few input tasks (openCostInBytes floors the split
    // size), leaving the cores idle exactly where the work is; a
    // cheap row-count-preserving round-robin repartition restores
    // full width. Adaptive, not local-tuned: at scale the scan
    // already yields ≥ cores splits and this is a no-op.
    val cores = spark.sparkContext.defaultParallelism
    val wide = if (widen && df.rdd.getNumPartitions < cores)
      df.repartition(cores) else df
    val aggs = fields.flatMap { f =>
      val fc = facetOf(f.dataType)
      Seq(
        count(col(f.name)).as(s"_nn_${f.name}"),
        distinctAgg(f.name).as(s"_nd_${f.name}"),
        fc.map(_.loExpr(f.name)).getOrElse(lit(null).cast("long"))
          .as(s"_lo_${f.name}"),
        fc.map(_.hiExpr(f.name)).getOrElse(lit(null).cast("long"))
          .as(s"_hi_${f.name}"))
    } :+ count(lit(1)).as("_n")
    wide.agg(aggs.head, aggs.tail: _*)
  }

  private def profileWith(spark: SparkSession, df: DataFrame,
                          distinctAgg: String => Column,
                          widen: Boolean): DataFrame = {
    val fields = df.schema.fields.toSeq
    val r = aggFrame(spark, df, distinctAgg, widen).collect()(0)
    val n = r.getAs[Long]("_n")
    import spark.implicits._
    fields.map { f =>
      val fc = facetOf(f.dataType)
      (f.name, fc.map(_.name).getOrElse("none"), n,
        n - r.getAs[Long](s"_nn_${f.name}"),
        r.getAs[Long](s"_nd_${f.name}"),
        if (r.isNullAt(r.fieldIndex(s"_lo_${f.name}"))) None
        else Some(r.getAs[Long](s"_lo_${f.name}")),
        if (r.isNullAt(r.fieldIndex(s"_hi_${f.name}"))) None
        else Some(r.getAs[Long](s"_hi_${f.name}")))
    }.toDF("column", "facet", "n_rows", "n_nulls", "n_distinct",
      "lo", "hi").orderBy("column")
  }

  /** The DuckDB twin of [[profile]] for a named table: one UNION ALL
    * arm per column (DuckDB plans them as grouping sets over one scan). */
  def duckProfileSql(table: String,
                     cols: Seq[(String, DataType)]): String =
    cols.sortBy(_._1).map { case (c, dt) =>
      val fc = facetOf(dt)
      val (lo, hi) = fc.map(f => (f.duckLo(c), f.duckHi(c)))
        .getOrElse(("NULL::BIGINT", "NULL::BIGINT"))
      s"""SELECT '$c' AS "column", '${fc.map(_.name).getOrElse("none")}' AS facet,
         |  count(*)::BIGINT AS n_rows,
         |  (count(*) - count($c))::BIGINT AS n_nulls,
         |  count(DISTINCT $c)::BIGINT AS n_distinct,
         |  $lo AS lo, $hi AS hi FROM $table""".stripMargin
    }.mkString("\nUNION ALL\n") + "\nORDER BY \"column\""

  /** Q165: the profiler over lineitem — 11 columns across all four
    * facet kinds in one pass, hash-gated column by column. */
  def q165TableProfile(spark: SparkSession, sfDir: String): DataFrame =
    profile(spark, graft.Tables.lineitem(spark, sfDir))

  /** Q180: the APPROX profiler twin over the same table, gated at the
    * q34 discipline — rows-only against the driver (HLL++ estimates
    * aren't hash-stable across engines), with the <5% per-column error
    * and the Expand-free plan pinned by TableProfileSpec against the
    * exact q165 run. This is the shape the q165 scaladoc promises for
    * 100 TB, exercised rather than described. */
  def q180TableProfileApprox(spark: SparkSession, sfDir: String): DataFrame =
    profileApprox(spark, graft.Tables.lineitem(spark, sfDir))

  def q165OracleSql: String = duckProfileSql("lineitem", Seq(
    "l_orderkey" -> LongType, "l_partkey" -> LongType,
    "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
    "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
    "l_discount" -> DoubleType, "l_tax" -> DoubleType,
    "l_returnflag" -> StringType, "l_linestatus" -> StringType,
    "l_shipdate" -> TimestampType))
}
