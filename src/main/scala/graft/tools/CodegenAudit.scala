package graft.tools

import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import graft.{GraftSession, SparkEntry}

/** Whole-stage-codegen coverage audit (dev tool): for every batch
  * query in the suite, execute at the given scale dir and report what
  * fraction of the final physical plan's operators run inside a
  * WholeStageCodegen stage — the "widen the codegen spans" feedback
  * loop as a table instead of eyeballing 90 explain outputs.
  *
  * Interpreted (non-codegen) operators are expected at exactly the
  * documented seams — Exchange/shuffle boundaries, sorts, object-mode
  * plans (the MRJob protocol surface, the multimodal codec
  * mapPartitions, Dataset typed ops), generators, streaming relations
  * and the operators Spark never fuses (object/sort aggregates,
  * windows, top-k, unions, local relations, the as-of join) — so the
  * interesting signal is a Project, Filter or join outside a span: an
  * interpreted (CodegenFallback) expression such as a higher-order
  * function. The specs' `spark.sql.codegen.fallback=false` cannot see
  * those: it fails a span whose generated code does not compile, and
  * such an expression is planned outside any span instead.
  *
  *   runMain graft.tools.CodegenAudit [sfDir] [worstN]
  */
object CodegenAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val worstN = if (args.length > 1) args(1).toInt else 15
    val spark = GraftSession.create("graft-codegen-audit", Some("local[32]"))

    /** (operators inside WSCG, operators outside, interpreted op names),
      * descending through AQE wrappers and materialized query stages.
      * Boundary semantics: a WholeStageCodegen node starts a fused span;
      * an InputAdapter ENDS it (everything below feeds the span through
      * an iterator). Plumbing and inherently non-codegen infrastructure
      * — exchanges, AQE shuffle reads, scans (columnar), reuse wrappers
      * — is excluded from both counts: the measured quantity is "row
      * operators that could fuse, and did/didn't". */
    // QueryStage wrappers never reach this set — the walk unwraps them
    // via the QueryStageExec case before a nodeName is computed
    val plumbing = Set("InputAdapter", "Exchange", "BroadcastExchange",
      "AQEShuffleRead", "ReusedExchange",
      "ColumnarToRow", "InMemoryTableScan", "EmptyRelation")
    def walk(p: SparkPlan, inCodegen: Boolean)
        : (Int, Int, Seq[String]) = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inCodegen)
      case s: QueryStageExec => walk(s.plan, inCodegen)
      case w: WholeStageCodegenExec =>
        val below = w.children.map(walk(_, inCodegen = true))
        (below.map(_._1).sum, below.map(_._2).sum, below.flatMap(_._3))
      case other =>
        val name = other.nodeName.replaceAll("Exec$", "")
          .replaceAll(" parquet .*", " parquet").trim
        val boundary = name == "InputAdapter"
        val below = other.children
          .map(walk(_, inCodegen = inCodegen && !boundary))
        val skip = plumbing.contains(name) || name.startsWith("Scan")
        if (skip)
          (below.map(_._1).sum, below.map(_._2).sum, below.flatMap(_._3))
        else if (inCodegen)
          (1 + below.map(_._1).sum, below.map(_._2).sum, below.flatMap(_._3))
        else
          (below.map(_._1).sum, 1 + below.map(_._2).sum,
            name +: below.flatMap(_._3))
    }

    // streaming queries run the micro-batch engine (separate plans per
    // batch, AQE off) — out of scope for this audit
    val batch = SparkEntry.queries.filterNot(_._1.contains("stream"))
    val rows = batch.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // execute THIS df's own QueryExecution — count() would spawn a
        // separate one, and AQE inserts WholeStageCodegen per query
        // stage at MATERIALIZATION, so only this plan instance carries
        // the final codegen structure. toRdd.count() finalizes it
        // without shipping result rows to the driver (collect() would
        // OOM on wide outputs at larger scale dirs).
        df.queryExecution.toRdd.count()
        val (in, out, interp) = walk(df.queryExecution.executedPlan,
          inCodegen = false)
        Some((name, in, out, interp))
      } catch {
        case e: Throwable =>
          System.err.println(s"[codegen] $name failed: ${e.getMessage}")
          None
      }
    }
    val totalIn = rows.map(_._2).sum
    val totalOut = rows.map(_._3).sum
    println(f"[codegen] suite: $totalIn ops in codegen / $totalOut outside " +
      f"(${100.0 * totalIn / math.max(1, totalIn + totalOut)}%.0f%% coverage)")
    println("| query | in | out | coverage | interpreted ops |")
    println("|---|---|---|---|---|")
    rows.sortBy(r => r._2.toDouble / math.max(1, r._2 + r._3))
      .take(worstN)
      .foreach { case (name, in, out, interp) =>
        val top = interp.groupBy(identity).view.mapValues(_.size).toSeq
          .sortBy(-_._2).take(4)
          .map { case (n, c) => if (c > 1) s"$n×$c" else n }.mkString(", ")
        println(f"| $name | $in | $out | ${100.0 * in / math.max(1, in + out)}%.0f%% | $top |")
      }
    spark.stop()
  }
}
