package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Everything the traced run records, kept in memory and written out once
  * the run ends. Spans come from the harness (around each call it makes
  * into a layer); jobs, task counters, plan phases and streaming batches
  * come from Spark's public listener APIs and are attributed to an
  * operation through the job tag the harness sets before each call.
  * Nothing here runs in an untraced run. */
final class Trace(epochMs0: Long, nano0: Long) {
  /** Wall clock in epoch milliseconds with sub-millisecond resolution,
    * so harness spans and listener job times share one time base. */
  def nowMs(): Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  final case class Span(id: Int, parent: Int, op: Int, name: String,
                        start: Double, var end: Double = -1)
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  /** Record `name` as a span around `body`, nested under the innermost
    * open span. Spans are opened and closed on the harness thread only. */
  def span[T](op: Int, name: String)(body: => T): T = {
    val s = Span(spans.size, stack.headOption.fold(-1)(_.id), op, name, nowMs())
    spans += s
    stack = s :: stack
    try body finally { s.end = nowMs(); stack = stack.tail }
  }

  final class Job(val id: Int, val group: String, val execId: String,
                  val streamId: String, val start: Long) {
    var end = -1L
    var tasks, runMs, gcMs, cpuNs, shufBytes, shufRecords, spillBytes,
        inputBytes = 0L
  }
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]
  final case class Plan(execId: Long, analyzeMs: Long, optimizeMs: Long,
                        physicalMs: Long, hash: String)
  private val plans = new ConcurrentLinkedQueue[Plan]
  final case class Batch(queryId: String, durationMs: Long)
  private val batches = new ConcurrentLinkedQueue[Batch]

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      val tag = prop("spark.job.tags").split(",").find(_.startsWith("op-"))
      val j = new Job(e.jobId, tag.getOrElse(prop("spark.jobGroup.id")),
        prop("spark.sql.execution.id"), prop("sql.streaming.queryId"), e.time)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(stageJob.put(_, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = stageJob.get(e.stageId)
      val m = e.taskMetrics
      if (j != null && m != null) j.synchronized {
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.cpuNs += m.executorCpuTime
        j.shufBytes += m.shuffleWriteMetrics.bytesWritten
        j.shufRecords += m.shuffleWriteMetrics.recordsWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.inputBytes += m.inputMetrics.bytesRead
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent =>
        batches.add(Batch(p.progress.id.toString, p.progress.batchDuration))
      case end: SparkListenerSQLExecutionEnd => queryExecution(end).foreach { qe =>
        val ph = qe.tracker.phases
        def ms(k: String) = ph.get(k).fold(0L)(_.durationMs)
        plans.add(Plan(end.executionId, ms("analysis"), ms("optimization"),
          ms("planning"), planHash(qe)))
      }
      case _ =>
    }
  }

  /** The execution's QueryExecution rides on the end event as a field
    * Spark does not publish to listeners outside its SQL package; it is
    * read reflectively, and plan metrics stay empty if it is absent. */
  private def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    scala.util.Try(e.getClass.getMethod("qe").invoke(e)).toOption.collect {
      case qe: QueryExecution => qe
    }

  private val ExprId =
    """#\d+|plan_id=\d+|\[id=#?\d+\]|\[file:[^\]]*\]|(?<=[A-Za-z]_)\d+""".r

  /** A load-independent fingerprint of the physical plan: expression ids,
    * file locations and per-run name counters (`sink_12`) are stripped, so
    * the hash moves only when the plan's shape does. */
  private def planHash(qe: QueryExecution): String = {
    val text = ExprId.replaceAllIn(qe.executedPlan.treeString, "")
    java.security.MessageDigest.getInstance("SHA-1")
      .digest(text.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
  }

  def writeJson(out: java.io.PrintWriter): Unit = {
    import Json._
    out.println(obj("spans" -> arr(spans.toSeq.map(s => obj(
      "id" -> num(s.id), "parent" -> num(s.parent), "op" -> num(s.op),
      "name" -> str(s.name), "start" -> num(s.start), "end" -> num(s.end))))))
    out.println(obj("jobs" -> arr(jobs.values.asScala.toSeq.sortBy(_.id).map(j =>
      obj("id" -> num(j.id), "group" -> str(j.group), "exec" -> str(j.execId),
        "stream" -> str(j.streamId), "start" -> num(j.start),
        "end" -> num(j.end), "tasks" -> num(j.tasks), "run_ms" -> num(j.runMs),
        "gc_ms" -> num(j.gcMs), "cpu_ns" -> num(j.cpuNs),
        "shuffle_bytes" -> num(j.shufBytes),
        "shuffle_records" -> num(j.shufRecords),
        "spill_bytes" -> num(j.spillBytes),
        "input_bytes" -> num(j.inputBytes))))))
    out.println(obj("plans" -> arr(plans.asScala.toSeq.map(p => obj(
      "exec" -> str(p.execId.toString), "analyze_ms" -> num(p.analyzeMs),
      "optimize_ms" -> num(p.optimizeMs), "physical_ms" -> num(p.physicalMs),
      "hash" -> str(p.hash))))))
    out.println(obj("batches" -> arr(batches.asScala.toSeq.map(b => obj(
      "query" -> str(b.queryId), "ms" -> num(b.durationMs))))))
  }
}

/** Minimal JSON rendering for the records the harness writes. */
object Json {
  def str(s: String): String = escape(s)
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null"
    else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else x.toString
  def num(x: Long): String = x.toString
  def num(x: Int): String = x.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  private def escape(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
