package graft.metrics

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.graftbridge.SparkBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The reference engine's always-on metrics subsystem (reference
  * metrics.c:107-526) re-expressed as a SparkListener.
  *
  * The reference records per-phase wall times, emit/flush counters, queue
  * waits, lock contention, and per-partition key skew, then prints a
  * stable-ordered text report "for easy diffing" (reference README.md:417).
  * On Spark the equivalents are stage/task metrics: shuffle bytes/records
  * (the flush/exchange analog), task run times per stage (phase times),
  * and per-task skew (the reference's per-partition σ, metrics.c:365-421).
  * Locks and queue depths have no analog — tasks are shared-nothing.
  *
  * Always-on and cheap: counters are LongAdders fed by the listener bus;
  * `report()` renders sections in a fixed order so successive runs diff
  * cleanly, exactly like the reference's report file. [[window]] is the
  * one per-run measurement: the bench's per-query shuffle MB, the
  * `tools.Profile` job/gap split and the shuffle-counting specs all
  * read it.
  *
  * `sc` is the context whose listener bus [[window]] drains — the one
  * [[MetricsReport.install]] adds the report to.
  */
final class MetricsReport(sc: SparkContext) extends SparkListener {

  private val jobs = new AtomicLong
  private val tasks = new AtomicLong
  private val failedTasks = new AtomicLong
  private val cpuTimeNs = new LongAdder
  private val runTimeMs = new LongAdder
  private val gcTimeMs = new LongAdder
  private val shuffleReadBytes = new LongAdder
  private val shuffleReadRecords = new LongAdder
  private val shuffleWriteBytes = new LongAdder
  private val shuffleWriteRecords = new LongAdder
  private val spillBytes = new LongAdder
  private val inputBytes = new LongAdder
  private val inputRecords = new LongAdder
  private val outputRecords = new LongAdder
  /** stage id → (name, numTasks, runtimeMs) per completed stage. */
  private val stages =
    new ConcurrentHashMap[Int, (String, Int, Long)]()
  /** stage id → max single-task runtime ms (fed by onTaskEnd): the skew
    * signal — a stage whose max task dwarfs its mean has a hot partition
    * (the reference's per-partition σ, metrics.c:365-421). */
  private val stageMaxTaskMs = new ConcurrentHashMap[Int, Long]()
  private val t0 = System.nanoTime()
  /** Job timing, fed in event order by the bus thread: the start time of
    * each running job, summed job ms, and the driver gaps — ms between
    * the last job end and a job that starts with none running (planning,
    * commit-protocol fs work, manifest parsing). */
  private val jobStartMs = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobMs = new LongAdder
  private val gapMs = new LongAdder
  @volatile private var lastJobEndMs = -1L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    if (jobStartMs.isEmpty && lastJobEndMs >= 0)
      gapMs.add(math.max(0L, e.time - lastJobEndMs))
    jobStartMs.put(e.jobId, e.time)
    ()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStartMs.remove(e.jobId)).foreach { s =>
      jobMs.add(math.max(0L, e.time - s.longValue))
      lastJobEndMs = math.max(lastJobEndMs, e.time)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (e.reason != org.apache.spark.Success) { failedTasks.incrementAndGet(); () }
    val m = e.taskMetrics
    if (m != null) {
      stageMaxTaskMs.merge(e.stageId, m.executorRunTime, math.max(_, _))
      cpuTimeNs.add(m.executorCpuTime)
      runTimeMs.add(m.executorRunTime)
      gcTimeMs.add(m.jvmGCTime)
      shuffleReadBytes.add(m.shuffleReadMetrics.totalBytesRead)
      shuffleReadRecords.add(m.shuffleReadMetrics.recordsRead)
      shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
      shuffleWriteRecords.add(m.shuffleWriteMetrics.recordsWritten)
      spillBytes.add(m.diskBytesSpilled)
      inputBytes.add(m.inputMetrics.bytesRead)
      inputRecords.add(m.inputMetrics.recordsRead)
      outputRecords.add(m.outputMetrics.recordsWritten)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val name = info.name.takeWhile(_ != '\n')
    stages.put(info.stageId,
      (name, info.numTasks, info.taskMetrics.executorRunTime))
    ()
  }

  /** Run `body` between two drains of the (async) listener bus and
    * return what it cost. The first drain keeps earlier work's in-flight
    * events out; the second lands every event of `body` before the
    * counters are read, so back-to-back windows never share a task. The
    * first job of a window has no gap: the time before it is the window's
    * own planning, which is in the wall time. */
  def window(body: => Any): MetricsReport.Window = {
    SparkBridge.drainListenerBus(sc)
    lastJobEndMs = -1L
    val (j0, jMs0, g0) = (jobs.get(), jobMs.sum(), gapMs.sum())
    val (b0, r0) = (shuffleWriteBytes.sum(), shuffleWriteRecords.sum())
    val start = System.nanoTime()
    body
    val wallS = (System.nanoTime() - start) / 1e9
    SparkBridge.drainListenerBus(sc)
    MetricsReport.Window(wallS, jobs.get() - j0, (jobMs.sum() - jMs0) / 1e3,
      (gapMs.sum() - g0) / 1e3, shuffleWriteBytes.sum() - b0,
      shuffleWriteRecords.sum() - r0)
  }

  /** Stable-ordered text report (the metrics_report.txt analog). */
  def report(): String = {
    val sb = new StringBuilder
    val wallS = (System.nanoTime() - t0) / 1e9
    def sec(title: String): Unit = { sb ++= s"\n== $title ==\n"; () }
    sb ++= "GRAFT METRICS REPORT\n"
    sec("Job Configuration")
    sb ++= f"jobs: ${jobs.get()}%d\ntasks: ${tasks.get()}%d (failed ${failedTasks.get()}%d)\n"
    sec("Timing")
    sb ++= f"wall: $wallS%.3f s\n"
    sb ++= f"task run time: ${runTimeMs.sum()}%d ms (cpu ${cpuTimeNs.sum() / 1000000}%d ms, gc ${gcTimeMs.sum()}%d ms)\n"
    sec("Input / Output")
    sb ++= f"input: ${inputBytes.sum()}%d bytes, ${inputRecords.sum()}%d records\n"
    sb ++= f"output: ${outputRecords.sum()}%d records\n"
    sec("Shuffle (the reference's emit/flush boundary)")
    sb ++= f"write: ${shuffleWriteBytes.sum()}%d bytes, ${shuffleWriteRecords.sum()}%d records\n"
    sb ++= f"read:  ${shuffleReadBytes.sum()}%d bytes, ${shuffleReadRecords.sum()}%d records\n"
    sb ++= f"spill: ${spillBytes.sum()}%d bytes\n"
    sec("Top 10 stages by task runtime (skew diagnostics)")
    stages.asScala.toSeq
      .sortBy { case (id, (_, _, rt)) => (-rt, id) }
      .take(10)
      .foreach { case (id, (name, n, rt)) =>
        val maxMs = stageMaxTaskMs.getOrDefault(id, 0L)
        val mean = if (n > 0) rt / n else 0L
        sb ++= f"stage $id%5d  tasks=$n%4d  runtime=$rt%8d ms  " +
          f"max-task=$maxMs%6d ms  mean=$mean%6d ms  $name%s\n"
      }
    sb.result()
  }

  /** Write the report next to the metrics path the reference used. */
  def write(path: String): Unit = {
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    Files.writeString(Paths.get(path), report())
    ()
  }
}

object MetricsReport {
  /** One [[MetricsReport.window]]: `wallS` times the body alone (not the
    * drains); job and gap seconds come from the scheduler's event times.
    * Shuffle write is the reference's emitted-pairs counter (its combiner
    * experiment compares exactly the records). */
  final case class Window(wallS: Double, jobs: Long, jobS: Double,
                          gapS: Double, shuffleWriteBytes: Long,
                          shuffleWriteRecords: Long) {
    def shuffleMb: Double = shuffleWriteBytes / 1e6
  }

  /** Install on a session; returns the live collector. The caller removes
    * it (`removeSparkListener`) when done — on a shared context a
    * forgotten report keeps counting every later job. */
  def install(spark: SparkSession): MetricsReport = {
    val m = new MetricsReport(spark.sparkContext)
    spark.sparkContext.addSparkListener(m)
    m
  }
}
