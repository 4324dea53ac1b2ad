package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** RESTARTABLE MANIFEST-VERSION TAIL — the incremental consumer loop for
  * a [[ManifestTable]]: process each committed version EXACTLY ONCE,
  * folding its change set into a persisted state, and survive a kill at
  * any point. This is the q133 CDC-runner discipline (versioned state
  * dirs + `_SUCCESS` markers, base = newest complete state strictly
  * below the version being applied) re-hosted from "landing files in
  * arrival order" onto "table versions in commit order" — the consumer
  * a production pipeline runs against a Delta/Iceberg change feed.
  *
  * Idempotence argument (the spec kills and resumes mid-history):
  * replaying version `v` re-reads the SAME immutable inputs (manifests
  * and data files never change once committed; [[ManifestTable
  * .readChangesBetween]] is a pure function of two manifests), merges
  * against the SAME immutable base (the newest `_SUCCESS`-marked state
  * dir strictly BELOW `v` — never its own half-written output), and
  * overwrites its own `v<v>` dir; the `_SUCCESS` marker (written last
  * by the parquet commit protocol) is the atomic "processed" bit, so a
  * crash mid-write leaves the cursor untouched and the restart simply
  * redoes the version. Single concurrent runner per state dir assumed
  * (the engine's usual single-rewriter contract); readers always see a
  * complete state via [[currentState]].
  *
  * At 100 TB each step is delta-file-sized: copy-on-write commits carry
  * unchanged files verbatim, so the change set of version `v` reads
  * only the files `v` actually rewrote — the tail never rescans the
  * table, and falling behind N commits costs N delta-sized folds, not
  * one table-sized diff. */
object ManifestTail {

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val StateName = """v(\d+)""".r

  /** Versions already processed into `stateDir` (complete states only —
    * a dir without `_SUCCESS` is a crashed write, not progress). */
  private def completeStates(spark: SparkSession,
                             stateDir: String): Seq[Int] = {
    val dir = new Path(stateDir)
    val fs = fsOf(spark, dir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .filter(s => s.isDirectory &&
        fs.exists(new Path(s.getPath, "_SUCCESS")))
      .flatMap(_.getPath.getName match {
        case StateName(v) => Some(v.toInt)
        case _ => None
      }).sorted
  }

  /** The recovery pointer: the newest table version whose fold is fully
    * committed under `stateDir`. */
  def cursor(spark: SparkSession, stateDir: String): Option[Int] =
    completeStates(spark, stateDir).lastOption

  /** The newest complete folded state, if any version was processed. */
  def currentState(spark: SparkSession,
                   stateDir: String): Option[DataFrame] =
    cursor(spark, stateDir).map(v =>
      spark.read.parquet(s"$stateDir/v$v"))

  /** Catch the state up to the table's newest committed version:
    * processes versions `cursor+1 .. min(cursor+maxVersions, newest)`
    * in order, each as one fold landing in its own `v<N>` dir. `seed`
    * builds the initial state from version 1's snapshot; `fold`
    * receives (previous state, [[ManifestTable.readChangesBetween]]
    * (v-1, v), v). Returns the number of versions processed this call
    * (0 = already caught up). `maxVersions` exists so the spec can
    * simulate a kill mid-history; production callers leave it
    * unbounded and re-invoke on a schedule. */
  def catchUp(spark: SparkSession, root: String, stateDir: String,
              maxVersions: Int = Int.MaxValue)
             (seed: DataFrame => DataFrame,
              fold: (DataFrame, DataFrame, Int) => DataFrame): Int = {
    require(maxVersions >= 0, "maxVersions must be non-negative")
    val latest = ManifestTable.currentVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(
        s"no committed version under $root"))
    var processed = 0
    var cur = cursor(spark, stateDir).getOrElse(0)
    // the schema `v<cur>` was written with, once this call wrote it: the
    // next fold reads it back under that schema instead of inferring
    // one from its footer, so only the resume point infers
    var written: Option[StructType] = None
    while (processed < maxVersions && cur < latest) {
      val v = cur + 1
      val state =
        if (v == 1) seed(ManifestTable.readAt(spark, root, 1))
        else fold(
          written.fold(spark.read)(spark.read.schema(_))
            .parquet(s"$stateDir/v$cur"),
          ManifestTable.readChangesBetween(spark, root, v - 1, v),
          v)
      // overwrite is the replay-safety: a crashed prior attempt left a
      // markerless dir this write replaces; _SUCCESS lands last
      state.write.mode("overwrite").parquet(s"$stateDir/v$v")
      written = Some(ManifestTable.asNullable(state.schema))
      processed += 1
      cur = v
    }
    processed
  }

  /** Retire old folded states, keeping the newest `retain` complete
    * ones — the state-side twin of [[ManifestTable.vacuum]] (a tail
    * that has run for months should not hoard every historical fold). */
  def vacuumStates(spark: SparkSession, stateDir: String,
                   retain: Int = 2): Int = {
    require(retain >= 1, "must retain at least the newest state")
    val all = completeStates(spark, stateDir)
    val drop = all.dropRight(retain)
    val fs = fsOf(spark, new Path(stateDir))
    drop.foreach(v => fs.delete(new Path(s"$stateDir/v$v"), true))
    drop.size
  }
}
