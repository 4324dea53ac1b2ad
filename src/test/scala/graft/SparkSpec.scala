package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one SparkContext). */
object SharedSpark {
  lazy val spark: SparkSession =
    GraftSession.create("graft-test", Some("local[4]"), shufflePartitions = 4)
}

/** Base class: every spec gets the shared session + the smallest test SF. */
abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark
  val sfDir = "/root/testdata/sf0.001"

  /** A fresh scratch dir under the shared session's per-process
    * warehouse, which [[GraftSession]] deletes on exit (and its dead-pid
    * sweep after a crash), so no spec leaks a dir into the temp dir. */
  def scratchDir(prefix: String): Path = {
    val wh = Paths.get(new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath)
    Files.createTempDirectory(Files.createDirectories(wh), prefix)
  }
}
