package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one SparkContext).
  * A whole-stage codegen compile failure (e.g. a generated method past
  * the JVM's 64 KB limit) throws instead of logging a WARN and running
  * the stage without whole-stage codegen, so the spec whose plan caused
  * it fails. */
object SharedSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.create("graft-test", Some("local[4]"),
      shufflePartitions = 4)
    s.conf.set("spark.sql.codegen.fallback", "false")
    s
  }
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
