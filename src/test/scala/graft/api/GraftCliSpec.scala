package graft.api

import graft.SparkSpec

class GraftCliSpec extends SparkSpec {

  test("argument parsing mirrors the reference CLI contract") {
    val ok = GraftCli.parse(List("--job", "wordcount", "--output", "/tmp/o",
      "--partitions", "4", "--no-combiner", "a.txt", "b.txt"))
    assert(ok === Right(GraftCli.Args(job = "wordcount", output = "/tmp/o",
      partitions = 4, combiner = false, inputs = Vector("a.txt", "b.txt"))))
    assert(GraftCli.parse(List("--bogus")).isLeft)
    assert(GraftCli.parse(List("-verbose")).isLeft) // single-dash typos too
    // -v / --verbose (reference job.c:112-113)
    assert(GraftCli.parse(List("-v", "a.txt"))
      === Right(GraftCli.Args(verbose = true, inputs = Vector("a.txt"))))
    assert(GraftCli.parse(List("--verbose", "a.txt"))
      === Right(GraftCli.Args(verbose = true, inputs = Vector("a.txt"))))
  }

  test("MR_DISABLE_COMBINER=1 env var disables the combiner on any job") {
    // reference job.c:209-217: the env var works WITHOUT CLI changes and
    // only the exact value "1" triggers it
    val dir = scratchDir("cli-env").toFile
    java.nio.file.Files.writeString(
      new java.io.File(dir, "in.txt").toPath, "apple banana\napple")
    def runWith(env: Map[String, String]): (String, Seq[String]) = {
      val out = new java.io.File(dir, "out").toString
      val buf = new java.io.ByteArrayOutputStream()
      GraftCli.run(spark, GraftCli.Args(job = "wordcount", output = out,
        partitions = 2, verbose = true, inputs = Vector(dir + "/in.txt")),
        env = env, err = new java.io.PrintStream(buf, true))
      val lines = new java.io.File(out).listFiles()
        .filter(_.getName.startsWith("part-"))
        .flatMap(f => scala.io.Source.fromFile(f).getLines().toSeq).toSeq
      (buf.toString, lines)
    }
    val (logOn, resOn) = runWith(Map.empty)
    assert(logOn.contains("Combiner:  Enabled"))
    assert(logOn.contains("MapReduce Performance"))
    val (logOff, resOff) = runWith(Map("MR_DISABLE_COMBINER" -> "1"))
    assert(logOff.contains("Combiner:  Disabled"))
    assert(logOff.contains("Note: Combiner disabled via MR_DISABLE_COMBINER=1"))
    // value must be exactly "1" (strcmp semantics)
    val (logZero, _) = runWith(Map("MR_DISABLE_COMBINER" -> "0"))
    assert(logZero.contains("Combiner:  Enabled"))
    // results identical with and without the combiner
    assert(resOn.sorted === resOff.sorted)
    assert(resOn.sorted.contains("apple\t2"))
  }

  test("end-to-end: CLI run produces the inverted index with metrics") {
    val dir = scratchDir("cli").toFile
    java.nio.file.Files.writeString(
      new java.io.File(dir, "in.txt").toPath, "apple banana\napple")
    val out = new java.io.File(dir, "out").toString
    val metrics = new java.io.File(dir, "metrics_report.txt").toString
    GraftCli.run(spark, GraftCli.Args(job = "inverted", output = out,
      partitions = 2, inputs = Vector(dir + "/in.txt"),
      metrics = Some(metrics)))
    val lines = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("part-"))
      .flatMap(f => scala.io.Source.fromFile(f).getLines().toSeq)
    assert(lines.exists(l => l.startsWith("apple\t") && l.contains("in.txt")))
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(metrics)).contains("GRAFT METRICS REPORT"))
  }
}
