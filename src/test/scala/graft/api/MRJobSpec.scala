package graft.api

import org.apache.spark.sql.functions._

import graft.SparkSpec

class MRJobSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    ("a.txt", "the quick brown fox"),
    ("b.txt", "the lazy dog and the fox"),
    ("c.txt", "Quick! QUICK?? the... dog")
  ).toDF("filename", "chunk")

  test("word count end-to-end matches hand computation") {
    val got = MRJob.run(spark, SampleJobs.wordCount, corpus)
      .collect().toMap.map { case (k, v) => k -> v.toLong }
    val expected = Map("the" -> 4L, "quick" -> 3L, "brown" -> 1L,
      "fox" -> 2L, "lazy" -> 1L, "dog" -> 2L, "and" -> 1L)
    assert(got === expected)
  }

  test("inverted index renders the reference's exact record format") {
    val got = MRJob.run(spark, SampleJobs.invertedIndex, corpus)
      .collect().toMap
    // byte-exact rendering of reference main.c:133-137
    assert(got("quick") === "quick -> [a.txt, c.txt]")
    assert(got("the") === "the -> [a.txt, b.txt, c.txt]")
    assert(got("brown") === "brown -> [a.txt]")
  }

  test("combiner on/off produces identical results (reference README.md:317-322)") {
    val withC = SampleJobs.wordCount
    val withoutC = withC.copy(combine = None)
    val a = MRJob.run(spark, withC, corpus).collect().sorted.toSeq
    val b = MRJob.run(spark, withoutC, corpus).collect().sorted.toSeq
    assert(a === b)
  }

  test("tiny flush threshold (forced multi-flush) does not change results") {
    val job = SampleJobs.wordCount.copy(flushThreshold = 2)
    val got = MRJob.run(spark, job, corpus).collect().toMap
    assert(got("the") === "4")
  }

  test("keys arrive sorted within each partition (reference mapreduce.h:105)") {
    // reducer observes arrival order; validate per-partition monotonicity
    val job = MRJob(
      map = (chunk, _) => SampleJobs.tokenize(chunk).map(_ -> "1"),
      reduce = (k, vs) => { vs.foreach(_ => ()); Seq(k) },
      numPartitions = 2)
    val perPart = MRJob.run(spark, job, corpus)
      .mapPartitions(it => Iterator.single(it.map(_._1).toSeq))
      .collect()
    perPart.foreach(keys => assert(keys === keys.sorted))
  }

  test("custom partitioner expression routes keys deterministically") {
    val job = SampleJobs.wordCount.copy(
      numPartitions = 2,
      partitionExpr = Some(length(col("key")) % 2))
    val got = MRJob.run(spark, job, corpus).collect().toMap
    assert(got("the") === "4" && got("quick") === "3")
  }

  test("multi-output reducer emits one pair per output") {
    val job = MRJob(
      map = (chunk, _) => SampleJobs.tokenize(chunk).map(_ -> "1"),
      reduce = (_, vs) => vs.toSeq) // identity: one output per value
    val got = MRJob.run(spark, job, corpus).collect()
    assert(got.length === 14) // total token count
  }

  test("values containing spaces survive the pipeline intact") {
    val input = Seq(("f", "k")).toDF("filename", "chunk")
    val job = MRJob(
      map = (_, _) => Seq("k" -> "a b  c"),
      reduce = (_, vs) => vs.toSeq)
    assert(MRJob.run(spark, job, input).collect() === Array(("k", "a b  c")))
  }

  test("runToText writes part files in the reference's key\\tvalue shape") {
    val out = scratchDir("mrout").toString + "/wc"
    MRJob.runToText(spark, SampleJobs.wordCount, corpus, out)
    val partFiles = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("part-"))
    assert(partFiles.nonEmpty)
    val lines = partFiles.flatMap(f =>
      scala.io.Source.fromFile(f).getLines().toSeq)
    assert(lines.toSet.contains("the\t4"))
    assert(lines.length === 7) // one line per distinct word
    // overwrite mode: running again replaces, not appends
    MRJob.runToText(spark, SampleJobs.wordCount, corpus, out)
    val again = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("part-"))
      .flatMap(f => scala.io.Source.fromFile(f).getLines().toSeq)
    assert(again.length === 7)
  }

  test("textInput exposes real filenames to the map callback") {
    val dir = scratchDir("mrjob").toFile
    java.nio.file.Files.writeString(
      new java.io.File(dir, "one.txt").toPath, "alpha beta\nbeta")
    val input = MRJob.textInput(spark, Seq(dir.getAbsolutePath))
    val got = MRJob.run(spark, SampleJobs.invertedIndex, input)
      .collect().toMap
    assert(got.keySet === Set("alpha", "beta"))
    assert(got("beta").matches("beta -> \\[file:.*one\\.txt\\]"))
  }
}
