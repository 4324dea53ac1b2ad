package graft.api

import org.apache.spark.sql.functions.col

import graft.{SparkSpec, Tables}
import graft.metrics.MetricsReport

/** The reference's headline experiment (reference README.md:317-326):
  * map-side combining cut shuffled pairs 126.8M → 21.2M (83%) and wall
  * time 1.92×. Reproduced here on the MRJob inverted index: measure
  * shuffle-write records with the combiner on vs off and require a real
  * reduction, with identical results (the equivalence is asserted in
  * MRJobSpec; here we check the physics). */
class CombinerExperimentSpec extends SparkSpec {

  private def corpus =
    Tables.documents(spark, sfDir)
      .select(col("source").as("filename"), col("text").as("chunk"))

  /** Run job, return shuffle records attributable to it. */
  private def shuffleRecordsOf(job: MRJob): Long = {
    val m = MetricsReport.install(spark)
    // the window drains the async listener bus, so the count is exact
    try m.window(MRJob.run(spark, job, corpus).count()).shuffleWriteRecords
    finally spark.sparkContext.removeSparkListener(m)
  }

  test("map-side combine cuts shuffled records (reference README.md:317-326)") {
    val on = shuffleRecordsOf(SampleJobs.invertedIndex)
    val off = shuffleRecordsOf(SampleJobs.invertedIndex.copy(combine = None))
    info(f"shuffle records: combiner ON=$on%d OFF=$off%d " +
      f"(${100.0 * (off - on) / off}%.1f%% reduction)")
    assert(on > 0 && off > 0)
    // the corpus has a 31-word vocabulary: dedup-per-flush must collapse
    // the emit stream dramatically, as in the reference's experiment
    assert(on < off / 2, s"expected ≥2× shuffle reduction, got $on vs $off")
  }
}
