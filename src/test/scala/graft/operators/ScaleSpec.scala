package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Scale-technique demonstrations: salting for skew, bucketing for
  * co-located (shuffle-free) joins, exchange reuse in self-joins. */
class ScaleSpec extends SparkSpec {

  test("salted join returns exactly the plain join's rows") {
    val orders = Tables.orders(spark, sfDir)
    val customer = Tables.customer(spark, sfDir)
      .withColumnRenamed("c_custkey", "o_custkey")
    val plain = orders.join(customer, Seq("o_custkey"))
      .groupBy("c_mktsegment").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = SkewJoin.saltedJoin(
      orders, customer, "o_custkey",
      buckets = 8, bigSalt = SkewJoin.salt(8, col("o_orderkey")))
      .groupBy("c_mktsegment").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted === plain)
  }

  test("salt is deterministic and spread over all buckets") {
    val s = Tables.orders(spark, sfDir)
      .select(SkewJoin.salt(8, col("o_orderkey")).as("salt"))
    val a = s.groupBy("salt").count().collect()
      .map(r => r.get(0).toString.toInt -> r.getLong(1)).toMap
    assert(a.keySet === (0 until 8).toSet) // every bucket hit
    val b = s.groupBy("salt").count().collect()
      .map(r => r.get(0).toString.toInt -> r.getLong(1)).toMap
    assert(a === b) // stable across re-execution (retry safety)
  }

  test("q81 spreads the hot key over all salt buckets, none above 2x fair") {
    // the skewed table puts ~25% of all rows on one custkey; unsalted,
    // every one of them lands on a single reducer. The salt must spread
    // them across all SkewBuckets values with no bucket holding more
    // than 2x the fair share — the max-partition-rows bound that decides
    // the stage's wall-clock at scale.
    val skewed = SkewJoin.skewedOrders(spark, sfDir)
    val hot = skewed.groupBy("o_custkey").count()
      .orderBy(desc("count")).head().getLong(0)
    val hotRows = skewed.where(col("o_custkey") === hot)
    val total = hotRows.count()
    assert(total > skewed.count() / 5, "hot key should dominate the table")
    val perSalt = hotRows
      .select(SkewJoin.salt(SkewJoin.SkewBuckets, col("o_orderkey")).as("s"))
      .groupBy("s").count().collect()
      .map(r => r.get(0).toString.toInt -> r.getLong(1)).toMap
    assert(perSalt.keySet === (0 until SkewJoin.SkewBuckets).toSet,
      s"hot key must hit every salt bucket: $perSalt")
    assert(perSalt.values.max <= 2 * total / SkewJoin.SkewBuckets,
      s"one salt bucket still holds a straggler share: $perSalt")
    // and with the small side too big to broadcast, the join's shuffle
    // runs on (salt, key): the hot key's post-shuffle partition is
    // bucket-sized, not key-sized
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = SkewJoin.q81SkewJoin(spark, sfDir)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("__salt") || plan.contains("SortMergeJoin") ||
        plan.contains("ShuffledHashJoin"), plan.take(3000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucketed tables co-locate the join: no exchange in the plan") {
    // clear catalog + warehouse so saveAsTable never sees a stale
    // location (the warehouse is per-process now, so staleness can only
    // come from an earlier test in this same JVM)
    Seq("orders_b", "customer_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val dir = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (dir.exists) graft.GraftSession.deleteRecursively(dir)
    }
    Tables.orders(spark, sfDir)
      .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable("orders_b")
    Tables.customer(spark, sfDir)
      .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
      .mode("overwrite").saveAsTable("customer_b")
    val joined = spark.table("orders_b")
      .join(spark.table("customer_b"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("cnt"))
    // bucket-pruned scan: the join itself introduces no shuffle
    val upToAgg = joined.queryExecution.executedPlan.toString
    val joinSection = upToAgg.split("HashAggregate").last
    assert(!joinSection.contains("Exchange hashpartitioning"),
      s"expected shuffle-free bucketed join:\n$upToAgg")
    // and it returns the same result as the plain join
    val plain = Tables.orders(spark, sfDir)
      .join(Tables.customer(spark, sfDir),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment").agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(joined.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      === plain)
  }

  test("q82 prunes to exactly one day partition of the daily table") {
    import graft.sources.PartitionedSink
    val df = PartitionedSink.q82PartitionPruning(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*day[^\\]]*\\].*"),
      s"day predicate must reach the scan as a partition filter:\n${
        plan.take(2000)}")
    // inputFiles reflects the post-pruning listing: ONE day's directory
    val t = PartitionedSink.eventsDaily(spark, sfDir)
    val days = spark.sql(
      s"SHOW PARTITIONS ${PartitionedSink.eventsDailyName(spark, sfDir)}")
      .collect().map(_.getString(0).stripPrefix("day=")).sorted
    assert(days.length > 1, s"need multiple partitions to prove pruning: ${
      days.toSeq}")
    val pruned = t.where(col("day") === lit(java.sql.Date.valueOf(days.head)))
    val files = pruned.inputFiles
    assert(files.nonEmpty && files.forall(_.contains(s"day=${days.head}")),
      s"pruned scan lists other partitions: ${files.toSeq.take(5)}")
    assert(t.inputFiles.exists(f => !f.contains(s"day=${days.head}")),
      "full table should span more than the pruned day")
  }

  test("date-partitioned writes let the scan prune partitions") {
    val out = scratchDir("part").toString + "/ev"
    Tables.events(spark, sfDir)
      .withColumn("day", to_date(col("ts")))
      .write.partitionBy("day").mode("overwrite").parquet(out)
    val dirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("day=")).map(_.getName).sorted
    assert(dirs.length > 1, s"expected multiple day partitions, got $dirs")
    val firstDay = dirs.head.stripPrefix("day=")
    val pruned = spark.read.parquet(out).where(col("day") === lit(firstDay))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.matches("(?s).*PartitionFilters: \\[[^\\]]*day[^\\]]*\\].*"),
      s"partition filter not pushed:\n${plan.take(1500)}")
    // pruned read returns exactly that day's rows
    val expected = Tables.events(spark, sfDir)
      .where(to_date(col("ts")) === lit(firstDay)).count()
    assert(pruned.count() === expected)
  }

  test("bucketized range join plans as a hash join, not nested-loop") {
    val plan = RangeJoin.q40RangeJoin(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"range join fell back to nested loop:\n${plan.take(3000)}")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"))
  }

  test("q19 self-join reuses exchanges between its identical sides") {
    val df = DedupQueries.q19NgramJaccard(spark, sfDir)
    df.collect() // AQE materializes stages; reuse shows post-execution
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange"),
      s"expected ReusedExchange in q19 plan:\n${plan.take(4000)}")
  }

  test("q18/q47/q50 consume the signature artifact: no md5 in their plans") {
    // Rounds 1-3 history: the optimizer-inserted exchanges inside the
    // signature subtree were the ReuseExchange sharing points WITHIN one
    // q18 plan (removing them doubled q18, 2.9 s -> 6.0 s at sf0.1), but
    // every consumer query still recomputed the whole subtree. Round 4
    // materializes signatures once per (session, sfDir) as a bucketed
    // table, so the md5/min-agg pipeline must not appear in ANY consumer
    // plan — it ran at artifact-build time.
    Seq(
      "q18" -> DedupQueries.q18MinhashLsh(spark, sfDir),
      "q47" -> DedupQueries.q47EditDistance(spark, sfDir),
      "q50" -> CurationPipeline.q50CorpusCuration(spark, sfDir)
    ).foreach { case (name, df) =>
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("graft_signatures"),
        s"$name should scan the signature table:\n${plan.take(4000)}")
      assert(!plan.contains("md5"),
        s"$name must not recompute signatures (md5 found):\n${plan.take(4000)}")
    }
  }

  test("q19/q66 consume the shingle artifact: no re-tokenize in plans") {
    // same story as the signature artifact, one level down: the
    // tokenize→posexplode→lead-window→distinct shingle pass is THE shared
    // input of every n-gram stage (signatures, inverted-index Jaccard,
    // decontamination, bloom prefilter) and must run once per
    // (session, sfDir) at artifact-build time — never inside a consumer.
    // At 100 TB each recompute is a full corpus scan.
    Seq(
      "q19" -> DedupQueries.q19NgramJaccard(spark, sfDir),
      "q66" -> DedupQueries.q66BloomDecontaminate(spark, sfDir)
    ).foreach { case (name, df) =>
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("graft_shingles"),
        s"$name should scan the shingle table:\n${plan.take(4000)}")
      assert(!plan.contains("posexplode"),
        s"$name must not re-shingle (posexplode found):\n${plan.take(4000)}")
    }
  }

  test("q52/q64/q67 consume the contamination artifact, not a shingle join") {
    // the per-doc contaminated-shingle counts are computed once per
    // (session, sfDir) at artifact-build time; each consumer's plan reads
    // the bucketed table — no broadcast shingle join, no shingle scan.
    // (q66 is deliberately absent: its bloom path must INDEPENDENTLY
    // reproduce this table and is pinned to the shingle artifact above.)
    Seq(
      "q52" -> DedupQueries.q52Decontaminate(spark, sfDir),
      "q64" -> CurationPipeline.q64CurationV2(spark, sfDir),
      "q67" -> CurationPipeline.q67SourceReport(spark, sfDir)
    ).foreach { case (name, df) =>
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("graft_contam"),
        s"$name should scan the contamination table:\n${plan.take(4000)}")
    }
    // q52 and q67 have no other shingle consumer in them at all
    Seq(
      "q52" -> DedupQueries.q52Decontaminate(spark, sfDir),
      "q67" -> CurationPipeline.q67SourceReport(spark, sfDir)
    ).foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("graft_shingles"),
        s"$name must not rescan shingles:\n${plan.take(4000)}")
    }
  }

  test("q42/q71 consume the cluster-label artifact: no inline CC rebuild") {
    // the iterative connected-components build (driver loop + N join/agg
    // rounds) runs once per (session, sfDir) at artifact-build time; q42
    // presents the table and q71 broadcasts it onto the corpus scan. An
    // inline rebuild would show the signature-table scan + banding
    // Generate in the consumer plan.
    Seq(
      "q42" -> DedupQueries.q42DupClusters(spark, sfDir),
      "q71" -> CurationPipeline.q71LeakageSplit(spark, sfDir)
    ).foreach { case (name, df) =>
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("graft_clusters"),
        s"$name should scan the cluster table:\n${plan.take(4000)}")
      assert(!plan.contains("graft_signatures") && !plan.contains("Generate"),
        s"$name must not rebuild clusters inline:\n${plan.take(4000)}")
    }
  }

  test("q75 handoff join of two bucketed tables: no hash exchange at all") {
    // the handoff table and the contamination artifact are both bucketed
    // + sorted on doc_id, so their join must co-locate on the bucket
    // spec. Broadcast is disabled for the pin: with it on, a tiny side
    // would hide whether the bucketing actually removed the shuffle.
    CurationPipeline.q75BucketedHandoff(spark, sfDir).collect() // build tables
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = CurationPipeline.q75BucketedHandoff(spark, sfDir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed handoff join must not shuffle:\n${plan.take(4000)}")
      assert(plan.contains("SortMergeJoin") || plan.contains("HashJoin"),
        s"expected a real join in:\n${plan.take(4000)}")
      assert(plan.contains("graft_curated") && plan.contains("graft_contam"),
        plan.take(4000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q80 incremental refresh is row-identical to a from-scratch rebuild") {
    // THE incremental-refresh contract: applying q79's delta to the
    // snapshot-A artifact must yield exactly what shingling snapshot B
    // from scratch yields — any stale row kept, fresh row missed, or
    // duplicate introduced shows up as a set difference.
    val refreshed = CurationPipeline.refreshedShingles(spark, sfDir)
    val scratch = graft.functions.Text.shingleRows(
      CurationPipeline.snapshotB(Tables.documents(spark, sfDir)),
      "doc_id", "text", 3)
    assert(refreshed.count() === scratch.count())
    assert(refreshed.except(scratch).count() === 0L,
      "refreshed table has rows a from-scratch rebuild would not")
    assert(scratch.except(refreshed).count() === 0L,
      "refreshed table is missing rows a from-scratch rebuild has")
  }

  test("q80 refresh build reads the base artifact; only the delta is shingled") {
    // the refresh exists so the unchanged majority is NEVER re-tokenized:
    // its rows come from the bucketed base table (scan visible in the
    // build plan), and the expensive shingling subtree runs over the
    // delta join only. A full re-shingle would have no base-table scan.
    DedupQueries.shingles(spark, sfDir).count() // base must pre-exist
    val df = CurationPipeline.computeRefreshedShingles(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_shingles_"),
      s"refresh build must scan the base shingle artifact:\n${plan.take(4000)}")
    // the fresh side re-shingles only added/modified docs: both delta
    // classes are delta-sized by construction (q79's rules touch 3 of 10
    // id endings); pin the actual row economics, not just the plan shape
    val docs = Tables.documents(spark, sfDir).count()
    val shingledDocs = CurationPipeline.snapshotB(Tables.documents(spark, sfDir))
      .join(CurationPipeline.q79SnapshotDiff(spark, sfDir)
        .where(col("change").isin("added", "modified")).select("doc_id"),
        Seq("doc_id")).count()
    assert(shingledDocs < docs * 0.35,
      s"delta side should be a minority of the corpus: $shingledDocs of $docs")
  }

  test("q95 span-feature refresh is row-identical to a from-scratch census") {
    // the refresh contract applied to the positional census: q79's
    // delta against the snapshot-A spanFeatures artifact must yield
    // exactly the native census of snapshot B — positions, tokens, and
    // gram keys included (except() compares full rows, nulls matched).
    val refreshed = CurationPipeline.refreshedSpanFeatures(spark, sfDir)
    val scratch = DedupQueries.spanFeaturesOf(
      CurationPipeline.snapshotB(Tables.documents(spark, sfDir))
        .select("doc_id", "text"))
    assert(refreshed.count() === scratch.count())
    assert(refreshed.except(scratch).count() === 0L,
      "refreshed census has rows a from-scratch rebuild would not")
    assert(scratch.except(refreshed).count() === 0L,
      "refreshed census is missing rows a from-scratch rebuild has")
  }

  test("q95 refresh build reads the base artifact; only the delta is tokenized") {
    // the point of the refresh: the unchanged majority's positions come
    // from the bucketed base table, and the tokenize+census subtree
    // (the 100 TB cost center) runs over the delta join only
    DedupQueries.spanFeatures(spark, sfDir).count() // base must pre-exist
    val df = CurationPipeline.computeRefreshedSpanFeatures(spark, sfDir)
    df.queryExecution.toRdd.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_spanfeat_"),
      s"refresh build must scan the base span-feature artifact:\n${plan.take(4000)}")
    // exactly ONE census subtree (the fresh side); a full rebuild's
    // would be the only tokenizer, but here it must sit under the
    // delta join, and the base side carries none
    val censuses = "graft_span_grams".r.findAllIn(plan).size
    assert(censuses >= 1, s"no native census in the refresh build:\n${plan.take(4000)}")
    assert(!plan.split("graft_spanfeat_").head.contains("graft_span_grams"),
      "base side of the refresh must not re-run the census")
  }

  test("q98 doc-feature refresh is row-identical to a from-scratch pass (h included)") {
    // the refresh contract on the OTHER corpus text scan: q79's delta
    // against the docFeatures artifact must equal a full feature pass
    // over snapshot B — including the xxhash64 norm hash the oracle
    // can't replay (DuckDB has no xxhash64), which is why this row
    // identity carries the h column explicitly
    val refreshed = CurationPipeline.refreshedDocFeatures(spark, sfDir)
    val scratch = TextQueries.docFeaturesOf(
      CurationPipeline.snapshotB(Tables.documents(spark, sfDir)))
    assert(refreshed.count() === scratch.count())
    assert(refreshed.except(scratch).count() === 0L,
      "refreshed features have rows a from-scratch pass would not")
    assert(scratch.except(refreshed).count() === 0L,
      "refreshed features are missing rows a from-scratch pass has")
    // the build reads the base artifact; only the delta re-tokenizes
    val df = CurationPipeline.computeRefreshedDocFeatures(spark, sfDir)
    df.queryExecution.toRdd.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_docfeatures_"),
      s"refresh build must scan the base feature artifact:\n${plan.take(4000)}")
    assert(!plan.split("graft_docfeatures_").head.contains("graft_tokenize"),
      "base side of the refresh must not re-tokenize")
  }

  test("q99 contamination refresh equals a full re-gate of snapshot B") {
    // the chained claim: delta -> refreshed shingles -> contamination
    // upsert must equal re-running the whole decontamination gate on
    // snapshot B from scratch
    val bSh = graft.functions.Text.shingleRows(
      CurationPipeline.snapshotB(Tables.documents(spark, sfDir)),
      "doc_id", "text", 3)
    val scratch = bSh.where(col("doc_id") % 20 =!= 0)
      .join(broadcast(bSh.where(col("doc_id") % 20 === 0)
        .select("s").distinct()), Seq("s"))
      .groupBy("doc_id").agg(count(lit(1)).as("contaminated_shingles"))
    val refreshed = CurationPipeline.computeRefreshedContamination(spark, sfDir)
    assert(refreshed.count() === scratch.count())
    assert(refreshed.except(scratch).count() === 0L)
    assert(scratch.except(refreshed).count() === 0L)
    // the soundness precondition, pinned: the benchmark set must be
    // INVARIANT under the snapshot delta — no bench id (≡ 0 mod 20) may
    // appear in the staged delta; if a future recrawl rule touches the
    // eval set, this fires and q99 must rebuild instead of upsert
    val touchedBench = CurationPipeline.q79SnapshotDiff(spark, sfDir)
      .where(col("doc_id") % 20 === 0).count()
    assert(touchedBench === 0L,
      "delta touches benchmark docs - the per-doc upsert would be unsound")
  }

  test("q83 chained signature refresh is row-identical to a from-scratch build") {
    // the chain claim: base signatures copied for unchanged docs + delta
    // signatures recomputed from the refreshed shingles must equal the
    // signature pipeline run over snapshot B's full shingle set.
    val refreshed = CurationPipeline.refreshedSignatures(spark, sfDir)
    val scratch = DedupQueries.computeSignaturesFrom(
      graft.functions.Text.shingleRows(
        CurationPipeline.snapshotB(Tables.documents(spark, sfDir)),
        "doc_id", "text", 3))
    assert(refreshed.count() === scratch.count())
    assert(refreshed.except(scratch).count() === 0L)
    assert(scratch.except(refreshed).count() === 0L)
  }

  test("q83 refresh build reads BOTH base artifacts, no corpus re-shingle") {
    // unchanged docs' signatures come from the base signature table;
    // delta docs' shingles come from the refreshed shingle artifact —
    // nothing re-tokenizes the corpus (no posexplode anywhere: the
    // only md5s run over delta shingle ROWS, not raw text).
    DedupQueries.signatures(spark, sfDir).count()
    CurationPipeline.refreshedShingles(spark, sfDir).count()
    val df = CurationPipeline.computeRefreshedSignatures(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // exact base-table name: the shared "graft_signatures_" prefix would
    // also match the refreshed graft_signatures_b_* table, so a rewire
    // that dropped the base scan could slip past a prefix assertion
    assert(plan.contains("graft_signatures_" + graft.Tables.dirKey(spark, sfDir)),
      s"must scan the base signature table:\n${plan.take(4000)}")
    assert(plan.contains("graft_shingles_b_"),
      s"must scan the refreshed shingle artifact:\n${plan.take(4000)}")
    assert(!plan.contains("posexplode"),
      s"must not re-tokenize the corpus:\n${plan.take(4000)}")
  }

  test("q91 PQ refresh is row-identical to a from-scratch coding of snapshot B") {
    val refreshed = ProductQuantization.refreshedPqIndex(spark, sfDir)
    val scratch = ProductQuantization.computeSnapshotBPqCodes(spark, sfDir)
    assert(refreshed.count() === scratch.count())
    assert(refreshed.except(scratch).count() === 0L)
    assert(scratch.except(refreshed).count() === 0L)
  }

  test("q91 refresh build reads the base code table; only the delta is coded") {
    // unchanged vectors' codes come from the stored base index — the
    // refresh must never re-code the whole corpus (a PQ code is a pure
    // function of a frozen model, so only added/modified vectors go
    // through the coding projection)
    ProductQuantization.pqIndexAt(spark, sfDir,
      ProductQuantization.M256, ProductQuantization.K256).count()
    val df = ProductQuantization.computeRefreshedPqCodes(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains(s"graft_pqcodes_${ProductQuantization.M256}_" +
        s"${ProductQuantization.K256}_" + graft.Tables.dirKey(spark, sfDir)),
      s"must scan the base code table:\n${plan.take(4000)}")
    // delta economics: q79's rules touch 3 of 10 id endings, so the
    // coded side is a strict minority of the corpus
    val vecsTotal = Tables.embeddings(spark, sfDir).count()
    val coded = ProductQuantization.vectorSnapshotB(
        Tables.embeddings(spark, sfDir)
          .select(col("vec_id"), col("embedding").as("v")))
      .where(col("vec_id") < 0 || col("vec_id") % 10 === 3).count()
    assert(coded < vecsTotal * 0.35,
      s"delta side should be a minority of the corpus: $coded of $vecsTotal")
  }

  test("q87 candidate space is cell-bounded: balanced cells, pairs well under n²") {
    // SemDeDup's n²/k budget only holds if the Lloyd rounds keep cells
    // balanced — pin both halves: no cell dominates, and the shipped
    // candidate builder's count equals Σ s(s−1)/2 over the cell sizes
    // (so the count measures what q87 joins)
    val asg = SimilarityQueries.cellAssignments(spark, sfDir,
      SimilarityQueries.kmeansCodebook(spark, sfDir))
    val sizes = asg.groupBy("cell").count().collect().map(_.getLong(1))
    val n = sizes.sum
    val fair = n.toDouble / SimilarityQueries.NumCells
    assert(sizes.max <= 3 * fair,
      s"largest cell ${sizes.max} vs fair share $fair — skew breaks n²/k")
    val pairs = SimilarityQueries.semdedupCandidates(spark, sfDir).count()
    val expected = sizes.map(s => s * (s - 1) / 2).sum
    assert(pairs === expected,
      "candidate builder drifted from the cell assignment")
    assert(pairs <= n * (n - 1) / 2 / 4,
      s"$pairs in-cell pairs is not a real cut of ${n * (n - 1) / 2}")
  }

  test("q87 k knob: raising the cell count cuts the candidate space as n²/2k") {
    // the production entry (semdedupAt) exists so k can track √n at
    // scale; pin that turning the knob actually moves the budget — in-
    // cell pairs at k=64 must undercut k=16's and sit near n²/128
    // (≤ 3× of it: the 3×-fair-share skew bound above, squared budget).
    val n = Tables.embeddings(spark, sfDir).count()
    val possible = n * (n - 1) / 2
    val at16 = SimilarityQueries.semdedupCandidatesAt(spark, sfDir, 16).count()
    val at64 = SimilarityQueries.semdedupCandidatesAt(spark, sfDir, 64).count()
    assert(at16 === SimilarityQueries.semdedupCandidates(spark, sfDir).count(),
      "default-k twin drifted from the shipped candidate space")
    assert(at64 < at16, s"k=64 candidates $at64 do not undercut k=16's $at16")
    assert(at64.toDouble <= possible.toDouble * 3.0 / 64,
      s"$at64 pairs at k=64 vs budget n²/2k = ${possible / 64} (3x slack)")
  }

  test("q68 chunking is pure map-side: no hash exchange in the plan") {
    // chunk derivation is per-row (sequence→explode→substr→md5): the only
    // exchange allowed is the presentation orderBy's range partitioning.
    // A hash exchange would mean the operator invented a key to shuffle
    // on — at 100 TB chunking must be a pass-through transform.
    val df = TextQueries.q68Chunk(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"q68 must not hash-shuffle:\n${plan.take(4000)}")
  }

  test("q69 balanced cap: bounded-heap aggregate, no window sort") {
    // the row_number-over-lang formulation hashes the whole corpus into
    // |langs| partitions; the TopKAgg formulation ships ≤ cap rows per
    // lang per map task (partial ObjectHashAggregate) — spec pins that
    // the plan is the aggregate one and agrees with the window one.
    val df = TextQueries.q69BalancedCap(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan.take(3000))
    assert(!plan.contains("Window"), plan.take(3000))
    assert(plan.split("ObjectHashAggregate").length >= 3, // partial+final
      s"expected partial+final aggregate:\n${plan.take(3000)}")

    import org.apache.spark.sql.expressions.Window
    val h = conv(substring(md5(concat(col("lang"), lit(":"),
      col("doc_id"))), 1, 15), 16, 10).cast("long")
    val windowed = Tables.documents(spark, sfDir)
      .select(col("lang"), col("doc_id"), h.as("h"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))))
      .where(col("rk") <= TextQueries.CapPerLang)
      .select(col("lang"), col("rk").cast("long").as("rk"),
        col("doc_id"), col("h"))
    assert(df.collect().toSeq === windowed.orderBy("lang", "rk").collect().toSeq)
  }

  /** Every shuffle exchange node in an EXECUTED plan, descending through
    * AQE stage boundaries (AdaptiveSparkPlanExec / QueryStageExec are
    * leaf-like: plain collect stops at them). */
  private def shuffleNodes(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val here = p match {
        case e: ShuffleExchangeLike => Seq(e)
        case r: ReusedExchangeExec => Seq(r)
        case _ => Nil
      }
      val below = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      here ++ below.flatMap(walk)
    }
    df.collect() // finalize the adaptive plan before reading it
    walk(df.queryExecution.executedPlan)
  }

  /** [[shuffleNodes]], reduced to each exchange's output column names. */
  private def shuffleOutputs(
      df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
    shuffleNodes(df).map(_.output.map(_.name))

  test("exact dedup: the corpus-wide exchange carries the 64-bit hash, not text") {
    // the narrow-key dedup's one full-corpus exchange is the multi-hash
    // count aggregate: (h, partial count), 8-byte keys with map-side
    // combine, read off the docFeatures artifact — no tokenize in the
    // pass at all. The norm STRING may only ever cross the wire in the
    // dup-sized verify pass, and the raw text column in no exchange at
    // all — the window formulation this replaced shuffled the full
    // document row on the norm key.
    val keyed = TextQueries.docFeatures(spark, sfDir).select("h", "doc_id")
    val multi = DedupQueries.hashGroupsOfKeyed(keyed)
      .where(col("cnt") > 1).select("h")
    val aggExchanges = shuffleOutputs(multi)
    assert(aggExchanges.nonEmpty)
    aggExchanges.foreach { names =>
      assert(!names.exists(n => n.contains("text") || n.contains("norm")),
        s"corpus-wide dedup exchange must carry only the hash: $names")
    }
    // q15's visible plan still aggregates the dup-sized verify base on
    // norm; q50/q67 consume only the narrow dropped-id list, so their
    // visible plans must not move norm strings through ANY exchange
    Seq(
      ("q15", DedupQueries.q15ExactDedup(spark, sfDir), true),
      ("q50", CurationPipeline.q50CorpusCuration(spark, sfDir), false),
      ("q67", CurationPipeline.q67SourceReport(spark, sfDir), false)
    ).foreach { case (name, df, normAllowed) =>
      assert(!df.queryExecution.executedPlan.toString.contains("Window"),
        s"$name must not derive the dedup min through a window")
      shuffleOutputs(df).foreach { names =>
        assert(!names.contains("text"),
          s"$name shuffles the raw text column: $names")
        if (!normAllowed)
          assert(!names.contains("norm"),
            s"$name shuffles the norm column: $names")
      }
    }
  }

  test("q88/q89: no gram string crosses an exchange — keys ride as 60-bit longs") {
    // gram strings are built transiently inside spanKeys' map-side
    // lambda and immediately hashed — they never become a column. The
    // only token strings an exchange may carry are q92's single-token
    // reconstruction rows. The round-7 string-keyed form shuffled
    // 9.97 MB at sf0.1, the suite's largest exchange; this pin keeps it
    // from coming back.
    // q92 additionally moves single tokens (`w`) to reassemble docs —
    // inherent to reconstruction — but the 8-word gram strings must stay
    // out of its exchanges like the others'
    Seq(
      ("q88", DedupQueries.q88DupSpans(spark, sfDir)),
      ("q89", DedupQueries.q89DupSpanTrim(spark, sfDir)),
      ("q92", DedupQueries.q92SpanTrimmed(spark, sfDir))
    ).foreach { case (name, df) =>
      val exchanges = shuffleOutputs(df)
      assert(exchanges.nonEmpty)
      exchanges.foreach { names =>
        assert(!names.exists(c => c == "s" || c.contains("text")),
          s"$name exchange carries the gram/text string: $names")
      }
    }
    // and the family reads the span-feature artifact — no plan branch
    // re-tokenizes the corpus (round-8 QTime measured q89 at 2 and q92
    // at 4 tokenize+gram subtree evaluations before the artifact):
    // every plan scans graft_spanfeat and contains no posexplode/md5,
    // and q88 additionally has NO window at all — its first exchange is
    // the narrow (doc_id, g) aggregate
    Seq(
      ("q88", DedupQueries.q88DupSpans(spark, sfDir)),
      ("q89", DedupQueries.q89DupSpanTrim(spark, sfDir)),
      ("q92", DedupQueries.q92SpanTrimmed(spark, sfDir))
    ).foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("graft_spanfeat"),
        s"$name must read the span-feature artifact:\n${plan.take(4000)}")
      // pin the tokenize shape, not the md5 substring — q92's
      // trimmed_md5 output column (and its final digest, which runs on
      // the already-reduced reconstruction) would false-positive it:
      // no posexplode, no lower( (the tokenizer's first step) anywhere
      assert(!plan.contains("posexplode") && !plan.contains("lower("),
        s"$name re-tokenizes the corpus:\n${plan.take(4000)}")
    }
    assert(!DedupQueries.q88DupSpans(spark, sfDir)
        .queryExecution.executedPlan.toString.contains("Window"),
      "q88 re-grew a window: span keys must form map-side from the token array")
  }

  test("cluster-label edges derive from artifacts, never a corpus norm-string groupBy") {
    // round-7 gap: the exact-edge derivation grouped the whole corpus on
    // Text.normalized(text) and shuffled norm strings + collect_list of
    // ids — the exact shape the narrow-key dedup eliminated everywhere
    // else. The edge set must now come from the signature artifact (near
    // side) and the dup-sized dedup metadata (exact side).
    val df = DedupQueries.clusterEdges(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_signatures"),
      s"near edges must read the signature artifact:\n${plan.take(4000)}")
    assert(!plan.contains("collect_list"),
      s"corpus norm-string groupBy is back in the edge build:\n${plan.take(4000)}")
    shuffleOutputs(df).foreach { names =>
      assert(!names.exists(n => n.contains("text") || n.contains("norm")),
        s"cluster edge build shuffles text/norm: $names")
    }
    // the exact side must implement q15's keeper rule verbatim: one
    // (member, min doc_id of its exact-dup norm group) edge per
    // non-keeper member — recomputed independently here
    val got = DedupQueries.exactDupEdges(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = Tables.documents(spark, sfDir)
      .groupBy(graft.functions.Text.normalized(col("text")).as("norm"))
      .agg(collect_list(col("doc_id")).as("ids"))
      .where(size(col("ids")) > 1)
      .select(explode(col("ids")).as("m"), array_min(col("ids")).as("k"))
      .where(col("m") =!= col("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expected, "exact-dup edge set drifted from the keeper rule")
  }

  test("dedup verify probe is bloom-guarded; forced non-broadcast regime stays narrow") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

    // 1. the bloom prefilter on the verify probe is pure map-side: no
    //    exchange anywhere in its plan — the rows it REMOVES are removed
    //    before any wire, which is the whole point. The probe runs over
    //    the docFeatures artifact's (h, doc_id) columns: a bucketed-table
    //    scan plus a filter, no tokenize.
    val keyed = TextQueries.docFeatures(spark, sfDir).select("h", "doc_id")
    val multiH = DedupQueries.hashGroupsOfKeyed(keyed)
      .where(col("cnt") > 1).select("h").localCheckpoint()
    val probed = DedupQueries.bloomHits(keyed, col("h"),
      DedupQueries.buildBloomOn(multiH, col("h"),
        DedupQueries.bloomBitsFor(multiH.count())))
    assert(shuffleOutputs(probed).isEmpty,
      "bloom prefilter must add no exchange")
    // selectivity: what survives to the verify join is dups + the FP
    // trickle, never the corpus (this corpus has ~no exact dups, so the
    // probe must reject essentially everything)
    val docs = keyed.count()
    val members = probed.join(multiH, Seq("h")).count()
    val hits = probed.count()
    assert(hits <= members + math.max(10L, docs / 20),
      s"bloom passed more than dups + FP trickle: $hits of $docs")

    // 2. broadcasts force-disabled: every dup-metadata join falls back to
    //    its shuffle form — results must be IDENTICAL and the visible
    //    exchanges must never carry text, with norm crossing only in
    //    dup-sized row counts. Toggled on the suite session (a
    //    newSession child can't materialize the artifact — the
    //    single-owner contract) and restored in finally; suites run
    //    sequentially in the forked test JVM, so no other test observes
    //    the window.
    val bcastKeys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = bcastKeys.map(k => k -> spark.conf.getOption(k))
    val (q15Stress, q15Rows, repsStress, repsRows, liveBase) = try {
      bcastKeys.foreach(spark.conf.set(_, "-1"))
      val q15S = DedupQueries.q15ExactDedup(spark, sfDir)
      val q15R = q15S.collect().map(r => (r.getLong(0), r.getLong(1)))
      val repsS = CurationPipeline.qualityReps(spark, sfDir)
        .select("doc_id", "token_cnt", "quality") // the q50 consumer shape
      val repsR = repsS.collect().map(_.getLong(0)).sorted
      // the shipped queries read the session-cached metadata trio
      // (checkpoint-backed), so ALSO drive a fresh verify-base
      // derivation end-to-end under this regime: its executed plan is
      // the live documents-probe join the trio build runs
      val base = DedupQueries.normsForIds(spark, sfDir,
        DedupQueries.dupMemberIds(keyed, multiH))
      base.collect()
      (q15S, q15R, repsS, repsR, base)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    val q15Expect = DedupQueries.q15ExactDedup(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(q15Rows.toSeq === q15Expect.toSeq,
      "q15 must not change answers when broadcasts are disabled")
    val repsExpect = CurationPipeline.qualityReps(spark, sfDir)
      .select("doc_id", "token_cnt", "quality")
      .collect().map(_.getLong(0)).sorted
    assert(repsRows.toSeq === repsExpect.toSeq,
      "qualityReps must not change answers when broadcasts are disabled")
    Seq("q15" -> q15Stress, "qualityReps" -> repsStress,
        "verify base" -> liveBase).foreach {
      case (name, df) =>
        shuffleNodes(df).foreach { e =>
          val names = e.output.map(_.name)
          assert(!names.contains("text"),
            s"$name under forced fallback shuffles text: $names")
          if (names.contains("norm")) {
            val written = e match {
              case s: ShuffleExchangeLike => s.metrics
                .get("shuffleRecordsWritten").map(_.value).getOrElse(0L)
              case _ => 0L // reused exchange: counted at its original
            }
            assert(written <= members + math.max(10L, docs / 20),
              s"$name norm exchange moved $written rows (corpus is $docs)")
          }
        }
    }
  }

  test("q44 tfidf: bounded-heap aggregate with asc string tie-break, no window") {
    // the row_number formulation re-shuffles every (doc, term, tfidf) row
    // on doc_id after the tf aggregate already shuffled on (doc_id, w);
    // the TopKAgg form ships ≤ 3 rows per doc per map task. The term
    // tie-break is an ascending STRING — not negatable like q62's
    // orderkey — so direction rides TopKAgg's asc flags.
    val df = TextQueries.q44Tfidf(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan.take(3000))
    assert(!plan.contains("Window"),
      s"q44 must not window-sort term rows:\n${plan.take(3000)}")

    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir)
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val tf = docs
      .select(col("doc_id"),
        explode(graft.functions.Text.tokens(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val windowed = tf.join(dfreq, "w").crossJoin(broadcast(n))
      .select(col("doc_id"), col("w"),
        (col("tf") * log(col("n_docs").cast("double") / col("df"))).as("tfidf"))
      .withColumn("rk", row_number().over(Window
        .partitionBy("doc_id").orderBy(desc("tfidf"), asc("w"))))
      .where(col("rk") <= 3)
      .select(col("doc_id"), col("w").as("term"),
        round(col("tfidf"), 4).as("tfidf"), col("rk"))
      .orderBy("doc_id", "rk")
    assert(df.collect().toSeq === windowed.collect().toSeq)
  }

  test("q70 outliers: stats broadcast back, no window over the corpus") {
    val df = TextQueries.q70LengthOutliers(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("Window"), plan.take(3000))
  }

  test("q70's integer inequality agrees with the float z-score") {
    // the exact integer form exists to dodge float nondeterminism, not to
    // change the semantics: cross-check every flag against the naive
    // sample z-score (safe here: no value sits near the boundary).
    val rows = TextQueries.q70LengthOutliers(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(2), r.getLong(3)))
    val byLang = rows.groupBy(_._2)
    byLang.foreach { case (_, rs) =>
      val n = rs.length.toDouble
      val xs = rs.map(_._3.toDouble)
      val mean = xs.sum / n
      val sd = math.sqrt(xs.map(x => (x - mean) * (x - mean)).sum / (n - 1))
      rs.foreach { case (id, lang, x, flag) =>
        val z = math.abs(x - mean) / sd
        assert((flag == 1L) === (z > 2.0),
          s"doc $id lang $lang x=$x z=$z flag=$flag")
      }
    }
  }

  test("q71 splits never separate a near-dup cluster; clusters broadcast") {
    val splits = CurationPipeline.q71LeakageSplit(spark, sfDir)
    val plan = splits.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))

    // the leakage property itself: every q42 cluster maps to exactly one
    // split — a near-dup of a validation doc can never be training data
    val bySplit = splits.select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val clusters = DedupQueries.q42DupClusters(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(clusters.nonEmpty) // the property must actually be exercised
    clusters.groupBy(_._2).foreach { case (c, members) =>
      val ss = members.map(m => bySplit(m._1)).distinct
      assert(ss.length === 1, s"cluster $c straddles splits: $ss")
    }

    // the cut is roughly 80/10/10 (deterministic, so exact counts are
    // stable; just pin that all three splits are non-trivially populated)
    val counts = splits.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = counts.values.sum.toDouble
    assert(counts("train") / n > 0.6, counts.toString)
    assert(counts.getOrElse("validation", 0L) > 0, counts.toString)
    assert(counts.getOrElse("test", 0L) > 0, counts.toString)
  }

  test("q72 global index: no single-partition sort; equals the naive window") {
    // the naive row_number() OVER (ORDER BY doc_id) funnels the corpus
    // into one partition; q72's zipWithIndex shape keeps the sort
    // distributed. Both must produce the identical dense sequence.
    val twoPhase = CurationPipeline.q72GlobalIndex(spark, sfDir)
    assert(!twoPhase.queryExecution.executedPlan.toString
      .contains("SinglePartition"))

    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"),
        graft.functions.Text.tokens(col("text")).as("toks"))
      .where(TextQueries.qualityScore(col("text"), col("toks")) >= 0.5)
    val naive = docs
      .select(col("doc_id"),
        (row_number().over(Window.orderBy("doc_id")) - 1)
          .cast("long").as("seq"))
    assert(naive.queryExecution.executedPlan.toString
      .contains("SinglePartition")) // the shape q72 exists to avoid
    assert(twoPhase.collect().toSeq === naive.orderBy("doc_id").collect().toSeq)
  }

  test("q73 epoch mix is map-side generate: no exchange, weights honored") {
    val df = CurationPipeline.q73EpochMix(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"q73 must not hash-shuffle:\n${plan.take(3000)}")
    val copies = df.groupBy("doc_id", "lang").count().collect()
      .map(r => (r.getString(1), r.getLong(2)))
    // integer epochs are guaranteed; the fractional epoch adds at most 1
    copies.foreach { case (lang, c) =>
      val pct = CurationPipeline.MixWeightsPct(lang)
      assert(c >= pct / 100 && c <= pct / 100 + 1, s"$lang: $c copies")
    }
    // the fractional cut actually fires both ways somewhere
    val en = copies.filter(_._1 == "en").map(_._2)
    assert(en.contains(2L) && en.contains(3L), "en should mix 2 and 3 copies")
  }

  test("PQ coding build plan is map-side: model is literals, no exchange") {
    // the trained model (coarse centroids + sub-codebooks) is driver-held
    // and embedded as literals, so coding the whole index is a pure
    // projection over the embeddings scan. The pin is on the BUILD plan
    // (computePqCodes — what the artifact write executes), not on q76's
    // presentation of the already-written table, which could never fail.
    // At 100 TB the code assignment must stream; a hash exchange would
    // mean the quantizer invented a shuffle key.
    val df = ProductQuantization.computePqCodes(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"PQ coding must not shuffle:\n${plan.take(4000)}")
  }

  test("q77 reads the stored PQ code table, never re-codes the index") {
    // a PQ index is a stored structure: search reads codes. Re-coding
    // would show the residual zip_with projection over the embeddings
    // scan on the index side of the join.
    val df = ProductQuantization.q77AnnIvfPq(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_pqcodes"),
      s"q77 should scan the code table:\n${plan.take(4000)}")
  }

  test("q84 reads the K=256 code table artifact, never re-codes inline") {
    // the production-point index is stored too (its own table, keyed by
    // (m, k)): before this pin q84/q85 re-coded the whole index per run
    // — 2.9 s vs q77's 1.1 s at sf0.01 — re-deriving a structure a
    // deployment writes exactly once.
    val df = ProductQuantization.q84AnnPq256(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains(
      s"graft_pqcodes_${ProductQuantization.M256}_${ProductQuantization.K256}_"),
      s"q84 should scan the K=256 code table:\n${plan.take(4000)}")
    assert(!plan.contains("Window"),
      s"q84 must not window-sort candidates:\n${plan.take(3000)}")
  }

  test("ANN rankings use the bounded-heap aggregate, not a window sort") {
    // the per-query top-k of every ANN query is a TopKAgg (partial
    // ObjectHashAggregate: map tasks ship ≤ k rows per query) — the
    // row_number window it replaced shuffles EVERY candidate row to its
    // query's partition, which at a large query batch moves the whole
    // candidate stream (q69's pin, applied to the ANN family).
    Seq(
      "q17" -> SimilarityQueries.q17AnnBrute(spark, sfDir),
      "q57" -> SimilarityQueries.q57AnnIvfKmeans(spark, sfDir),
      "q77" -> ProductQuantization.q77AnnIvfPq(spark, sfDir),
      "q78" -> ProductQuantization.q78AnnPqRerank(spark, sfDir)
    ).foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("ObjectHashAggregate"),
        s"$name should rank via TopKAgg:\n${plan.take(3000)}")
      assert(!plan.contains("Window"),
        s"$name must not window-sort candidates:\n${plan.take(3000)}")
    }
  }

  test("q127: the exact sample never shuffles the corpus") {
    // the rank-window formulation moves EVERY row through its per-
    // stratum sort exchange; the bisect path's exchanges carry only
    // histogram partials, two tiny count aggregates, and threshold
    // ties — measured here as total shuffle records written
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        CurationPipeline.exactSampleHash(col("lang"), col("doc_id"))
          .as("hv"),
        when(col("lang") === "en", lit(50)).otherwise(lit(20)).as("pct"))
    val nDocs = docs.count()
    val m = graft.metrics.MetricsReport.install(spark)
    def records(body: => Unit): Long = m.window(body).shuffleWriteRecords
    val (bisect, window) = try (
      records {
        CurationPipeline.exactStratifiedSample(docs)
          .write.format("noop").mode("overwrite").save()
      },
      records {
        CurationPipeline.exactSampleByWindow(docs)
          .write.format("noop").mode("overwrite").save()
      })
    finally spark.sparkContext.removeSparkListener(m)
    assert(window >= nDocs,
      s"window twin should shuffle the corpus: $window < $nDocs")
    assert(bisect < nDocs / 2,
      s"bisect path shuffled $bisect records against a $nDocs-row corpus")
  }

  test("q130 z-value: bit-by-bit interleave replay") {
    import spark.implicits._
    import graft.sources.ZOrderLayout
    // an INDEPENDENT formulation of Morton interleave (per-bit loop),
    // not a replay of the engine's shift/mask trick
    def zBitwise(x: Long, y: Long): Long = {
      var z = 0L
      for (i <- 0 until 31) {
        z |= ((x >> i) & 1L) << (2 * i)
        z |= ((y >> i) & 1L) << (2 * i + 1)
      }
      z
    }
    val rnd = new scala.util.Random(130)
    val pairs = Seq((0L, 0L), (1L, 0L), (0L, 1L), ((1L << 31) - 1, 0L),
      (0L, (1L << 31) - 1), ((1L << 31) - 1, (1L << 31) - 1)) ++
      (1 to 200).map(_ => (rnd.nextLong(1L << 31), rnd.nextLong(1L << 31)))
    val got = pairs.toDF("x", "y")
      .select(ZOrderLayout.zValue(col("x"), col("y"))).collect()
      .map(_.getLong(0))
    assert(got.toSeq === pairs.map { case (x, y) => zBitwise(x, y) })
  }

  test("q130: the z-layout prunes BOTH rectangle dimensions; a time sort cannot") {
    import graft.sources.ZOrderLayout
    // sf0.01 (10k events, 64 files of ~156 rows) so file-level stats
    // have real granularity; the spec session just reads another dir
    val dir = "/root/testdata/sf0.01"
    val z = ZOrderLayout.zEvents(spark, dir)
    val tsPath = scratchDir("graft-tssort").toString + "/tslay"
    z.repartitionByRange(64, col("ts")).sortWithinPartitions("ts")
      .write.mode("overwrite").parquet(tsPath)
    val (uHi, tLo, tHi) = ZOrderLayout.rectangleOf(spark, dir)
    def rect(df: org.apache.spark.sql.DataFrame) = df.where(
      col("user_id") >= 0L && col("user_id") <= uHi &&
        col("ts") >= lit(ZOrderLayout.tsOfMicros(tLo)) &&
        col("ts") <= lit(ZOrderLayout.tsOfMicros(tHi)))
    def scanRows(df: org.apache.spark.sql.DataFrame): Long = {
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      df.collect()
      def walk(p: SparkPlan): Seq[SparkPlan] = {
        val below = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec => Seq(q.plan)
          case other => other.children
        }
        Seq(p) ++ below.flatMap(walk)
      }
      walk(df.queryExecution.executedPlan)
        .collect { case s: FileSourceScanExec =>
          s.metrics("numOutputRows").value }.sum
    }
    val nAll = z.count()
    val zRect = rect(z)
    val tsRect = rect(spark.read.parquet(tsPath))
    // same answer off both layouts
    val zIds = zRect.select("event_id").collect().map(_.getLong(0)).toSet
    val tsIds = tsRect.select("event_id").collect().map(_.getLong(0)).toSet
    assert(zIds === tsIds && zIds.nonEmpty)
    // the filter must actually reach the scan for stats to matter
    val plan = zRect.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull"), plan.take(3000))
    // the time sort reads the full ~50% time slab (every user in it);
    // the z-layout reads only the rectangle's (user, time) tiles
    val zScan = scanRows(zRect)
    val tsScan = scanRows(tsRect)
    assert(tsScan >= nAll * 2 / 5, s"time slab should be ~half: $tsScan")
    assert(zScan * 2 <= tsScan,
      s"z-layout must out-prune the one-dimensional sort: z=$zScan ts=$tsScan")
    assert(zScan <= nAll / 4, s"z-layout read $zScan of $nAll rows")
  }

  test("IVF cell assignment is map-side: no exchange anywhere in its plan") {
    // the r3 formulation shuffled 16 rows per vector (each with the full
    // 64-dim array) through a row_number window just to pick the argmax
    // cell; the literal-codebook projection decides per-row, so the
    // assignment subtree feeding q39/q57's cell join has NO exchange
    val df = SimilarityQueries.cellAssignments(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"cell assignment must not shuffle:\n${plan.take(4000)}")
  }

  test("q166 decayed score: the row_number<=32 filter pushes down as " +
      "WindowGroupLimit, so the exchange carries <=32 rows per user") {
    val df = RelationalQueries.q166DecayedScore(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"per-user top-32 must pre-limit before the exchange:\n" +
        plan.take(4000))
    // fixed-point exactness: every score is a sum of cents·2^k terms —
    // replaying the newest-32 fold per user on the driver must match
    import org.apache.spark.sql.functions._
    val got = df.collect().map(r =>
      r.getAs[Long]("user_id") -> r.getAs[Long]("score")).toMap
    val rows = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .collect()
      .map(r => (r.getAs[Long]("user_id"),
        r.getAs[java.sql.Timestamp]("ts"), r.getAs[Long]("event_id"),
        r.getAs[Long]("cents")))
    val want = rows.groupBy(_._1).map { case (u, es) =>
      val newest = es.sortBy(e => (e._2.getTime, e._2.getNanos, e._3))
        .reverse.take(32)
      u -> newest.zipWithIndex.map { case (e, age) =>
        e._4 * (1L << (31 - age)) }.sum
    }
    assert(got === want)
  }

  test("q167 fixed-point PageRank is partitioning-invariant: the same " +
      "longs under any edge layout (the integer-arithmetic claim)") {
    def ranksOf(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      GraphRank.pageRankExact(spark, df)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val edges = GraphRank.tradeEdges(spark, sfDir)
    val a = ranksOf(edges)
    val b = ranksOf(edges.repartition(13))
    assert(a === b, "re-partitioned iteration drifted — arithmetic " +
      "must be summation-order independent")
    // damping only shrinks total mass: sum stays <= N * seed
    assert(a.values.sum <= a.size * GraphRank.Scale)
    assert(a.values.min >= GraphRank.Scale * 15 / 100)
  }

  test("q168 stored IVF index: a query opens only its probed cells' " +
      "files; results == q57; a rebuild can't disturb a pinned reader") {
    import graft.sources.ManifestTable
    val root = SimilarityQueries.indexRoot(spark, sfDir)
    val total = ManifestTable.snapshot(spark, root).files.size
    assert(total >= 8, s"index landed in only $total files")
    // serving shape: ONE query probes NProbe cells — its read must
    // open only those cells' files, not the index
    val twoCells = ManifestTable.read(spark, root)
      .select("cell").distinct().orderBy("cell")
      .limit(SimilarityQueries.NProbe).collect().map(_.getLong(0)).toSeq
    val served = ManifestTable.readWhereKeyIn(spark, root, "cell", twoCells)
    assert(served.inputFiles.length < total,
      s"point-serving read opened all $total files")
    // the storage layer may change IO, never answers
    val viaIndex = SimilarityQueries.q168ManifestIvfIndex(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val direct = SimilarityQueries.q57AnnIvfKmeans(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(viaIndex === direct)
    // atomic rebuild: a reader pinned BEFORE the rebuild still reads
    // its version; the rebuild lands as the next version
    val pinned = ManifestTable.snapshot(spark, root)
    val rows = pinned.read(spark).count()
    ManifestTable.overwrite(spark, root, ManifestTable.read(spark, root),
      boundsCol = Some("cell"))
    assert(pinned.read(spark).count() === rows,
      "pinned snapshot disturbed by an index rebuilt")
  }

  test("q192 incremental IVF refresh: the delete commit carries every " +
      "cell file verbatim (O(delta), zero data IO), the append adds " +
      "files without rewriting, the probed-cells IO pin survives, and " +
      "refresh == rebuild") {
    import graft.sources.ManifestTable
    val root = SimilarityQueries.refreshedIndexRoot(spark, sfDir)
    // three commits: v1 stale build, v2 junk equality-delete, v3 append
    assert(ManifestTable.versions(spark, root) === Seq(1, 2, 3))
    val (add2, rem2) = ManifestTable.changedFiles(spark, root, 1, 2)
    assert(rem2.isEmpty && add2.forall(_.startsWith("deletes/")),
      s"the delete commit touched data files: +$add2 -$rem2")
    val (add3, rem3) = ManifestTable.changedFiles(spark, root, 2, 3)
    assert(rem3.isEmpty && add3.nonEmpty &&
      add3.forall(_.startsWith("data/")),
      s"the append commit rewrote files: +$add3 -$rem3")
    // post-refresh serving still opens only the probed cells' files
    // (+ the delta-sized delete file the read must consult)
    val total = ManifestTable.snapshot(spark, root).files.size
    val twoCells = ManifestTable.read(spark, root)
      .select("cell").distinct().orderBy("cell")
      .limit(SimilarityQueries.NProbe).collect().map(_.getLong(0)).toSeq
    val served = ManifestTable.readWhereKeyIn(spark, root, "cell",
      twoCells)
    assert(served.inputFiles.length < total,
      s"post-refresh point read opened all $total files")
    // no junk id survives; every shard vector is present exactly once
    val got = ManifestTable.read(spark, root)
    assert(got.where(col("vec_id") >= 1000000000L).count() === 0,
      "equality-deleted junk ids leaked into the refreshed index")
    // refresh == rebuild: the served answers are byte-identical to the
    // from-scratch index's (and to q57's direct search)
    val refreshed = SimilarityQueries
      .q192IvfIncrementalRefresh(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val rebuilt = SimilarityQueries.q168ManifestIvfIndex(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(refreshed === rebuilt,
      "the refreshed index answers differently from the rebuilt one")
  }

  test("q172 point-in-time join plans as the as-of merge, not an " +
      "interval nested loop") {
    val df = AsofJoin.q172PointInTimeJoin(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsofJoin"),
      s"expected the native as-of operator:\n${plan.take(3000)}")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "the BETWEEN range join leaked into the physical plan")
  }
}
