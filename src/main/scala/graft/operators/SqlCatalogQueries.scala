package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Artifacts, Tables}
import graft.sources.{GraftCatalog, ManifestTable, ZOrderLayout}

/** The SQL catalog's gated demos: each builds a manifest table under
  * the session warehouse and then answers it through `spark.sql` over
  * [[GraftCatalog]] — time travel, row-level DELETE / UPDATE / MERGE,
  * procedures, tags, metadata tables, DDL evolution and streaming by
  * name. Most reuse a Scala-API twin's oracle in [[ManifestQueries]]
  * (q189 ↔ q184, q190 ↔ q155, q194 ↔ q158, q181 ↔ q159 ...), so one
  * gate covers both surfaces. */
object SqlCatalogQueries {

  /** A fresh table `name` for one demo: its root under a new database
    * dir of the session warehouse, and its backticked identifier in
    * the `graft_tables` catalog, registered over that warehouse. */
  private def sqlTable(spark: SparkSession, sfDir: String, prefix: String,
                       name: String): (String, String) = {
    val db = new Path(Artifacts.freshRoot(spark, sfDir, prefix))
    GraftCatalog.register(spark, "graft_tables",
      spark.conf.get("spark.sql.warehouse.dir"))
    (new Path(db, name).toString, s"graft_tables.`${db.getName}`.`$name`")
  }

  /** Q175: THE SQL CATALOG END TO END, hash-gated — the q173 table
    * shape (documents in three commits) rebuilt under the catalog's
    * warehouse, then answered ENTIRELY through `spark.sql` over a
    * registered [[GraftCatalog]]: `VERSION AS OF 1/2` pin the first
    * two commits, the bare identifier serves the newest, and a WHERE
    * branch exercises the pushdown path (planner filters → manifest
    * file skipping → parquet pushdown → Spark's post-scan re-apply).
    * The oracle recomputes all four slices from the raw parquet, so a
    * mis-resolved version, a wrongly-pruned file, or a dropped filter
    * is hash-fatal. TIMESTAMP AS OF resolution, the vacuumed-version
    * error, and the pruning itself (kept files < listed files) are the
    * spec's pins ([[GraftCatalogSpec]]) — skipping is invisible in a
    * correct result by design. */
  def q175SqlCatalog(spark: SparkSession, sfDir: String): DataFrame = {
    val (root, t) = sqlTable(spark, sfDir, "sqlcat_", "docs")
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"))
    // bounds-stamped commits so the WHERE branch genuinely prunes
    ManifestTable.overwriteClustered(spark, root,
      docs.where(pmod(col("doc_id"), lit(3)) === 0), "doc_id", 4)
    ManifestTable.append(spark, root,
      docs.where(pmod(col("doc_id"), lit(3)) === 1),
      boundsCol = Some("doc_id"))
    ManifestTable.append(spark, root,
      docs.where(pmod(col("doc_id"), lit(3)) === 2),
      boundsCol = Some("doc_id"))
    spark.sql(
      s"""SELECT 1 AS version, count(*) AS n_docs,
         |       sum(doc_id) AS sum_doc_id
         |FROM $t VERSION AS OF 1
         |UNION ALL
         |SELECT 2, count(*), sum(doc_id) FROM $t VERSION AS OF 2
         |UNION ALL
         |SELECT 3, count(*), sum(doc_id) FROM $t
         |UNION ALL
         |SELECT 4, count(*), sum(doc_id) FROM $t WHERE doc_id % 2 = 0
         |ORDER BY version""".stripMargin)
  }

  /** Q183: ROW-LEVEL DELETE THROUGH SQL (`DELETE FROM t WHERE p` via
    * `SupportsDelete` onto [[ManifestTable.deleteWhere]]'s
    * copy-on-write rewrite), hash-gated — the predicate mixes the
    * clustered key and a scattered column (`doc_id % 7 = 0 OR lang =
    * 'de'`), so both carried-verbatim and rewritten files exist; the
    * oracle recomputes the complement directly from parquet, so a
    * surviving matching row, a lost non-matching row, or a mangled
    * carried file is hash-fatal. Untranslatable predicates are
    * REJECTED at analysis (`canDeleteWhere` false — never wrong rows),
    * spec-pinned with the no-match no-op. */
  def q183SqlDelete(spark: SparkSession, sfDir: String): DataFrame = {
    val (root, t) = sqlTable(spark, sfDir, "sqldel_", "docs")
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"))
    ManifestTable.overwriteClustered(spark, root, docs, "doc_id", 8)
    spark.sql(s"DELETE FROM $t WHERE doc_id % 7 = 0 OR lang = 'de'")
    spark.sql(s"""SELECT lang, count(*) AS n_docs,
                 |       sum(doc_id) AS sum_doc_id
                 |FROM $t GROUP BY lang ORDER BY lang""".stripMargin)
  }

  /** Q185: MAINTENANCE PROCEDURES THROUGH SQL (`CALL
    * cat.system.optimize/restore/vacuum` — the Iceberg stored-
    * procedure shape on Spark 4's ProcedureCatalog), hash-gated — a
    * two-commit table is compacted, rolled back to v1, and vacuumed
    * to the newest version, ALL through `spark.sql("CALL ...")`, with
    * each procedure's one-row diagnostics asserted (files_after from
    * optimize, the restore's new version, vacuum's nonzero delete
    * count) and the post-vacuum time-travel rejection proven; the
    * final table must BE the v1 slice — the oracle recomputes it from
    * the slice rule, so a restore that resolved wrong, a vacuum that
    * collected a live file, or a compaction that changed rows is
    * hash-fatal. */
  def q185SqlProcedures(spark: SparkSession, sfDir: String): DataFrame = {
    val (root, t) = sqlTable(spark, sfDir, "sqlproc_", "docs")
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"))
    ManifestTable.overwriteClustered(spark, root,
      docs.where(pmod(col("doc_id"), lit(3)) === 0), "doc_id", 8)
    ManifestTable.append(spark, root,
      docs.where(pmod(col("doc_id"), lit(3)) =!= 0))
    val arg = s"'${new Path(root).getParent.getName}.docs'"
    val opt = spark.sql(s"CALL graft_tables.system.optimize(" +
      s"table => $arg, cluster_col => 'doc_id', target_files => 4)")
      .head()
    require(opt.getInt(0) == 3 && opt.getInt(2) == 4,
      s"optimize diagnostics wrong: $opt")
    val rst = spark.sql(s"CALL graft_tables.system.restore(" +
      s"table => $arg, version => 1)").head()
    require(rst.getInt(0) == 4, s"restore diagnostics wrong: $rst")
    val vac = spark.sql(s"CALL graft_tables.system.vacuum(" +
      s"table => $arg, retain => 1, orphan_retention_ms => 0)").head()
    require(vac.getInt(0) > 0, "vacuum collected nothing")
    require(scala.util.Try(spark.sql(
      s"SELECT count(*) FROM $t VERSION AS OF 2")
      .collect()).isFailure,
      "a vacuumed version stayed readable")
    spark.sql(
      s"""SELECT lang, count(*) AS n_docs, sum(doc_id) AS sum_doc_id
         |FROM $t
         |GROUP BY lang ORDER BY lang""".stripMargin)
  }

  /** Q186: NAMED TAGS (Iceberg's refs) + `VERSION AS OF 'tag'`,
    * hash-gated — v1 is tagged `baseline` (a header-only commit), the
    * table then grows and is VACUUMED to retain=1: the tag is a
    * retention FLOOR, so the baseline version survives the vacuum
    * (while being far below the retained window) and the gated query
    * reads BOTH branches through SQL — `VERSION AS OF 'baseline'`
    * resolving the tag, the bare identifier the newest — after the
    * vacuum. A dangling tag, a vacuum that collected the tagged files,
    * or a wrong tag resolution is hash-fatal. Tag lifecycle mechanics
    * (carry across optimize, removeTag frees retention, unknown tag
    * loud at analysis) are spec-pinned. */
  def q186SqlTags(spark: SparkSession, sfDir: String): DataFrame = {
    val (root, t) = sqlTable(spark, sfDir, "sqltag_", "docs")
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"))
    ManifestTable.overwrite(spark, root,
      docs.where(pmod(col("doc_id"), lit(3)) === 0))
    ManifestTable.addTag(spark, root, "baseline", 1)
    ManifestTable.append(spark, root,
      docs.where(pmod(col("doc_id"), lit(3)) =!= 0))
    // the tag is a retention floor: v1 survives a retain=1 vacuum
    ManifestTable.vacuum(spark, root, retain = 1,
      orphanRetentionMs = 0L)
    spark.sql(
      s"""SELECT 'baseline' AS branch, count(*) AS n_docs,
         |       sum(doc_id) AS sum_doc_id
         |FROM $t VERSION AS OF 'baseline'
         |UNION ALL
         |SELECT 'current', count(*), sum(doc_id) FROM $t
         |ORDER BY branch""".stripMargin)
  }

  /** Q188: `CALL system.zorder` + the 2-D rectangle THROUGH SQL,
    * hash-gated — events land as an UNCLUSTERED manifest table, one
    * `CALL graft_tables.system.zorder(...)` rewrites it into the
    * Morton layout with v4 two-column stats, and the q130/q162
    * rectangle is answered by a plain SQL `WHERE user_id <= ... AND ts
    * BETWEEN ...` over the catalog: the pushed range filters drive the
    * SAME multi-column manifest skipping `readWhereRect` does — 2-D
    * file pruning through SQL, decided before any footer read. q162's
    * oracle gates it VERBATIM (one oracle, three surfaces now: the
    * Scala rect read q162, the raw z-layout q130, and SQL). The
    * 2-D-beats-1-D pruning pin lives in GraftCatalogSpec. */
  def q188SqlZOrderRect(spark: SparkSession, sfDir: String): DataFrame = {
    val (root, t) = sqlTable(spark, sfDir, "sqlzorder_", "events")
    ManifestTable.overwrite(spark, root, Tables.events(spark, sfDir))
    val r = spark.sql("CALL graft_tables.system.zorder(" +
      s"table => '${new Path(root).getParent.getName}.events', " +
      "cols => 'user_id,ts', " +
      "target_files => 64)").head()
    require(r.getInt(0) == 2 && r.getInt(2) == 64,
      s"zorder diagnostics wrong: $r")
    val (uHi, tLo, tHi) = ZOrderLayout.rectangleOf(spark, sfDir)
    val tz = java.time.ZoneId.of(
      spark.sessionState.conf.sessionLocalTimeZone)
    def tsLit(us: Long): String = {
      val i = java.time.Instant.ofEpochSecond(
        Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)
      "TIMESTAMP '" + i.atZone(tz).toLocalDateTime.format(
        java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")) + "'"
    }
    spark.sql(
      s"""SELECT event_type, count(*) AS n_events,
         |       sum(user_id) AS sum_user_id,
         |       sum(CAST(round(value * 100) AS BIGINT)) AS value_cents
         |FROM $t
         |WHERE user_id >= 0 AND user_id <= $uHi
         |  AND ts >= ${tsLit(tLo)} AND ts <= ${tsLit(tHi)}
         |GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  /** Q189: ROW-LEVEL UPDATE THROUGH SQL (`UPDATE t SET ... WHERE p` —
    * the post-hoc rule [[GraftRowLevelSqlRule]] onto
    * [[ManifestTable.updateWhere]]'s file-pruned copy-on-write
    * rewrite), hash-gated — q184's redaction statement verbatim, typed
    * as SQL: every doc_id ≡ 0 (mod 9) gets lang reset and text
    * suffixed, non-matching rows pass through BIT-IDENTICAL (md5(text)
    * hashes the whole corpus). q184's oracle gates the SQL surface
    * verbatim (one oracle, two entry points — the q160/q161 shared-
    * gate discipline). The FILE-PRUNED pin (carried > 0 on a narrow
    * update), original-row SET semantics under SQL, and the loud
    * subquery/pinned-target rejections are GraftCatalogSpec's. */
  def q189SqlUpdate(spark: SparkSession, sfDir: String): DataFrame = {
    val (root, t) = sqlTable(spark, sfDir, "sqlupd_", "docs")
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("text"))
    ManifestTable.overwriteClustered(spark, root, docs, "doc_id", 8)
    spark.sql(s"UPDATE $t SET lang = 'xx', " +
      "text = concat(text, ' [redacted]') WHERE doc_id % 9 = 0")
    spark.sql(s"SELECT doc_id, lang, md5(text) AS text_md5 FROM $t " +
      "ORDER BY doc_id")
  }

  /** Q190: MERGE INTO THROUGH SQL (the post-hoc rule onto
    * [[ManifestTable.mergeCoW]]'s keyed file-pruned copy-on-write
    * commit), hash-gated — q155's recrawl merge typed as one SQL
    * statement over a delta view: `WHEN MATCHED AND op='remove' THEN
    * DELETE` (the %10≡7 docs), `WHEN MATCHED THEN UPDATE SET *` (the
    * %10≡3 edits), `WHEN NOT MATCHED THEN INSERT *` (the negative-
    * namespace inserts) — first-match-wins, and the result must BE
    * snapshot B row-for-row: q155's oracle gates the SQL surface
    * verbatim. Cardinality violations, non-equi conditions, NOT
    * MATCHED BY SOURCE, and key reassignment reject loudly
    * (spec-pinned). */
  def q190SqlMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val (root, t) = sqlTable(spark, sfDir, "sqlmrg_", "docs")
    val docs = Tables.documents(spark, sfDir)
    ManifestTable.overwriteClustered(spark, root, docs, "doc_id", 8)
    // the q155 delta as ONE source view: removed docs (full rows —
    // their payload is unused, DELETE fires first), edited docs, and
    // the negative-namespace inserts, tagged by op
    val view = Artifacts.nameOf(spark, sfDir, "q190_delta_")
    docs.where(pmod(col("doc_id"), lit(10)) === 7)
      .withColumn("op", lit("remove"))
      .unionByName(
        graft.operators.CurationPipeline.snapshotB(docs)
          .where(pmod(col("doc_id"), lit(10)) === 3 || col("doc_id") < 0)
          .withColumn("op", lit("upsert")))
      .createOrReplaceTempView(view)
    spark.sql(
      s"""MERGE INTO $t AS tg USING $view AS s
         |ON tg.doc_id = s.doc_id
         |WHEN MATCHED AND s.op = 'remove' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED AND s.op <> 'remove' THEN INSERT *
         |""".stripMargin)
    spark.sql(s"SELECT doc_id, md5(text) AS text_md5 FROM $t " +
      "ORDER BY doc_id")
  }

  /** Q194: ADD-COLUMN SCHEMA EVOLUTION THROUGH SQL DDL (`ALTER TABLE
    * ... ADD COLUMN` via [[GraftCatalog.alterTable]] onto
    * [[ManifestTable.addColumns]]' header-only commit), hash-gated —
    * q158's evolution story typed as SQL statements end to end: the
    * table is seeded two-column, `ALTER TABLE ADD COLUMN lang STRING`
    * widens the committed schema with ZERO data IO, `INSERT INTO`
    * lands three-column rows, and the mixed-file read serves the
    * pre-evolution files' rows with a NULL lang. q158's oracle gates
    * the DDL surface verbatim (one oracle, two surfaces — the
    * q189→q184 discipline). Rejections (NOT NULL / positioned /
    * defaulted adds, nested fields; rename/drop route to the field-id
    * commits — q198 — and retyping to the lossless widening — q200)
    * and the header-only property (same data files across the ALTER)
    * are GraftCatalogSpec's pins. */
  def q194SqlAddColumn(spark: SparkSession, sfDir: String): DataFrame = {
    val (root, t) = sqlTable(spark, sfDir, "sqlevo_", "docs")
    val docs = Tables.documents(spark, sfDir)
    ManifestTable.overwrite(spark, root,
      docs.where(col("doc_id") % 3 =!= 0).select("doc_id", "text"))
    spark.sql(s"ALTER TABLE $t ADD COLUMN lang STRING")
    val view = Artifacts.nameOf(spark, sfDir, "q194_src_")
    docs.where(col("doc_id") % 3 === 0)
      .select("doc_id", "text", "lang")
      .createOrReplaceTempView(view)
    spark.sql(s"INSERT INTO $t SELECT doc_id, text, lang FROM $view")
    spark.sql(
      s"""SELECT coalesce(lang, 'pre_evolution') AS lang,
         |       count(*) AS n_docs, sum(doc_id) AS sum_doc_id,
         |       sum(length(text)) AS n_chars
         |FROM $t GROUP BY 1 ORDER BY lang""".stripMargin)
  }

  /** Q200: TYPE WIDENING AS A HEADER-ONLY COMMIT (`ALTER TABLE ...
    * ALTER COLUMN x TYPE bigint/double` → [[ManifestTable
    * .widenColumn]] — Iceberg/Delta's type-widening shape), hash-gated
    * — the table is created NARROW (an INT length column, a FLOAT
    * value column), both columns widen through SQL DDL (zero data IO —
    * the old files keep their narrow physical encodings), a WIDE
    * append lands beside them, and the gate aggregates BOTH regimes:
    * time travel to v1 serves the NARROW types (each version reads
    * with its own committed schema) while the current read upcasts the
    * mixed-width history uniformly — a value lost or bent by the
    * upcast shifts the integer-exact sums and is hash-fatal. The
    * oracle replays both stages from raw parquet, where no widening
    * ever happened — the mechanics must be invisible to the numbers.
    * Narrowing and cross-family retypes reject (Spark's own upcast
    * gate + the allowlist), spec-pinned. */
  def q200TypeWidening(spark: SparkSession, sfDir: String): DataFrame = {
    val (root, t) = sqlTable(spark, sfDir, "sqlwide_", "docs")
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("text"))
    ManifestTable.overwrite(spark, root,
      docs.where(col("doc_id") % 3 =!= 0).select(
        col("doc_id"), col("lang"),
        length(col("text")).as("len_i"),
        pmod(col("doc_id"), lit(97)).cast("float").as("val_f")))
    spark.sql(s"ALTER TABLE $t ALTER COLUMN len_i TYPE BIGINT")
    spark.sql(s"ALTER TABLE $t ALTER COLUMN val_f TYPE DOUBLE")
    val view = Artifacts.nameOf(spark, sfDir, "q200_wide_")
    docs.where(col("doc_id") % 3 === 0).select(
      col("doc_id"), col("lang"),
      length(col("text")).cast("long").as("len_i"),
      pmod(col("doc_id"), lit(97)).cast("double").as("val_f"))
      .createOrReplaceTempView(view)
    spark.sql(s"INSERT INTO $t SELECT * FROM $view")
    spark.sql(
      s"""WITH st AS (
         |  SELECT '1_narrow' AS stage, lang,
         |         CAST(len_i AS BIGINT) AS len_i,
         |         CAST(val_f AS DOUBLE) AS val_f
         |  FROM $t VERSION AS OF 1
         |  UNION ALL
         |  SELECT '2_mixed', lang, len_i, val_f FROM $t)
         |SELECT stage, lang, count(*) AS n_docs,
         |       sum(len_i) AS sum_len,
         |       sum(CAST(val_f AS BIGINT)) AS sum_val
         |FROM st GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
  }

  /** Q195: COMPOSITE-KEY MERGE INTO THROUGH SQL (`ON t.a = s.a AND
    * t.b = s.b` onto [[ManifestTable.mergeCoWKeys]]' tuple-keyed
    * commit), hash-gated — q191's delete-sequencing merge typed as ONE
    * SQL statement over the composite-deleted lineitem table: the ON
    * conjunction folds to the (l_orderkey, l_linenumber) tuple key,
    * `WHEN MATCHED AND op='remove' THEN DELETE` removes the live
    * ≡4 (mod 10) tuples, `WHEN MATCHED THEN UPDATE SET *` updates the
    * live ≡5 (mod 10) tuples (the per-tuple key-identity guard
    * passes SET *'s identity assignments), and `WHEN NOT MATCHED THEN
    * INSERT *` RESURRECTS the suppressed odd-linenumber ≡5 tuples
    * (SQL sees them as absent; the tuple-keyed sequencing pulls their
    * keys from the consolidated delete set) — gated by q191's rules
    * replayed over the DISTINCT-tuple base. Why deduped where q191
    * isn't: the synthetic lineitem carries duplicate (orderkey,
    * linenumber) tuples, which the Scala KEYED merge serves (removes/
    * upserts act on key SETS) but the SQL standard's cardinality rule
    * FORBIDS — a MERGE whose source hits a duplicate-keyed target must
    * reject, and the spec pins exactly that rejection on the raw
    * table. Mixed AND (equality + non-equi), duplicate key columns,
    * and reordered-vs-delete-set key tuples also reject loudly
    * (spec-pinned). */
  def q195SqlCompositeMerge(spark: SparkSession,
                            sfDir: String): DataFrame = {
    val (root, t) = sqlTable(spark, sfDir, "sqlcmrg_", "lineitem")
    // ONE deterministic row per (l_orderkey, l_linenumber) tuple —
    // integer-exact aggregation, so the DuckDB oracle replays it
    // bit-identically. Materialized ONCE per invocation
    // (localCheckpoint): the seed overwrite, the delete-key set and
    // both delta-view branches all read this aggregate — recomputing
    // the full-table groupBy per consumer paid the scan+shuffle four
    // times (guide §1.2: don't compute things twice before tuning
    // anything else)
    val li = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(max(col("l_returnflag")).as("l_returnflag"),
        sum(round(col("l_extendedprice") * 100).cast("long"))
          .as("price_cents"))
      .localCheckpoint()
    ManifestTable.overwriteClustered(spark, root, li, "l_orderkey", 8)
    ManifestTable.deleteWhereKeysIn(spark, root,
      Seq("l_orderkey", "l_linenumber"),
      li.where(pmod(col("l_orderkey"), lit(5)) === 0 &&
          pmod(col("l_linenumber"), lit(2)) === 1)
        .select("l_orderkey", "l_linenumber"))
    val view = Artifacts.nameOf(spark, sfDir, "q195_delta_")
    li.where(pmod(col("l_orderkey"), lit(10)) === 4)
      .withColumn("op", lit("remove"))
      .unionByName(
        li.where(pmod(col("l_orderkey"), lit(10)) === 5)
          .withColumn("price_cents", col("price_cents") + 7)
          .withColumn("op", lit("upsert")))
      .createOrReplaceTempView(view)
    spark.sql(
      s"""MERGE INTO $t AS tg USING $view AS s
         |ON tg.l_orderkey = s.l_orderkey
         |   AND tg.l_linenumber = s.l_linenumber
         |WHEN MATCHED AND s.op = 'remove' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED AND s.op = 'upsert' THEN INSERT *
         |""".stripMargin)
    spark.sql(
      s"""SELECT l_returnflag, l_orderkey % 10 AS okey_mod,
         |       count(*) AS n_rows,
         |       sum(price_cents) AS sum_price_cents,
         |       sum(l_orderkey * l_linenumber) AS sum_key_product
         |FROM $t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
  }

  /** Q196: `WHEN NOT MATCHED BY SOURCE` — ALL THREE MERGE CLAUSE
    * FAMILIES IN ONE STATEMENT (Delta/Iceberg's dimension-maintenance
    * idiom), hash-gated: the source is the current crawl (every
    * doc_id ≡ 0 (mod 3), edits at ≡3 (mod 10), plus a negative-
    * namespace insert set); matched edits UPDATE, unseen docs INSERT,
    * and the target-side complement (docs absent from the crawl)
    * prunes first-match-wins — stale German docs DELETE, every
    * seventh survivor is marked `lang='stale'`, the rest carry —
    * folded into the SAME remove/upsert pair as ONE atomic commit
    * (single-statement atomicity, no second anti-join statement). The
    * oracle replays all five row fates over raw parquet; a lost
    * carried row, a wrongly-pruned survivor, or a double-applied
    * clause is hash-fatal. The duplicate-keyed-target rejection on
    * the by-source side is spec-pinned. */
  def q196SqlMergeBySource(spark: SparkSession,
                           sfDir: String): DataFrame = {
    val (root, t) = sqlTable(spark, sfDir, "sqlbsrc_", "docs")
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("text"))
    ManifestTable.overwriteClustered(spark, root, docs, "doc_id", 8)
    val view = Artifacts.nameOf(spark, sfDir, "q196_crawl_")
    docs.where(col("doc_id") % 3 === 0)
      .withColumn("text",
        when(col("doc_id") % 10 === 3,
          concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
      .unionByName(
        docs.where(col("doc_id") % 10 === 1)
          .withColumn("doc_id", -(col("doc_id") + 1)))
      .createOrReplaceTempView(view)
    spark.sql(
      s"""MERGE INTO $t AS tg USING $view AS s
         |ON tg.doc_id = s.doc_id
         |WHEN MATCHED AND s.doc_id % 10 = 3
         |  THEN UPDATE SET text = s.text
         |WHEN NOT MATCHED THEN INSERT *
         |WHEN NOT MATCHED BY SOURCE AND tg.lang = 'de' THEN DELETE
         |WHEN NOT MATCHED BY SOURCE AND tg.doc_id % 7 = 0
         |  THEN UPDATE SET lang = 'stale'
         |""".stripMargin)
    spark.sql(s"SELECT doc_id, lang, md5(text) AS text_md5 FROM $t " +
      "ORDER BY doc_id")
  }

  /** Q197: STREAMING READS BY TABLE NAME
    * (`spark.readStream.table("cat.db.t")` via the
    * `V2TableWithV1Fallback` lift onto [[graft.streaming
    * .ManifestStreamProvider]] — the shape Delta ships), hash-gated —
    * q164's thrice-resumed checkpointed streaming aggregation re-run
    * with the source resolved BY NAME through the registered catalog
    * instead of by path: the table lands in three commits, and between
    * each an AvailableNow pass of a fresh query on the SAME checkpoint
    * continues from the checkpointed VERSION offset (pass 2 reads only
    * commit 2, pass 3 only commit 3 — exactly-once across restarts,
    * by name), so the final complete-mode table must equal the
    * one-shot batch aggregate — q164's oracle verbatim (one oracle,
    * two resolution paths). Reader options through the name path
    * (CDF mode, rewrite policies) and the pinned-relation rejection
    * are GraftCatalogSpec's pins. */
  def q197StreamTableByName(spark: SparkSession,
                            sfDir: String): DataFrame = {
    val (root, t) = sqlTable(spark, sfDir, "sqlstr_", "events")
    ManifestQueries.drainedThirds(spark, sfDir, root,
        Artifacts.nameOf(spark, sfDir, "q197_agg_"),
        new Path(new Path(root).getParent, "ck").toString)(
      spark.readStream.table(t))
  }

  /** Q181: METADATA TABLES THROUGH SQL (Iceberg's `db.t.history`
    * shape), hash-gated — the q159 three-commit history (overwrite,
    * append, optimize) rebuilt under the catalog warehouse, then its
    * per-version metadata row counts answered by
    * `SELECT version, n_rows FROM cat.db.t.history` — the SQL face of
    * DESCRIBE HISTORY, straight off the manifests with zero data IO,
    * no custom parser. q159's oracle gates it VERBATIM (one oracle,
    * two surfaces: the Scala `rowCountFromStats` gate and the SQL
    * metadata table). The `files` metadata table and the
    * data-table-wins-the-name rule are GraftCatalogSpec's pins. */
  def q181SqlMetadataTables(spark: SparkSession,
                            sfDir: String): DataFrame = {
    val (root, t) = sqlTable(spark, sfDir, "sqlmeta_", "docs")
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    ManifestTable.overwriteClustered(spark, root,
      docs.where(pmod(col("doc_id"), lit(5)) =!= 0), "doc_id", 6)
    ManifestTable.append(spark, root,
      docs.where(pmod(col("doc_id"), lit(5)) === 0),
      boundsCol = Some("doc_id"))
    ManifestTable.optimize(spark, root, "doc_id", targetFiles = 3)
    spark.sql(
      s"""SELECT version, n_rows
         |FROM $t.`history`
         |ORDER BY version""".stripMargin)
  }

  /** Q182: WRITES THROUGH SQL, hash-gated — the table's whole life
    * runs in SQL: `CREATE TABLE` (zero-row manifest seed with the
    * declared schema), two `INSERT INTO` (each one atomic append
    * commit, v2/v3), one `INSERT OVERWRITE` (truncating overwrite,
    * v4), then the three written versions read back by VERSION AS OF
    * and hash-gated against the slice arithmetic — a lost insert, a
    * non-truncating overwrite, or a version skew is hash-fatal. The
    * write path is the public V1Write fallback onto the SAME commit
    * protocol the Scala API uses, so constraints, the resurrection
    * guard, and the schema contract all hold under SQL writes
    * (spec-pinned, with the pinned-table write rejection). */
  def q182SqlWrites(spark: SparkSession, sfDir: String): DataFrame = {
    val (root, t) = sqlTable(spark, sfDir, "sqlwrite_", "docs")
    val db = new Path(root).getParent
    db.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(db)
    val view = Artifacts.nameOf(spark, sfDir, "q182_docs_")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"))
      .createOrReplaceTempView(view)
    spark.sql(s"CREATE TABLE $t (doc_id BIGINT, lang STRING)")
    spark.sql(s"INSERT INTO $t SELECT doc_id, lang FROM $view " +
      "WHERE doc_id % 3 = 0")
    spark.sql(s"INSERT INTO $t SELECT doc_id, lang FROM $view " +
      "WHERE doc_id % 3 = 1")
    spark.sql(s"INSERT OVERWRITE $t SELECT doc_id, lang FROM $view")
    spark.sql(
      s"""SELECT 2 AS version, count(*) AS n_docs,
         |       sum(doc_id) AS sum_doc_id
         |FROM $t VERSION AS OF 2
         |UNION ALL
         |SELECT 3, count(*), sum(doc_id) FROM $t VERSION AS OF 3
         |UNION ALL
         |SELECT 4, count(*), sum(doc_id) FROM $t
         |ORDER BY version""".stripMargin)
  }
}
