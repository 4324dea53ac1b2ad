package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The DSv2 SQL catalog over manifest tables: identifier resolution,
  * VERSION/TIMESTAMP AS OF pinning, the vacuumed-version rejection,
  * pushdown-driven manifest file skipping, and the write-op
  * rejections. */
class GraftCatalogSpec extends SparkSpec {

  private lazy val wh =
    scratchDir("graft-cat").toString

  private def docs = graft.Tables.documents(spark, sfDir)
    .select("doc_id", "lang", "text")

  private def mkTable(db: String, t: String): String = {
    val root = new Path(new Path(wh, db), t).toString
    ManifestTable.overwrite(spark, root,
      docs.where(col("doc_id") % 3 === 0)
        .repartitionByRange(4, col("doc_id"))
        .sortWithinPartitions("doc_id"),
      boundsCol = Some("doc_id"))
    ManifestTable.append(spark, root,
      docs.where(col("doc_id") % 3 =!= 0), boundsCol = Some("doc_id"))
    root
  }

  private def registered(): Unit =
    GraftCatalog.register(spark, "gcat", wh)

  test("SQL reads resolve the newest version; VERSION AS OF pins " +
      "each commit; TIMESTAMP AS OF resolves by monotonized instant") {
    val root = mkTable("db1", "docs")
    registered()
    val t = "gcat.db1.docs"
    assert(spark.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0)
      === docs.count())
    assert(spark.sql(s"SELECT count(*) AS n FROM $t VERSION AS OF 1")
      .head().getLong(0) === docs.where(col("doc_id") % 3 === 0).count())
    // TIMESTAMP AS OF end to end through SQL: each version's own
    // (monotonized) instant resolves to exactly that version
    val h = ManifestTable.history(spark, root)
    val tz = java.time.ZoneId.of(
      spark.sessionState.conf.sessionLocalTimeZone)
    def sqlTs(ms: Long): String =
      java.time.Instant.ofEpochMilli(ms).atZone(tz).toLocalDateTime
        .format(java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    h.foreach { c =>
      assert(spark.sql(s"SELECT count(*) AS n FROM $t " +
        s"TIMESTAMP AS OF '${sqlTs(c.timestampMs)}'").head().getLong(0)
        === ManifestTable.readAt(spark, root, c.version).count(),
        s"TIMESTAMP AS OF at v${c.version}'s instant resolved wrong")
    }
    // a pre-history instant fails loudly
    val ex = intercept[Exception] {
      spark.sql(s"SELECT count(*) FROM $t " +
        s"TIMESTAMP AS OF '${sqlTs(h.head.timestampMs - 1)}'").collect()
    }
    assert(ex.getMessage.contains("predates"))
  }

  test("a vacuumed version fails loudly at analysis; an unknown table " +
      "raises NoSuchTableException; DROP TABLE drops; retype ALTER " +
      "and RENAME TABLE are rejected") {
    val root = mkTable("db2", "docs")
    registered()
    ManifestTable.vacuum(spark, root, retain = 1, orphanRetentionMs = 0L)
    val exV = intercept[Exception] {
      spark.sql("SELECT count(*) FROM gcat.db2.docs VERSION AS OF 1")
        .collect()
    }
    assert(exV.getMessage.contains("vacuumed"),
      s"vacuumed version error not loud: ${exV.getMessage}")
    val exT = intercept[Exception] {
      spark.sql("SELECT * FROM gcat.db2.nope").collect()
    }
    assert(exT.getMessage.toLowerCase.contains("table"))
    // catalog ops
    assert(spark.sql("SHOW TABLES IN gcat.db2").collect()
      .map(_.getString(1)).contains("docs"))
    intercept[Exception] {
      spark.sql("ALTER TABLE gcat.db2.docs ALTER COLUMN doc_id TYPE INT")
        .collect()
    }
    intercept[Exception] {
      spark.sql("ALTER TABLE gcat.db2.docs RENAME TO gcat.db2.d2")
        .collect()
    }
    spark.sql("DROP TABLE gcat.db2.docs")
    assert(!new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration).exists(new Path(root)))
  }

  test("pushed filters skip files from the manifest (never wrongly) " +
      "and survive on non-stats columns; projection prunes columns") {
    val root = mkTable("db3", "docs")
    registered()
    val total = ManifestTable.snapshot(spark, root).files.size
    val probe = docs.agg(min("doc_id")).head().getLong(0)
    // the scan the SQL path builds, checked directly: a tight range on
    // the bounds column keeps fewer files than the table lists
    val kept = GraftCatalogScan.dataFrame(spark, root, None,
      Seq("doc_id"), Seq(org.apache.spark.sql.sources.EqualTo(
        "doc_id", probe)), docs.schema).inputFiles.length
    assert(kept < total, s"no file skipping: $kept of $total")
    // end to end through SQL: correct rows under the same predicate
    assert(spark.sql(
      s"SELECT count(*) AS n FROM gcat.db3.docs WHERE doc_id = $probe")
      .head().getLong(0) === docs.where(col("doc_id") === probe).count())
    // a filter on a column WITHOUT stored stats must not prune (and
    // must still answer correctly via the residual + post-scan filter)
    assert(spark.sql(
      "SELECT count(*) AS n FROM gcat.db3.docs WHERE lang = 'en'")
      .head().getLong(0) === docs.where(col("lang") === "en").count())
    // unsatisfiable range: empty result, not an error
    assert(spark.sql(
      s"SELECT count(*) AS n FROM gcat.db3.docs " +
        s"WHERE doc_id = $probe AND doc_id = ${probe + 1}")
      .head().getLong(0) === 0L)
    // outstanding equality deletes are applied on the SQL path
    ManifestTable.deleteWhereKeyIn(spark, root, "doc_id",
      docs.where(col("doc_id") % 7 === 0).select("doc_id"))
    assert(spark.sql("SELECT count(*) AS n FROM gcat.db3.docs")
      .head().getLong(0) === docs.where(col("doc_id") % 7 =!= 0).count())
  }

  test("SQL writes ride the commit protocol: INSERT INTO appends " +
      "atomically, INSERT OVERWRITE truncates, constraints and the " +
      "pinned-table rejection hold under SQL") {
    registered()
    val fs = new Path(wh).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(wh, "db4"), true)
    fs.mkdirs(new Path(wh, "db4"))
    docs.select("doc_id", "lang").createOrReplaceTempView("gcat_docs")
    spark.sql("CREATE TABLE gcat.db4.t (doc_id BIGINT, lang STRING)")
    // CREATE over an existing table is rejected
    intercept[Exception] {
      spark.sql("CREATE TABLE gcat.db4.t (x INT)")
    }
    spark.sql("INSERT INTO gcat.db4.t SELECT doc_id, lang FROM " +
      "gcat_docs WHERE doc_id % 2 = 0")
    val root = new Path(new Path(wh, "db4"), "t").toString
    assert(ManifestTable.currentVersion(spark, root) === Some(2))
    // a CHECK constraint declared on the Scala side gates SQL inserts
    ManifestTable.addConstraint(spark, root, "pos_id", "doc_id >= 0")
    val exC = intercept[Exception] {
      spark.sql("INSERT INTO gcat.db4.t VALUES (-1, 'xx')")
    }
    assert(exC.getMessage.contains("pos_id") ||
      Option(exC.getCause).exists(_.getMessage.contains("pos_id")),
      s"SQL insert bypassed the constraint: ${exC.getMessage}")
    spark.sql("INSERT INTO gcat.db4.t SELECT doc_id, lang FROM " +
      "gcat_docs WHERE doc_id % 2 = 1")
    assert(spark.sql("SELECT count(*) AS n FROM gcat.db4.t")
      .head().getLong(0) === docs.count())
    // truncating overwrite
    spark.sql("INSERT OVERWRITE gcat.db4.t SELECT doc_id, lang FROM " +
      "gcat_docs WHERE doc_id % 3 = 0")
    assert(spark.sql("SELECT count(*) AS n FROM gcat.db4.t")
      .head().getLong(0) === docs.where(col("doc_id") % 3 === 0).count())
    // a time-travel-pinned relation rejects writes
    val exP = intercept[Exception] {
      spark.sql("INSERT INTO gcat.db4.t VERSION AS OF 2 VALUES (1, 'x')")
    }
    assert(exP.getMessage.nonEmpty)
    // partition transforms are rejected loudly
    val exT = intercept[Exception] {
      spark.sql("CREATE TABLE gcat.db4.t2 (a INT) PARTITIONED BY (a)")
    }
    assert(exT.getMessage.contains("partition transforms") ||
      Option(exT.getCause).exists(
        _.getMessage.contains("partition transforms")))
  }

  test("SQL DELETE FROM: translatable predicates delete exactly the " +
      "matching rows; untranslatable ones are rejected at analysis") {
    val root = mkTable("db6", "docs")
    registered()
    spark.sql("DELETE FROM gcat.db6.docs WHERE doc_id % 5 = 0")
    assert(spark.sql("SELECT count(*) AS n FROM gcat.db6.docs")
      .head().getLong(0) === docs.where(col("doc_id") % 5 =!= 0).count())
    assert(ManifestTable.currentVersion(spark, root) === Some(3))
    // an untranslatable predicate (subquery) must NOT silently delete
    val before = spark.sql("SELECT count(*) AS n FROM gcat.db6.docs")
      .head().getLong(0)
    intercept[Exception] {
      spark.sql("DELETE FROM gcat.db6.docs WHERE doc_id IN " +
        "(SELECT doc_id FROM gcat.db6.docs LIMIT 1)")
    }
    assert(spark.sql("SELECT count(*) AS n FROM gcat.db6.docs")
      .head().getLong(0) === before,
      "a rejected DELETE changed the table")
  }

  test("metadata tables: db.t.history serves per-version metadata, " +
      "db.t.files the per-file stats; a data table wins the name") {
    val root = mkTable("db5", "docs")
    registered()
    val h = spark.sql(
      "SELECT version, data_files, delete_files, n_rows " +
        "FROM gcat.db5.docs.history ORDER BY version").collect()
    assert(h.map(_.getInt(0)).toSeq === Seq(1, 2))
    assert(h.last.getLong(3) === docs.count())
    val f = spark.sql(
      "SELECT file, n_rows, bytes, lo, hi FROM gcat.db5.docs.files")
      .collect()
    assert(f.length === ManifestTable.snapshot(spark, root).files.size)
    assert(f.map(_.getLong(1)).sum === docs.count())
    assert(f.forall(r => r.getLong(2) > 0 && !r.isNullAt(3)),
      "files metadata lost bytes or bounds")
    // a REAL table named 'history' shadows the metadata suffix
    mkTable("db5/docs2", "history")
    assert(spark.sql("SELECT count(*) AS n FROM " +
      "gcat.db5.docs2.history").head().getLong(0) === docs.count())
  }

  test("procedures: CALL system.optimize compacts behind one commit " +
      "with diagnostics; unknown procedures fail loudly") {
    val root = mkTable("db7", "docs")
    registered()
    val before = ManifestTable.snapshot(spark, root).files.size
    val r = spark.sql("CALL gcat.system.optimize(" +
      "table => 'db7.docs', cluster_col => 'doc_id', " +
      "target_files => 2)").head()
    assert(r.getInt(0) === 3 && r.getInt(1) === before &&
      r.getInt(2) === 2)
    assert(ManifestTable.read(spark, root).count() === docs.count(),
      "CALL optimize changed rows")
    intercept[Exception] {
      spark.sql("CALL gcat.system.nope(table => 'db7.docs')").collect()
    }
  }

  test("2-D pruning through SQL: after optimizeZOrder, pushed range " +
      "filters on BOTH dimensions keep strictly fewer files than " +
      "either alone") {
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
    val b = scratchDir("graft-zcat").toString
    val root = s"$b/ev"
    val ev = graft.Tables.events(spark, sfDir)
      .select("event_id", "user_id", "ts", "value")
      .where(col("user_id").isNotNull && col("ts").isNotNull)
    ManifestTable.overwrite(spark, root, ev)
    ManifestTable.optimizeZOrderCols(spark, root, Seq("user_id", "ts"), 64)
    val mm = ev.agg(max("user_id"), min(unix_micros(col("ts"))),
      max(unix_micros(col("ts")))).head()
    val (uHi, tLo, tHi) = (mm.getLong(0) / 10,
      mm.getLong(1) + (mm.getLong(2) - mm.getLong(1)) / 4,
      mm.getLong(1) + (mm.getLong(2) - mm.getLong(1)) * 3 / 4)
    def kept(filters: Seq[org.apache.spark.sql.sources.Filter]): Int =
      GraftCatalogScan.dataFrame(spark, root, None, Seq("event_id"),
        filters, ev.schema).inputFiles.length
    def tsOf(us: Long) = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
        Math.floorMod(us, 1000000L) * 1000L))
    val uF = Seq(GreaterThanOrEqual("user_id", 0L),
      LessThanOrEqual("user_id", uHi))
    val tF = Seq(GreaterThanOrEqual("ts", tsOf(tLo)),
      LessThanOrEqual("ts", tsOf(tHi)))
    val total = ManifestTable.snapshot(spark, root).files.size
    val (kU, kT, kUT) = (kept(uF), kept(tF), kept(uF ++ tF))
    assert(kU < total && kT < total,
      s"single-dimension SQL pruning failed: $kU/$kT of $total")
    assert(kUT < kU && kUT < kT,
      s"2-D SQL pruning no better than 1-D: $kUT vs $kU/$kT")
    // correctness on the pruned set: SQL count == direct count
    GraftCatalog.register(spark, "gcat", wh) // any catalog works; probe
    assert(GraftCatalogScan.dataFrame(spark, root, None,
      Seq("event_id"), uF ++ tF, ev.schema).count() ===
      ev.where(col("user_id") <= uHi &&
        unix_micros(col("ts")).between(tLo, tHi)).count())
  }

  test("SQL UPDATE: FILE-PRUNED CoW rewrite (not whole-table), " +
      "original-row SET semantics, rowupdate commit kind; subqueries " +
      "and pinned targets rejected loudly") {
    val root = mkTable("dbu", "docs")
    registered()
    val t = "gcat.dbu.docs"
    val v0 = ManifestTable.currentVersion(spark, root).get
    val filesBefore = ManifestTable.snapshot(spark, root).files.size
    // a narrow-key UPDATE on the doc_id-clustered table: only the
    // file(s) holding the key may rewrite — the file-pruned pin
    val someId = docs.agg(min("doc_id")).head().getLong(0)
    spark.sql(s"UPDATE $t SET lang = 'xx', " +
      s"text = concat(text, ' [u]') WHERE doc_id = $someId")
    val v1 = ManifestTable.currentVersion(spark, root).get
    assert(v1 === v0 + 1, "UPDATE did not commit exactly once")
    assert(ManifestTable.commitKindOf(spark, root, v1)
      === Some("rowupdate"))
    val (_, removed) = ManifestTable.changedFiles(spark, root, v0, v1)
    assert(removed.size < filesBefore,
      s"whole-table rewrite: ${removed.size} of $filesBefore files " +
        "removed — the SQL path lost file pruning")
    val got = spark.sql(
      s"SELECT lang, text FROM $t WHERE doc_id = $someId").head()
    assert(got.getString(0) === "xx" && got.getString(1).endsWith(" [u]"))
    // every other row is untouched
    assert(spark.sql(s"SELECT count(*) AS n FROM $t " +
      s"WHERE doc_id <> $someId AND lang = 'xx'").head().getLong(0) === 0)
    // original-row semantics ride updateWhere: SET a=b, b=a swaps
    spark.sql(s"UPDATE $t SET lang = text, text = lang " +
      s"WHERE doc_id = $someId")
    val sw = spark.sql(
      s"SELECT lang, text FROM $t WHERE doc_id = $someId").head()
    assert(sw.getString(1) === "xx" && sw.getString(0).endsWith(" [u]"),
      "SET evaluated against already-updated columns")
    // subqueries rejected loudly (never wrong rows)
    val exSub = intercept[UnsupportedOperationException] {
      spark.sql(s"UPDATE $t SET lang = 'yy' WHERE doc_id IN " +
        s"(SELECT doc_id FROM $t)")
    }
    assert(exSub.getMessage.contains("subqueries"))
    // identity-only assignments are a no-op, not a commit
    val vBefore = ManifestTable.currentVersion(spark, root)
    spark.sql(s"UPDATE $t SET lang = lang WHERE doc_id = $someId")
    assert(ManifestTable.currentVersion(spark, root) === vBefore,
      "an identity UPDATE committed a version")
  }

  test("SQL MERGE INTO: keyed upsert onto mergeCoW — delete/update/" +
      "insert actions first-match-wins, no-action matched rows " +
      "carried untouched, merge commit kind; cardinality violations " +
      "and non-equi conditions rejected loudly") {
    val root = mkTable("dbm", "docs")
    registered()
    val t = "gcat.dbm.docs"
    val view = "merge_src_v"
    // source: delete %9==0, update %9==1 (text suffix), insert two
    // fresh negative keys, and a NOOP band (%9==2, op='noop') whose
    // matched rows must stay untouched
    docs.where(col("doc_id") % 9 === 0)
      .withColumn("op", lit("del"))
      .unionByName(docs.where(col("doc_id") % 9 === 1)
        .withColumn("text", concat(col("text"), lit(" [m]")))
        .withColumn("op", lit("upd")))
      .unionByName(docs.where(col("doc_id") % 9 === 2)
        .withColumn("op", lit("noop")))
      .unionByName(docs.limit(2)
        .withColumn("doc_id", -col("doc_id") - 1)
        .withColumn("op", lit("ins")))
      .createOrReplaceTempView(view)
    val v0 = ManifestTable.currentVersion(spark, root).get
    spark.sql(
      s"""MERGE INTO $t AS tg USING $view AS s ON tg.doc_id = s.doc_id
         |WHEN MATCHED AND s.op = 'del' THEN DELETE
         |WHEN MATCHED AND s.op = 'upd' THEN UPDATE SET text = s.text
         |WHEN NOT MATCHED AND s.op = 'ins' THEN
         |  INSERT (doc_id, lang, text) VALUES (s.doc_id, s.lang, s.text)
         |""".stripMargin)
    val v1 = ManifestTable.currentVersion(spark, root).get
    assert(v1 === v0 + 1 &&
      ManifestTable.commitKindOf(spark, root, v1) === Some("merge"))
    val after = ManifestTable.read(spark, root)
    assert(after.where(col("doc_id") % 9 === 0 && col("doc_id") > 0)
      .count() === 0, "DELETE action rows survived")
    assert(after.where(col("doc_id") % 9 === 1 &&
      !col("text").endsWith(" [m]")).count() === 0,
      "UPDATE action rows not applied")
    assert(after.where(col("doc_id") < 0).count() === 2,
      "INSERT action rows missing")
    // the noop band matched no action: untouched, bit-identical
    val noopWant = docs.where(col("doc_id") % 9 === 2)
      .select(md5(concat_ws("|", col("doc_id"), col("lang"),
        col("text")))).collect().map(_.getString(0)).sorted
    val noopGot = after.where(col("doc_id") % 9 === 2 && col("doc_id") > 0)
      .select(md5(concat_ws("|", col("doc_id"), col("lang"),
        col("text")))).collect().map(_.getString(0)).sorted
    assert(noopGot.toSeq === noopWant.toSeq,
      "no-action matched rows changed")
    // cardinality violation: two source rows matching one target key
    val dupId = docs.where(col("doc_id") % 9 === 2)
      .agg(min("doc_id")).head().getLong(0)
    val one = docs.where(col("doc_id") === dupId)
    one.withColumn("op", lit("upd"))
      .unionByName(one.withColumn("text", lit("other"))
        .withColumn("op", lit("upd")))
      .createOrReplaceTempView(view)
    val exCard = intercept[IllegalArgumentException] {
      spark.sql(s"MERGE INTO $t AS tg USING $view AS s " +
        "ON tg.doc_id = s.doc_id " +
        "WHEN MATCHED THEN UPDATE SET text = s.text")
    }
    assert(exCard.getMessage.contains("cardinality"))
    // non-equi merge conditions have no keyed rewrite: loud
    docs.limit(1).withColumn("op", lit("x"))
      .createOrReplaceTempView(view)
    val exKey = intercept[UnsupportedOperationException] {
      spark.sql(s"MERGE INTO $t AS tg USING $view AS s " +
        "ON tg.doc_id > s.doc_id " +
        "WHEN MATCHED THEN UPDATE SET text = s.text")
    }
    assert(exKey.getMessage.contains("conjunction of"))
  }

  test("review r18: MERGE edge contracts — cast-differing key types " +
      "are still keyed; SET * with a same-named non-key source column " +
      "rejects (re-key hazard); a duplicate-keyed target rejects " +
      "honestly, not as a cardinality violation") {
    val root = mkTable("dbm2", "docs")
    registered()
    val t = s"gcat.dbm2.docs"
    // (1) INT source key vs BIGINT target key: the analyzer wraps one
    // side in a Cast — still a keyed equality, must run, not reject
    val someId = docs.agg(min("doc_id")).head().getLong(0)
    spark.sql(s"SELECT CAST($someId AS INT) AS doc_id, 'zz' AS lang")
      .createOrReplaceTempView("m2_cast_src")
    spark.sql(s"MERGE INTO $t AS tg USING m2_cast_src AS s " +
      "ON tg.doc_id = s.doc_id " +
      "WHEN MATCHED THEN UPDATE SET lang = s.lang")
    assert(spark.sql(s"SELECT lang FROM $t WHERE doc_id = $someId")
      .head().getString(0) === "zz",
      "the cast-keyed merge did not apply")
    // (2) the re-key hazard: join on s.k2, source ALSO has a column
    // named doc_id — SET * would assign tg.doc_id = s.doc_id (an
    // unrelated column, matched by NAME) and silently re-key; the
    // exprId guard must reject it loudly
    docs.limit(1)
      .select(col("doc_id").as("k2"), (col("doc_id") + 999999L)
        .as("doc_id"), col("lang"), col("text"))
      .createOrReplaceTempView("m2_rekey_src")
    val exRekey = intercept[UnsupportedOperationException] {
      spark.sql(s"MERGE INTO $t AS tg USING m2_rekey_src AS s " +
        "ON tg.doc_id = s.k2 " +
        "WHEN MATCHED THEN UPDATE SET *")
    }
    assert(exRekey.getMessage.contains("re-key"),
      s"wrong rejection: ${exRekey.getMessage}")
    // (3) duplicate-keyed TARGET: legal SQL (one source row may update
    // both) but the keyed rewrite would collapse them — its own honest
    // loud rejection, not the cardinality message blaming the source
    val b = scratchDir("graft-dupkey")
    val dupRoot = s"$b/t"
    import spark.implicits._
    ManifestTable.overwrite(spark, dupRoot,
      Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("doc_id", "text"))
    GraftCatalog.register(spark, "gdup", b.toString)
    Seq((1L, "upd")).toDF("doc_id", "text")
      .createOrReplaceTempView("m2_dup_src")
    val exDup = intercept[UnsupportedOperationException] {
      spark.sql("MERGE INTO gdup.t AS tg USING m2_dup_src AS s " +
        "ON tg.doc_id = s.doc_id " +
        "WHEN MATCHED THEN UPDATE SET text = s.text")
    }
    assert(exDup.getMessage.contains("multiple rows with merge key"),
      s"wrong rejection: ${exDup.getMessage}")
    // (3b) the SNEAKY duplicate: the action CONDITION fires for only
    // ONE of the two duplicate rows — the other never enters the
    // matched set, but the keyed rewrite would still remove BOTH and
    // insert one replacement, silently losing the non-firing row.
    // The guard must probe all join matches of rewritten keys, not
    // just the rows whose condition fired.
    val exDupCond = intercept[UnsupportedOperationException] {
      spark.sql("MERGE INTO gdup.t AS tg USING m2_dup_src AS s " +
        "ON tg.doc_id = s.doc_id " +
        "WHEN MATCHED AND tg.text = 'a' THEN UPDATE SET text = s.text")
    }
    assert(exDupCond.getMessage.contains("multiple rows with merge key"),
      s"wrong rejection: ${exDupCond.getMessage}")
    // and the table is untouched — the rejection happened before any
    // commit (both duplicates still present)
    assert(spark.sql("SELECT text FROM gdup.t WHERE doc_id = 1")
      .collect().map(_.getString(0)).sorted.toSeq === Seq("a", "b"),
      "rejected merge must not have modified the table")
  }

  test("r18: tag lifecycle through CALL — add_tag pins a retention " +
      "floor readable via VERSION AS OF 'name', remove_tag frees it") {
    val root = mkTable("dbtag", "docs")
    registered()
    val t = "gcat.dbtag.docs"
    val n1 = ManifestTable.readAt(spark, root, 1).count()
    val r1 = spark.sql("CALL gcat.system.add_tag(" +
      "table => 'dbtag.docs', name => 'base', version => 1)").head()
    assert(r1.getInt(0) === 3, s"add_tag diagnostics wrong: $r1")
    spark.sql("CALL gcat.system.vacuum(table => 'dbtag.docs', " +
      "retain => 1, orphan_retention_ms => 0)").collect()
    // the tagged v1 survived the retain=1 vacuum and resolves by name
    assert(spark.sql(
      s"SELECT count(*) AS n FROM $t VERSION AS OF 'base'")
      .head().getLong(0) === n1)
    val r2 = spark.sql("CALL gcat.system.remove_tag(" +
      "table => 'dbtag.docs', name => 'base')").head()
    assert(r2.getInt(0) === 4, s"remove_tag diagnostics wrong: $r2")
    spark.sql("CALL gcat.system.vacuum(table => 'dbtag.docs', " +
      "retain => 1, orphan_retention_ms => 0)").collect()
    assert(!ManifestTable.versions(spark, root).contains(1),
      "the untagged version survived the second vacuum")
  }

  test("r18: SQL MERGE inherits DELETE SEQUENCING over outstanding " +
      "equality deletes — NOT MATCHED INSERT resurrects a suppressed " +
      "key, untouched deleted keys stay suppressed, a differently-" +
      "keyed merge still rejects loudly") {
    val root = mkTable("dbseq", "docs")
    registered()
    val t = "gcat.dbseq.docs"
    // suppress every doc_id % 5 == 2 (MoR delete, keyed on doc_id)
    ManifestTable.deleteWhereKeyIn(spark, root, "doc_id",
      docs.where(col("doc_id") % 5 === 2).select("doc_id"))
    val suppressed = docs.where(col("doc_id") % 5 === 2)
      .select("doc_id").orderBy("doc_id")
      .collect().map(_.getLong(0))
    val (resKey, stayKey) = (suppressed.head, suppressed.last)
    val liveKey = docs.where(col("doc_id") % 5 === 0)
      .agg(min("doc_id")).head().getLong(0)
    // source: resurrect resKey (its row is SUPPRESSED, hence NOT
    // MATCHED — the insert action is the keyed resurrection path),
    // update liveKey
    docs.where(col("doc_id").isin(resKey, liveKey))
      .withColumn("text", lit("seq"))
      .createOrReplaceTempView("seq_src")
    spark.sql(
      s"""MERGE INTO $t AS tg USING seq_src AS s
         |ON tg.doc_id = s.doc_id
         |WHEN MATCHED THEN UPDATE SET text = s.text
         |WHEN NOT MATCHED THEN INSERT (doc_id, lang, text)
         |  VALUES (s.doc_id, s.lang, s.text)
         |""".stripMargin)
    val after = ManifestTable.read(spark, root)
    assert(after.where(col("doc_id") === resKey).count() === 1 &&
      after.where(col("doc_id") === resKey).head()
        .getAs[String]("text") === "seq",
      "the insert action did not resurrect the suppressed key")
    assert(after.where(col("doc_id") === stayKey).count() === 0,
      "an untouched suppressed key resurfaced through the SQL merge")
    assert(after.where(col("doc_id") === liveKey).head()
      .getAs[String]("text") === "seq")
    // a merge keyed on a DIFFERENT (unique) column cannot sequence
    // the doc_id-keyed delete set: mergeCoW's loud rejection must
    // surface through the SQL statement
    val root2 = new Path(new Path(wh, "dbseq"), "alt").toString
    ManifestTable.overwrite(spark, root2,
      docs.withColumn("alt_id", col("doc_id") + 1000000L))
    ManifestTable.deleteWhereKeyIn(spark, root2, "doc_id",
      docs.where(col("doc_id") % 5 === 2).select("doc_id"))
    spark.sql("SELECT * FROM gcat.dbseq.alt LIMIT 1")
      .createOrReplaceTempView("seq_bad")
    val ex = intercept[IllegalArgumentException] {
      spark.sql("MERGE INTO gcat.dbseq.alt AS tg USING seq_bad AS s " +
        "ON tg.alt_id = s.alt_id " +
        "WHEN MATCHED THEN UPDATE SET text = s.text")
    }
    assert(ex.getMessage.contains("cannot sequence"))
  }

  test("r19: composite-key SQL MERGE — conjunction folding, mixed-AND " +
      "and duplicate-key rejections, tuple re-key guard, dup-tuple " +
      "target rejection") {
    val b = scratchDir("graft-cmrg")
    import spark.implicits._
    val root = s"$b/t"
    ManifestTable.overwrite(spark, root,
      Seq((1L, 1L, "a"), (1L, 2L, "b"), (2L, 1L, "c"))
        .toDF("k1", "k2", "text"))
    GraftCatalog.register(spark, "gcm", b.toString)
    Seq((1L, 2L, "B2"), (3L, 1L, "new"))
      .toDF("k1", "k2", "text").createOrReplaceTempView("cm_src")
    // the happy path: two-column ON, update + insert, untouched rows
    // carried
    spark.sql("MERGE INTO gcm.t AS tg USING cm_src AS s " +
      "ON tg.k1 = s.k1 AND tg.k2 = s.k2 " +
      "WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *")
    assert(spark.sql("SELECT k1, k2, text FROM gcm.t ORDER BY k1, k2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSeq === Seq((1L, 1L, "a"), (1L, 2L, "B2"), (2L, 1L, "c"),
        (3L, 1L, "new")))
    // mixed AND: an equality + a non-equi conjunct rejects loudly
    val exMixed = intercept[UnsupportedOperationException] {
      spark.sql("MERGE INTO gcm.t AS tg USING cm_src AS s " +
        "ON tg.k1 = s.k1 AND tg.k2 < s.k2 " +
        "WHEN MATCHED THEN UPDATE SET text = s.text")
    }
    assert(exMixed.getMessage.contains("conjunction of"),
      exMixed.getMessage)
    // the same target column keyed twice rejects
    val exDupCol = intercept[Exception] {
      spark.sql("MERGE INTO gcm.t AS tg USING cm_src AS s " +
        "ON tg.k1 = s.k1 AND tg.k1 = s.k2 " +
        "WHEN MATCHED THEN UPDATE SET text = s.text")
    }
    assert(exDupCol.getMessage.contains("more than once"),
      exDupCol.getMessage)
    // re-keying the SECOND tuple column rejects (identity by exprId,
    // per pair — assigning k2 from s.k1 is a re-key even though s.k1
    // is a join-key attribute of the OTHER pair)
    val exRekey = intercept[UnsupportedOperationException] {
      spark.sql("MERGE INTO gcm.t AS tg USING cm_src AS s " +
        "ON tg.k1 = s.k1 AND tg.k2 = s.k2 " +
        "WHEN MATCHED THEN UPDATE SET k2 = s.k1")
    }
    assert(exRekey.getMessage.contains("re-key"), exRekey.getMessage)
    // a duplicate-TUPLE target (the raw synthetic lineitem's shape —
    // legal for the Scala keyed merge, forbidden by SQL's cardinality
    // rule) rejects loudly
    val root2 = s"$b/dup"
    ManifestTable.overwrite(spark, root2,
      Seq((1L, 1L, "a"), (1L, 1L, "a2"), (2L, 1L, "c"))
        .toDF("k1", "k2", "text"))
    Seq((1L, 1L, "hit")).toDF("k1", "k2", "text")
      .createOrReplaceTempView("cm_dup_src")
    val exDupT = intercept[UnsupportedOperationException] {
      spark.sql("MERGE INTO gcm.dup AS tg USING cm_dup_src AS s " +
        "ON tg.k1 = s.k1 AND tg.k2 = s.k2 " +
        "WHEN MATCHED THEN UPDATE SET text = s.text")
    }
    assert(exDupT.getMessage.contains("multiple rows with merge key"),
      exDupT.getMessage)
  }

  test("r19: WHEN NOT MATCHED BY SOURCE — all three families in one " +
      "commit; by-source dup-key rejection") {
    val b = scratchDir("graft-bsrc")
    import spark.implicits._
    val root = s"$b/t"
    ManifestTable.overwrite(spark, root,
      Seq((1L, "keep", "a"), (2L, "del", "b"), (3L, "mark", "c"),
        (4L, "src", "d")).toDF("doc_id", "tag", "text"))
    GraftCatalog.register(spark, "gbs", b.toString)
    Seq((4L, "src", "d2"), (9L, "new", "i"))
      .toDF("doc_id", "tag", "text").createOrReplaceTempView("bs_src")
    val vBefore = ManifestTable.currentVersion(spark, root).get
    spark.sql("MERGE INTO gbs.t AS tg USING bs_src AS s " +
      "ON tg.doc_id = s.doc_id " +
      "WHEN MATCHED THEN UPDATE SET text = s.text " +
      "WHEN NOT MATCHED THEN INSERT * " +
      "WHEN NOT MATCHED BY SOURCE AND tg.tag = 'del' THEN DELETE " +
      "WHEN NOT MATCHED BY SOURCE AND tg.tag = 'mark' " +
      "  THEN UPDATE SET text = concat(tg.text, '!')")
    // one statement, ONE commit — single-statement atomicity
    assert(ManifestTable.currentVersion(spark, root).get === vBefore + 1,
      "all three clause families must land in one commit")
    assert(spark.sql("SELECT doc_id, text FROM gbs.t ORDER BY doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "a"), (3L, "c!"), (4L, "d2"), (9L, "i")))
    // by-source dup-key: two target rows share the key, the action
    // condition fires for only one — the keyed rewrite would collapse
    // them; must reject, not silently lose the non-firing duplicate
    val root2 = s"$b/dup"
    ManifestTable.overwrite(spark, root2,
      Seq((1L, "del", "a"), (1L, "keep", "b"), (2L, "x", "c"))
        .toDF("doc_id", "tag", "text"))
    val ex = intercept[UnsupportedOperationException] {
      spark.sql("MERGE INTO gbs.dup AS tg USING bs_src AS s " +
        "ON tg.doc_id = s.doc_id " +
        "WHEN NOT MATCHED BY SOURCE AND tg.tag = 'del' THEN DELETE")
    }
    assert(ex.getMessage.contains("NOT MATCHED BY SOURCE"),
      ex.getMessage)
    assert(spark.sql("SELECT count(*) AS n FROM gbs.dup")
      .head().getLong(0) === 3L, "rejected merge must not commit")
  }

  test("r19: ALTER TABLE ADD COLUMN is a header-only evolution " +
      "commit; everything else rejects loudly") {
    val b = scratchDir("graft-alter")
    val root = s"$b/t"
    import spark.implicits._
    ManifestTable.overwrite(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text"))
    GraftCatalog.register(spark, "galt", b.toString)
    val filesBefore = ManifestTable.fileStats(spark, root).map(_._1)
    spark.sql("ALTER TABLE galt.t ADD COLUMN lang STRING")
    // header-only: version advanced, SAME data files, schema widened,
    // old rows read the new column as null
    assert(ManifestTable.currentVersion(spark, root).contains(2))
    assert(ManifestTable.fileStats(spark, root).map(_._1) === filesBefore,
      "ALTER ADD COLUMN must not touch data files")
    assert(spark.table("galt.t").columns.toSeq ===
      Seq("doc_id", "text", "lang"))
    assert(spark.sql("SELECT count(*) AS n FROM galt.t WHERE lang IS NULL")
      .head().getLong(0) === 2L)
    // multi-column form, with types
    spark.sql("ALTER TABLE galt.t ADD COLUMNS (score BIGINT, note STRING)")
    assert(spark.table("galt.t").columns.toSeq ===
      Seq("doc_id", "text", "lang", "score", "note"))
    // the evolved table accepts wider inserts and serves mixed history
    spark.sql("INSERT INTO galt.t VALUES (3, 'c', 'en', 7, 'x')")
    assert(spark.sql("SELECT sum(coalesce(score, 0)) AS s FROM galt.t")
      .head().getLong(0) === 7L)
    // rejections: NOT NULL, positioned, collision, rename, drop, retype
    val exNn = intercept[Exception] {
      spark.sql("ALTER TABLE galt.t ADD COLUMN req STRING NOT NULL") }
    assert(exNn.getMessage.contains("nullable"), exNn.getMessage)
    val exPos = intercept[Exception] {
      spark.sql("ALTER TABLE galt.t ADD COLUMN f STRING FIRST") }
    assert(exPos.getMessage.contains("FIRST/AFTER"), exPos.getMessage)
    val exDup = intercept[Exception] {
      spark.sql("ALTER TABLE galt.t ADD COLUMN LANG STRING") }
    assert(exDup.getMessage.contains("already exist"), exDup.getMessage)
    // RENAME COLUMN and DROP COLUMN are header-only commits riding
    // the stamped field ids (r19): same files, values preserved by id
    val filesPre = ManifestTable.fileStats(spark, root).map(_._1)
    spark.sql("ALTER TABLE galt.t RENAME COLUMN text TO body")
    assert(ManifestTable.fileStats(spark, root).map(_._1) === filesPre,
      "RENAME COLUMN must not touch data files")
    assert(spark.sql("SELECT body FROM galt.t WHERE doc_id = 1")
      .head().getString(0) === "a",
      "renamed column must serve the old files' values by field id")
    spark.sql("ALTER TABLE galt.t DROP COLUMN note")
    assert(spark.table("galt.t").columns.toSeq ===
      Seq("doc_id", "body", "lang", "score"))
    // bigint -> double now ROUTES (round-19 widening) but stays
    // rejected: cross-family, no lossless physical story
    val exType = intercept[Exception] {
      spark.sql("ALTER TABLE galt.t ALTER COLUMN score TYPE DOUBLE") }
    assert(exType.getMessage.contains("lossless"),
      exType.getMessage)
  }

  test("r19: readStream.table resolves the manifest source by name — " +
      "append tail with version offsets across a restart, CDF mode " +
      "and maxVersionsPerTrigger through reader options, pinned " +
      "rejection") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val b = scratchDir("graft-strm")
    val root = s"$b/t"
    GraftCatalog.register(spark, "gstr", b.toString)
    def drain(): Unit = {
      val q = spark.readStream.table("gstr.t")
        .writeStream.format("parquet")
        .option("path", s"$b/sink")
        .option("checkpointLocation", s"$b/ck")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    ManifestTable.overwrite(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text"))
    drain()
    assert(spark.read.parquet(s"$b/sink").count() === 2)
    // a second commit + a FRESH query on the SAME checkpoint: the
    // version offset continues — the restarted by-name stream must
    // deliver ONLY the new commit (exactly-once: 3 rows total, no
    // re-delivered snapshot)
    ManifestTable.append(spark, root,
      Seq((3L, "c")).toDF("doc_id", "text"))
    drain()
    assert(spark.read.parquet(s"$b/sink").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L),
      "restarted by-name stream must deliver ONLY v2's rows")
    // reader options flow through the name path: CDF mode tags rows
    ManifestTable.deleteWhereKeyIn(spark, root, "doc_id",
      Seq(1L).toDF("doc_id"))
    def drainCdf(): Unit = {
      val q = spark.readStream
        .option("readChangeFeed", "true")
        .table("gstr.t")
        .writeStream.format("parquet")
        .option("path", s"$b/cdfsink")
        .option("checkpointLocation", s"$b/ck_cdf")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drainCdf()
    val cdf = spark.read.parquet(s"$b/cdfsink")
      .select("doc_id", "_change").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    // the CDF stream starts fresh: the initial snapshot (the delete
    // above already applied) arrives tagged 'insert'
    assert(cdf === Set((2L, "insert"), (3L, "insert")),
      s"CDF by name wrong: $cdf")
    // ...and a LIVE delete observed by the continuing checkpoint
    ManifestTable.deleteWhereKeyIn(spark, root, "doc_id",
      Seq(2L).toDF("doc_id"))
    drainCdf()
    val cdf2 = spark.read.parquet(s"$b/cdfsink")
      .select("doc_id", "_change").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(cdf2 === cdf + ((2L, "delete")),
      s"CDF delta by name wrong: $cdf2")
    // a time-travel-pinned relation rejects the streaming fallback
    // (a stream tails LIVE commits)
    val exPin = intercept[IllegalArgumentException] {
      new GraftSqlTable("gstr.t@v1", root, pinned = Some(1)).v1Table
    }
    assert(exPin.getMessage.contains("pinned"), exPin.getMessage)
  }

  test("r19: branch lifecycle through CALL — create_branch forks, " +
      "the audit reads VERSION AS OF the name, publish_branch " +
      "promotes, drop_branch abandons") {
    import spark.implicits._
    val b = scratchDir("graft-callbr")
    val root = s"$b/t"
    ManifestTable.overwrite(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text"))
    GraftCatalog.register(spark, "gcb", b.toString)
    val r1 = spark.sql("CALL gcb.system.create_branch(" +
      "table => 't', name => 'stage')").head()
    assert(r1.getInt(0) === 2, s"create_branch diagnostics: $r1")
    ManifestTable.appendToBranch(spark, root, "stage",
      Seq((3L, "c")).toDF("doc_id", "text"))
    assert(spark.sql(
      "SELECT count(*) AS n FROM gcb.t VERSION AS OF 'stage'")
      .head().getLong(0) === 3L)
    assert(spark.sql("SELECT count(*) AS n FROM gcb.t")
      .head().getLong(0) === 2L, "staged append leaked to main")
    val r2 = spark.sql("CALL gcb.system.publish_branch(" +
      "table => 't', name => 'stage')").head()
    assert(r2.getInt(0) === 3, s"publish_branch diagnostics: $r2")
    assert(spark.sql("SELECT count(*) AS n FROM gcb.t")
      .head().getLong(0) === 3L)
    spark.sql("CALL gcb.system.create_branch(" +
      "table => 't', name => 'junk')").collect()
    ManifestTable.appendToBranch(spark, root, "junk",
      Seq((9L, "z")).toDF("doc_id", "text"))
    spark.sql("CALL gcb.system.drop_branch(" +
      "table => 't', name => 'junk')").collect()
    assert(ManifestTable.branchBase(spark, root, "junk").isEmpty)
    assert(spark.sql("SELECT count(*) AS n FROM gcb.t")
      .head().getLong(0) === 3L, "dropped branch leaked")
  }

  test("r19: the branch_<name> suffix identifier — INSERT INTO " +
      "stages on the branch, SELECT audits, overwrite and dead " +
      "branches reject, a real table wins the name") {
    import spark.implicits._
    val b = scratchDir("graft-brsfx")
    val root = s"$b/t"
    ManifestTable.overwrite(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text"))
    GraftCatalog.register(spark, "gbsfx", b.toString)
    spark.sql("CALL gbsfx.system.create_branch(" +
      "table => 't', name => 'stage')").collect()
    spark.sql("INSERT INTO gbsfx.t.branch_stage VALUES (3, 'c')")
    // both audit surfaces agree; main saw nothing
    assert(spark.sql("SELECT count(*) AS n FROM gbsfx.t.branch_stage")
      .head().getLong(0) === 3L)
    assert(spark.sql(
      "SELECT count(*) AS n FROM gbsfx.t VERSION AS OF 'stage'")
      .head().getLong(0) === 3L)
    assert(spark.sql("SELECT count(*) AS n FROM gbsfx.t")
      .head().getLong(0) === 2L, "suffix insert leaked to main")
    // the staged append obeys main's schema contract
    val exSchema = intercept[Exception] {
      spark.sql("INSERT INTO gbsfx.t.branch_stage VALUES (4)")
    }
    assert(exSchema.getMessage.toLowerCase.matches(
      "(?s).*(column|schema|match).*"), exSchema.getMessage)
    // truncating the branch rejects — publish soundness forbids it
    val exOw = intercept[Exception] {
      spark.sql("INSERT OVERWRITE gbsfx.t.branch_stage VALUES (9, 'z')")
    }
    assert(exOw.getMessage.contains("net change") ||
      exOw.getMessage.contains("re-fork"), exOw.getMessage)
    // publish lands the suffix-staged row on main
    spark.sql("CALL gbsfx.system.publish_branch(" +
      "table => 't', name => 'stage')").collect()
    assert(spark.sql(
      "SELECT sum(doc_id) AS s FROM gbsfx.t").head().getLong(0) === 6L)
    // a suffix naming no live branch fails at analysis
    val exDead = intercept[Exception] {
      spark.sql("SELECT * FROM gbsfx.t.branch_nope").collect()
    }
    assert(exDead.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND") ||
      exDead.getMessage.contains("branch_nope"), exDead.getMessage)
    // a REAL data table named branch_x wins the suffix resolution
    val realRoot = s"$b/t/branch_real"
    ManifestTable.overwrite(spark, realRoot,
      Seq((7L, "r")).toDF("doc_id", "text"))
    assert(spark.sql("SELECT doc_id FROM gbsfx.t.branch_real")
      .head().getLong(0) === 7L, "data table must win the name")
  }

  test("r19: the tags and branches metadata tables list the ref " +
      "state — what VERSION AS OF '<name>' can resolve; drop/publish " +
      "retire the branch row") {
    import spark.implicits._
    val b = scratchDir("graft-refs")
    val root = s"$b/t"
    ManifestTable.overwrite(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text"))
    ManifestTable.addTag(spark, root, "prod", 1)
    ManifestTable.createBranch(spark, root, "stage")
    ManifestTable.appendToBranch(spark, root, "stage",
      Seq((3L, "c")).toDF("doc_id", "text"))
    ManifestTable.appendToBranch(spark, root, "stage",
      Seq((4L, "d")).toDF("doc_id", "text"))
    GraftCatalog.register(spark, "grefs", b.toString)
    assert(spark.sql("SELECT tag, version FROM grefs.t.tags").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq ===
      Seq(("prod", 1)))
    val br = spark.sql(
      "SELECT branch, base_version, staged_commits " +
        "FROM grefs.t.branches").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSeq
    assert(br === Seq(("stage", 2, 2)), br.toString)
    ManifestTable.publishBranch(spark, root, "stage")
    assert(spark.sql("SELECT count(*) AS n FROM grefs.t.branches")
      .head().getLong(0) === 0L, "published branch still listed")
    assert(spark.sql("SELECT count(*) AS n FROM grefs.t.tags")
      .head().getLong(0) === 1L, "publish must not disturb tags")
  }

  test("r19: CTAS and RTAS through the catalog — CREATE TABLE AS " +
      "SELECT seeds and fills in one statement, REPLACE TABLE AS " +
      "SELECT swaps the definition, both land id-stamped schemas") {
    import spark.implicits._
    val b = scratchDir("graft-ctas")
    GraftCatalog.register(spark, "gctas", b.toString)
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
      .createOrReplaceTempView("ctas_src")
    spark.sql("CREATE TABLE gctas.t AS SELECT doc_id, text " +
      "FROM ctas_src WHERE doc_id <= 2")
    assert(spark.sql("SELECT count(*) AS n FROM gctas.t")
      .head().getLong(0) === 2L)
    // the CTAS-created table is a full citizen: id-stamped schema
    // (evolution-ready), normal commits (INSERT appends atomically)
    val root = s"$b/t"
    assert(ManifestTable.schemaAt(spark, root).isDefined)
    ManifestTable.renameColumn(spark, root, "text", "body") // needs ids
    spark.sql("INSERT INTO gctas.t VALUES (9, 'z')")
    assert(spark.sql("SELECT count(*) AS n FROM gctas.t")
      .head().getLong(0) === 3L)
    // RTAS: the definition swaps wholesale (new schema, new rows)
    spark.sql("REPLACE TABLE gctas.t AS SELECT doc_id * 10 AS k " +
      "FROM ctas_src")
    assert(spark.sql("SELECT sum(k) AS s FROM gctas.t")
      .head().getLong(0) === 60L)
    assert(spark.table("gctas.t").columns.toSeq === Seq("k"))
  }

  test("range translation: conjunctions intersect, In spans, " +
      "non-integral columns never constrain") {
    import org.apache.spark.sql.sources._
    val schema = docs.schema
    val r = GraftCatalogScan.rangesOf(Seq(
      GreaterThanOrEqual("doc_id", 10L), LessThan("doc_id", 20L),
      EqualTo("lang", "en"), IsNotNull("doc_id")), schema)
    assert(r === Map("doc_id" -> ((10L, 19L))))
    val rIn = GraftCatalogScan.rangesOf(Seq(
      In("doc_id", Array(5L, 1L, 9L))), schema)
    assert(rIn === Map("doc_id" -> ((1L, 9L))))
    // residual translation keeps conjunctions and Or/Not shapes
    val res = GraftCatalogScan.residualOf(Seq(
      Or(EqualTo("doc_id", 1L), EqualTo("doc_id", 2L)),
      Not(IsNull("lang"))))
    assert(res.isDefined)
  }
}
