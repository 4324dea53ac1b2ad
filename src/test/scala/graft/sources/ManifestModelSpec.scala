package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** MODEL-BASED RANDOMIZED LIFECYCLE TEST: a random interleaving of
  * every table operation (append, equality delete — single-column or
  * COMPOSITE tuple per seed, delete-sequencing merge — tuple-keyed in
  * composite mode, row-level delete/update, optimize, restore, tag,
  * VACUUM, SCHEMA EVOLUTION incl. field-id RENAME/DROP of the evolved
  * column and TYPE WIDENING of the invariant column (int -> bigint,
  * narrowed back by restores, every writer re-casting to the
  * committed width), constraint add/drop, the SQL surface's UPDATE /
  * DELETE FROM / MERGE INTO statements plus CALL
  * add_tag/remove_tag through a registered catalog, and the full
  * WRITE-AUDIT-PUBLISH branch cycle — fork, stage via the Scala API
  * or the SQL `branch_<name>` suffix face, audit both read surfaces,
  * publish or drop, a concurrent main append sometimes landing
  * mid-cycle) is applied in
  * parallel to the real manifest table AND to an in-memory reference
  * model (a plain Map with snapshot history); after EVERY commit the
  * table read must equal the model exactly, and time travel to any
  * retained version must equal that version's model snapshot. This is
  * the differential-oracle discipline the per-operator specs can't
  * give: the BUG SURFACE of a table format is operation INTERACTION
  * (a merge after a delete after a restore, vacuum retirement meeting
  * carried files, evolution meeting a pre-evolution restore), and a
  * scripted gate only ever walks one path. Seeds are fixed — failures
  * replay deterministically. */
class ManifestModelSpec extends SparkSpec {

  private def freshRoot(): String =
    scratchDir("graft-model").toString +
      "/tbl"

  /** The differential read: doc_id -> text for the model compare,
    * PLUS the invariant column `w` checked in passing — w is always
    * doc_id % 127 by construction (every writer derives it), read
    * CAST to BIGINT so the check is width-agnostic: the table starts
    * w as INT, a widening op may take it to BIGINT, and a restore may
    * narrow it back — the VALUES must never move. */
  private def tableState(root: String): Map[Long, String] = {
    val rows = ManifestTable.read(spark, root)
      .selectExpr("doc_id", "text", "CAST(w AS BIGINT) AS wl")
      .collect()
    rows.foreach(r => assert(r.getLong(2) === r.getLong(0) % 127,
      s"w invariant broken at doc_id=${r.getLong(0)}: ${r.getLong(2)}"))
    rows.map(r => r.getLong(0) -> r.getString(1)).toMap
  }

  test("random operation interleavings: table == model after every " +
      "commit; time travel == the model's snapshot at that version; " +
      "single-column and composite-delete regimes, vacuum, evolution, " +
      "constraints in the alphabet") {
    for (seed <- Seq(11, 42, 2026, 7, 404)) {
      val rnd = new scala.util.Random(seed)
      val root = freshRoot()
      // per-seed regime: half the seeds run the COMPOSITE equality
      // tuple (doc_id, text) — suppression, sequencing, and the
      // resurrection guard all at whole-tuple granularity
      val composite = seed % 2 == 0
      val delCols =
        if (composite) Seq("doc_id", "text") else Seq("doc_id")
      // seed table: 40 keyed rows
      var model: Map[Long, String] =
        (1L to 40L).map(i => i -> s"doc-$i-v0").toMap
      // suppressed tuples (text = "" marks key-only in single mode)
      var outstandingDeletes = Set.empty[(Long, String)]
      var nextKey = 1000L
      var constraint = Option.empty[String]

      /** A full-row frame matching the table's CURRENT schema —
        * evolution may have added `extra`, and a restore may have
        * rolled it back off again. */
      def df(m: Iterable[(Long, String)],
             forceExtra: Boolean = false) = {
        import spark.implicits._
        val base = m.toSeq.toDF("doc_id", "text")
        // the evolved column may live under either name (a rename op
        // may have moved it; a restore may have moved it back)
        val evolvedName = ManifestTable.schemaAt(spark, root)
          .flatMap(_.fieldNames.find(n => n == "extra" || n == "extra2"))
          .orElse(if (forceExtra) Some("extra") else None)
        val withExtra = evolvedName
          .map(n => base.withColumn(n, col("doc_id") * 2))
          .getOrElse(base)
        // the invariant column, cast to the CURRENT committed width —
        // the widening op may have taken it to BIGINT, a restore may
        // have narrowed it back; the append contract is exact
        val wType = ManifestTable.schemaAt(spark, root)
          .flatMap(_.fields.find(_.name == "w")).map(_.dataType)
          .getOrElse(org.apache.spark.sql.types.IntegerType)
        val full = withExtra.withColumn("w",
          pmod(col("doc_id"), lit(127)).cast(wType))
        // committed-schema COLUMN ORDER: appendToBranch's contract is
        // exact (main's append realigns, the branch path doesn't)
        ManifestTable.schemaAt(spark, root)
          .filter(_.fieldNames.toSet == full.columns.toSet)
          .map(s => full.select(s.fieldNames.map(col).toSeq: _*))
          .getOrElse(full)
      }
      def delKeysDf(ts: Iterable[(Long, String)]) = {
        import spark.implicits._
        ts.toSeq.toDF("doc_id", "text").select(delCols.map(col): _*)
      }
      def tuplesOf(keys: Iterable[Long]): Seq[(Long, String)] =
        keys.toSeq.map(k => k -> model(k))

      var version = ManifestTable.overwrite(spark, root,
        df(model).repartitionByRange(4, col("doc_id"))
          .sortWithinPartitions("doc_id"),
        boundsCol = Some("doc_id"))
      val history = scala.collection.mutable.Map(version -> model)
      var taggedAt = Option.empty[Int]
      // the SQL surface joins the alphabet: the same model gates both
      // entry points (cross-surface differential testing — a drift
      // between the Scala rewrite and its SQL routing fails here)
      val catName = s"gmodel$seed"
      GraftCatalog.register(spark, catName,
        new java.io.File(root).getParent)
      val sqlT = s"$catName.`tbl`"

      def liveKeys: Seq[Long] = model.keys.toSeq.sorted

      for (step <- 1 to 24) {
        val op = rnd.nextInt(18)
        op match {
          case 0 => // append fresh keys (never resurrecting)
            val fresh = (1 to 1 + rnd.nextInt(4)).map { _ =>
              nextKey += 1; nextKey -> s"doc-$nextKey-new" }
            version = ManifestTable.append(spark, root, df(fresh),
              boundsCol = Some("doc_id"))
            model ++= fresh
          case 1 if liveKeys.size > 8 => // equality delete (MoR)
            val victims =
              tuplesOf(rnd.shuffle(liveKeys).take(1 + rnd.nextInt(3)))
            version = ManifestTable.deleteWhereKeysIn(spark, root,
              delCols, delKeysDf(victims))
            model --= victims.map(_._1)
            outstandingDeletes ++= victims
          case 2 if liveKeys.size > 8 => // delete-sequencing merge
            val removeKeys = rnd.shuffle(liveKeys).take(rnd.nextInt(3))
            val removes = tuplesOf(removeKeys)
            // resurrection in composite mode is EXACT-tuple only: the
            // upsert re-lands the suppressed tuple verbatim; single
            // mode may resurrect under fresh text (keyed)
            val resurrect = rnd.shuffle(outstandingDeletes.toSeq)
              .filterNot(t => removeKeys.contains(t._1))
              .take(rnd.nextInt(2))
              .map { case (k, t) =>
                k -> (if (composite) t else s"doc-$k-m$step") }
            val updatedKeys = rnd.shuffle(liveKeys)
              .filterNot(removeKeys.contains).take(1 + rnd.nextInt(3))
            val updates = updatedKeys.map(k => k -> s"doc-$k-m$step")
            // tuple-keyed mode must REMOVE the old tuples it replaces
            // (a new text is a new tuple, not a replacement)
            val allRemoves =
              if (composite) removes ++ tuplesOf(updatedKeys)
              else removes
            val ups = resurrect ++ updates
            version = ManifestTable.mergeCoWKeys(spark, root, delCols,
              delKeysDf(allRemoves), df(ups))._1
            model = model -- removes.map(_._1) ++ ups
            // composite: exactly the CHANGED TUPLES leave the delete
            // set; single: every changed KEY leaves it
            outstandingDeletes =
              if (composite) outstandingDeletes -- removes -- resurrect
              else outstandingDeletes.filterNot(t =>
                removes.map(_._1).contains(t._1) ||
                  ups.map(_._1).contains(t._1))
          case 3 if liveKeys.size > 8 => // row-level CoW delete
            val m = 2 + rnd.nextInt(3)
            val (v, _, rw) = ManifestTable.deleteWhere(spark, root,
              pmod(col("doc_id"), lit(m)) === 0)
            if (rw > 0) version = v
            model = model.filter { case (k, _) => k % m != 0 }
          case 4 => // row-level CoW update (predicate + SET)
            val m = 2 + rnd.nextInt(3)
            val (v, _, rw) = ManifestTable.updateWhere(spark, root,
              pmod(col("doc_id"), lit(m)) === 1,
              Seq("text" -> concat(col("text"), lit(s"+u$step"))))
            if (rw > 0) version = v
            model = model.map { case (k, t) =>
              k -> (if (k % m == 1) t + s"+u$step" else t) }
          case 5 => // optimize: rows invariant, delete set applied
            version = ManifestTable.optimize(spark, root, "doc_id",
              2 + rnd.nextInt(3))._1
            outstandingDeletes = Set.empty
          case 6 if history.size > 2 => // restore to a RETAINED version
            val candidates = ManifestTable.versions(spark, root)
              .filter(v => history.contains(v) && v < version)
            if (candidates.nonEmpty) {
              val target = rnd.shuffle(candidates).head
              version = ManifestTable.restore(spark, root, target)
              model = history(target)
              // the restored manifest carries that version's delete
              // state; rather than reconstruct it, stop treating any
              // tuple as resurrectable until the next delete re-seeds
              // the set (conservative: resurrection coverage pauses,
              // suppression correctness is the table's own job)
              outstandingDeletes = Set.empty
            }
          case 7 => // tag the current version (the tag commit itself
            // is a new, content-identical version)
            val target = version
            version = ManifestTable.addTag(spark, root, s"t$step", target)
            taggedAt = Some(target)
          case 8 => // VACUUM: retire history below the window (tag
            // floors hold); the model is untouched — only time travel
            // narrows, which the end-of-run check derives from
            // versions() itself
            ManifestTable.vacuum(spark, root,
              retain = 2 + rnd.nextInt(3), orphanRetentionMs = 0L)
          case 9 if !ManifestTable.schemaAt(spark, root)
              .exists(_.fieldNames.contains("extra")) =>
            // SCHEMA EVOLUTION: an append ADDS the extra column (the
            // committed #schema= header widens); pre-evolution rows
            // read it as null; a later restore may roll it back off
            val fresh = (1 to 2).map { _ =>
              nextKey += 1; nextKey -> s"doc-$nextKey-evo" }
            version = ManifestTable.append(spark, root,
              df(fresh, forceExtra = true), boundsCol = Some("doc_id"))
            model ++= fresh
          case 10 => // constraint add/drop (metadata commits; adding
            // scans existing data, so use an invariant that holds)
            constraint match {
              case None =>
                val name = s"c$step"
                version = ManifestTable.addConstraint(spark, root,
                  name, "text IS NOT NULL")
                constraint = Some(name)
              case Some(name) =>
                // the constraint may have been shed by a restore to a
                // pre-declaration version — drop only if still there
                if (ManifestTable.constraintsOf(spark, root)
                    .contains(name)) {
                  version = ManifestTable.dropConstraint(spark, root,
                    name)
                }
                constraint = None
            }
          case 11 => // SQL UPDATE through the post-hoc rule → the
            // same updateWhere rewrite, typed as a statement
            val m = 2 + rnd.nextInt(3)
            spark.sql(s"UPDATE $sqlT SET text = concat(text, '+s$step')" +
              s" WHERE doc_id % $m = 1")
            version = ManifestTable.currentVersion(spark, root).get
            model = model.map { case (k, t) =>
              k -> (if (k % m == 1) t + s"+s$step" else t) }
          case 12 if liveKeys.size > 8 => // SQL DELETE FROM
            // (SupportsDeleteV2 → the rowdelete CoW rewrite)
            val m = 2 + rnd.nextInt(3)
            spark.sql(s"DELETE FROM $sqlT WHERE doc_id % $m = 0")
            version = ManifestTable.currentVersion(spark, root).get
            model = model.filter { case (k, _) => k % m != 0 }
          case 13 if liveKeys.size > 8 => // SQL MERGE INTO: the richer
            // action matrix through the post-hoc rule onto the SAME
            // keyed sequencing commit (single: delete+update+insert+
            // keyed resurrection; composite: delete + exact-tuple
            // resurrection — an update would re-key the text column)
            val removeKeys = rnd.shuffle(liveKeys).take(rnd.nextInt(3))
            val removes = tuplesOf(removeKeys)
            val resurrect = rnd.shuffle(outstandingDeletes.toSeq)
              .filterNot(t => removeKeys.contains(t._1))
              .take(rnd.nextInt(2))
              .map { case (k, t) =>
                k -> (if (composite) t else s"doc-$k-q$step") }
            val fresh = (1 to 1 + rnd.nextInt(2)).map { _ =>
              nextKey += 1; nextKey -> s"doc-$nextKey-sqlins" }
            val updates =
              if (composite) Seq.empty
              else rnd.shuffle(liveKeys).filterNot(removeKeys.contains)
                .take(rnd.nextInt(3)).map(k => k -> s"doc-$k-q$step")
            val view = s"model_mrg_${seed}_$step"
            df(removes).withColumn("op", lit("del"))
              .unionByName(df(resurrect ++ fresh ++ updates)
                .withColumn("op", lit("ups")))
              .createOrReplaceTempView(view)
            val on =
              if (composite)
                "tg.doc_id = s.doc_id AND tg.text = s.text"
              else "tg.doc_id = s.doc_id"
            val matched =
              if (composite) "WHEN MATCHED AND s.op = 'del' THEN DELETE "
              else "WHEN MATCHED AND s.op = 'del' THEN DELETE " +
                "WHEN MATCHED THEN UPDATE SET * "
            spark.sql(s"MERGE INTO $sqlT AS tg USING $view AS s " +
              s"ON $on $matched" +
              "WHEN NOT MATCHED AND s.op = 'ups' THEN INSERT *")
            version = ManifestTable.currentVersion(spark, root).get
            model = model -- removeKeys ++ resurrect ++ fresh ++ updates
            outstandingDeletes =
              if (composite) outstandingDeletes -- resurrect
              else outstandingDeletes.filterNot(t =>
                removeKeys.contains(t._1) ||
                  (resurrect ++ updates).map(_._1).contains(t._1))
          case 14 => // tag lifecycle through SQL CALL: add_tag pins the
            // current version; sometimes remove it again right away
            val tn = s"ct$step"
            spark.sql(s"CALL $catName.system.add_tag(" +
              s"table => 'tbl', name => '$tn', version => $version)")
              .collect()
            version = ManifestTable.currentVersion(spark, root).get
            if (rnd.nextBoolean()) {
              spark.sql(s"CALL $catName.system.remove_tag(" +
                s"table => 'tbl', name => '$tn')").collect()
              version = ManifestTable.currentVersion(spark, root).get
            } else taggedAt = Some(version - 1)
          case 15 if ManifestTable.schemaAt(spark, root).exists(sc =>
              sc.fieldNames.exists(n => n == "extra" || n == "extra2")) =>
            // field-id RENAME/DROP of the evolved column (header-only;
            // the doc_id/text core never evolves — text is a delete
            // column in composite mode and constraint-referenced at
            // times, both rejected by design)
            val cur = ManifestTable.schemaAt(spark, root).get
              .fieldNames.find(n => n == "extra" || n == "extra2").get
            if (rnd.nextBoolean()) {
              val to = if (cur == "extra") "extra2" else "extra"
              version = ManifestTable.renameColumn(spark, root, cur, to)
            } else {
              version = ManifestTable.dropColumn(spark, root, cur)
            }
          case 16 => // WRITE-AUDIT-PUBLISH cycle: fork, stage (the
            // Scala API or the SQL branch_<name> suffix face, per
            // coin), audit both read surfaces, then publish or drop —
            // with an optional CONCURRENT MAIN APPEND between stage
            // and publish (publish soundness must carry it)
            val bn = s"b$step"
            version = ManifestTable.createBranch(spark, root, bn)
            history(version) = model // pointer commit, content same
            val staged = (1 to 1 + rnd.nextInt(2)).map { _ =>
              nextKey += 1; nextKey -> s"doc-$nextKey-br" }
            if (rnd.nextBoolean())
              ManifestTable.appendToBranch(spark, root, bn, df(staged))
            else {
              val view = s"model_br_${seed}_$step"
              df(staged).createOrReplaceTempView(view)
              spark.sql(s"INSERT INTO $catName.`tbl`.`branch_$bn` " +
                s"SELECT * FROM $view")
            }
            // audit: both surfaces see base+staged; main is untouched
            // (the post-op assert proves main == model either way)
            assert(ManifestTable.readBranch(spark, root, bn)
              .count() === model.size + staged.size,
              s"seed=$seed step=$step: branch audit lost rows")
            assert(spark.sql(
              s"SELECT count(*) AS n FROM $catName.`tbl`.`branch_$bn`")
              .head().getLong(0) === model.size + staged.size,
              s"seed=$seed step=$step: suffix audit disagrees")
            if (rnd.nextBoolean()) { // concurrent main movement
              nextKey += 1
              val fresh = Seq(nextKey -> s"doc-$nextKey-c")
              version = ManifestTable.append(spark, root, df(fresh),
                boundsCol = Some("doc_id"))
              model ++= fresh
              history(version) = model
            }
            if (rnd.nextBoolean()) {
              version = ManifestTable.publishBranch(spark, root, bn)
              model ++= staged
            } else {
              version = ManifestTable.dropBranch(spark, root, bn)
            }
          case 17 if ManifestTable.schemaAt(spark, root)
              .exists(_.fields.exists(f => f.name == "w" &&
                f.dataType ==
                  org.apache.spark.sql.types.IntegerType)) =>
            // TYPE WIDENING: header-only int -> bigint on the
            // invariant column; a later RESTORE may narrow it back
            // (the committed schema rolls with the manifest), and
            // every subsequent writer re-casts to the committed width
            // — tableState's width-agnostic w check gates the values
            // through every transition
            version = ManifestTable.widenColumn(spark, root, "w",
              org.apache.spark.sql.types.LongType)
          case _ => // skipped guard (too few rows): append instead
            nextKey += 1
            version = ManifestTable.append(spark, root,
              df(Seq(nextKey -> s"doc-$nextKey-fb")),
              boundsCol = Some("doc_id"))
            model += nextKey -> s"doc-$nextKey-fb"
        }
        history(version) = model
        assert(tableState(root) === model,
          s"seed=$seed step=$step op=$op v$version " +
            s"(composite=$composite): table != model")
      }
      // SCRIPTED EPILOGUE on one composite seed: the named interaction
      // merge-AFTER-composite-delete-AFTER-restore — a restore rolls
      // the table (and its delete state) back, a fresh composite
      // delete suppresses tuples, then one SQL MERGE must sequence
      // them (exact-tuple resurrection + live delete + insert) on the
      // rolled-back lineage.
      if (composite && seed == 42) {
        val candidates = ManifestTable.versions(spark, root)
          .filter(v => history.contains(v) && v < version)
        assert(candidates.nonEmpty, "epilogue needs a retained version")
        val target = candidates.last
        version = ManifestTable.restore(spark, root, target)
        model = history(target)
        history(version) = model
        val victims = tuplesOf(liveKeys.take(3))
        version = ManifestTable.deleteWhereKeysIn(spark, root, delCols,
          delKeysDf(victims))
        model --= victims.map(_._1)
        history(version) = model
        val dead = victims.head // resurrect exactly this tuple
        val live = tuplesOf(liveKeys.take(1)) // delete this one
        nextKey += 1
        val fresh = Seq(nextKey -> s"doc-$nextKey-epi")
        val view = s"model_epi_$seed"
        df(live).withColumn("op", lit("del"))
          .unionByName(df(Seq(dead) ++ fresh)
            .withColumn("op", lit("ups")))
          .createOrReplaceTempView(view)
        spark.sql(s"MERGE INTO $sqlT AS tg USING $view AS s " +
          "ON tg.doc_id = s.doc_id AND tg.text = s.text " +
          "WHEN MATCHED AND s.op = 'del' THEN DELETE " +
          "WHEN NOT MATCHED AND s.op = 'ups' THEN INSERT *")
        version = ManifestTable.currentVersion(spark, root).get
        model = model -- live.map(_._1) ++ Seq(dead) ++ fresh
        history(version) = model
        assert(tableState(root) === model,
          s"seed=$seed epilogue: merge-after-composite-delete-after-" +
            "restore drifted from the model")
      }
      // time travel: every retained version equals its model snapshot
      ManifestTable.versions(spark, root)
        .filter(history.contains).foreach { v =>
        val got = ManifestTable.readAt(spark, root, v)
          .select("doc_id", "text").collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
        assert(got === history(v),
          s"seed=$seed: time travel to v$v != model snapshot")
      }
      // and the tag (if any) resolves to its version's model — unless
      // a restore rolled the tag declaration itself away
      taggedAt.foreach { v =>
        val name = ManifestTable.tags(spark, root)
          .find(_._2 == v).map(_._1)
        name.filter(_ => ManifestTable.versions(spark, root)
          .contains(v)).foreach { n =>
          val got = ManifestTable.readAtTag(spark, root, n)
            .select("doc_id", "text").collect()
            .map(r => r.getLong(0) -> r.getString(1)).toMap
          assert(got === history(v),
            s"seed=$seed: tag $n != model snapshot at v$v")
        }
      }
    }
  }
}
