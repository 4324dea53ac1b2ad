package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** MULTI-TABLE TRANSACTIONS over manifest tables — the catalog-pointer
  * pattern (the Iceberg-catalog / Delta-log shape) lifted out of
  * [[graft.operators.SuffixRefresh]] into a reusable primitive: N
  * member tables advance independently, and ONE commit of a dedicated
  * catalog table — whose rows are the (relation, version) pins of the
  * last COMPLETE transaction — publishes them all at once. Readers
  * resolve the pinned versions ([[readPinned]]), so they can never
  * pair versions from different transactions; a writer that dies
  * between a member commit and the catalog commit leaves only orphaned
  * member versions, invisible to every reader and rolled back by the
  * next [[transact]].
  *
  * Contract:
  *  - '''Racing writers: exactly one wins.''' The catalog commit
  *    targets exactly `base + 1` for the base whose pins the
  *    transaction read, so of two racing [[transact]]s the second
  *    catalog rename ABORTS loudly (ConcurrentModificationException)
  *    instead of clobbering the winner's pins with pins computed from
  *    a stale base; the loser's member commits are orphans its retry's
  *    recovery rolls back before recomputing on the winner's pins.
  *    Readers need no coordination — one catalog read pins a
  *    consistent set.
  *  - '''Recovery is content-based''': a member whose newest manifest
  *    lists different FILES than its pin carries a dead transaction's
  *    commit and is rolled back with [[ManifestTable.restore]] (zero
  *    data IO) before the new transaction computes — a merge computed
  *    over half-applied state would silently corrupt. A member whose
  *    newest version is just a restore of the pin (same files) is left
  *    alone, so recovery does not re-restore forever.
  *  - '''Vacuum floor''': vacuuming a member below its pin makes the
  *    state unrecoverable — [[transact]] fails loudly ("rebuild").
  *
  * Why it matters at 100 TB: every stateful maintenance job pairs a
  * TABLE with its derived STATE (a suffix index and its summaries, an
  * SCD2 dimension and its current snapshot, a vector index and its
  * codebook). Advancing them with two independent commits leaves a
  * window where readers pair new data with old state; this primitive
  * closes the window with one O(1) catalog rename, exactly as the
  * public formats coordinate their own multi-file metadata. */
object ManifestCatalog {

  /** A catalog instance: the catalog table's root + the member tables
    * (stable relation name → table root). */
  case class Catalog(catalogRoot: String, tables: Map[String, String]) {
    require(tables.nonEmpty, "a catalog needs at least one member table")
  }

  /** The pinned (relation → version) map of the last complete
    * transaction — ONE atomic manifest read. */
  def pins(spark: SparkSession, cat: Catalog): Map[String, Int] =
    // O(|tables|) rows by construction — bounded collect
    ManifestTable.read(spark, cat.catalogRoot)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap

  private def commitPins(spark: SparkSession, cat: Catalog,
                         p: Map[String, Int],
                         expectedBase: Option[Int]): Unit = {
    import spark.implicits._
    // the catalog commit targets exactly base+1 (the version whose
    // pins this transaction READ): two racing transactions both
    // recover+compute, but only the first catalog rename lands — the
    // loser aborts here instead of overwriting the winner's pins with
    // pins computed from a stale base (its member commits become
    // orphans the next transact rolls back)
    ManifestTable.overwrite(spark, cat.catalogRoot,
      p.toSeq.sortBy(_._1).toDF("rel", "version").coalesce(1),
      expectedBase = expectedBase)
    ()
  }

  /** Member `name`'s table at its PINNED version. A consumer reading
    * MULTIPLE members must call [[pins]] ONCE and resolve each member
    * from that one map (or use this single-member shortcut only for
    * one table) — two readPinned calls could straddle a concurrent
    * transaction's commit and pair versions from different
    * transactions. */
  def readPinned(spark: SparkSession, cat: Catalog,
                 name: String): DataFrame =
    readAtPins(spark, cat, pins(spark, cat), name)

  /** Resolve member `name` from an already-fetched pin map — the
    * multi-member consumer's read (one [[pins]] call, N of these). */
  def readAtPins(spark: SparkSession, cat: Catalog,
                 p: Map[String, Int], name: String): DataFrame = {
    require(p.contains(name),
      s"catalog ${cat.catalogRoot} pins no relation '$name' " +
        s"(has ${p.keys.toSeq.sorted.mkString(", ")})")
    ManifestTable.readAt(spark, cat.tables(name), p(name))
  }

  /** Roll every member whose newest manifest DIFFERS from its pin back
    * to the pin (a dead transaction's orphan); loud when a member is
    * missing or vacuumed below its pin. Returns the pins. */
  private def recover(spark: SparkSession,
                      cat: Catalog): Map[String, Int] = {
    val p = pins(spark, cat)
    cat.tables.foreach { case (name, root) =>
      val pin = p.getOrElse(name, throw new IllegalStateException(
        s"catalog ${cat.catalogRoot} pins no relation '$name'"))
      val cur = ManifestTable.currentVersion(spark, root)
      require(cur.exists(_ >= pin),
        s"catalog member $root is " +
          cur.map(c => s"behind its pin ($c < $pin) — vacuumed below " +
            "the pin").getOrElse("missing entirely") +
          "; the state is unrecoverable — rebuild it")
      if (cur.get > pin) {
        // content-based: identical file lists (e.g. the restore a
        // PREVIOUS recovery committed) need no second restore
        val (added, removed) =
          ManifestTable.changedFiles(spark, root, pin, cur.get)
        if (added.nonEmpty || removed.nonEmpty) {
          ManifestTable.restore(spark, root, pin)
          ()
        }
      }
    }
    p
  }

  /** ONE multi-table transaction: recover from any crashed predecessor,
    * hand the pinned versions to `work` — which advances the member
    * tables however it likes (append / mergeCoW / overwrite) and
    * returns the new version of EVERY member — then publish them with
    * one catalog commit. If `work` throws, the catalog is untouched
    * and the members' partial commits are orphans the next transact
    * rolls back. The FIRST transaction (no catalog yet) receives an
    * empty pin map and seeds the catalog. */
  def transact(spark: SparkSession, cat: Catalog)(
      work: Map[String, Int] => Map[String, Int]): Map[String, Int] = {
    // resolve the catalog base BEFORE reading pins/recovering: the
    // final catalog commit must land on exactly this base, or the
    // pins it publishes were computed against state another
    // transaction has since replaced (stale-base abort — the same
    // read-modify-write discipline single-table overwrite carries)
    val base = ManifestTable.currentVersion(spark, cat.catalogRoot)
    val pinned =
      if (base.isEmpty) Map.empty[String, Int]
      else recover(spark, cat)
    val next = work(pinned)
    require(next.keySet == cat.tables.keySet,
      s"transaction must pin every member table exactly: got " +
        s"${next.keys.toSeq.sorted.mkString(", ")}, need " +
        cat.tables.keys.toSeq.sorted.mkString(", "))
    commitPins(spark, cat, next, expectedBase = base.orElse(Some(0)))
    next
  }
}
