package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The generalized multi-table transaction: one catalog commit
  * publishes N member versions, a crash between member and catalog
  * commits leaves an invisible orphan the next transact rolls back,
  * recovery is content-based (no restore churn), and a vacuum below
  * the pin fails loudly. */
class ManifestCatalogSpec extends SparkSpec {

  private def docs = graft.Tables.documents(spark, sfDir)
    .select("doc_id", "lang")

  private def freshCat(): ManifestCatalog.Catalog = {
    val b = scratchDir("graft-mcat").toString
    ManifestCatalog.Catalog(s"$b/catalog",
      Map("a" -> s"$b/a", "b" -> s"$b/b"))
  }

  test("crash between member commit and catalog commit: readers keep " +
      "the last complete transaction; the next transact rolls the " +
      "orphan back and lands cleanly") {
    val cat = freshCat()
    // seed txn
    ManifestCatalog.transact(spark, cat) { pinned =>
      assert(pinned.isEmpty, "first transaction must see no pins")
      Map(
        "a" -> ManifestTable.overwrite(spark, cat.tables("a"),
          docs.where(col("doc_id") % 2 === 0)),
        "b" -> ManifestTable.overwrite(spark, cat.tables("b"),
          docs.where(col("doc_id") % 2 === 1)))
    }
    val nA = docs.where(col("doc_id") % 2 === 0).count()
    assert(ManifestCatalog.readPinned(spark, cat, "a").count() === nA)
    // a txn that commits member 'a' then dies
    val ex = intercept[IllegalStateException] {
      ManifestCatalog.transact(spark, cat) { _ =>
        ManifestTable.overwrite(spark, cat.tables("a"), docs.limit(3))
        throw new IllegalStateException("injected crash")
      }
    }
    assert(ex.getMessage.contains("injected"))
    // the orphan is invisible to pinned readers...
    assert(ManifestCatalog.readPinned(spark, cat, "a").count() === nA,
      "a torn transaction leaked into a pinned read")
    // ...and the next transact rolls it back before computing: the
    // CURRENT version of 'a' must read as the pin's content again
    ManifestCatalog.transact(spark, cat) { pinned =>
      assert(ManifestTable.read(spark, cat.tables("a")).count() === nA,
        "recover did not roll the orphan back")
      Map(
        "a" -> ManifestTable.append(spark, cat.tables("a"),
          docs.where(col("doc_id") % 2 === 1)),
        "b" -> pinned("b"))
    }
    assert(ManifestCatalog.readPinned(spark, cat, "a").count()
      === docs.count())
    assert(ManifestCatalog.readPinned(spark, cat, "b").count()
      === docs.count() - nA)
  }

  test("recovery is content-based: a restore committed by a previous " +
      "recovery is not re-restored; an untouched member needs no " +
      "version churn") {
    val cat = freshCat()
    ManifestCatalog.transact(spark, cat) { _ =>
      Map(
        "a" -> ManifestTable.overwrite(spark, cat.tables("a"), docs),
        "b" -> ManifestTable.overwrite(spark, cat.tables("b"),
          docs.limit(5)))
    }
    // crash an update of 'a'
    intercept[IllegalStateException] {
      ManifestCatalog.transact(spark, cat) { _ =>
        ManifestTable.overwrite(spark, cat.tables("a"), docs.limit(1))
        throw new IllegalStateException("boom")
      }
    }
    // first recovery restores 'a' (content differed)
    ManifestCatalog.transact(spark, cat) { pinned => pinned }
    val vAfterFirst = ManifestTable.currentVersion(spark, cat.tables("a"))
    // second transact: 'a's newest is the restore (same files as pin)
    // — no further restore may be committed
    ManifestCatalog.transact(spark, cat) { pinned => pinned }
    assert(ManifestTable.currentVersion(spark, cat.tables("a"))
      === vAfterFirst, "recovery re-restored an already-recovered member")
    // 'b' was never touched: no version churn at all
    assert(ManifestTable.currentVersion(spark, cat.tables("b"))
      === Some(1))
  }

  test("a member vacuumed below its pin fails loudly; a transaction " +
      "must pin every member") {
    val cat = freshCat()
    ManifestCatalog.transact(spark, cat) { _ =>
      Map(
        "a" -> ManifestTable.overwrite(spark, cat.tables("a"), docs),
        "b" -> ManifestTable.overwrite(spark, cat.tables("b"), docs))
    }
    // an incomplete pin map is rejected before any catalog commit
    val exPins = intercept[IllegalArgumentException] {
      ManifestCatalog.transact(spark, cat) { pinned =>
        Map("a" -> pinned("a"))
      }
    }
    assert(exPins.getMessage.contains("every member"))
    // advance 'a' twice, then vacuum it below the pin
    ManifestCatalog.transact(spark, cat) { pinned =>
      Map("a" -> ManifestTable.append(spark, cat.tables("a"),
        docs.limit(1)), "b" -> pinned("b"))
    }
    // roll 'a' forward WITHOUT the catalog (simulates external vacuum
    // damage): drop every version below the newest, then move the pin
    // above what is retained by vacuuming below it
    ManifestTable.append(spark, cat.tables("a"), docs.limit(1))
    ManifestTable.vacuum(spark, cat.tables("a"), retain = 1,
      orphanRetentionMs = 0L)
    val exV = intercept[IllegalArgumentException] {
      ManifestCatalog.readPinned(spark, cat, "a")
    }
    assert(exV.getMessage.contains("vacuumed") ||
      exV.getMessage.contains("not present"))
  }

  test("verdict r17: two RACING transactions — the loser's catalog " +
      "commit aborts on the stale base instead of clobbering the " +
      "winner's pins; its retry recovers onto the winner's state and " +
      "lands") {
    val cat = freshCat()
    val evens = docs.where(col("doc_id") % 2 === 0)
    val odds = docs.where(col("doc_id") % 2 === 1)
    ManifestCatalog.transact(spark, cat) { _ =>
      Map("a" -> ManifestTable.overwrite(spark, cat.tables("a"), evens),
        "b" -> ManifestTable.overwrite(spark, cat.tables("b"), odds))
    }
    // txn A reads pins (catalog v1), advances member 'a'... and while
    // still in flight, txn B runs START TO FINISH (the deterministic
    // interleaving of the race): B's recovery rolls A's in-flight
    // member commit back (it is a dead transaction's orphan from B's
    // point of view), B advances 'b' and publishes catalog v2
    val exRace = intercept[java.util.ConcurrentModificationException] {
      ManifestCatalog.transact(spark, cat) { pinnedA =>
        val vA = ManifestTable.append(spark, cat.tables("a"),
          docs.limit(3))
        ManifestCatalog.transact(spark, cat) { pinnedB =>
          Map("a" -> pinnedB("a"),
            "b" -> ManifestTable.append(spark, cat.tables("b"),
              docs.limit(5)))
        }
        // A finishes its work and tries to publish pins computed
        // against catalog v1 — stale now that B committed v2
        Map("a" -> vA, "b" -> pinnedA("b"))
      }
    }
    assert(exRace.getMessage.contains("stale"),
      s"wrong abort: ${exRace.getMessage}")
    // B's transaction is intact: its pins are what readers see
    val afterRace = ManifestCatalog.pins(spark, cat)
    assert(ManifestCatalog.readAtPins(spark, cat, afterRace, "b")
      .count() === odds.count() + 5,
      "the loser clobbered the winner's pins")
    assert(ManifestCatalog.readAtPins(spark, cat, afterRace, "a")
      .count() === evens.count())
    // A's retry recovers (rolls back any of its orphaned member
    // commits), recomputes on B's pins, and lands
    ManifestCatalog.transact(spark, cat) { pinned =>
      assert(pinned === afterRace, "retry did not see the winner's pins")
      assert(ManifestTable.read(spark, cat.tables("a")).count()
        === evens.count(), "retry's recovery left A's orphan visible")
      Map("a" -> ManifestTable.append(spark, cat.tables("a"),
        docs.limit(3)), "b" -> pinned("b"))
    }
    val fin = ManifestCatalog.pins(spark, cat)
    assert(ManifestCatalog.readAtPins(spark, cat, fin, "a").count()
      === evens.count() + 3)
    assert(ManifestCatalog.readAtPins(spark, cat, fin, "b").count()
      === odds.count() + 5)
  }
}
