package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The change-set contract on a hand-made 4-id snapshot pair — id 1
  * unchanged, id 2 removed, id 3 added, id 4 modified — for both hash
  * shapes the refresh family diffs: md5 of a text column (the document
  * snapshots) and md5 of a vector's decimal rendering (the embedding
  * snapshots). */
class DeltaSpec extends SparkSpec {
  import spark.implicits._

  private def check(kind: String, a: DataFrame, b: DataFrame,
                    hash: Column): Unit = {
    def hashed(d: DataFrame) = d.select(col("id"), hash.as("h"))
    val delta = Delta.classify(hashed(a), hashed(b), "id", "h")
    val classes = delta.select("id", "change").as[(Int, String)]
      .collect().toMap
    assert(classes === Map(2 -> "removed", 3 -> "added", 4 -> "modified"),
      s"$kind: classes")
    // an absent side reads "", a present one its digest
    val hashes = delta.select("id", "old_h", "new_h")
      .as[(Int, String, String)].collect()
    hashes.foreach { case (id, o, n) =>
      assert((o.isEmpty, n.isEmpty) ===
        (id == 3, id == 2), s"$kind: hashes of id $id")
    }
    def ids(d: DataFrame) = d.select("id").as[Int].collect().toSet
    assert(ids(Delta.stale(delta)) === Set(2, 4), s"$kind: stale")
    assert(ids(Delta.fresh(delta)) === Set(3, 4), s"$kind: fresh")

    // a derived table with two rows per id: refreshing A's by the delta
    // must drop every row of exactly the stale ids, derive rows for
    // exactly the fresh ids, and equal B's derived table
    def derive(d: DataFrame) = hashed(d)
      .withColumn("k", explode(lit(Array(1, 2))))
    val refreshed = Delta.apply(derive(a), delta.select("id", "change"),
        "id")(fresh => derive(b.join(fresh, Seq("id"))))
    def rows(d: DataFrame) = d.select("id", "h", "k")
      .as[(Int, String, Int)].collect().toSeq.sorted
    assert(rows(refreshed) === rows(derive(b)), s"$kind: refresh != rebuild")
    assert(rows(refreshed).map(_._1).distinct === Seq(1, 3, 4),
      s"$kind: surviving ids")
  }

  test("text-md5 snapshots: classes, stale/fresh sets, apply") {
    val a = Seq(1 -> "same", 2 -> "gone", 4 -> "old text").toDF("id", "text")
    val b = Seq(1 -> "same", 3 -> "new", 4 -> "old text v2").toDF("id", "text")
    check("text", a, b, md5(col("text")))
  }

  test("vector-hash snapshots: classes, stale/fresh sets, apply") {
    val a = Seq(1 -> Seq(1.0, 2.0), 2 -> Seq(3.0), 4 -> Seq(5.0, 6.0))
      .toDF("id", "v")
    val b = Seq(1 -> Seq(1.0, 2.0), 3 -> Seq(7.0), 4 -> Seq(6.0, 5.0))
      .toDF("id", "v")
    check("vector", a, b,
      md5(concat_ws(",", transform(col("v"), _.cast("string")))))
  }
}
