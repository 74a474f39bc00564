package graft

import java.nio.file.Files

import graft.store.{Layout, Merge, Retention, TableDir}

/** Merge contract (FIXTURES.md §A.5; reference semantics from
  * /root/reference/glue_jobs/etl-s3-processed-to-redshift.py:54-96):
  * after each merge, keys are unique, latest batch wins, unmatched
  * target rows survive. */
class MergeSpec extends SparkSuite {
  import spark.implicits._

  private def byKey(rows: Seq[(String, String, Int)]) =
    rows.map(r => r._1 -> r).toMap

  test("in-memory merge: insert, update, intra-batch duplicates") {
    val target = Seq(("k1", "a", 1), ("k2", "b", 1))
      .toDF("id", "payload", "batch")
    // batch updates k2, inserts k3, and contains duplicate k3 rows
    val batch = Seq(("k2", "b2", 2), ("k3", "c", 2), ("k3", "c-dup", 2))
      .toDF("id", "payload", "batch")
    val out = Merge.merge(target, batch, Seq("id"))
      .as[(String, String, Int)].collect().toSeq
    val m = byKey(out)
    assert(out.length === 3, "keys unique after merge")
    assert(m("k1") === ("k1", "a", 1), "unmatched target row survives")
    assert(m("k2") === ("k2", "b2", 2), "matched key: latest batch wins")
    assert(m("k3")._3 === 2, "new key inserted")
  }

  test("durable three-batch sequence into parquet table") {
    val dir = tmpDir("merge").resolve("dim_test").toString
    val b1 = Seq(("k1", "v1", 1), ("k2", "v1", 1), ("k3", "v1", 1))
      .toDF("id", "payload", "batch")
    val b2 = Seq(("k2", "v2", 2), ("k4", "v2", 2))
      .toDF("id", "payload", "batch")
    val b3 = Seq(("k5", "v3", 3), ("k5", "v3b", 3)) // intra-batch dup
      .toDF("id", "payload", "batch")

    Merge.mergeIntoParquet(spark, dir, b1, Seq("id"))
    Merge.mergeIntoParquet(spark, dir, b2, Seq("id"))
    Merge.mergeIntoParquet(spark, dir, b3, Seq("id"))

    val out = spark.read.parquet(dir).as[(String, String, Int)].collect().toSeq
    assert(out.map(_._1).distinct.length === out.length, "keys unique")
    assert(out.length === 5)
    val m = byKey(out)
    assert(m("k1")._3 === 1 && m("k3")._3 === 1)
    assert(m("k2") === ("k2", "v2", 2), "latest batch wins")
    assert(m("k4")._3 === 2 && m("k5")._3 === 3)
  }

  test("partition-scoped merge rewrites only touched partitions") {
    val dir = tmpDir("mergeP").resolve("fact_test").toString
    val b1 = Seq(("t1", "2025-01-01", 1), ("t2", "2025-01-02", 1))
      .toDF("id", "day", "batch")
    Merge.mergeIntoPartitioned(spark, dir, b1, Seq("id"), "day")
    // batch touches only day=2025-01-02: updates t2, inserts t3
    val b2 = Seq(("t2", "2025-01-02", 2), ("t3", "2025-01-02", 2))
      .toDF("id", "day", "batch")
    Merge.mergeIntoPartitioned(spark, dir, b2, Seq("id"), "day")
    val out = spark.read.parquet(dir)
      .selectExpr("id", "cast(day as string) day", "batch")
      .as[(String, String, Int)].collect().toSeq
    val m = byKey(out)
    assert(out.length === 3)
    assert(m("t1")._3 === 1, "untouched partition survives")
    assert(m("t2")._3 === 2 && m("t3")._3 === 2)
  }

  test("a table left only as its parked generation loses no prior row") {
    // a JVM stop between TableDir.replace's two moves leaves the live
    // directory absent and the last committed generation parked; the
    // next rewrite of any kind must start from that generation
    val prior = Seq(("k1", "v1", 1), ("k2", "v1", 1), ("k3", "v1", 1))
    val cases: Seq[(String, String => Unit, Set[String])] = Seq(
      ("mergeIntoParquet", dir => Merge.mergeIntoParquet(spark, dir,
          Seq(("k4", "v2", 2)).toDF("id", "payload", "batch"), Seq("id")),
        Set("k1", "k2", "k3", "k4")),
      ("Retention.forget", dir => assert(
          Retention.forget(spark, dir, "id", Seq("k2").toDF("id")) ===
            ((3L, 1L)), "forget counts every prior row"),
        Set("k1", "k3")),
      ("Layout.compact", dir => Layout.compact(spark, dir, 1L << 20),
        Set("k1", "k2", "k3")))
    cases.foreach { case (name, call, expected) =>
      val live = tmpDir("crash").resolve("dim_test")
      prior.toDF("id", "payload", "batch")
        .write.parquet(TableDir.parked(live).toString)
      call(live.toString)
      val ids = spark.read.parquet(live.toString)
        .as[(String, String, Int)].collect().map(_._1)
      assert(ids.sorted.toSeq === expected.toSeq.sorted, name)
      assert(!Files.exists(TableDir.parked(live)),
        s"$name: parked generation dropped after the commit")
      assert(!Files.exists(TableDir.staged(live)),
        s"$name: staged generation moved in")
    }
  }

  test("deleteTree removes a tree leaves first and counts its entries") {
    val root = tmpDir("tree").resolve("t")
    Files.createDirectories(root.resolve("a/b"))
    Files.writeString(root.resolve("a/b/f1"), "x")
    Files.writeString(root.resolve("f2"), "y")
    assert(TableDir.deleteTree(root) === 5L, "t, a, a/b, a/b/f1, f2")
    assert(!Files.exists(root))
    assert(TableDir.deleteTree(root) === 0L, "a missing tree is a no-op")
  }
}
