package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import java.nio.file.Files

/** Contracts of the keyed write verbs' shared commit core: who owns a
  * batch cache, and that every delete verb (and every DML mode) lands
  * the same content and reports the same file counts it always has. */
class CommitCoreSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft_commit_core_spec").toString + "/tbl"

  private def rows(lo: Int, hi: Int) = spark.range(lo, hi + 1).select(
    $"id".as("k"), concat(lit("row"), $"id").as("name"),
    ($"id" * 10).as("v"))

  test("a batch the caller cached stays cached after upsert and " +
    "applyCdcBatch; a batch the verb cached itself is released") {
    val root = freshRoot()
    GraftTable.create(spark, root, rows(1, 100), "k", nBuckets = 2)
    val up = rows(1, 5).withColumn("name", lit("up")).cache()
    up.count()
    GraftTable.upsert(spark, root, up, "k")
    assert(up.storageLevel != StorageLevel.NONE)
    val cdc = rows(6, 10).withColumn("name", lit("cdc"))
      .withColumn("_op", lit("upsert")).cache()
    cdc.count()
    GraftTable.applyCdcBatch(spark, root, cdc, "k")
    assert(cdc.storageLevel != StorageLevel.NONE)
    val own = rows(11, 15).withColumn("name", lit("own"))
    GraftTable.upsert(spark, root, own, "k")
    assert(own.storageLevel === StorageLevel.NONE)
    assert(GraftTable.read(spark, root).groupBy("name").count()
      .filter($"name".isin("up", "cdc", "own")).as[(String, Long)]
      .collect().toMap === Map("up" -> 5L, "cdc" -> 5L, "own" -> 5L))
    up.unpersist(); cdc.unpersist()
  }

  // four single-file key ranges: [1,100] [101,200] [201,300] [301,400]
  private def fourFiles(mode: Option[String]): String = {
    val root = freshRoot()
    GraftTable.create(spark, root, rows(1, 100), "k", nBuckets = 1)
    Seq(101, 201, 301).foreach(lo =>
      GraftTable.upsert(spark, root, rows(lo, lo + 99), "k", nBuckets = 1))
    mode.foreach(GraftTable.setTableProperty(spark, root, "graft.dml.mode", _))
    assert(GraftTable.history(spark, root).last === ((3, 4, 400L)))
    root
  }

  // empties file 1, touches file 2 lightly (1 %), dirties file 3 (70 %)
  private val pred = $"k" <= 100 || $"k" === 150 || ($"k" > 200 && $"k" <= 270)

  private def sorted(df: org.apache.spark.sql.DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  test("delete parity: deleteWhere, deleteWhereDv and deleteWhereAuto " +
    "under every graft.dml.mode land the same content and change feed") {
    val runs: Seq[(String, String => Product)] = Seq(
      "deleteWhere" -> (r => GraftTable.deleteWhere(spark, r, pred, "k")),
      "deleteWhereDv" -> (r => GraftTable.deleteWhereDv(spark, r, pred)),
      "auto@cow" -> (r => GraftTable.deleteWhereAuto(spark, r, pred, "k")),
      "auto@dv" -> (r => GraftTable.deleteWhereAuto(spark, r, pred, "k")),
      "auto@auto" -> (r => GraftTable.deleteWhereAuto(spark, r, pred, "k")))
    val modes = Map("auto@cow" -> "cow", "auto@dv" -> "dv",
      "auto@auto" -> "auto")
    // a fully emptied file counts as rewritten under copy-on-write and
    // as DV'd under deleteWhereDv; the hybrid counts it in neither
    val expected = Map(
      "deleteWhere" -> ((4, 3, 1)),
      "deleteWhereDv" -> ((4, 3, 1)),
      "auto@cow" -> ((4, 0, 3, 1)),
      "auto@dv" -> ((4, 3, 0, 1)),
      "auto@auto" -> ((4, 1, 1, 1)))
    val want = sorted(rows(1, 400).filter(!pred))
    assert(want.size === 229)
    val feeds = runs.map { case (name, verb) =>
      val root = fourFiles(modes.get(name))
      assert(verb(root) === expected(name), name)
      assert(sorted(GraftTable.read(spark, root)) === want, name)
      assert(GraftTable.history(spark, root).last._3 === 229L, name)
      val feed = sorted(GraftTable.changes(spark, root, 3, 4, "k"))
      assert(feed.size === 171, name)
      name -> feed
    }
    feeds.tail.foreach { case (name, feed) =>
      assert(feed === feeds.head._2, s"$name vs ${feeds.head._1}")
    }
  }
}
