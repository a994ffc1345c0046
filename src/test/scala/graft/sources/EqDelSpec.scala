package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** EQUALITY-DELETE contracts: [[GraftTable.appendUpsert]] commits a
  * CDC batch with ZERO base files read or rewritten (fresh files + a
  * key list in the manifest header), every read path masks retired
  * keys by the added-version sequencing rule, and
  * [[GraftTable.resolveEqDels]] later converts the debt to position
  * deletion vectors without changing logical content — the
  * eqdel → DV → rewrite maintenance ladder. */
class EqDelSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft_eqdel_spec").toString + "/tbl"

  private def base(n: Int) = spark.range(1, n + 1).select(
    $"id".as("k"),
    concat(lit("row"), $"id").as("name"),
    ($"id" * 10).as("v"))

  private def dataFiles(spark: org.apache.spark.sql.SparkSession,
      root: String, v: Int): Set[String] =
    GraftTable.read(spark, root, Some(v)).inputFiles.toSet

  private def manifestText(root: String, v: Int): String = {
    val src = scala.io.Source.fromFile(f"$root/_log/v$v%05d.manifest")
    try src.mkString finally src.close()
  }

  test("appendUpsert: replaces + inserts land with zero base files " +
      "read or rewritten; eqdel keys are interval-pruned") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(1000), "k", nBuckets = 4)
    val before = manifestText(root, 0)
      .linesIterator.filterNot(_.startsWith("#")).toSet
    // 5 replaces (keys in range) + 5 inserts (keys beyond max)
    val batch = spark.range(0, 10).select(
      (when($"id" < 5, $"id" * 100 + 100).otherwise($"id" + 2000)).as("k"),
      lit("upd").as("name"), lit(-1L).as("v"))
    val (v, nKeys) = GraftTable.appendUpsert(spark, root, batch, "k")
    assert(v === 1)
    // interval pruning: only the 5 in-range keys are recorded
    assert(nKeys === 5L)
    // every base manifest line carried VERBATIM (no rewrite, no DV)
    val after = manifestText(root, 1)
      .linesIterator.filterNot(_.startsWith("#")).toSet
    assert(before.subsetOf(after), "a base file was rewritten or dropped")
    assert(manifestText(root, 1).linesIterator
      .exists(_.startsWith("#eqdel\t")), "missing #eqdel header")
    // logical content: replaced keys show the new row exactly once
    val got = GraftTable.read(spark, root)
    assert(got.count() === 1005)
    assert(got.filter($"k" === 100).select("name").as[String].head() === "upd")
    assert(got.filter($"k" === 100).count() === 1)
    assert(got.filter($"k" === 2005).count() === 1)
    // untouched keys intact
    assert(got.filter($"k" === 7).select("name").as[String].head() === "row7")
  }

  test("appendUpsert: pure-insert batch records no eqdel at all") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(100), "k", nBuckets = 2)
    val batch = spark.range(500, 510).select(
      $"id".as("k"), lit("new").as("name"), lit(0L).as("v"))
    val (_, nKeys) = GraftTable.appendUpsert(spark, root, batch, "k")
    assert(nKeys === 0L)
    assert(!manifestText(root, 1).linesIterator
      .exists(_.startsWith("#eqdel\t")))
    assert(GraftTable.read(spark, root).count() === 110)
  }

  test("appendUpsert deletes via opCol; re-insert after delete " +
      "resurrects under the added-version rule") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(100), "k", nBuckets = 2)
    val del = spark.range(10, 13).select($"id".as("k"),
      lit(null).cast("string").as("name"), lit(null).cast("long").as("v"),
      lit("delete").as("_op"))
    GraftTable.appendUpsert(spark, root, del, "k", opCol = Some("_op"))
    val afterDel = GraftTable.read(spark, root)
    assert(afterDel.count() === 97)
    assert(afterDel.filter($"k".isin(10, 11, 12)).count() === 0)
    // re-insert key 11: its fresh file postdates the delete's version
    val re = Seq((11L, "back", 0L)).toDF("k", "name", "v")
    GraftTable.appendUpsert(spark, root, re, "k")
    val got = GraftTable.read(spark, root)
    assert(got.count() === 98)
    assert(got.filter($"k" === 11).select("name").as[String].head() === "back")
    assert(got.filter($"k" === 10).count() === 0)
  }

  test("SQL scan masks pending eqdels — including when the projection " +
      "prunes the key column; metadata count(*) serving refuses") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(200), "k", nBuckets = 2)
    val batch = Seq((50L, "sqlupd", -5L)).toDF("k", "name", "v")
    GraftTable.appendUpsert(spark, root, batch, "k")
    val sql = spark.read.format("graft").load(root)
    assert(sql.count() === 200)
    assert(sql.filter($"k" === 50).select("name").as[String].head()
      === "sqlupd")
    // key-pruned projection: the scan must still fetch k internally
    val names = sql.select("name").as[String].collect()
    assert(names.count(_ == "sqlupd") === 1)
    assert(names.count(_ == "row50") === 0)
    assert(names.length === 200)
    // metadata-exact aggregate pushdown refuses under pending eqdels:
    // count(*) comes back from the scan, still correct
    assert(GraftTable.hasLiveEqDels(spark, root, 1))
    val plan = sql.groupBy().count().queryExecution.executedPlan.toString
    assert(!plan.contains("servedAggregates"),
      "count(*) must not metadata-serve under pending eqdels")
    assert(sql.groupBy().count().as[Long].head() === 200L)
  }

  test("resolveEqDels converts pending keys to DVs: content identical, " +
      "pending cleared, metadata serving restored") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(500), "k", nBuckets = 4)
    GraftTable.appendUpsert(spark, root,
      spark.range(1, 21).select($"id".as("k"), lit("u").as("name"),
        lit(0L).as("v")), "k")
    val del = spark.range(490, 496).select($"id".as("k"),
      lit(null).cast("string").as("name"), lit(null).cast("long").as("v"),
      lit("delete").as("_op"))
    GraftTable.appendUpsert(spark, root, del, "k", opCol = Some("_op"))
    val beforeRows = GraftTable.read(spark, root).orderBy("k")
      .collect().toSeq
    val (v, touched, resolved) = GraftTable.resolveEqDels(spark, root, "k")
    assert(touched > 0 && resolved === 26L) // 20 replaced + 6 deleted
    assert(GraftTable.pendingEqDels(spark, root, v).isEmpty)
    assert(!GraftTable.hasLiveEqDels(spark, root, v))
    val afterRows = GraftTable.read(spark, root).orderBy("k")
      .collect().toSeq
    assert(beforeRows === afterRows)
    assert(GraftTable.hasDeletionVectors(spark, root, v))
    // exact metadata answers are back (modulo the DV refusal rules)
    assert(GraftTable.read(spark, root).count() === 494)
    // the DV ledger is exact: absorb and compare once more
    GraftTable.absorbDvs(spark, root, "k")
    assert(GraftTable.read(spark, root).orderBy("k").collect().toSeq
      === afterRows)
  }

  test("resolveEqDels is a no-op on a clean table and clears a stale " +
      "pending list after a full rewrite") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(50), "k", nBuckets = 1)
    val (v0, t0, k0) = GraftTable.resolveEqDels(spark, root, "k")
    assert((v0, t0, k0) === (0, 0, 0L))
    GraftTable.appendUpsert(spark, root,
      Seq((1L, "u", 0L)).toDF("k", "name", "v"), "k")
    // full CoW rewrite of the only touched region: upsert every key
    GraftTable.upsert(spark, root, base(50), "k", nBuckets = 1)
    // pending list still carried, but no live file predates it except
    // the fresh ones — resolve clears without touching data
    val (v2, t2, _) = GraftTable.resolveEqDels(spark, root, "k")
    assert(t2 === 0 || GraftTable.read(spark, root).count() === 50)
    assert(GraftTable.pendingEqDels(spark, root,
      GraftTable.latestVersion(spark, root)).isEmpty)
  }

  test("time travel: each version reads with ITS pending set") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(100), "k", nBuckets = 2)
    GraftTable.appendUpsert(spark, root,
      Seq((5L, "v1", -1L)).toDF("k", "name", "v"), "k")
    GraftTable.appendUpsert(spark, root,
      Seq((5L, "v2", -2L)).toDF("k", "name", "v"), "k")
    def nameAt(ver: Int) = GraftTable.read(spark, root, Some(ver))
      .filter($"k" === 5).select("name").as[String].collect().toSeq
    assert(nameAt(0) === Seq("row5"))
    assert(nameAt(1) === Seq("v1"))
    assert(nameAt(2) === Seq("v2"))
    assert(GraftTable.read(spark, root, Some(2)).count() === 100)
  }

  test("CDF across eqdel commits: changes() feeds a replica that " +
      "converges to the source") {
    val root = freshRoot()
    val replica = freshRoot()
    GraftTable.create(spark, root, base(300), "k", nBuckets = 3)
    GraftTable.cloneTable(spark, root, replica)
    // one mixed eqdel batch: replace 3, insert 2, delete 2
    val b = Seq(
      (10L, "r10", 0L, "replace"), (20L, "r20", 0L, "replace"),
      (30L, "r30", 0L, "replace"), (900L, "n900", 0L, "replace"),
      (901L, "n901", 0L, "replace"),
      (40L, null.asInstanceOf[String], 0L, "delete"),
      (50L, null.asInstanceOf[String], 0L, "delete"))
      .toDF("k", "name", "v", "_op")
    GraftTable.appendUpsert(spark, root, b, "k", opCol = Some("_op"))
    val feed = GraftTable.changes(spark, root, 0, 1, "k")
    // the eqdel ingest never read the base, but CDF surfaces its
    // retirements: 3 updates + 2 inserts + 2 deletes
    assert(feed.filter($"_change" === "update").count() === 3)
    assert(feed.filter($"_change" === "insert").count() === 2)
    assert(feed.filter($"_change" === "delete").count() === 2)
    val cdc = feed.withColumn("_op",
        when($"_change" === "delete", "delete").otherwise("replace"))
      .drop("_change")
    GraftTable.applyCdcBatch(spark, replica, cdc, "k")
    val a = GraftTable.read(spark, root).orderBy("k").collect().toSeq
    val c = GraftTable.read(spark, replica).orderBy("k").collect().toSeq
    assert(a === c)
  }

  test("guards: branch fork, clone and metadata sums refuse under " +
      "pending eqdels; all recover after resolve") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(100), "k", nBuckets = 2)
    GraftTable.appendUpsert(spark, root,
      Seq((1L, "u", 99L)).toDF("k", "name", "v"), "k")
    val e1 = intercept[IllegalArgumentException] {
      GraftTable.createBranch(spark, root, "w")
    }
    assert(e1.getMessage.contains("pending equality deletes"))
    val e2 = intercept[IllegalArgumentException] {
      GraftTable.cloneTable(spark, root, freshRoot())
    }
    assert(e2.getMessage.contains("pending equality deletes"))
    assert(GraftTable.snapshotColumnSum(spark, root, 1, "v").isEmpty)
    GraftTable.resolveEqDels(spark, root, "k")
    GraftTable.absorbDvs(spark, root, "k")
    val v = GraftTable.latestVersion(spark, root)
    assert(GraftTable.snapshotColumnSum(spark, root, v, "v")
      === Some(Some((2L to 100L).map(_ * 10).sum + 99L)))
    GraftTable.createBranch(spark, root, "w")
    assert(GraftTable.listBranches(spark, root) === Seq("w"))
  }

  test("vacuum pins live eqdel key dirs and sweeps them once resolved " +
      "out of retention") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(100), "k", nBuckets = 2)
    GraftTable.appendUpsert(spark, root,
      Seq((3L, "u", 0L)).toDF("k", "name", "v"), "k")
    def eqdelFiles(): Seq[java.io.File] = {
      val d = new java.io.File(s"$root/data")
      Option(d.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
        .filter(_.getName.startsWith("eqdel-"))
    }
    assert(eqdelFiles().nonEmpty)
    // retention keeps v1 (the eqdel commit): its key dir must survive
    GraftTable.vacuum(spark, root, retainVersions = 2)
    assert(eqdelFiles().nonEmpty)
    assert(GraftTable.read(spark, root).filter($"k" === 3)
      .select("name").as[String].head() === "u")
    GraftTable.resolveEqDels(spark, root, "k")
    GraftTable.vacuum(spark, root, retainVersions = 1)
    assert(eqdelFiles().isEmpty, "resolved eqdel dir must sweep")
    assert(GraftTable.read(spark, root).count() === 100)
  }

  test("CoW upsert and OPTIMIZE after an eqdel ingest never resurrect " +
      "retired rows") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(400), "k", nBuckets = 4)
    GraftTable.appendUpsert(spark, root,
      spark.range(100, 111).select($"id".as("k"), lit("eq").as("name"),
        lit(0L).as("v")), "k")
    // CoW upsert over an OVERLAPPING range: the rewrite input must be
    // eqdel-masked or the old rows 100–110 reappear
    GraftTable.upsert(spark, root,
      spark.range(105, 121).select($"id".as("k"), lit("cow").as("name"),
        lit(1L).as("v")), "k")
    val got = GraftTable.read(spark, root)
    assert(got.count() === 400)
    assert(got.filter($"k" === 102).select("name").as[String].head() === "eq")
    assert(got.filter($"k" === 110).select("name").as[String].head() === "cow")
    assert(got.filter($"k" === 100 && $"name" === "row100").count() === 0)
    val before = got.orderBy("k").collect().toSeq
    GraftTable.optimize(spark, root, "k", targetRows = 1000)
    assert(GraftTable.read(spark, root).orderBy("k").collect().toSeq
      === before)
  }

  test("resolveEqDelsIfPending: fires past the ratio, free no-op below") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(1000), "k", nBuckets = 2)
    GraftTable.appendUpsert(spark, root,
      Seq((1L, "u", 0L)).toDF("k", "name", "v"), "k")
    // 1 pending key / 1000 rows = 0.1% < 2% default: no-op
    assert(GraftTable.resolveEqDelsIfPending(spark, root, "k").isEmpty)
    GraftTable.appendUpsert(spark, root,
      spark.range(1, 60).select($"id".as("k"), lit("u2").as("name"),
        lit(0L).as("v")), "k")
    // 60 pending / ~1001 rows ≈ 6% > 2%: fires and clears
    val fired = GraftTable.resolveEqDelsIfPending(spark, root, "k")
    assert(fired.nonEmpty)
    assert(!GraftTable.hasLiveEqDels(spark, root,
      GraftTable.latestVersion(spark, root)))
    assert(GraftTable.read(spark, root).filter($"k" === 30)
      .select("name").as[String].head() === "u2")
  }

  test("streaming sink mode=eqdel: N upsert batches, zero base files " +
      "rewritten, replay-guarded") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(200), "k", nBuckets = 2)
    val files0 = manifestText(root, 0)
      .linesIterator.filterNot(_.startsWith("#")).toSet
    (1 to 3).foreach { b =>
      val batch = spark.range(b * 10, b * 10 + 5).select(
        $"id".as("k"), lit(s"b$b").as("name"), lit(b.toLong).as("v"))
      GraftTable.ingestBatch(spark, root, batch, "k", batchId = b.toLong,
        queryId = "qeq", mode = "eqdel")
    }
    val v = GraftTable.latestVersion(spark, root)
    assert(v === 3)
    val filesN = manifestText(root, v)
      .linesIterator.filterNot(_.startsWith("#")).toSet
    assert(files0.subsetOf(filesN),
      "a pre-existing data file was rewritten by the eqdel sink")
    // replay: batch 2 re-delivered is a marker no-op
    GraftTable.ingestBatch(spark, root,
      spark.range(0, 1).select($"id".as("k"), lit("ghost").as("name"),
        lit(0L).as("v")), "k", batchId = 2L, queryId = "qeq", mode = "eqdel")
    assert(GraftTable.latestVersion(spark, root) === v)
    val got = GraftTable.read(spark, root)
    // every batch key overlaps the base range: pure replaces
    assert(got.count() === 200)
    assert(got.filter($"k" === 30).select("name").as[String].head() === "b3")
    assert(got.filter($"k" === 12).select("name").as[String].head() === "b1")
  }

  test("restore carries the RESTORED version's pending eqdels, not the " +
      "head's: a key retired after the target version comes back") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(10), "k", nBuckets = 1)
    GraftTable.appendUpsert(spark, root, spark.range(5, 6).select(
      $"id".as("k"), lit("upd").as("name"), lit(-1L).as("v")), "k")
    assert(GraftTable.restore(spark, root, 0) === 2)
    val got = GraftTable.read(spark, root)
    assert(got.count() === 10)
    assert(got.filter($"k" === 5).select("name").as[String].collect()
      .toSeq === Seq("row5"))
    assert(!manifestText(root, 2).linesIterator
      .exists(_.startsWith("#eqdel\t")))
  }
}
