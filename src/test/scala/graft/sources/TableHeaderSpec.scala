package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField}
import java.nio.file.Files

/** A version's definition — schema, partition transform, hash layout —
  * lives in its manifest header: every verb carries it forward or
  * replaces it in the same commit, restore brings the restored
  * version's back whole, vacuum needs nothing beyond the retained
  * manifests to keep it, and reading it costs one header read. */
class TableHeaderSpec extends SparkSpec {
  import spark.implicits._

  private def freshBase(): String =
    Files.createTempDirectory("graft_table_header_spec").toString

  private def rows(lo: Int, hi: Int): DataFrame = spark.range(lo, hi + 1)
    .select($"id".as("k"), concat(lit("row"), $"id").as("name"),
      ($"id" * 10).as("v"))

  /** The `#schema`/`#partition`/`#layout` lines of manifest `v` in
    * `dir` (a table's `_log`, or a branch's lineage directory). */
  private def definition(dir: String, v: Int): Seq[String] = {
    val src = scala.io.Source.fromFile(f"$dir/v$v%05d.manifest")
    try src.getLines().takeWhile(_.startsWith("#"))
      .filter(l => Seq("#schema\t", "#partition\t", "#layout\t")
        .exists(l.startsWith)).toList
    finally src.close()
  }

  /** Run `verb` and check every version it committed carries the head's
    * definition unchanged. */
  private def carries(name: String, root: String)(verb: => Any): Unit = {
    val before = GraftTable.latestVersion(spark, root)
    val want = definition(s"$root/_log", before)
    verb
    val after = GraftTable.latestVersion(spark, root)
    assert(after > before, s"$name committed nothing")
    (before + 1 to after).foreach(v =>
      assert(definition(s"$root/_log", v) === want, s"$name at v$v"))
  }

  /** `_log` names of the per-version definition files this format no
    * longer writes. */
  private def definitionFiles(root: String): Seq[String] =
    new java.io.File(s"$root/_log").list().toSeq.filter(n =>
      n.matches("(schema|partition|layout)-v\\d{5}.*") ||
        n == "schema.json" || n == "layout.json")

  /** A partitioned hash-layout table with a renamed and an added
    * column: every definition line is present and non-default. */
  private def definedTable(root: String, hashLayout: Boolean): DataFrame = {
    GraftTable.create(spark, root, rows(1, 400), "k", nBuckets = 4,
      partitioning = Some(TruncatePartition(100, "k")),
      hashLayout = hashLayout)
    GraftTable.renameColumn(spark, root, "name", "label")
    GraftTable.evolveAddColumns(spark, root,
      Seq(StructField("extra", StringType)))
    rows(1, 400).withColumnRenamed("name", "label")
      .withColumn("extra", lit(null).cast("string"))
  }

  test("every verb carries the manifest header's definition forward") {
    val base = freshBase()
    val root = s"$base/t"
    val all = definedTable(root, hashLayout = true)
    val head = definition(s"$root/_log", 2)
    assert(head.exists(_.startsWith("#schema\t")) &&
      head.contains("#partition\ttruncate(100,k)") &&
      head.contains("#layout\t4"), head)
    def batch(lo: Int, hi: Int, label: String) =
      all.filter($"k".between(lo, hi)).withColumn("label", lit(label))
    carries("upsert", root)(
      GraftTable.upsert(spark, root, batch(1, 20, "up"), "k"))
    carries("appendUpsert", root)(
      GraftTable.appendUpsert(spark, root, batch(21, 40, "app"), "k"))
    carries("resolveEqDels", root)(GraftTable.resolveEqDels(spark, root, "k"))
    GraftTable.setTableProperty(spark, root, "graft.dml.mode", "cow")
    carries("applyCdcBatch (copy-on-write)", root)(
      GraftTable.applyCdcBatch(spark, root,
        batch(41, 60, "cow").withColumn("_op", lit("upsert")), "k"))
    GraftTable.setTableProperty(spark, root, "graft.dml.mode", "dv")
    carries("applyCdcBatch (merge-on-read)", root)(
      GraftTable.applyCdcBatch(spark, root,
        batch(61, 80, "mor").withColumn("_op", lit("replace")), "k"))
    carries("deleteWhere", root)(
      GraftTable.deleteWhere(spark, root, $"k" === 81, "k"))
    carries("deleteWhereAuto", root)(
      GraftTable.deleteWhereAuto(spark, root, $"k" === 82, "k"))
    carries("deleteWhereDv", root)(
      GraftTable.deleteWhereDv(spark, root, $"k" === 83))
    carries("absorbDvs", root)(GraftTable.absorbDvs(spark, root, "k"))
    carries("optimize", root)(
      GraftTable.optimize(spark, root, "k", targetRows = 1000))
    val want = GraftTable.read(spark, root).collect().toSet
    GraftTable.createBranch(spark, root, "wip")
    GraftTable.upsertBranch(spark, root, "wip", batch(90, 95, "branch"), "k")
    assert(definition(s"$root/_log/branch-wip", 1) ===
      definition(s"$root/_log", GraftTable.latestVersion(spark, root)))
    carries("fastForward", root)(
      assert(GraftTable.fastForward(spark, root, "wip").isRight))
    carries("GraftTxn.publishAll", root)(
      GraftTxn.publishAll(spark, s"$base/coord",
        Seq(GraftTxn.TableWrite(root, batch(96, 99, "txn"), "k"))))
    GraftTable.cloneTable(spark, root, s"$base/clone")
    assert(definition(s"$base/clone/_log", 0) ===
      definition(s"$root/_log", GraftTable.latestVersion(spark, root)))
    // the verbs changed rows, never the definition's effect on reads
    val got = GraftTable.read(spark, root)
    assert(got.columns.toSeq === Seq("k", "label", "v", "extra"))
    assert(got.filter($"k" <= 80 || $"k" >= 90).count() ===
      want.count(r => r.getLong(0) <= 80 || r.getLong(0) >= 90))
    assert(GraftTable.read(spark, s"$base/clone").count() === got.count())
    // z-order cannot compose with a hash layout: its own table
    val z = s"$base/z"
    definedTable(z, hashLayout = false)
    carries("optimizeZOrder", z)(GraftTable.optimizeZOrder(spark, z, "k",
      "k", "v", targetRows = 100))
    Seq(root, s"$base/clone", z).foreach(r =>
      assert(definitionFiles(r).isEmpty, s"$r: ${definitionFiles(r)}"))
  }

  test("RESTORE to a version before setPartitioning reverts the head's " +
      "partition spec") {
    val root = s"${freshBase()}/t"
    GraftTable.create(spark, root, rows(1, 400), "k", nBuckets = 4)
    val spec = TruncatePartition(100, "k")
    assert(GraftTable.setPartitioning(spark, root, spec) === 1)
    GraftTable.upsert(spark, root, rows(1, 50).withColumn("v", lit(-1L)), "k")
    val v = GraftTable.restore(spark, root, 0)
    assert(GraftTable.partitionSpec(spark, root, v) === None)
    assert(GraftTable.partitionSpec(spark, root, v - 1) === Some(spec))
    intercept[IllegalStateException](
      GraftTable.readPartitionRange(spark, root, 0, 99))
    assert(GraftTable.read(spark, root).collect().toSet ===
      rows(1, 400).collect().toSet)
    assert(GraftTable.partitionSpec(spark, root,
      GraftTable.restore(spark, root, 1)) === Some(spec))
  }

  test("tagged pre-evolution, pre-rebucket and pre-partition versions " +
      "read with their own schema, bucket count and spec after " +
      "vacuum(retain = 1)") {
    val root = s"${freshBase()}/t"
    GraftTable.create(spark, root, rows(1, 400), "k", nBuckets = 4,
      hashLayout = true)
    GraftTable.tag(spark, root, "preEvolve", 0)
    GraftTable.evolveAddColumns(spark, root,
      Seq(StructField("extra", StringType))) // v1
    GraftTable.upsert(spark, root, rows(1, 10).withColumn("extra",
      lit("x")), "k") // v2
    GraftTable.tag(spark, root, "preRebucket", 2)
    GraftTable.setHashBuckets(spark, root, "k", 8) // v3
    GraftTable.upsert(spark, root, rows(11, 20).withColumn("extra",
      lit("y")), "k") // v4
    GraftTable.tag(spark, root, "prePartition", 4)
    val spec = TruncatePartition(100, "k")
    GraftTable.setPartitioning(spark, root, spec) // v5
    GraftTable.upsert(spark, root, rows(1, 400).withColumn("extra",
      lit("z")), "k") // v6: every file rewritten under the transform
    GraftTable.upsert(spark, root, rows(21, 30).withColumn("extra",
      lit("w")), "k") // v7
    GraftTable.vacuum(spark, root, retainVersions = 1)
    assert(GraftTable.availableVersions(spark, root) === Seq(0, 2, 4, 7))
    val expected = Seq(
      (0, Seq("k", "name", "v"), Some(4), None),
      (2, Seq("k", "name", "v", "extra"), Some(4), None),
      (4, Seq("k", "name", "v", "extra"), Some(8), None),
      (7, Seq("k", "name", "v", "extra"), Some(8), Some(spec)))
    val keys = Seq(3L, 15L, 27L, 144L, 399L)
    expected.foreach { case (v, cols, buckets, part) =>
      assert(GraftTable.read(spark, root, Some(v)).columns.toSeq === cols,
        s"v$v")
      assert(GraftTable.hashLayout(spark, root, v) === buckets, s"v$v")
      assert(GraftTable.partitionSpec(spark, root, v) === part, s"v$v")
      // bucket pruning at the version's own count: a point probe opens
      // only the files of its key's bucket, and still finds every key
      val ledger = GraftTable.snapshotFileLedger(spark, root, v)
      val b = GraftTable.bucketOfKey(144L, buckets.get)
      val inBucket = ledger.count { case (rel, mn, mx, _, _) =>
        mn <= 144L && mx >= 144L && GraftTable.fileBucket(rel).contains(b) }
      assert(inBucket < ledger.size, s"v$v")
      assert(GraftTable.prunedFileCountKeys(spark, root, Seq(144L),
        Some(v)) === inBucket, s"v$v")
      assert(GraftTable.readPointKeys(spark, root, "k", keys, Some(v))
        .select("k").as[Long].collect().sorted.toSeq === keys, s"v$v")
    }
    // the head prunes by its transform; the pre-partition version has none
    assert(GraftTable.prunedFileCountPartition(spark, root, 100, 100,
      Some(7)) < GraftTable.snapshotFileLedger(spark, root, 7).size)
    assert(GraftTable.readPartitionRange(spark, root, 100, 100, Some(7))
      .count() === 100)
    intercept[IllegalStateException](
      GraftTable.readPartitionRange(spark, root, 100, 100, Some(4)))
    assert(definitionFiles(root).isEmpty)
  }

  test("a version's definition costs one header read each for schema, " +
      "spec and layout: no _log listing") {
    val local = s"${freshBase()}/t"
    definedTable(local, hashLayout = true)
    val root = CountingFileSystem.root(
      spark.sparkContext.hadoopConfiguration, local)
    CountingFileSystem.reset()
    assert(GraftTable.tableSchema(spark, root, 1).fieldNames.toSeq ===
      Seq("k", "label", "v"))
    assert(GraftTable.partitionSpec(spark, root, 1) ===
      Some(TruncatePartition(100, "k")))
    assert(GraftTable.hashLayout(spark, root, 1) === Some(4))
    assert(CountingFileSystem.calls("list", "_log") === 0)
    assert(CountingFileSystem.calls("open", "_log") === 3)
    assert(CountingFileSystem.calls("status", "_log") === 0)
  }

  test("planning one catalog point query on a two-version table: the " +
      "_log listings, opens and status probes it makes today") {
    val local = freshBase()
    GraftTable.create(spark, s"$local/t", rows(1, 400), "k", nBuckets = 4)
    GraftTable.upsert(spark, s"$local/t", rows(5, 5), "k")
    val cat = "graft_count_" + java.util.UUID.randomUUID().toString.take(8)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.base",
      CountingFileSystem.root(spark.sparkContext.hadoopConfiguration, local))
    def plan(): Unit = {
      spark.sql(s"SELECT v FROM $cat.t WHERE k = 5").queryExecution
        .executedPlan; ()
    }
    plan() // the first planning also loads the catalog and the classes
    CountingFileSystem.reset()
    plan()
    val counted = Seq("list", "open", "status").map(kind =>
      kind -> CountingFileSystem.calls(kind, "_log")).toMap
    // a version cache would bring these to one listing and one open
    assert(counted === Map("list" -> 4, "open" -> 17, "status" -> 7))
    assert(spark.sql(s"SELECT v FROM $cat.t WHERE k = 5").as[Long]
      .collect().toSeq === Seq(50L))
  }
}
