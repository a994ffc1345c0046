package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** File-level contracts of the versioned table format that the q214
  * gate (logical content only) cannot see: pruning actually carries
  * untouched files forward, committed data files are immutable,
  * time travel survives later commits, vacuum respects retention, and
  * the manifest publish is create-if-absent. */
class GraftTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft_table_spec").toString + "/tbl"

  /** Sidecar files in `dir` whose name starts with `prefix` — sidecars
    * are token-named (`colstats-v00000-<tok>.tsv`), so specs locate
    * them by version prefix instead of a fixed name. */
  private def sidecarFiles(dir: String, prefix: String): Seq[java.io.File] = {
    val d = new java.io.File(dir)
    Option(d.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      .filter(_.getName.startsWith(prefix))
  }

  private def base(n: Int) = spark.range(1, n + 1).select(
    $"id".as("k"),
    concat(lit("row"), $"id").as("name"),
    ($"id" * 10).as("v"))

  test("create + read round-trips; history reports one version") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(1000), "k", nBuckets = 4)
    val got = GraftTable.read(spark, root)
    assert(got.count() === 1000)
    assert(got.columns.toSeq === Seq("k", "name", "v"))
    assert(got.agg(sum("v")).as[Long].head() === 10L * 1000 * 1001 / 2)
    assert(GraftTable.history(spark, root) === Seq((0, 4, 1000L)))
  }

  test("upsert prunes: files outside the batch key range are carried forward") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(1000), "k", nBuckets = 4)
    val m0 = manifestLines(root, 0)
    // batch touches only the lowest key range (k <= 50)
    val batch = spark.range(1, 51).select(
      $"id".as("k"), concat(lit("upd"), $"id").as("name"),
      lit(-1L).as("v"))
    val (v, rewritten, carried) = GraftTable.upsert(spark, root, batch, "k")
    assert(v === 1)
    assert(rewritten >= 1 && rewritten < 4, s"expected pruning, got $rewritten")
    assert(carried === 4 - rewritten)
    val m1 = manifestLines(root, 1)
    // every carried manifest line appears VERBATIM in the new manifest
    val carriedLines = m0.toSet.intersect(m1.toSet)
    assert(carriedLines.size === carried)
    // content: 50 updates, zero inserts
    val now = GraftTable.read(spark, root)
    assert(now.count() === 1000)
    assert(now.filter($"v" === -1L).count() === 50)
    assert(now.filter($"name".startsWith("upd")).count() === 50)
  }

  test("upsert inserts unmatched keys and time travel preserves v0") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(100), "k", nBuckets = 2)
    val batch = spark.range(98, 106).select(
      $"id".as("k"), concat(lit("b"), $"id").as("name"), lit(7L).as("v"))
    GraftTable.upsert(spark, root, batch, "k")
    assert(GraftTable.read(spark, root).count() === 105)
    // v0 unchanged after the commit
    val v0 = GraftTable.read(spark, root, Some(0))
    assert(v0.count() === 100)
    assert(v0.filter($"v" === 7L).count() === 0)
  }

  test("deleteWhere rewrites only files containing matches; NULL predicate keeps rows") {
    val root = freshRoot()
    val withNulls = spark.range(1, 401).select(
      $"id".as("k"), concat(lit("row"), $"id").as("name"),
      when($"id" % 5 === 0, lit(null).cast("long"))
        .otherwise($"id").as("v"))
    GraftTable.create(spark, root, withNulls, "k", nBuckets = 4)
    // delete rows with v % 2 = 0 among k <= 100 only: other files carried
    val (v, rewritten, carried) =
      GraftTable.deleteWhere(spark, root,
        col("v") % 2 === 0 && col("k") <= 100, "k")
    assert(v === 1)
    assert(rewritten >= 1 && carried >= 1, s"rw=$rewritten carry=$carried")
    val now = GraftTable.read(spark, root)
    // NULL-valued rows (v IS NULL -> predicate NULL) are KEPT
    assert(now.filter($"v".isNull).count() === 80)
    assert(now.filter($"k" <= 100 && $"v" % 2 === 0).count() === 0)
    assert(now.filter($"k" > 100 && $"v" % 2 === 0).count() > 0)
  }

  test("vacuum removes unreferenced files but keeps retained versions readable") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(200), "k", nBuckets = 2)
    val batch = spark.range(1, 201).select(
      $"id".as("k"), concat(lit("u"), $"id").as("name"), lit(0L).as("v"))
    GraftTable.upsert(spark, root, batch, "k") // rewrites everything
    GraftTable.deleteWhere(spark, root, col("k") % 3 === 0, "k")
    val removed = GraftTable.vacuum(spark, root, retainVersions = 2)
    assert(removed > 0, "v0-only files should be swept")
    // history stays callable after retention: swept versions are
    // absent, not exceptions
    assert(GraftTable.history(spark, root).map(_._1) === Seq(1, 2))
    // retained versions still read
    assert(GraftTable.read(spark, root, Some(2)).count() ===
      200 - spark.range(1, 201).filter($"id" % 3 === 0).count())
    assert(GraftTable.read(spark, root, Some(1)).count() === 200)
    // vacuumed version is gone
    intercept[Exception] { GraftTable.read(spark, root, Some(0)).count() }
  }

  test("manifest publish is create-if-absent (racing committer loses)") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(10), "k", nBuckets = 1)
    // a committer that lost the race publishes onto an existing
    // version: the create-if-absent rename must throw, not overwrite
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v0 = new org.apache.hadoop.fs.Path(root, "_log/v00000.manifest")
    val before = GraftTable.read(spark, root).count()
    intercept[IllegalStateException] {
      GraftTable.writeAtomic(fs, v0, "loser\n")
    }
    // the winner's manifest is untouched and the snapshot still reads
    assert(GraftTable.read(spark, root).count() === before)
    // a committer who observes the newer snapshot simply commits the
    // NEXT version (optimistic retry): base moves forward, no clobber
    val batch = spark.range(1, 3).select(
      $"id".as("k"), lit("x").as("name"), lit(0L).as("v"))
    val (v, _, _) = GraftTable.upsert(spark, root, batch, "k")
    assert(v === 1)
    // and re-creating an existing table is refused outright
    intercept[IllegalArgumentException] {
      GraftTable.create(spark, root, base(10), "k", nBuckets = 1)
    }
  }

  test("readRange skips files outside the key range and returns exact rows") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(1000), "k", nBuckets = 8)
    // a narrow range opens a strict subset of the 8 range-bucketed files
    assert(GraftTable.prunedFileCount(spark, root, 1L, 50L) < 8)
    assert(GraftTable.prunedFileCount(spark, root, 1L, 50L) >= 1)
    // an out-of-range probe opens nothing
    assert(GraftTable.prunedFileCount(spark, root, 5000L, 6000L) === 0)
    assert(GraftTable.readRange(spark, root, "k", 5000L, 6000L).count() === 0)
    // pruned read ≡ full-scan filter
    val pruned = GraftTable.readRange(spark, root, "k", 101L, 250L)
    assert(pruned.count() === 150)
    assert(pruned.agg(sum("v")).as[Long].head() ===
      (101L to 250L).map(_ * 10).sum)
  }

  test("optimize bin-packs small files, preserves content, carries compact files") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(1000), "k", nBuckets = 16)
    assert(GraftTable.history(spark, root).head._2 === 16)
    val (v, rewritten, carried) =
      GraftTable.optimize(spark, root, "k", targetRows = 250)
    assert(v === 1)
    assert(rewritten === 16 && carried === 0) // all 16 files are sub-target
    val h = GraftTable.history(spark, root)
    assert(h(1)._2 <= 5 && h(1)._2 >= 4, h.toString) // ~1000/250 groups
    assert(h(1)._3 === 1000L)
    // content identical; v0 still readable (copy-on-write)
    assert(GraftTable.read(spark, root).agg(sum("v")).as[Long].head() ===
      GraftTable.read(spark, root, Some(0)).agg(sum("v")).as[Long].head())
    // a second optimize at the same target is a no-op or near-no-op:
    // file count never grows and content is untouched
    GraftTable.optimize(spark, root, "k", targetRows = 250)
    val h2 = GraftTable.history(spark, root)
    assert(h2(2)._2 <= h(1)._2)
    assert(h2(2)._3 === 1000L)
  }

  test("streaming ingest commits one version per micro-batch with time travel") {
    implicit val sqlCtx = spark.sqlContext
    val root = freshRoot()
    val ckpt = Files.createTempDirectory("graft_ingest_ckpt").toString
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Long)]
    val stream = in.toDF().toDF("k", "name", "v")
    val q = graft.streaming.Streaming.tableIngestSink(stream, root, "k")
      .option("checkpointLocation", ckpt).start()
    in.addData((1L, "a", 10L), (2L, "b", 20L))
    q.processAllAvailable()
    in.addData((2L, "b2", 21L), (3L, "c", 30L))
    q.processAllAvailable()
    q.stop()
    // two micro-batches -> versions 0 and 1
    assert(GraftTable.latestVersion(spark, root) === 1)
    val now = GraftTable.read(spark, root).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(now === Array((1L, "a", 10L), (2L, "b2", 21L), (3L, "c", 30L)))
    // time travel to the first batch's snapshot
    assert(GraftTable.read(spark, root, Some(0)).count() === 2)
    // a replayed batch id is skipped: no new version, content unchanged
    GraftTable.ingestBatch(spark, root,
      spark.range(1).select(lit(9L).as("k"), lit("dup").as("name"),
        lit(0L).as("v")), "k", batchId = 1L)
    assert(GraftTable.latestVersion(spark, root) === 1)
    assert(GraftTable.read(spark, root).count() === 3)
  }

  test("schema evolution is metadata-only and version-scoped") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(500), "k", nBuckets = 4)
    val v = GraftTable.evolveAddColumns(spark, root, Seq(
      org.apache.spark.sql.types.StructField("tag",
        org.apache.spark.sql.types.StringType, nullable = true)))
    assert(v === 1)
    // metadata-only: v1's manifest is byte-identical to v0's (every
    // data file carried by reference, zero data I/O)
    assert(manifestLines(root, 1) === manifestLines(root, 0))
    // time travel below the evolution keeps the old column set
    assert(GraftTable.read(spark, root, Some(0)).columns.toSeq ===
      Seq("k", "name", "v"))
    // at the evolution: new column surfaces NULL-filled
    val v1 = GraftTable.read(spark, root, Some(1))
    assert(v1.columns.toSeq === Seq("k", "name", "v", "tag"))
    assert(v1.filter($"tag".isNotNull).count() === 0)
    // an upsert after evolution writes the new column; old rows stay NULL
    val batch = spark.range(1, 11).select($"id".as("k"),
      concat(lit("row"), $"id").as("name"), ($"id" * 10).as("v"),
      lit("T").as("tag"))
    GraftTable.upsert(spark, root, batch, "k")
    val now = GraftTable.read(spark, root)
    assert(now.filter($"tag" === "T").count() === 10)
    assert(now.filter($"tag".isNull).count() === 490)
    // adding a duplicate or non-nullable column is rejected
    intercept[IllegalArgumentException] {
      GraftTable.evolveAddColumns(spark, root, Seq(
        org.apache.spark.sql.types.StructField("tag",
          org.apache.spark.sql.types.StringType, nullable = true)))
    }
    intercept[IllegalArgumentException] {
      GraftTable.evolveAddColumns(spark, root, Seq(
        org.apache.spark.sql.types.StructField("req",
          org.apache.spark.sql.types.LongType, nullable = false)))
    }
  }

  test("bloom sidecars skip files on point lookups; missing sidecars never skip") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(2000), "k", nBuckets = 8,
      bloomCol = Some("name"))
    // every data file has a sidecar
    val dataFiles = manifestLines(root, 0).map(_.split('\t')(0))
    assert(dataFiles.size === 8)
    dataFiles.foreach { rel =>
      assert(new java.io.File(s"$root/$rel.bloom").exists(), s"$rel.bloom")
    }
    // a present value opens strictly fewer files than the table holds
    // (name is unique → exactly one file really contains it; 10 bits/row
    // keeps false positives ~1%, so pruning must bite)
    val hit = GraftTable.prunedPointFileCount(spark, root, "name", "row1234")
    assert(hit >= 1 && hit < 8, s"expected bloom pruning, opened $hit of 8")
    assert(GraftTable.readPoint(spark, root, "name", "row1234")
      .select("k").as[Long].collect().toSeq === Seq(1234L))
    // a absent value prunes to (almost) nothing and returns no rows
    val miss = GraftTable.prunedPointFileCount(spark, root, "name", "no-such")
    assert(miss < 8)
    assert(GraftTable.readPoint(spark, root, "name", "no-such").count() === 0)
    // deleting a sidecar only disables skipping for that file — the
    // probe keeps it (no false negatives from lost metadata)
    assert(new java.io.File(s"$root/${dataFiles.head}.bloom").delete())
    assert(GraftTable.prunedPointFileCount(spark, root, "name", "row1234") >= hit)
    assert(GraftTable.readPoint(spark, root, "name", "row1234").count() === 1)
    // a non-bloom column never prunes but stays correct
    assert(GraftTable.prunedPointFileCount(spark, root, "v", "500") === 8)
    assert(GraftTable.readPoint(spark, root, "v", "12340")
      .select("k").as[Long].collect().toSeq === Seq(1234L))
  }

  test("vacuum keeps live bloom sidecars and sweeps dead ones") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(1000), "k", nBuckets = 4,
      bloomCol = Some("name"))
    val v0Files = manifestLines(root, 0).map(_.split('\t')(0))
    // rewrite the low-key file(s)
    GraftTable.upsert(spark, root,
      spark.range(1, 11).select($"id".as("k"), lit("x").as("name"),
        lit(0L).as("v")), "k")
    val v1Files = manifestLines(root, 1).map(_.split('\t')(0)).toSet
    val dead = v0Files.filterNot(v1Files)
    assert(dead.nonEmpty)
    GraftTable.vacuum(spark, root, retainVersions = 1)
    dead.foreach { rel =>
      assert(!new java.io.File(s"$root/$rel").exists())
      assert(!new java.io.File(s"$root/$rel.bloom").exists(),
        s"dead sidecar survived vacuum: $rel.bloom")
    }
    v1Files.foreach { rel =>
      assert(new java.io.File(s"$root/$rel.bloom").exists(),
        s"live sidecar swept: $rel.bloom")
    }
    // point lookups still exact post-vacuum
    assert(GraftTable.readPoint(spark, root, "name", "x").count() === 10)
  }

  test("changes() reads only the files the manifests disagree on") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(1000), "k", nBuckets = 4)
    // touch only the low key range; most files are carried
    GraftTable.upsert(spark, root,
      spark.range(1, 21).select($"id".as("k"),
        concat(lit("upd"), $"id").as("name"), lit(-5L).as("v")), "k")
    val feed = GraftTable.changes(spark, root, 0, 1, "k")
    // rewritten-but-identical rows cancel: exactly the 20 updates remain
    assert(feed.count() === 20)
    assert(feed.select("_change").distinct().as[String].collect().toSeq ===
      Seq("update"))
    assert(feed.agg(sum("v")).as[Long].head() === -100L)
    // postimage content
    assert(feed.filter($"name".startsWith("upd")).count() === 20)
    // delete feed carries the preimage
    GraftTable.deleteWhere(spark, root, $"k" <= 5, "k")
    val del = GraftTable.changes(spark, root, 1, 2, "k").orderBy("k")
    assert(del.select("_change").distinct().as[String].collect().toSeq ===
      Seq("delete"))
    assert(del.select("k").as[Long].collect().toSeq === (1L to 5L))
    assert(del.filter($"name".startsWith("upd")).count() === 5)
    // a metadata-only commit produces an empty feed
    GraftTable.evolveAddColumns(spark, root, Seq(
      org.apache.spark.sql.types.StructField("tag",
        org.apache.spark.sql.types.StringType, nullable = true)))
    assert(GraftTable.changes(spark, root, 2, 3, "k").count() === 0)
  }

  test("changes() with preimages emits both images per update") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(200), "k", nBuckets = 2)
    GraftTable.upsert(spark, root,
      spark.range(1, 6).select($"id".as("k"),
        concat(lit("upd"), $"id").as("name"), lit(-1L).as("v"))
        .union(spark.range(500, 503).select($"id".as("k"),
          concat(lit("new"), $"id").as("name"), ($"id" * 10).as("v"))), "k")
    val feed = GraftTable.changes(spark, root, 0, 1, "k", withPreimages = true)
    val byChange = feed.groupBy("_change").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byChange === Map(
      "insert" -> 3L, "update_preimage" -> 5L, "update_postimage" -> 5L))
    // preimage carries OLD content, postimage NEW — retraction algebra
    // must reconstruct the delta exactly
    val pre = feed.filter($"_change" === "update_preimage")
      .agg(sum("v")).as[Long].head()
    val post = feed.filter($"_change" === "update_postimage")
      .agg(sum("v")).as[Long].head()
    assert(pre === (1L to 5L).map(_ * 10).sum && post === -5L)
  }

  test("optimizeZOrder: logical no-op, colstats written, 2D boxes prune") {
    val root = freshRoot()
    // two independent dimensions: key-bucketed layout gives NO locality
    // in (a, b) space
    val df = spark.range(0, 4096).select(
      $"id".as("k"),
      (($"id" * 37) % 64).as("a"),
      (($"id" * 53) % 64).as("b"))
    GraftTable.create(spark, root, df, "k", nBuckets = 16)
    val before = GraftTable.prunedFileCount2D(spark, root, "a", 0, 15, "b", 0, 15)
    assert(before === 16, "no colstats yet: nothing can be skipped")
    val (v, n) = GraftTable.optimizeZOrder(spark, root, "k", "a", "b",
      targetRows = 256, bits = 6)
    assert(v === 1 && n === 16)
    // logical no-op
    assert(GraftTable.read(spark, root, Some(1)).agg(sum("k")).as[Long].head()
      === GraftTable.read(spark, root, Some(0)).agg(sum("k")).as[Long].head())
    // a 16x16 box of a 64x64 space is 1/16 of the area: the curve
    // layout must confine it to a small corner of the 16 files
    val after = GraftTable.prunedFileCount2D(spark, root, "a", 0, 15, "b", 0, 15)
    assert(after <= 6, s"z-order failed to localize the box: $after of 16 files")
    // exactness: skipping returns the plain filter's rows
    val viaSkip = GraftTable.readRange2D(spark, root, "a", 0, 15, "b", 0, 15)
      .agg(sum("k")).as[Long].head()
    val plain = GraftTable.read(spark, root)
      .filter($"a".between(0, 15) && $"b".between(0, 15))
      .agg(sum("k")).as[Long].head()
    assert(viaSkip === plain)
    // files without stats are kept, never skipped: the v0 snapshot has
    // no colstats and every file survives
    assert(GraftTable.prunedFileCount2D(spark, root, "a", 0, 15, "b", 0, 15,
      version = Some(0)) === 16)
  }

  test("applyCdcBatch: mixed ops in one pruned commit; deletes idempotent and win ties") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(1000), "k", nBuckets = 4)
    // this test pins the COPY-ON-WRITE invariants (manifest-line
    // identity of carried files); the merge-on-read default has its
    // own test below
    GraftTable.setTableProperty(spark, root, "graft.dml.mode", "cow")
    val m0 = manifestLines(root, 0)
    val batch = Seq(
      (5L, "upd5", -1L, "upsert"),       // update
      (2000L, "new", 7L, "upsert"),      // insert
      (10L, "gone", 0L, "delete"),       // delete existing
      (99999L, "ghost", 0L, "delete"),   // delete absent: no-op
      (20L, "both", 1L, "upsert"),       // same key upserted AND...
      (20L, "both", 1L, "delete"))       // ...deleted: delete wins
      .toDF("k", "name", "v", "_op")
    val (v, rewritten, carried) =
      GraftTable.applyCdcBatch(spark, root, batch, "k")
    assert(v === 1)
    // low keys + 2000 hit a subset of the 4 files; pruning must carry
    assert(rewritten < 4 && carried === 4 - rewritten)
    assert(manifestLines(root, 1).toSet.intersect(m0.toSet).size === carried)
    val now = GraftTable.read(spark, root)
    assert(now.count() === 1000 - 2 + 1) // -10, -20, +2000
    assert(now.filter($"k" === 5L).select("v").as[Long].head() === -1L)
    assert(now.filter($"k" === 2000L).count() === 1)
    assert(now.filter($"k".isin(10L, 20L)).count() === 0)
  }

  test("applyCdcBatch MERGE-ON-READ (the auto default): mixed ops " +
    "commit DVs + fresh files with ZERO rewrites; delete still wins ties") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(1000), "k", nBuckets = 4)
    val files0 = GraftTable.snapshotFileLedger(spark, root, 0).map(_._1).toSet
    val batch = Seq(
      (5L, "upd5", -1L, "upsert"),       // update: old position retires
      (2000L, "new", 7L, "upsert"),      // insert: fresh file only
      (10L, "gone", 0L, "delete"),       // delete existing: DV position
      (99999L, "ghost", 0L, "delete"),   // delete absent: no-op
      (20L, "both", 1L, "upsert"),       // same key upserted AND...
      (20L, "both", 1L, "delete"))       // ...deleted: delete wins
      .toDF("k", "name", "v", "_op")
    val (v, rewritten, _) = GraftTable.applyCdcBatch(spark, root, batch, "k")
    assert(v === 1)
    assert(rewritten === 0, s"merge-on-read must rewrite nothing")
    val files1 = GraftTable.snapshotFileLedger(spark, root, 1).map(_._1).toSet
    assert(files0.subsetOf(files1), "every original data file keeps its bytes")
    assert(GraftTable.hasDeletionVectors(spark, root, 1))
    val now = GraftTable.read(spark, root)
    assert(now.count() === 1000 - 2 + 1) // -10, -20, +2000
    assert(now.filter($"k" === 5L).select("v").as[Long].head() === -1L)
    assert(now.filter($"k" === 2000L).count() === 1)
    assert(now.filter($"k".isin(10L, 20L)).count() === 0)
    // the change feed sees the same logical edits as a CoW commit
    val feed = GraftTable.changes(spark, root, 0, 1, "k")
    assert(feed.filter($"_change" === "delete").select("k").as[Long]
      .collect().sorted.toSeq === Seq(10L, 20L))
    assert(feed.filter($"_change" === "insert").select("k").as[Long]
      .collect().toSeq === Seq(2000L))
    assert(feed.filter($"_change" === "update").select("k").as[Long]
      .collect().toSeq === Seq(5L))
  }

  test("NDV digests survive vacuum: live files' KMV lines fold into " +
    "the checkpoint; swept sidecars don't lose the estimate") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(500), "k", nBuckets = 2)
    assert(GraftTable.estimateDistinct(spark, root, 0, "name").isDefined)
    GraftTable.upsert(spark, root,
      Seq((1L, "u1", -1L)).toDF("k", "name", "v"), "k") // v1
    GraftTable.upsert(spark, root,
      Seq((2L, "u2", -2L)).toDF("k", "name", "v"), "k") // v2
    GraftTable.vacuum(spark, root, retainVersions = 1)
    // the v0 digest sidecar is swept below the horizon...
    assert(sidecarFiles(s"$root/_log", "kmv-v00000").isEmpty)
    // ...but carried files' digests live on in the checkpoint: the
    // estimate still serves instead of refusing
    val est = GraftTable.estimateDistinct(spark, root, 2, "name")
    assert(est.isDefined && est.get >= 490 && est.get <= 560,
      s"post-vacuum NDV should still serve (≈500+2 names), got $est")
  }

  test("branches: commits invisible on main; fast-forward refuses when " +
    "main advanced; vacuum pins branch-reachable files; delete orphans") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(200), "k", nBuckets = 2)
    val b = GraftTable.createBranch(spark, root, "exp")
    assert(b === 0)
    // duplicate branch name refuses (create-if-absent meta)
    intercept[GraftTable.ConcurrentCommitException] {
      GraftTable.createBranch(spark, root, "exp") }
    GraftTable.upsertBranch(spark, root, "exp",
      Seq((5L, "branched", -1L)).toDF("k", "name", "v"), "k")
    // invisible on main, visible on the ref; branch time travel works
    assert(GraftTable.latestVersion(spark, root) === 0)
    assert(GraftTable.read(spark, root)
      .filter($"name" === "branched").count() === 0)
    assert(GraftTable.readBranch(spark, root, "exp")
      .filter($"name" === "branched").count() === 1)
    assert(GraftTable.readBranch(spark, root, "exp", Some(0))
      .filter($"name" === "branched").count() === 0)
    // vacuum while the branch is unpublished: its files stay live
    GraftTable.upsert(spark, root,
      Seq((7L, "main7", 70L)).toDF("k", "name", "v"), "k") // main → v1
    assert(GraftTable.vacuum(spark, root, retainVersions = 1) >= 0)
    assert(GraftTable.readBranch(spark, root, "exp")
      .filter($"name" === "branched").count() === 1)
    assert(GraftTable.readBranch(spark, root, "exp").count() === 200)
    // main advanced past the base: fast-forward refuses
    val e = intercept[IllegalArgumentException] {
      GraftTable.fastForward(spark, root, "exp") }
    assert(e.getMessage.contains("not fast-forwardable"))
    // deleting the branch turns its files into vacuum-sweepable orphans
    assert(GraftTable.deleteBranch(spark, root, "exp"))
    assert(GraftTable.listBranches(spark, root).isEmpty)
    val swept = GraftTable.vacuum(spark, root, retainVersions = 1)
    assert(swept > 0, "unpublished branch files must become orphans")
    assert(GraftTable.read(spark, root).count() === 200)
  }

  test("a CRASHED branch commit's orphan sidecar never wedges the " +
    "branch: the retry stages under its own token and lands") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(50), "k", nBuckets = 1)
    GraftTable.createBranch(spark, root, "cr")
    // simulate a writer that staged a bv=1 sidecar under its own
    // token and died before the manifest rename — it may neither
    // collide with nor leak into the retry
    val (f, _) = (new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration), ())
    val bdir = new org.apache.hadoop.fs.Path(root, "_log/branch-cr")
    f.mkdirs(bdir)
    val os = f.create(
      new org.apache.hadoop.fs.Path(bdir, "colstats-v00001-deadbeef.tsv"), false)
    os.write("data/ghost\t#nulls.x\t0\t0\n".getBytes("UTF-8")); os.close()
    // the next commit at bv=1 stages under its OWN token: no collision
    val bv = GraftTable.upsertBranch(spark, root, "cr",
      Seq((1L, "retry", 0L)).toDF("k", "name", "v"), "k")
    assert(bv === 1)
    assert(GraftTable.readBranch(spark, root, "cr")
      .filter($"name" === "retry").count() === 1)
    // publish: only the AUTHORITATIVE sidecar (the branch manifest's
    // token) re-pins on main — the orphans' ghost line never leaks
    assert(GraftTable.fastForward(spark, root, "cr").isRight)
    val mainV = GraftTable.latestVersion(spark, root)
    val pub = sidecarFiles(s"$root/_log", f"colstats-v$mainV%05d")
    assert(pub.nonEmpty, "published commit should carry a colstats sidecar")
    pub.foreach { fl =>
      val src = scala.io.Source.fromFile(fl)
      val txt = try src.mkString finally src.close()
      assert(!txt.contains("ghost"), s"orphan line leaked into $fl")
    }
  }

  test("absorbDvsIfDirty: under the ratio it's a free no-op; past it " +
    "ONLY DV'd files rewrite (clean files carry by reference), zero " +
    "DV'd files after, content checksums unchanged") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(1000), "k", nBuckets = 4)
    // DV-delete 20% of the rows of the two LOW-key files only
    GraftTable.deleteWhereDv(spark, root, $"k" <= 500 && $"k" % 5 === 0)
    assert(GraftTable.hasDeletionVectors(spark, root, 1))
    val before = GraftTable.read(spark, root)
      .agg(sum(hash($"k", $"name", $"v").cast("long")), count(lit(1)))
      .as[(Long, Long)].head()
    // table dirty ratio = 100/1000 = 10%: below a 0.2 threshold the
    // probe is a pure listing and must not commit anything
    assert(GraftTable.absorbDvsIfDirty(spark, root, "k") === None)
    assert(GraftTable.latestVersion(spark, root) === 1)
    // past the (overridden) threshold it fires: only the 2 DV'd files
    // rewrite, the 2 clean files carry BY REFERENCE
    val m1 = manifestLines(root, 1).map(_.split('\t')(0)).toSet
    val Some((v, absorbed, carried)) =
      GraftTable.absorbDvsIfDirty(spark, root, "k", Some(0.05))
    assert(v === 2 && absorbed === 2 && carried === 2)
    assert(!GraftTable.hasDeletionVectors(spark, root, 2))
    val m2 = manifestLines(root, 2).map(_.split('\t')(0)).toSet
    assert((m1 intersect m2).size === 2, "clean files must carry by ref")
    val after = GraftTable.read(spark, root)
      .agg(sum(hash($"k", $"name", $"v").cast("long")), count(lit(1)))
      .as[(Long, Long)].head()
    assert(after === before, "absorption must not change logical content")
    // property-driven form: set the table property, accumulate more
    // DVs, and the UN-overridden probe fires from the property
    GraftTable.setTableProperty(spark, root, "graft.dv.maxTableDirtyRatio",
      "0.01")
    GraftTable.deleteWhereDv(spark, root, $"k" > 900 && $"k" % 7 === 0)
    val fired = GraftTable.absorbDvsIfDirty(spark, root, "k")
    assert(fired.isDefined && !GraftTable.hasDeletionVectors(spark, root,
      GraftTable.latestVersion(spark, root)))
  }

  test("optimizeIfFragmented: a defragmented table no-ops for free; a " +
    "fragmented one compacts once and the probe goes quiet again") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(1000), "k", nBuckets = 2)
    // a healthy layout (2 big files) must NOT fire at target 800:
    // files hold ~500 live rows ≥ target/2
    assert(GraftTable.optimizeIfFragmented(spark, root, "k", 800L) === None)
    assert(GraftTable.latestVersion(spark, root) === 0)
    // fragment it: 6 tiny inserts, one file each (the per-trigger
    // streaming shape)
    (1 to 6).foreach { i =>
      GraftTable.upsert(spark, root,
        Seq((2000L + i, s"frag$i", 0L)).toDF("k", "name", "v"),
        "k", nBuckets = 1)
    }
    val vFrag = GraftTable.latestVersion(spark, root)
    val nFiles = manifestLines(root, vFrag).size
    assert(nFiles >= 8)
    val before = GraftTable.read(spark, root)
      .agg(sum(hash($"k", $"name", $"v").cast("long")), count(lit(1)))
      .as[(Long, Long)].head()
    // 6 of 8 files are tiny: past the default 0.5 ratio → compacts
    val Some((v, rewritten, _)) =
      GraftTable.optimizeIfFragmented(spark, root, "k", 800L)
    assert(v === vFrag + 1 && rewritten >= 6)
    assert(manifestLines(root, v).size < nFiles)
    val after = GraftTable.read(spark, root)
      .agg(sum(hash($"k", $"name", $"v").cast("long")), count(lit(1)))
      .as[(Long, Long)].head()
    assert(after === before, "compaction must not change logical content")
    // and the probe is quiet again — idempotent maintenance loop
    assert(GraftTable.optimizeIfFragmented(spark, root, "k", 800L) === None)
    // the SQL form: fragment again, IF FRAGMENTED fires; a second
    // run reports zero rewrites (version unchanged)
    (1 to 6).foreach { i =>
      GraftTable.upsert(spark, root,
        Seq((3000L + i, s"f2$i", 0L)).toDF("k", "name", "v"),
        "k", nBuckets = 1)
    }
    val baseDir = new java.io.File(root).getParent
    spark.conf.set("spark.sql.catalog.gfrag", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gfrag.base", baseDir)
    val name = new java.io.File(root).getName
    val r1 = spark.sql(
      s"OPTIMIZE gfrag.$name TARGET 800 ROWS IF FRAGMENTED").collect()(0)
    assert(r1.getInt(1) >= 6)
    val r2 = spark.sql(
      s"OPTIMIZE gfrag.$name TARGET 800 ROWS IF FRAGMENTED RATIO 0.5")
      .collect()(0)
    assert(r2.getInt(1) === 0, "a compacted table must no-op")
  }

  test("streaming sink honors the DML policy: micro-batch upserts " +
    "rewrite ZERO pre-existing data files (merge-on-read), the replay " +
    "guard is unchanged, and absorption closes the loop") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(1000), "k", nBuckets = 4)
    val files0 = manifestLines(root, 0).map(_.split('\t')(0)).toSet
    // three micro-batches, each updating 5 existing keys + 1 insert —
    // the continuous CDC upsert shape (default graft.dml.mode = auto)
    (1 to 3).foreach { b =>
      val batch = spark.range(5).select(
        ($"id" * 97 + b).as("k"), concat(lit(s"u$b-"), $"id").as("name"),
        lit(-b.toLong).as("v"))
        .union(Seq((1000L + b, s"new$b", 0L)).toDF("k", "name", "v"))
      GraftTable.ingestBatch(spark, root, batch, "k", batchId = b.toLong)
    }
    val latest = GraftTable.latestVersion(spark, root)
    assert(latest === 3)
    val relsNow = manifestLines(root, latest).map(_.split('\t')(0)).toSet
    // ZERO rewritten pre-existing files: every original data file is
    // STILL live (possibly DV'd) — under CoW each touched file would
    // have been replaced by a fresh rel
    assert(files0.subsetOf(relsNow),
      s"original files rewritten: ${files0 -- relsNow}")
    assert(GraftTable.hasDeletionVectors(spark, root, latest),
      "MoR upserts should retire old positions via DVs")
    // replay guard unchanged: re-delivering batch 2 is a no-op
    GraftTable.ingestBatch(spark, root,
      Seq((1L, "ghost", 9L)).toDF("k", "name", "v"), "k", batchId = 2L)
    assert(GraftTable.latestVersion(spark, root) === latest)
    assert(GraftTable.read(spark, root).filter($"name" === "ghost")
      .count() === 0)
    // content: last writer per key wins, inserts present
    val head = GraftTable.read(spark, root)
    assert(head.count() === 1003)
    assert(head.filter($"k" === 1000L + 3).count() === 1)
    // absorption closes the loop: zero DV'd files, content unchanged
    val cks = head.agg(sum(hash($"k", $"name", $"v").cast("long")))
      .as[Long].head()
    GraftTable.absorbDvs(spark, root, "k")
    val v2 = GraftTable.latestVersion(spark, root)
    assert(!GraftTable.hasDeletionVectors(spark, root, v2))
    assert(GraftTable.read(spark, root)
      .agg(sum(hash($"k", $"name", $"v").cast("long"))).as[Long].head()
      === cks)
    // and `cow` mode still restores the old per-trigger rewrite path
    GraftTable.setTableProperty(spark, root, "graft.dml.mode", "cow")
    val filesPre = manifestLines(root, v2).map(_.split('\t')(0)).toSet
    GraftTable.ingestBatch(spark, root,
      Seq((1L, "cowed", 1L)).toDF("k", "name", "v"), "k", batchId = 99L)
    val filesPost = manifestLines(root,
      GraftTable.latestVersion(spark, root)).map(_.split('\t')(0)).toSet
    assert((filesPre -- filesPost).size === 1,
      "cow mode should rewrite the touched file")
  }

  test("mergeBranch: a branch whose main ADVANCED publishes as one " +
    "keyed-MERGE commit — disjoint changes from both sides survive, " +
    "main's deletes are not resurrected, fastForward still refuses") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(100), "k", nBuckets = 4)
    GraftTable.createBranch(spark, root, "mb")
    // branch work: update k=10, insert k=101
    GraftTable.upsertBranch(spark, root, "mb",
      Seq((10L, "b-upd", -1L), (101L, "b-new", -2L)).toDF("k", "name", "v"),
      "k")
    // main advances independently: update k=50, insert k=102, delete 60
    GraftTable.upsert(spark, root,
      Seq((50L, "m-upd", -3L), (102L, "m-new", -4L)).toDF("k", "name", "v"),
      "k")
    GraftTable.deleteWhere(spark, root, $"k" === 60, "k")
    // the fast-forwardable contract is unchanged: foreign main commits
    // refuse
    assertThrows[IllegalArgumentException] {
      GraftTable.fastForward(spark, root, "mb")
    }
    val r = GraftTable.mergeBranch(spark, root, "mb")
    assert(r.isRight, s"merge refused: $r")
    assert(r.toOption.get._2 === 2L) // k=10 replaced, k=101 inserted
    // relational replay: base, minus main's delete, with both sides'
    // updates and inserts
    val got = GraftTable.read(spark, root)
      .select("k", "name", "v").as[(Long, String, Long)]
      .collect().sortBy(_._1).toSeq
    val expect = ((1L to 100L).filter(_ != 60).map {
      case 10L => (10L, "b-upd", -1L)
      case 50L => (50L, "m-upd", -3L)
      case k => (k, s"row$k", k * 10)
    } ++ Seq((101L, "b-new", -2L), (102L, "m-new", -4L))).sortBy(_._1)
    assert(got === expect)
  }

  test("mergeBranch CONFLICT: a key changed by BOTH main and branch " +
    "since the base refuses with the conflicting-key count — no " +
    "silent last-writer-wins") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(50), "k", nBuckets = 2)
    GraftTable.createBranch(spark, root, "cfl")
    GraftTable.upsertBranch(spark, root, "cfl",
      Seq((7L, "branch-side", -1L), (30L, "branch-only", -5L))
        .toDF("k", "name", "v"), "k")
    GraftTable.upsert(spark, root,
      Seq((7L, "main-side", -2L)).toDF("k", "name", "v"), "k")
    assert(GraftTable.mergeBranch(spark, root, "cfl") === Left(1L))
    // refusal leaves main untouched: main's own update serves
    val head = GraftTable.read(spark, root)
    assert(head.filter($"name" === "main-side").count() === 1)
    assert(head.filter($"name" === "branch-side").count() === 0)
    assert(head.filter($"name" === "branch-only").count() === 0)
  }

  test("branches fork DV'd bases correctly: branch reads mask the " +
    "base's deletion vectors; published history keeps them masked") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(100), "k", nBuckets = 2)
    GraftTable.deleteWhereDv(spark, root, $"k" <= 10) // v1 carries a DV
    assert(GraftTable.hasDeletionVectors(spark, root, 1))
    val b = GraftTable.createBranch(spark, root, "dvb")
    assert(b === 1)
    // branch reads go through the same masked readEntries
    assert(GraftTable.readBranch(spark, root, "dvb").count() === 90)
    GraftTable.upsertBranch(spark, root, "dvb",
      Seq((50L, "patched", -1L)).toDF("k", "name", "v"), "k")
    val head = GraftTable.readBranch(spark, root, "dvb")
    assert(head.count() === 90)
    assert(head.filter($"name" === "patched").count() === 1)
    // the branch merge must not resurrect DV-deleted rows
    assert(head.filter($"k" <= 10).count() === 0)
    // main untouched; publish keeps the mask on every published version
    assert(GraftTable.read(spark, root).count() === 90)
    assert(GraftTable.read(spark, root)
      .filter($"name" === "patched").count() === 0)
    val Right((v, n)) = GraftTable.fastForward(spark, root, "dvb")
      : @unchecked
    assert(v === 2 && n === 1)
    val pub = GraftTable.read(spark, root)
    assert(pub.count() === 90)
    assert(pub.filter($"name" === "patched").count() === 1)
    assert(pub.filter($"k" <= 10).count() === 0)
  }

  test("fast-forward publish: version-for-version history, audits gate " +
    "it, resume after a partial publish is idempotent") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(100), "k", nBuckets = 1)
    GraftTable.createBranch(spark, root, "rel")
    GraftTable.upsertBranch(spark, root, "rel",
      Seq((1L, "u1", -5L)).toDF("k", "name", "v"), "k")
    GraftTable.upsertBranch(spark, root, "rel",
      Seq((2L, "u2", 22L)).toDF("k", "name", "v"), "k")
    // audit rejection publishes nothing
    val rej = GraftTable.fastForward(spark, root, "rel",
      audits = Seq("v_nonneg" -> ($"v" >= 0L)))
    assert(rej === Left(Map("v_nonneg" -> 1L)))
    assert(GraftTable.latestVersion(spark, root) === 0)
    // simulate a CRASHED earlier publish that landed only base+1:
    // a re-run must resume past it, not die on the rename collision
    val Right((v1only, _)) = GraftTable.fastForward(spark, root, "rel",
      audits = Seq("k_pos" -> ($"k" > 0L))) : @unchecked
    assert(v1only === 2)
    // (full publish happened; re-running is a no-op resume)
    val Right((again, n2)) = GraftTable.fastForward(spark, root, "rel")
      : @unchecked
    assert(again === 2 && n2 === 2)
    assert(GraftTable.read(spark, root, Some(1))
      .filter($"name" === "u1").count() === 1)
    assert(GraftTable.read(spark, root, Some(1))
      .filter($"name" === "u2").count() === 0)
    assert(GraftTable.read(spark, root)
      .filter($"name".isin("u1", "u2")).count() === 2)
    // published files carried their NDV digests: estimates still serve
    assert(GraftTable.estimateDistinct(spark, root, 2, "name").isDefined)
  }

  test("auditedUpsert: rejection publishes nothing; vacuum sweeps the staged orphans") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(500), "k", nBuckets = 4)
    val checks = Seq("positive_v" -> ($"v" >= 0L))
    // clean batch publishes
    val ok = GraftTable.auditedUpsert(spark, root,
      spark.range(1, 6).select($"id".as("k"),
        concat(lit("u"), $"id").as("name"), lit(1L).as("v")), "k", checks)
    assert(ok.isRight && GraftTable.latestVersion(spark, root) === 1)
    // poisoned batch is rejected with per-check counts
    val bad = GraftTable.auditedUpsert(spark, root,
      spark.range(1, 10).select($"id".as("k"),
        concat(lit("p"), $"id").as("name"),
        (when($"id" % 2 === 0, -5L).otherwise(2L)).as("v")), "k", checks)
    assert(bad === Left(Map("positive_v" -> 4L)))
    // no new version, reader state untouched
    assert(GraftTable.latestVersion(spark, root) === 1)
    assert(GraftTable.read(spark, root).filter($"v" < 0).count() === 0)
    // the staged files are orphans: on disk now, gone after vacuum
    val dataDir = new java.io.File(root, "data")
    def dataFiles() = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Seq.empty
      walk(dataDir)
    }
    val live = (manifestLines(root, 0) ++ manifestLines(root, 1))
      .map(_.split('\t')(0)).toSet
    assert(dataFiles().size > live.size, "staged orphans should exist pre-vacuum")
    GraftTable.vacuum(spark, root, retainVersions = 2)
    assert(dataFiles().map(f =>
      "data/" + dataDir.toPath.relativize(f.toPath).toString.replace('\\', '/'))
      .toSet.subsetOf(live))
    // NULL predicate results count as violations (SQL three-valued
    // trap): length(NULL) > 1 is NULL, not false — must still reject.
    // The audit covers ALL merged rows of the rewritten file, so the
    // predicate must hold for the co-resident rows (it does: every
    // non-poisoned name here is at least 2 chars)
    // an INSERT key: a NULL batch cell on an existing key would be
    // filled by the partial-update coalesce and never reach the audit
    val withNull = GraftTable.auditedUpsert(spark, root,
      spark.range(1).select(lit(7000L).as("k"),
        lit(null).cast("string").as("name"), lit(3L).as("v")), "k",
      Seq("name_present" -> (length($"name") > 1)))
    assert(withNull === Left(Map("name_present" -> 1L)))
  }

  test("concurrent disjoint upserts both land via OCC retry") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(1000), "k", nBuckets = 4)
    // two committers race from the same base version: the rename loser
    // must retry against the winner's snapshot and land as the next
    // version — both batches visible, versions consecutive
    val lowBatch = spark.range(1, 11).select(
      $"id".as("k"), lit("low").as("name"), lit(-1L).as("v"))
    val highBatch = spark.range(991, 1001).select(
      $"id".as("k"), lit("high").as("name"), lit(-2L).as("v"))
    val gate = new java.util.concurrent.CyclicBarrier(2)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val fa = Future { gate.await(); GraftTable.upsert(spark, root, lowBatch, "k") }
    val fb = Future { gate.await(); GraftTable.upsert(spark, root, highBatch, "k") }
    val (va, _, _) = Await.result(fa, 120.seconds)
    val (vb, _, _) = Await.result(fb, 120.seconds)
    assert(Set(va, vb) === Set(1, 2), s"expected versions 1 and 2, got $va/$vb")
    val now = GraftTable.read(spark, root)
    assert(now.count() === 1000)
    assert(now.filter($"name" === "low").count() === 10)
    assert(now.filter($"name" === "high").count() === 10)
  }

  test("a failed evolve stages nothing: its refused publish leaves the " +
    "head schema and _log unchanged") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(100), "k", nBuckets = 2)
    val log = new java.io.File(s"$root/_log")
    val before = log.list().toSet
    // the evolve's manifest publish loses as a race; the schema rides
    // only that manifest's header, so nothing else may land
    val store = new RefuseManifestsLogStore
    intercept[GraftTable.ConcurrentCommitException] {
      GraftTable.withLogStore(store)(GraftTable.evolveAddColumns(spark, root,
        Seq(org.apache.spark.sql.types.StructField("ghost",
          org.apache.spark.sql.types.StringType))))
    }
    assert(store.attempts.get === 1)
    assert(log.list().toSet === before)
    assert(GraftTable.latestVersion(spark, root) === 0)
    assert(GraftTable.read(spark, root).columns.toSeq === Seq("k", "name", "v"))
    // an unrelated upsert publishes manifest 1 without the ghost column
    val batch = spark.range(1, 3).select(
      $"id".as("k"), lit("u").as("name"), lit(0L).as("v"))
    assert(GraftTable.upsert(spark, root, batch, "k")._1 === 1)
    assert(GraftTable.read(spark, root).columns.toSeq === Seq("k", "name", "v"))
  }

  test("checkpoint: history and 2D stats survive the vacuum sidecar sweep") {
    val root = freshRoot()
    val df = spark.range(1, 2001).select(
      $"id".as("k"), ($"id" % 97).as("x"), (($"id" * 31) % 89).as("y"),
      concat(lit("r"), $"id").as("name"))
    GraftTable.create(spark, root, df, "k", nBuckets = 4)
    GraftTable.optimizeZOrder(spark, root, "k", "x", "y", targetRows = 250)
    (1 to 3).foreach { i =>
      GraftTable.upsert(spark, root,
        spark.range(1, 6).select($"id".as("k"), ($"id" % 97).as("x"),
          (($"id" * 31) % 89).as("y"), lit(s"u$i").as("name")), "k")
    }
    val fullHistory = GraftTable.history(spark, root)
    val prunedBefore = GraftTable.prunedFileCount2D(spark, root,
      "x", 10, 20, "y", 10, 20)
    val totalFiles = manifestLines(root,
      GraftTable.latestVersion(spark, root)).size
    assert(prunedBefore < totalFiles, "z-order stats should prune pre-vacuum")
    val cpV = GraftTable.checkpoint(spark, root)
    assert(cpV === GraftTable.latestVersion(spark, root))
    // checkpoint-backed history is identical to the manifest-read one
    assert(GraftTable.history(spark, root) === fullHistory)
    // vacuum to the last 2 versions: colstats sidecars below the
    // horizon are swept, but pruning at latest still works because the
    // checkpoint preserved live files' stats
    GraftTable.vacuum(spark, root, retainVersions = 2)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(sidecarFiles(s"$root/_log", "colstats-v00001").isEmpty,
      "swept colstats sidecar should be gone")
    assert(GraftTable.prunedFileCount2D(spark, root,
      "x", 10, 20, "y", 10, 20) === prunedBefore)
    val box = GraftTable.readRange2D(spark, root, "x", 10, 20, "y", 10, 20)
    val expect = GraftTable.read(spark, root)
      .filter($"x".between(10, 20) && $"y".between(10, 20))
    assert(box.count() === expect.count())
    // history after vacuum lists only retained versions
    val latest = GraftTable.latestVersion(spark, root)
    assert(GraftTable.history(spark, root).map(_._1) ===
      Seq(latest - 1, latest))
  }

  test("optimizeZOrder fails clearly on an all-NULL dimension") {
    val root = freshRoot()
    val df = spark.range(1, 101).select(
      $"id".as("k"), lit(null).cast("long").as("x"), ($"id" % 7).as("y"))
    GraftTable.create(spark, root, df, "k", nBuckets = 2)
    val e = intercept[IllegalArgumentException] {
      GraftTable.optimizeZOrder(spark, root, "k", "x", "y", targetRows = 50)
    }
    assert(e.getMessage.contains("NULL in"))
  }

  test("applyCdcBatch rejects NULL and unknown op values") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(100), "k", nBuckets = 2)
    def cdc(op: org.apache.spark.sql.Column) = spark.range(1, 3).select(
      $"id".as("k"), lit("c").as("name"), lit(1L).as("v"), op.as("_op"))
    intercept[IllegalArgumentException] {
      GraftTable.applyCdcBatch(spark, root, cdc(lit("DELETE")), "k")
    }
    intercept[IllegalArgumentException] {
      GraftTable.applyCdcBatch(spark, root, cdc(lit(null).cast("string")), "k")
    }
    // no version was created by the rejected batches
    assert(GraftTable.latestVersion(spark, root) === 0)
    // a valid batch still applies
    val (v, _, _) = GraftTable.applyCdcBatch(spark, root, cdc(lit("upsert")), "k")
    assert(v === 1)
  }

  test("tags: named refs resolve, move on re-tag, and pin versions " +
    "through vacuum (including their evolved schema)") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(200), "k", nBuckets = 2)
    GraftTable.upsert(spark, root,
      base(200).filter($"k" <= 50).withColumn("v", lit(-1L)), "k") // v1
    GraftTable.tag(spark, root, "stable", 1)
    assert(GraftTable.tags(spark, root) === Map("stable" -> 1))
    assert(GraftTable.resolveRef(spark, root, "stable") === Some(1))
    assert(GraftTable.resolveRef(spark, root, "0") === Some(0))
    assert(GraftTable.resolveRef(spark, root, "nope") === None)
    intercept[IllegalArgumentException] {
      GraftTable.tag(spark, root, "bad name", 1)
    }
    intercept[IllegalArgumentException] {
      GraftTable.tag(spark, root, "ghost", 99)
    }
    // evolve + more commits past retention
    GraftTable.evolveAddColumns(spark, root,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("extra",
          org.apache.spark.sql.types.LongType))))             // v2
    GraftTable.upsert(spark, root, base(10)
      .withColumn("extra", lit(7L)), "k")                     // v3
    GraftTable.upsert(spark, root, base(5)
      .withColumn("extra", lit(8L)), "k")                     // v4
    GraftTable.vacuum(spark, root, retainVersions = 2)
    // v0 (untagged, below horizon) is gone; v1 (tagged) survives
    intercept[Exception] { GraftTable.read(spark, root, Some(0)).count() }
    val v1 = GraftTable.read(spark, root, Some(1))
    assert(v1.count() === 200)
    assert(v1.filter($"v" === -1L).count() === 50)
    // tagged version's schema is the pre-evolution one
    assert(!v1.columns.contains("extra"))
    // SQL surface resolves the tag
    val b = new java.io.File(root).getParent
    spark.conf.set("spark.sql.catalog.gtag", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gtag.base", b)
    assert(spark.sql("SELECT count(*) FROM gtag.tbl VERSION AS OF 'stable'")
      .as[Long].head() === 200L)
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM gtag.tbl VERSION AS OF 'missing'").collect()
    }
    assert(e.getMessage.contains("tag"), e.getMessage)
    // re-tag moves; deleteTag releases the pin for the NEXT vacuum
    GraftTable.tag(spark, root, "stable", 4)
    assert(GraftTable.tags(spark, root)("stable") === 4)
    GraftTable.deleteTag(spark, root, "stable")
    assert(GraftTable.tags(spark, root).isEmpty)
  }

  test("restore: head returns to a prior version's content and schema, " +
    "metadata-only, with history preserved") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(100), "k", nBuckets = 2)
    GraftTable.upsert(spark, root,
      base(100).filter($"k" <= 20).withColumn("v", lit(1L)), "k")   // v1: good
    GraftTable.evolveAddColumns(spark, root,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("extra",
          org.apache.spark.sql.types.LongType))))                   // v2
    GraftTable.upsert(spark, root, base(100)
      .withColumn("v", lit(-99L)).withColumn("extra", lit(1L)), "k") // v3: bad
    GraftTable.deleteWhere(spark, root, $"k" > 50, "k")             // v4: worse
    val dataFilesBefore = new java.io.File(root + "/data")
      .listFiles().count(_.getName.endsWith(".parquet"))
    val v = GraftTable.restore(spark, root, 1)
    assert(v === 5)
    // zero data I/O: no new data files were written
    val dataFilesAfter = new java.io.File(root + "/data")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(dataFilesAfter === dataFilesBefore)
    // head == v1 content, including the PRE-EVOLUTION schema
    val head = GraftTable.read(spark, root)
    assert(head.columns.toSeq === Seq("k", "name", "v"))
    assert(head.count() === 100)
    assert(head.filter($"v" === 1L).count() === 20)
    assert(head.filter($"v" === -99L).count() === 0)
    // history preserved: the bad versions still time-travel
    assert(GraftTable.read(spark, root, Some(3)).filter($"v" === -99L)
      .count() === 100)
    assert(GraftTable.read(spark, root, Some(4)).count() === 50)
    // restoring to a vacuumed version refuses with guidance
    GraftTable.vacuum(spark, root, retainVersions = 2)
    val e = intercept[IllegalArgumentException] {
      GraftTable.restore(spark, root, 0)
    }
    assert(e.getMessage.contains("vacuumed"), e.getMessage)
  }

  // fixture for the partition-transform tests: 4000 events across 8
  // calendar days, keyed by event id, ts = day boundary + in-day offset
  private def eventsFixture(n: Int = 4000) = spark.range(1, n + 1).select(
    $"id".as("k"),
    to_timestamp(from_unixtime(
      lit(1700000000L - 1700000000L % 86400) + ($"id" % 8) * 86400
        + ($"id" % 7919) % 86400)).as("ts"),
    ($"id" % 97).as("v"))

  private def dayOf(k: Long): Long =
    (1700000000L - 1700000000L % 86400 + (k % 8) * 86400) / 86400

  test("days() partition transform: a one-day read opens only that " +
    "day's files — proven by deleting an out-of-day file") {
    val root = freshRoot()
    GraftTable.create(spark, root, eventsFixture(), "k", nBuckets = 16,
      partitioning = Some(DaysPartition("ts")))
    val day = dayOf(1) // day of k=1 (and every k ≡ 1 mod 8)
    val total = GraftTable.prunedFileCountPartition(spark, root,
      Long.MinValue, Long.MaxValue)
    val pruned = GraftTable.prunedFileCountPartition(spark, root, day, day)
    assert(pruned < total, s"no pruning: $pruned of $total")
    // content equality: partition-pruned read ≡ full read + filter
    val viaP = GraftTable.readPartitionRange(spark, root, day, day)
      .agg(count(lit(1)), sum("v")).as[(Long, Long)].head()
    val viaFull = GraftTable.read(spark, root)
      .filter(floor(unix_timestamp($"ts") / 86400) === day)
      .agg(count(lit(1)), sum("v")).as[(Long, Long)].head()
    assert(viaP === viaFull)
    assert(viaP._1 === 500) // 4000 / 8 days
    // sabotage: physically delete a data file whose day range excludes
    // `day`; the pruned read must never open it
    val stats = scala.io.Source.fromFile(
      sidecarFiles(s"$root/_log", "colstats-v00000").head)
    val victim = try stats.getLines().filter(_.nonEmpty)
      .map(_.split('\t')).find(a => a(1).startsWith("__p_days_") &&
        (a(3).toLong < day || a(2).toLong > day)).get.head
    finally stats.close()
    val fsys = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(s"$root/$victim"), false)
    assert(GraftTable.readPartitionRange(spark, root, day, day)
      .agg(sum("v")).as[Long].head() === viaP._2)
  }

  test("partition evolution: adding days() is metadata-only, old files " +
    "stay readable and are never skipped, new files prune") {
    val root = freshRoot()
    // era 1: unpartitioned — 4 files, no partition stats
    GraftTable.create(spark, root, eventsFixture(2000), "k", nBuckets = 4)
    val filesV0 = manifestLines(root, 0).size
    val v1 = GraftTable.setPartitioning(spark, root, DaysPartition("ts"))
    assert(v1 === 1)
    // metadata-only: every v0 file carried by reference
    assert(manifestLines(root, 1).toSet === manifestLines(root, 0).toSet)
    assert(GraftTable.partitionSpec(spark, root, 1)
      === Some(DaysPartition("ts")))
    assert(GraftTable.partitionSpec(spark, root, 0) === None)
    // era 2: new keys arrive under the transform
    GraftTable.upsert(spark, root,
      eventsFixture(4000).filter($"k" > 2000), "k", nBuckets = 8)
    val day = dayOf(1)
    val total = GraftTable.prunedFileCountPartition(spark, root,
      Long.MinValue, Long.MaxValue)
    val pruned = GraftTable.prunedFileCountPartition(spark, root, day, day)
    // all era-1 files are kept (no stats — never skipped), era-2 files
    // outside the day are skipped
    assert(pruned >= filesV0 && pruned < total,
      s"pruned $pruned, era-1 $filesV0, total $total")
    // correctness across both eras
    val got = GraftTable.readPartitionRange(spark, root, day, day)
      .agg(count(lit(1)), sum("v")).as[(Long, Long)].head()
    val want = GraftTable.read(spark, root)
      .filter(floor(unix_timestamp($"ts") / 86400) === day)
      .agg(count(lit(1)), sum("v")).as[(Long, Long)].head()
    assert(got === want)
    assert(got._1 === 500)
  }

  test("bucket(n) partition transform prunes point reads and vacuum " +
    "keeps the resolving spec file") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(2000), "k", nBuckets = 8,
      partitioning = Some(BucketPartition(4, "name")))
    val b = BucketPartition(4, "name")
    // the bucket of one known value, computed through the same engine
    val bucket = spark.range(0, 1).select(lit("row7").as("name"))
      .select(b.valueCol.as("b")).as[Long].head()
    val total = GraftTable.prunedFileCountPartition(spark, root,
      Long.MinValue, Long.MaxValue)
    val pruned = GraftTable.prunedFileCountPartition(spark, root,
      bucket, bucket)
    assert(pruned < total, s"no pruning: $pruned of $total")
    val got = GraftTable.readPartitionRange(spark, root, bucket, bucket)
      .filter($"name" === "row7").select($"k").as[Long].collect().toSeq
    assert(got === Seq(7L))
    // a few more versions, then vacuum past the spec's version: the
    // newest spec ≤ horizon must survive so retained reads still prune
    GraftTable.upsert(spark, root, base(2000).filter($"k" <= 10)
      .withColumn("v", lit(-1L)), "k")
    GraftTable.upsert(spark, root, base(2000).filter($"k" <= 5)
      .withColumn("v", lit(-2L)), "k")
    GraftTable.vacuum(spark, root, retainVersions = 1)
    assert(GraftTable.partitionSpec(spark, root,
      GraftTable.latestVersion(spark, root)) === Some(b))
    assert(GraftTable.prunedFileCountPartition(spark, root, bucket, bucket)
      <= GraftTable.prunedFileCountPartition(spark, root,
        Long.MinValue, Long.MaxValue))
    assert(GraftTable.readPartitionRange(spark, root, bucket, bucket)
      .filter($"name" === "row7").count() === 1)
  }

  test("months()/years()/truncate(w) transforms: one-value reads open " +
    "a file subset, proven by deleting an out-of-range file") {
    import graft.sources.{MonthsPartition, TruncatePartition, YearsPartition}
    val fsys = new org.apache.hadoop.fs.Path(freshRoot())
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def sabotage(root: String, statsPrefix: String, keep: Long): Unit = {
      // delete a data file whose recorded transform-value range
      // EXCLUDES `keep`; the pruned read must never open it
      val stats = scala.io.Source.fromFile(
      sidecarFiles(s"$root/_log", "colstats-v00000").head)
      val victim = try stats.getLines().filter(_.nonEmpty)
        .map(_.split('\t')).find(a => a(1).startsWith(statsPrefix) &&
          (a(3).toLong < keep || a(2).toLong > keep)).get.head
      finally stats.close()
      fsys.delete(new org.apache.hadoop.fs.Path(s"$root/$victim"), false)
    }
    def check(root: String, transformVal: org.apache.spark.sql.Column,
        keep: Long, statsPrefix: String): Unit = {
      val total = GraftTable.prunedFileCountPartition(spark, root,
        Long.MinValue, Long.MaxValue)
      val pruned = GraftTable.prunedFileCountPartition(spark, root,
        keep, keep)
      assert(pruned < total, s"$statsPrefix no pruning: $pruned of $total")
      val viaP = GraftTable.readPartitionRange(spark, root, keep, keep)
        .agg(count(lit(1)), sum("v")).as[(Long, Long)].head()
      val viaFull = GraftTable.read(spark, root)
        .filter(transformVal === keep)
        .agg(count(lit(1)), sum("v")).as[(Long, Long)].head()
      assert(viaP === viaFull, s"$statsPrefix content: $viaP vs $viaFull")
      sabotage(root, statsPrefix, keep)
      assert(GraftTable.readPartitionRange(spark, root, keep, keep)
        .agg(sum("v")).as[Long].head() === viaP._2,
        s"$statsPrefix pruned read touched the deleted file")
    }
    // ts spans 8 distinct ~35-day-spaced instants → many months, 2 years
    def fx(n: Int) = spark.range(1, n + 1).select(
      $"id".as("k"),
      to_timestamp(from_unixtime(lit(1700000000L) +
        ($"id" % 8) * lit(35L * 86400))).as("ts"),
      ($"id" % 40 * 100000).as("v"))
    val mRoot = freshRoot()
    GraftTable.create(spark, mRoot, fx(4000), "k", nBuckets = 16,
      partitioning = Some(MonthsPartition("ts")))
    val m0 = fx(1).select((year($"ts") * 12 + month($"ts") - 1)
      .cast("long")).as[Long].head()
    check(mRoot, (year($"ts") * 12 + month($"ts") - 1).cast("long"),
      m0, "__p_months_")
    val yRoot = freshRoot()
    GraftTable.create(spark, yRoot, fx(4000), "k", nBuckets = 16,
      partitioning = Some(YearsPartition("ts")))
    val y1 = fx(4000).agg(max(year($"ts")).cast("long")).as[Long].head()
    check(yRoot, year($"ts").cast("long"), y1, "__p_years_")
    val tRoot = freshRoot()
    GraftTable.create(spark, tRoot, fx(4000), "k", nBuckets = 16,
      partitioning = Some(TruncatePartition(1000000L, "v")))
    check(tRoot, (floor($"v" / 1000000L) * 1000000L).cast("long"),
      2000000L, "__p_trunc")
  }

  test("CHECK constraints: violating writes abort before the manifest " +
    "publish, declaration validates existing data, drop re-opens") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(500), "k", nBuckets = 2)
    // declaring a constraint existing data violates is refused
    val e0 = intercept[GraftTable.ConstraintViolationException] {
      GraftTable.addConstraint(spark, root, "big_v", "v > 100")
    }
    assert(e0.getMessage.contains("existing row"), e0.getMessage)
    assert(GraftTable.constraints(spark, root).isEmpty)
    // a satisfiable constraint declares; valid writes commit
    GraftTable.addConstraint(spark, root, "pos_v", "v >= 0 AND v IS NOT NULL")
    assert(GraftTable.constraints(spark, root)
      === Map("pos_v" -> "v >= 0 AND v IS NOT NULL"))
    GraftTable.upsert(spark, root,
      spark.range(600, 611).select($"id".as("k"), lit("ok").as("name"),
        lit(5L).as("v")), "k")
    assert(GraftTable.latestVersion(spark, root) === 1)
    // a violating write aborts: head unchanged, content unchanged,
    // staged orphans swept by vacuum
    val e1 = intercept[GraftTable.ConstraintViolationException] {
      GraftTable.upsert(spark, root,
        spark.range(700, 703).select($"id".as("k"), lit("bad").as("name"),
          lit(-1L).as("v")), "k")
    }
    assert(e1.getMessage.contains("pos_v") &&
      e1.getMessage.contains("3 row(s)"), e1.getMessage)
    assert(GraftTable.latestVersion(spark, root) === 1)
    assert(GraftTable.read(spark, root).count() === 511)
    // NULL in the constrained column counts as a violation (SQL CHECK)
    intercept[GraftTable.ConstraintViolationException] {
      GraftTable.upsert(spark, root,
        spark.range(1).select(lit(999L).as("k"), lit("n").as("name"),
          lit(null).cast("long").as("v")), "k")
    }
    // the CDC path enforces too
    intercept[GraftTable.ConstraintViolationException] {
      GraftTable.applyCdcBatch(spark, root,
        spark.range(1).select(lit(42L).as("k"), lit("c").as("name"),
          lit(-9L).as("v"), lit("replace").as("_op")), "k")
    }
    assert(GraftTable.latestVersion(spark, root) === 1)
    // drop re-opens the gate
    GraftTable.dropConstraint(spark, root, "pos_v")
    GraftTable.upsert(spark, root,
      spark.range(1).select(lit(700L).as("k"), lit("neg").as("name"),
        lit(-1L).as("v")), "k")
    assert(GraftTable.latestVersion(spark, root) === 2)
  }

  test("time-based vacuum resolves its horizon through the durable " +
    "commit instants, latest always kept") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(300), "k", nBuckets = 2)
    Thread.sleep(25)
    GraftTable.upsert(spark, root, base(300).filter($"k" <= 5)
      .withColumn("v", lit(-1L)), "k")
    Thread.sleep(25)
    GraftTable.upsert(spark, root, base(300).filter($"k" <= 2)
      .withColumn("v", lit(-2L)), "k")
    val ts = GraftTable.commitTimestamps(spark, root)
    // horizon BEFORE v0's instant: everything retained (only true
    // orphans would sweep), all three versions stay readable
    GraftTable.vacuumOlderThan(spark, root, retainMillis = 3600000L,
      nowMillis = ts(0)._2 + 10)
    assert(GraftTable.availableVersions(spark, root) === Seq(0, 1, 2))
    // horizon BETWEEN v1 and v2: v2 retained, v0/v1 swept
    val mid = (ts(1)._2 + ts(2)._2) / 2
    val removed = GraftTable.vacuumOlderThan(spark, root,
      retainMillis = 0L, nowMillis = mid)
    assert(removed > 0)
    assert(GraftTable.availableVersions(spark, root) === Seq(2))
    assert(GraftTable.read(spark, root).count() === 300)
    assert(GraftTable.read(spark, root).filter($"v" === -2L).count() === 2)
  }

  test("commit instants live IN the manifest: rewriting every mtime " +
    "(a non-preserving restore) does not shift TIMESTAMP AS OF") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(100), "k", nBuckets = 2)
    Thread.sleep(25)
    GraftTable.upsert(spark, root, base(100).filter($"k" <= 5)
      .withColumn("v", lit(-1L)), "k")
    Thread.sleep(25)
    GraftTable.upsert(spark, root, base(100).filter($"k" <= 2)
      .withColumn("v", lit(-2L)), "k")
    val before = GraftTable.commitTimestamps(spark, root)
    assert(before.map(_._1) === Seq(0, 1, 2))
    assert(before.map(_._2) === before.map(_._2).sorted)
    // sabotage: shift every manifest's mtime a day forward, as an
    // rsync/object-store copy without mtime preservation would
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (v <- 0 to 2) {
      val p = new org.apache.hadoop.fs.Path(root, f"_log/v$v%05d.manifest")
      fs.setTimes(p, fs.getFileStatus(p).getModificationTime + 86400000L, -1)
    }
    // durable instants: identical mapping, resolution unmoved
    assert(GraftTable.commitTimestamps(spark, root) === before)
    assert(GraftTable.resolveTimestamp(spark, root, before(1)._2)
      === Some(1))
    assert(GraftTable.resolveTimestamp(spark, root, before(0)._2 - 1)
      === None)
    assert(GraftTable.resolveTimestamp(spark, root,
      before(2)._2 + 3600000L) === Some(2))
    // the v1 snapshot a reader at instant(1) saw
    assert(GraftTable.read(spark, root, GraftTable.resolveTimestamp(
      spark, root, before(1)._2)).filter($"v" === -1L).count() === 5)
  }

  /** Seven one-file commits over disjoint key blocks of 100: a
    * DETERMINISTIC file layout (file i spans exactly
    * [100(i−1)+1, 100i]) for the optimize-concurrency interleavings —
    * at targetRows = 300 the grouping is {f1,f2,f3}, {f4,f5,f6}, {f7
    * carried}. */
  private def sevenBlockTable(root: String): Unit = {
    def block(i: Int) = spark.range(100L * (i - 1) + 1, 100L * i + 1)
      .select($"id".as("k"), concat(lit("row"), $"id").as("name"),
        ($"id" * 10).as("v"))
    GraftTable.create(spark, root, block(1), "k", nBuckets = 1)
    (2 to 7).foreach(i => GraftTable.upsert(spark, root, block(i), "k",
      nBuckets = 1))
    assert(manifestLines(root, 6).size === 7)
  }

  test("OPTIMIZE vs concurrent MERGE on DISJOINT files: the compaction " +
    "rebases onto the new head, zero lost updates, stats re-pinned") {
    val root = freshRoot()
    sevenBlockTable(root)
    // the interleaved merge touches ONLY f7 (keys 650-660) — a file
    // optimize carries, not an input — so the rebase arm must fire
    val merge = spark.range(650, 661).select($"id".as("k"),
      lit(null).cast("string").as("name"), lit(-7L).as("v"))
    val (v, rewritten, carried) = GraftTable.optimizeWithHook(spark, root,
      "k", targetRows = 300,
      beforeCommit = () => { GraftTable.upsert(spark, root, merge, "k"); () })
    // v7 = the interleaved merge, v8 = the rebased compaction
    assert(v === 8 && rewritten === 6)
    assert(GraftTable.latestVersion(spark, root) === 8)
    val head = GraftTable.read(spark, root)
    assert(head.count() === 700)
    // the merge's update SURVIVED the compaction commit (no lost update)
    assert(head.filter($"v" === -7L).count() === 11)
    // column-wise merge kept names; everything else untouched
    assert(head.filter($"name".startsWith("row")).count() === 700)
    assert(head.agg(sum("v")).as[Long].head() ===
      (1L to 700).map(_ * 10).sum - (650L to 660).map(_ * 10).sum - 7 * 11)
    // compaction really happened at the head: 6 inputs → 2 packed files
    // (+ the merge's rewrite of f7)
    assert(manifestLines(root, 8).size < 7)
    // the rebased version re-pinned its stats sidecar: metadata
    // count(col) stays servable over the compacted files
    assert(GraftTable.snapshotNullCount(spark, root, 8, "v") === Some(0L))
  }

  test("OPTIMIZE vs concurrent MERGE on the SAME files: clean " +
    "ConcurrentCommitException, head keeps the merge, vacuum sweeps " +
    "the staged orphans") {
    val root = freshRoot()
    sevenBlockTable(root)
    // the interleaved merge rewrites f2 (keys 150-160) — one of the
    // compaction's INPUT files — so the staged output is stale
    val merge = spark.range(150, 161).select($"id".as("k"),
      lit(null).cast("string").as("name"), lit(-7L).as("v"))
    val e = intercept[GraftTable.ConcurrentCommitException] {
      GraftTable.optimizeWithHook(spark, root, "k", targetRows = 300,
        beforeCommit = () => { GraftTable.upsert(spark, root, merge, "k"); () })
    }
    assert(e.getMessage.contains("OPTIMIZE conflicts"))
    // head = the merge's commit; the merge is never lost
    assert(GraftTable.latestVersion(spark, root) === 7)
    val head = GraftTable.read(spark, root)
    assert(head.count() === 700)
    assert(head.filter($"v" === -7L).count() === 11)
    // the aborted compaction's staged files are unreferenced orphans:
    // vacuum reclaims them, content unchanged
    val removed = GraftTable.vacuum(spark, root, retainVersions = 1)
    assert(removed > 0)
    assert(GraftTable.read(spark, root).count() === 700)
    assert(GraftTable.read(spark, root).filter($"v" === -7L).count() === 11)
  }

  test("OPTIMIZE vs a concurrent appendUpsert on an INPUT key: clean " +
    "ConcurrentCommitException, the retired row stays retired") {
    val root = freshRoot()
    sevenBlockTable(root)
    // the eqdel for key 150 lands at v7 — the version the staged
    // compaction's files are named after, so it could never mask them
    val e = intercept[GraftTable.ConcurrentCommitException] {
      GraftTable.optimizeWithHook(spark, root, "k", targetRows = 300,
        beforeCommit = () => {
          GraftTable.appendUpsert(spark, root, Seq((150L, "eq", -5L))
            .toDF("k", "name", "v"), "k")
          ()
        })
    }
    assert(e.getMessage.contains("OPTIMIZE conflicts"))
    assert(GraftTable.latestVersion(spark, root) === 7)
    val head = GraftTable.read(spark, root)
    assert(head.count() === 700)
    assert(head.filter($"k" === 150).select("v").as[Long].collect().toSeq
      === Seq(-5L))
  }

  test("OPTIMIZE whose every publish loses the race aborts after a " +
    "bounded number of attempts instead of spinning") {
    val root = freshRoot()
    sevenBlockTable(root)
    val store = new RefuseManifestsLogStore
    val e = intercept[GraftTable.ConcurrentCommitException] {
      GraftTable.withLogStore(store)(
        GraftTable.optimize(spark, root, "k", targetRows = 300))
    }
    assert(e.getMessage.contains("concurrent commit"))
    // the first attempt plus the commit core's two retries
    assert(store.attempts.get() === 3)
    assert(GraftTable.latestVersion(spark, root) === 6)
  }

  test("RENAME COLUMN is metadata-only: same files, head reads the new " +
    "name, time travel below the rename reads the old one") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(200), "k", nBuckets = 2)
    GraftTable.upsert(spark, root, base(200).filter($"k" <= 5)
      .withColumn("v", lit(-1L)), "k")
    val v = GraftTable.renameColumn(spark, root, "v", "amount")
    assert(v === 2)
    // metadata-only: the rename's manifest carries every file by reference
    assert(manifestLines(root, 2) === manifestLines(root, 1))
    val head = GraftTable.read(spark, root)
    assert(head.columns.toSeq === Seq("k", "name", "amount"))
    // the same physical bytes serve the new logical name
    assert(head.filter($"amount" === -1L).count() === 5)
    assert(head.agg(sum("amount")).as[Long].head() ===
      (1L to 200).map(_ * 10).sum - (1L to 5).map(_ * 10).sum - 5)
    // time travel BELOW the rename: old logical name, same values
    val v1 = GraftTable.read(spark, root, Some(1))
    assert(v1.columns.toSeq === Seq("k", "name", "v"))
    assert(v1.filter($"v" === -1L).count() === 5)
    // writes after the rename use the new name; physical stays frozen
    GraftTable.upsert(spark, root, spark.range(6, 11).select($"id".as("k"),
      lit(null).cast("string").as("name"), lit(-2L).as("amount")), "k")
    assert(GraftTable.read(spark, root).filter($"amount" === -2L).count() === 5)
    // metadata aggregates keep working across the rename: old files'
    // ledger lines (physical name) serve the new logical name
    val latest = GraftTable.latestVersion(spark, root)
    assert(GraftTable.snapshotNullCount(spark, root, latest, "amount")
      === Some(0L))
    assert(GraftTable.snapshotColumnSum(spark, root, latest, "amount")
      .flatten.isDefined)
    // the SQL/DataSource surface resolves the mapping too
    val sqlHead = spark.read.format("graft").load(root)
    assert(sqlHead.columns.toSeq === Seq("k", "name", "amount"))
    assert(sqlHead.filter($"amount" === -2L).count() === 5)
  }

  test("RENAME refuses columns the table references by name: key, " +
    "bloom, partition transform, CHECK constraints") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(50), "k", nBuckets = 1,
      bloomCol = Some("name"))
    GraftTable.addConstraint(spark, root, "v_pos", "v > 0")
    intercept[IllegalArgumentException] {
      GraftTable.renameColumn(spark, root, "k", "key2") }
    intercept[IllegalArgumentException] {
      GraftTable.renameColumn(spark, root, "name", "label") }
    intercept[IllegalArgumentException] {
      GraftTable.renameColumn(spark, root, "v", "amount") }
    intercept[IllegalArgumentException] {
      GraftTable.dropColumn(spark, root, "v") }
    // dropping the constraint unblocks the rename
    GraftTable.dropConstraint(spark, root, "v_pos")
    assert(GraftTable.renameColumn(spark, root, "v", "amount") === 1)
  }

  test("DROP COLUMN tombstones the physical name: a re-added column " +
    "surfaces NULLs, never resurrected pre-drop bytes") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(100), "k", nBuckets = 2)
    val vDrop = GraftTable.dropColumn(spark, root, "v")
    assert(vDrop === 1)
    assert(manifestLines(root, 1) === manifestLines(root, 0)) // metadata-only
    assert(GraftTable.read(spark, root).columns.toSeq === Seq("k", "name"))
    // time travel below the drop still has the column
    assert(GraftTable.read(spark, root, Some(0))
      .agg(sum("v")).as[Long].head() === 10L * 100 * 101 / 2)
    // re-add the same logical name: fresh physical → all NULL, even
    // though every v0 file still physically stores the old 'v' bytes
    GraftTable.evolveAddColumns(spark, root, Seq(
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType, nullable = true)))
    val readded = GraftTable.read(spark, root)
    assert(readded.columns.toSeq === Seq("k", "name", "v"))
    assert(readded.filter($"v".isNotNull).count() === 0)
    // and it is writable under the new identity
    GraftTable.upsert(spark, root, spark.range(1, 4).select($"id".as("k"),
      lit(null).cast("string").as("name"), lit(77L).as("v")), "k")
    val head = GraftTable.read(spark, root)
    assert(head.filter($"v" === 77L).count() === 3)
    assert(head.filter($"v".isNotNull).count() === 3)
  }

  test("SHALLOW CLONE carries the tombstones: a column dropped on the " +
    "source and re-added on the clone surfaces NULLs") {
    val tmp = Files.createTempDirectory("graft_clone_drop_spec").toString
    val src = s"$tmp/src"; val dst = s"$tmp/dst"
    GraftTable.create(spark, src, base(100), "k", nBuckets = 2)
    GraftTable.dropColumn(spark, src, "v")
    GraftTable.cloneTable(spark, src, dst)
    // one write-once tombstone file, the form DROP COLUMN writes
    assert(new java.io.File(s"$dst/_log").list().toSeq
      .count(_.matches("dropped-[0-9a-f]{8}\\.json")) === 1)
    // the clone references the source's files, which still store the
    // old 'v' bytes: the re-added column must not resurrect them
    GraftTable.evolveAddColumns(spark, dst, Seq(
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType, nullable = true)))
    val readded = GraftTable.read(spark, dst)
    assert(readded.columns.toSeq === Seq("k", "name", "v"))
    assert(readded.count() === 100)
    assert(readded.filter($"v".isNotNull).count() === 0)
  }

  test("rename + drop compose: changes() and CDF replay stay coherent " +
    "across the mapping commits") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(60), "k", nBuckets = 1)
    GraftTable.renameColumn(spark, root, "v", "amount")
    GraftTable.upsert(spark, root, spark.range(1, 6).select($"id".as("k"),
      lit(null).cast("string").as("name"), lit(-9L).as("amount")), "k")
    // feed across the rename: v0→head under the head's schema/names
    val feed = GraftTable.changes(spark, root, 0,
      GraftTable.latestVersion(spark, root), "k")
    assert(feed.columns.contains("amount"))
    assert(feed.filter($"_change" === "update").count() === 5)
    assert(feed.filter($"amount" === -9L).count() === 5)
  }

  test("SHALLOW CLONE: zero-copy fork — clone reads the source's " +
    "files by absolute reference, then the tables diverge independently") {
    val tmp = Files.createTempDirectory("graft_clone_spec").toString
    val src = s"$tmp/src"; val dst = s"$tmp/dst"
    GraftTable.create(spark, src, base(300), "k", nBuckets = 3)
    GraftTable.addConstraint(spark, src, "v_pos", "v >= -100")
    GraftTable.cloneTable(spark, src, dst)
    // every clone manifest entry is an absolute reference into src —
    // zero data files copied
    assert(manifestLines(dst, 0).map(_.split('\t')(0))
      .forall(_.startsWith(s"$src/")))
    assert(GraftTable.read(spark, dst).count() === 300)
    assert(GraftTable.read(spark, dst).agg(sum("v")).as[Long].head()
      === 10L * 300 * 301 / 2)
    // metadata aggregates work on the clone from commit 0 (stats
    // ledger re-keyed onto the absolute references)
    assert(GraftTable.snapshotNullCount(spark, dst, 0, "v") === Some(0L))
    // divergence: writes to one never touch the other
    GraftTable.upsert(spark, dst, spark.range(1, 6).select($"id".as("k"),
      lit(null).cast("string").as("name"), lit(-1L).as("v")), "k")
    GraftTable.upsert(spark, src, spark.range(10, 13).select($"id".as("k"),
      lit(null).cast("string").as("name"), lit(-2L).as("v")), "k")
    assert(GraftTable.read(spark, dst).filter($"v" === -1L).count() === 5)
    assert(GraftTable.read(spark, dst).filter($"v" === -2L).count() === 0)
    assert(GraftTable.read(spark, src).filter($"v" === -1L).count() === 0)
    assert(GraftTable.read(spark, src).filter($"v" === -2L).count() === 3)
    // constraints traveled with the clone
    intercept[GraftTable.ConstraintViolationException] {
      GraftTable.upsert(spark, dst, spark.range(1, 2).select($"id".as("k"),
        lit(null).cast("string").as("name"), lit(-999L).as("v")), "k")
    }
    // OPTIMIZE localizes the clone: compacted entries live under dst
    GraftTable.optimize(spark, dst, "k", targetRows = 1000000L)
    assert(manifestLines(dst, 2).map(_.split('\t')(0))
      .forall(_.startsWith("data/")))
    assert(GraftTable.read(spark, dst).count() === 300)
    // clone vacuum never reaches into the source
    GraftTable.vacuum(spark, dst, retainVersions = 1)
    assert(GraftTable.read(spark, src).count() === 300)
  }

  test("CONCURRENT DROP COLUMNs: neither tombstone is lost (per-drop " +
    "write-once files, no read-modify-write) — re-adding either name " +
    "surfaces NULLs, never pre-drop bytes") {
    val root = freshRoot()
    GraftTable.create(spark, root, spark.range(1, 101).select(
      $"id".as("k"), lit("A").as("a"), lit("B").as("b"),
      lit("C").as("c")), "k", nBuckets = 1)
    def dropWithRetry(name: String): Unit = {
      var done = false
      while (!done) {
        try { GraftTable.dropColumn(spark, root, name); done = true }
        catch { case _: GraftTable.ConcurrentCommitException => () }
      }
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val latch = new java.util.concurrent.CountDownLatch(1)
    Seq("a", "b").foreach { c =>
      pool.submit(new Runnable {
        override def run(): Unit =
          try { latch.await(); dropWithRetry(c) }
          catch { case e: Throwable => errs.add(e) }
      })
    }
    latch.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, java.util.concurrent.TimeUnit.SECONDS))
    assert(errs.isEmpty, s"drop thread failed: ${errs.peek()}")
    // both drops committed
    assert(GraftTable.read(spark, root).columns.sorted.toSeq ===
      Seq("c", "k"))
    // both physical names are tombstoned: re-adds map to FRESH
    // physicals, so pre-drop bytes in surviving files never resurface
    GraftTable.evolveAddColumns(spark, root, Seq(
      org.apache.spark.sql.types.StructField("a",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("b",
        org.apache.spark.sql.types.StringType)))
    val readd = GraftTable.read(spark, root)
    assert(readd.filter($"a".isNotNull || $"b".isNotNull).count() === 0)
    assert(readd.filter($"c" === "C").count() === 100)
  }

  test("CONCURRENT DROP COLUMNs ×50: the token-named sidecar protocol " +
    "never publishes a loser's schema under a winner's commit") {
    val root = freshRoot()
    GraftTable.create(spark, root, spark.range(1, 4).select(
      $"id".as("k"), lit("C").as("c")), "k", nBuckets = 1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      (1 to 50).foreach { i =>
        // each round adds two fresh columns (one metadata commit), then
        // drops them CONCURRENTLY — the exact interleaving that used to
        // let a race-losing drop replace the winner's staged schema and
        // durably corrupt the winning version's column set
        val (ca, cb) = (s"a$i", s"b$i")
        GraftTable.evolveAddColumns(spark, root, Seq(
          org.apache.spark.sql.types.StructField(ca,
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField(cb,
            org.apache.spark.sql.types.StringType)))
        val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val latch = new java.util.concurrent.CountDownLatch(1)
        val done = new java.util.concurrent.CountDownLatch(2)
        Seq(ca, cb).foreach { c =>
          pool.submit(new Runnable {
            override def run(): Unit =
              try {
                latch.await()
                var ok = false
                while (!ok) {
                  try { GraftTable.dropColumn(spark, root, c); ok = true }
                  catch { case _: GraftTable.ConcurrentCommitException => () }
                }
              } catch { case e: Throwable => errs.add(e) }
              finally done.countDown()
          })
        }
        latch.countDown()
        assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS),
          s"round $i timed out")
        assert(errs.isEmpty, s"round $i drop failed: ${errs.peek()}")
        // the corruption signature was: one drop's column surviving its
        // own committed drop (or a column vanishing without its commit)
        assert(GraftTable.tableSchema(spark, root,
          GraftTable.latestVersion(spark, root)).fieldNames.sorted.toSeq
          === Seq("c", "k"), s"round $i corrupted the schema")
      }
    } finally pool.shutdown()
    assert(GraftTable.read(spark, root).columns.sorted.toSeq ===
      Seq("c", "k"))
  }

  test("HOOK-DRIVEN sidecar race: a DDL writer that loses the version " +
    "to a commit landing inside its stage→rename window can neither " +
    "replace nor leak into the winner's schema") {
    val root = freshRoot()
    GraftTable.create(spark, root, spark.range(1, 4).select(
      $"id".as("k"), lit("A").as("a"), lit("B").as("b"),
      lit("C").as("c")), "k", nBuckets = 1)
    // writer A (DROP a) stages its schema sidecar for v1; INSIDE the
    // window before A's manifest rename, writer B (DROP b) runs to
    // completion and WINS v1 — the deterministic form of the race the
    // old pre-delete turned into permanent corruption
    var fired = false
    intercept[GraftTable.ConcurrentCommitException] {
      GraftTable.dropColumnWithHook(spark, root, "a", () => {
        if (!fired) { fired = true; GraftTable.dropColumn(spark, root, "b") }
      })
    }
    assert(fired)
    // v1 is B's commit and serves EXACTLY B's schema {k, a, c}: A's
    // staged sidecar (still on disk or self-deleted, either way a
    // foreign token) must be invisible to resolution
    assert(GraftTable.tableSchema(spark, root, 1).fieldNames.sorted.toSeq
      === Seq("a", "c", "k"),
      "the losing writer's schema leaked into the winning commit")
    assert(GraftTable.read(spark, root, Some(1)).columns.sorted.toSeq ===
      Seq("a", "c", "k"))
    // A's clean retry lands as v2 with both drops applied
    assert(GraftTable.dropColumn(spark, root, "a") === 2)
    assert(GraftTable.read(spark, root).columns.sorted.toSeq ===
      Seq("c", "k"))
    // and v1 time travel STILL serves B's era after A's retry
    assert(GraftTable.read(spark, root, Some(1)).columns.sorted.toSeq ===
      Seq("a", "c", "k"))
  }

  test("cloneTable from a RELATIVE source path: references are " +
    "qualified absolute, so clone reads resolve under the SOURCE root") {
    // a relative path (resolved against the process working dir) —
    // the shape that used to write clone-relative references
    val relSrc = "target/tmp-clone-src-" +
      java.util.UUID.randomUUID().toString.take(8)
    val dst = freshRoot()
    try {
      GraftTable.create(spark, relSrc, base(300), "k", nBuckets = 2)
      GraftTable.cloneTable(spark, relSrc, dst)
      // every v0 reference is absolute (never clone-relative)
      assert(GraftTable.snapshotFileLedger(spark, dst, 0)
        .forall(e => e._1.startsWith("/") || e._1.contains("://")))
      // and the clone actually serves the source's rows
      assert(GraftTable.read(spark, dst).count() === 300)
      assert(GraftTable.read(spark, dst).agg(sum($"v")).as[Long].head ===
        (1L to 300L).map(_ * 10).sum)
    } finally {
      val p = new org.apache.hadoop.fs.Path(
        new java.io.File(relSrc).getAbsolutePath)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
    }
  }

  test("DELETION VECTORS: a narrow merge-on-read DELETE rewrites ZERO " +
    "data files (manifest proves it); reads, time travel, and CDF " +
    "hash-match the CoW equivalent") {
    val rootDv = freshRoot(); val rootCow = freshRoot() + "cow"
    GraftTable.create(spark, rootDv, base(4000), "k", nBuckets = 4)
    GraftTable.create(spark, rootCow, base(4000), "k", nBuckets = 4)
    val pred = $"k" % 37 === 0 // narrow, spread across every file
    val (v1, nDvd, nCarried) = GraftTable.deleteWhereDv(spark, rootDv, pred)
    GraftTable.deleteWhere(spark, rootCow, pred, "k")
    assert(v1 === 1 && nDvd === 4 && nCarried === 0)
    // ZERO data files rewritten: v1 references exactly v0's files
    val files0 = manifestLines(rootDv, 0).map(_.split('\t')(0)).sorted
    val files1 = manifestLines(rootDv, 1).map(_.split('\t')(0)).sorted
    assert(files1 === files0)
    // every v1 line carries a DV reference (7 fields)
    assert(manifestLines(rootDv, 1).forall(_.split('\t').length === 7))
    // reads hash-match the CoW equivalent
    def digest(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        sum(conv(substring(md5(concat_ws("|", $"k", $"name", $"v")),
          1, 8), 16, 10).cast("long"))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    assert(digest(GraftTable.read(spark, rootDv)) ===
      digest(GraftTable.read(spark, rootCow)))
    assert(GraftTable.read(spark, rootDv).filter(pred).count() === 0)
    // time travel to v0 still serves every row
    assert(GraftTable.read(spark, rootDv, Some(0)).count() === 4000)
    // range/point-style reads mask too
    assert(GraftTable.readRange(spark, rootDv, "k", 1, 200)
      .filter($"k" % 37 === 0).count() === 0)
    // CDF: the DV commit surfaces exactly the deleted keys as deletes
    val feed = GraftTable.changes(spark, rootDv, 0, 1, "k")
    assert(feed.filter($"_change" =!= "delete").count() === 0)
    assert(feed.select($"k").as[Long].collect().sorted.toSeq ===
      (1L to 4000L).filter(_ % 37 == 0))
    // metadata honesty under DVs: live count exact, min/max refuses
    val (rows, range) = GraftTable.snapshotKeyStats(spark, rootDv, 1)
    assert(rows === GraftTable.read(spark, rootDv).count())
    assert(range.isEmpty)
    assert(GraftTable.snapshotNullCount(spark, rootDv, 1, "v").isEmpty)
    assert(GraftTable.hasDeletionVectors(spark, rootDv, 1))
    assert(!GraftTable.hasDeletionVectors(spark, rootDv, 0))
  }

  test("DELETION VECTORS compose: a second DV delete accumulates into " +
    "ONE fresh sidecar; a fully-emptied file drops from the manifest; " +
    "upsert and OPTIMIZE absorb DVs back to clean files") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(2000), "k", nBuckets = 4)
    GraftTable.deleteWhereDv(spark, root, $"k" % 10 === 1)
    GraftTable.deleteWhereDv(spark, root, $"k" % 10 === 2)
    // both generations masked
    assert(GraftTable.read(spark, root).count() === 1600)
    assert(GraftTable.read(spark, root)
      .filter($"k" % 10 === 1 || $"k" % 10 === 2).count() === 0)
    // exactly one DV per file, describing BOTH deletes (no chaining)
    val dvFields = manifestLines(root, 2).map(_.split('\t'))
    assert(dvFields.forall(f => f.length === 7 && f(6).toLong === 100L))
    // a delete that empties whole files drops them: kill every k in
    // the first file's range via a predicate matching all its rows
    val (v3, _, _) = GraftTable.deleteWhereDv(spark, root, $"k" <= 500)
    val after = manifestLines(root, v3)
    assert(after.size < dvFields.size)
    assert(GraftTable.read(spark, root).count() === 1200)
    // upsert absorbs the touched file's DV (fresh rewrite, no DV line)
    val (v4, nRw, _) = GraftTable.upsert(spark, root,
      Seq((600L, "UPD", -1L)).toDF("k", "name", "v"), "k")
    val rewritten = manifestLines(root, v4).filter(_.split('\t').length == 5)
    assert(nRw >= 1 && rewritten.nonEmpty)
    // OPTIMIZE absorbs every remaining DV; content is checksummed equal
    def digest(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        sum(conv(substring(md5(concat_ws("|", $"k", $"name", $"v")),
          1, 8), 16, 10).cast("long"))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val before = digest(GraftTable.read(spark, root))
    val (v5, _, _) = GraftTable.optimize(spark, root, "k", targetRows = 2000)
    assert(manifestLines(root, v5).forall(_.split('\t').length === 5))
    assert(digest(GraftTable.read(spark, root)) === before)
    assert(!GraftTable.hasDeletionVectors(spark, root, v5))
    // vacuum: superseded DV sidecars die with their history; the
    // absorbed head needs none
    GraftTable.vacuum(spark, root, retainVersions = 1)
    val dataDir = new java.io.File(root, "data")
    def dvCount(d: java.io.File): Int =
      if (!d.exists) 0
      else d.listFiles.map(f =>
        if (f.isDirectory) dvCount(f)
        else if (f.getName.endsWith(".dv")) 1 else 0).sum
    assert(dvCount(dataDir) === 0)
    assert(digest(GraftTable.read(spark, root)) === before)
  }

  test("DELETION VECTORS through the SQL/DSv2 surface: format(\"graft\") " +
    "and catalog SQL mask deleted rows (clean files keep the fast " +
    "path; DV'd splits filter by generated row index)") {
    val root = freshRoot()
    GraftTable.create(spark, root, base(3000), "k", nBuckets = 3)
    // DV only SOME files: mixed clean+masked plan
    GraftTable.deleteWhereDv(spark, root, $"k" <= 700 && $"k" % 3 === 0)
    val expect = (1L to 3000L).filterNot(k => k <= 700 && k % 3 == 0)
    val viaDs = spark.read.format("graft").load(root)
    assert(viaDs.count() === expect.size)
    assert(viaDs.agg(sum($"v")).as[Long].head === expect.map(_ * 10).sum)
    // column pruning + filters still correct through the masked path
    assert(viaDs.filter($"k" <= 700).select($"name").count() ===
      (1L to 700L).count(_ % 3 != 0))
    // catalog SQL + VERSION AS OF across the DV commit
    val cat = "graft_dv_" + java.util.UUID.randomUUID().toString.take(8)
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.base",
      new java.io.File(root).getParent)
    val t = s"$cat.`${new java.io.File(root).getName}`"
    assert(spark.sql(s"SELECT count(*) AS n FROM $t").as[Long].head ===
      expect.size)
    assert(spark.sql(
      s"SELECT count(*) AS n FROM $t VERSION AS OF 0").as[Long].head === 3000)
    assert(spark.sql(s"SELECT sum(v) AS s FROM $t WHERE k <= 700")
      .as[Long].head ===
      (1L to 700L).filter(_ % 3 != 0).map(_ * 10).sum)
  }

  private def manifestLines(root: String, v: Int): Seq[String] = {
    val src = scala.io.Source.fromFile(f"$root/_log/v$v%05d.manifest")
    // skip the #commit-ts header: these helpers compare FILE ledgers
    try src.getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#")).toList
    finally src.close()
  }
}
