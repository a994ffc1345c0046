package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Cross-table atomic publish: readers see every table's old snapshot
  * until the single marker file lands, then every table's new one —
  * never a mix; crashes before the marker never publish; abort
  * recovers; vacuum spares in-flight staging. */
class GraftTxnSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(): (String, String, String) = {
    val base = Files.createTempDirectory("graft_txn_spec").toString
    (s"$base/dim", s"$base/fact", s"$base/txn")
  }

  /** Age the staged manifest at `v` past the default reap horizon by
    * back-dating its durable `#commit-ts` header by an hour — what a
    * coordinator that crashed long ago leaves behind. */
  private def backdateStaging(root: String, v: Int): Unit = {
    val p = java.nio.file.Paths.get(root, f"_log/v$v%05d.manifest")
    val text = new String(Files.readAllBytes(p), "UTF-8")
    val ts = text.linesIterator.next().split('\t')(1).toLong
    val aged = text.replaceFirst(s"#commit-ts\t$ts",
      s"#commit-ts\t${ts - 3600000L}")
    Files.write(p, aged.getBytes("UTF-8"))
    // the local filesystem checksums its files: drop the stale .crc
    Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
  }

  private def dim(n: Int) = spark.range(1, n + 1).select(
    $"id".as("k"), concat(lit("p"), $"id").as("name"))
  private def fact(n: Int) = spark.range(1, n + 1).select(
    $"id".as("k"), ($"id" % 7).as("product"), ($"id" * 100).as("cents"))

  test("publishAll: both tables flip in one atomic step; a reader " +
    "between stagings sees BOTH old snapshots") {
    val (dimRoot, factRoot, txnDir) = fresh()
    GraftTable.create(spark, dimRoot, dim(50), "k", nBuckets = 1)
    GraftTable.create(spark, factRoot, fact(500), "k", nBuckets = 2)
    val dimBatch = spark.range(1, 4).select($"id".as("k"),
      lit("UPDATED").as("name"))
    val factBatch = spark.range(1, 11).select($"id".as("k"),
      lit(0L).as("product"), lit(-1L).as("cents"))
    // stage only (the crash window): NOTHING is visible on either table
    val id = GraftTxn.stageAll(spark, txnDir, Seq(
      GraftTxn.TableWrite(dimRoot, dimBatch, "k", 1),
      GraftTxn.TableWrite(factRoot, factBatch, "k", 1)))
    assert(GraftTable.latestVersion(spark, dimRoot) === 0)
    assert(GraftTable.latestVersion(spark, factRoot) === 0)
    assert(GraftTable.read(spark, dimRoot)
      .filter($"name" === "UPDATED").count() === 0)
    assert(GraftTable.read(spark, factRoot)
      .filter($"cents" === -1L).count() === 0)
    // explicit time travel to the staged version refuses
    val e = intercept[IllegalStateException] {
      GraftTable.read(spark, dimRoot, Some(1)).count() }
    assert(e.getMessage.contains("STAGED transaction"))
    // the marker is the atomic point: both tables flip together
    GraftTxn.commit(spark, txnDir, id)
    assert(GraftTable.latestVersion(spark, dimRoot) === 1)
    assert(GraftTable.latestVersion(spark, factRoot) === 1)
    assert(GraftTable.read(spark, dimRoot)
      .filter($"name" === "UPDATED").count() === 3)
    assert(GraftTable.read(spark, factRoot)
      .filter($"cents" === -1L).count() === 10)
    // committed txn refuses abort
    intercept[IllegalStateException] {
      GraftTxn.abort(spark, txnDir, id, Seq(dimRoot, factRoot)) }
  }

  test("abort-vs-commit is ONE atomic creation: an abort that wins the " +
    "marker race makes the late commit fail — never a committed marker " +
    "next to half-deleted staging") {
    val (dimRoot, factRoot, txnDir) = fresh()
    GraftTable.create(spark, dimRoot, dim(20), "k", nBuckets = 1)
    GraftTable.create(spark, factRoot, fact(60), "k", nBuckets = 1)
    val id = GraftTxn.stageAll(spark, txnDir, Seq(
      GraftTxn.TableWrite(dimRoot, dim(20).withColumn("name", lit("X")), "k", 1),
      GraftTxn.TableWrite(factRoot, fact(60).withColumn("cents", lit(-9L)), "k", 1)))
    // recovery abort wins the marker
    GraftTxn.abort(spark, txnDir, id, Seq(dimRoot, factRoot))
    // the slow coordinator's commit now LOSES — and says so
    val e = intercept[IllegalStateException] {
      GraftTxn.commit(spark, txnDir, id, Seq(dimRoot, factRoot)) }
    assert(e.getMessage.contains("ABORTED"))
    // no table ever published; staging is gone
    assert(GraftTable.latestVersion(spark, dimRoot) === 0)
    assert(GraftTable.latestVersion(spark, factRoot) === 0)
    assert(GraftTable.read(spark, dimRoot)
      .filter($"name" === "X").count() === 0)
    // a second abort is idempotent (crashed-abort cleanup re-runs)
    GraftTxn.abort(spark, txnDir, id, Seq(dimRoot, factRoot))
  }

  test("committed history does NOT depend on the coordinator directory: " +
    "after cleanup of txnDir, committed versions stay committed " +
    "(explicit localization and read-side self-heal)") {
    val (dimRoot, factRoot, txnDir) = fresh()
    GraftTable.create(spark, dimRoot, dim(20), "k", nBuckets = 1)
    GraftTable.create(spark, factRoot, fact(60), "k", nBuckets = 1)
    // path 1: publishAll localizes the verdict eagerly
    GraftTxn.publishAll(spark, txnDir, Seq(
      GraftTxn.TableWrite(dimRoot,
        dim(5).withColumn("name", lit("T1")), "k", 1),
      GraftTxn.TableWrite(factRoot,
        fact(5).withColumn("cents", lit(-1L)), "k", 1)))
    // path 2: a bare commit (no roots) relies on read-side self-heal
    val id2 = GraftTxn.stageAll(spark, txnDir, Seq(
      GraftTxn.TableWrite(dimRoot,
        dim(3).withColumn("name", lit("T2")), "k", 1)))
    GraftTxn.commit(spark, txnDir, id2)
    // one read while the coordinator marker still exists → self-heals
    assert(GraftTable.latestVersion(spark, dimRoot) === 2)
    // coordinator directory is cleaned up entirely
    val cp = new org.apache.hadoop.fs.Path(txnDir)
    cp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(cp, true)
    // committed versions never revert to pending: heads intact,
    // reads serve the txn'd content, time travel to them works
    assert(GraftTable.latestVersion(spark, dimRoot) === 2)
    assert(GraftTable.latestVersion(spark, factRoot) === 1)
    assert(GraftTable.read(spark, dimRoot)
      .filter($"name" === "T2").count() === 3)
    assert(GraftTable.read(spark, factRoot)
      .filter($"cents" === -1L).count() === 5)
    assert(GraftTable.read(spark, dimRoot, Some(1))
      .filter($"name" === "T1").count() === 5)
  }

  test("a crashed transaction never publishes: abort removes the " +
    "staging, a fresh transaction then lands cleanly") {
    val (dimRoot, factRoot, txnDir) = fresh()
    GraftTable.create(spark, dimRoot, dim(50), "k", nBuckets = 1)
    GraftTable.create(spark, factRoot, fact(200), "k", nBuckets = 1)
    val id = GraftTxn.stageAll(spark, txnDir, Seq(
      GraftTxn.TableWrite(dimRoot,
        spark.range(1, 3).select($"id".as("k"), lit("DOOMED").as("name")),
        "k", 1),
      GraftTxn.TableWrite(factRoot,
        spark.range(1, 3).select($"id".as("k"), lit(0L).as("product"),
          lit(-9L).as("cents")), "k", 1)))
    // an abandoned staging BLOCKS ordinary writers (serialization, not
    // silent interleaving): a FRESH one survives every retry's reap
    intercept[GraftTable.ConcurrentCommitException] {
      GraftTable.upsert(spark, dimRoot,
        spark.range(5, 6).select($"id".as("k"), lit("X").as("name")), "k")
    }
    // vacuum during the in-flight window spares the staged files
    GraftTable.vacuum(spark, factRoot, retainVersions = 1)
    GraftTxn.abort(spark, txnDir, id, Seq(dimRoot, factRoot))
    assert(GraftTable.latestVersion(spark, dimRoot) === 0)
    assert(GraftTable.read(spark, dimRoot)
      .filter($"name" === "DOOMED").count() === 0)
    // after abort, ordinary writes land again and content is intact
    GraftTable.upsert(spark, dimRoot,
      spark.range(5, 6).select($"id".as("k"), lit("X").as("name")), "k")
    assert(GraftTable.read(spark, dimRoot)
      .filter($"name" === "X").count() === 1)
    assert(GraftTable.read(spark, factRoot).count() === 200)
    // the aborted staging's files are orphans; vacuum reclaims them
    assert(GraftTable.vacuum(spark, factRoot, retainVersions = 1) > 0)
    assert(GraftTable.read(spark, factRoot).count() === 200)
  }

  test("a failing member aborts the WHOLE transaction: no table " +
    "publishes alone") {
    val (dimRoot, factRoot, txnDir) = fresh()
    GraftTable.create(spark, dimRoot, dim(20), "k", nBuckets = 1)
    GraftTable.create(spark, factRoot, fact(20), "k", nBuckets = 1)
    GraftTable.addConstraint(spark, factRoot, "cents_pos", "cents > 0")
    intercept[GraftTable.ConstraintViolationException] {
      GraftTxn.publishAll(spark, txnDir, Seq(
        GraftTxn.TableWrite(dimRoot,
          spark.range(1, 3).select($"id".as("k"), lit("NEW").as("name")),
          "k", 1),
        GraftTxn.TableWrite(factRoot, // violates the CHECK → whole txn dies
          spark.range(1, 3).select($"id".as("k"), lit(0L).as("product"),
            lit(-5L).as("cents")), "k", 1)))
    }
    // the dim staged FIRST and was un-staged by the failure
    assert(GraftTable.latestVersion(spark, dimRoot) === 0)
    assert(GraftTable.read(spark, dimRoot)
      .filter($"name" === "NEW").count() === 0)
    assert(GraftTable.latestVersion(spark, factRoot) === 0)
  }

  test("reapStaleStaging: a crashed coordinator's stale staging is " +
    "aborted by a blocked upsert, which then succeeds") {
    val (dimRoot, factRoot, txnDir) = fresh()
    GraftTable.create(spark, dimRoot, dim(20), "k", nBuckets = 1)
    GraftTable.create(spark, factRoot, fact(200), "k", nBuckets = 1)
    // stage, never commit — the coordinator 'crashed' here
    val id = GraftTxn.stageAll(spark, txnDir, Seq(
      GraftTxn.TableWrite(dimRoot,
        spark.range(1, 3).select($"id".as("k"), lit("GHOST").as("name")),
        "k", 1),
      GraftTxn.TableWrite(factRoot,
        spark.range(1, 3).select($"id".as("k"), lit(0L).as("product"),
          lit(-1L).as("cents")), "k", 1)))
    backdateStaging(dimRoot, 1)
    backdateStaging(factRoot, 1)
    // a blocked writer reaps the dead txn itself and lands its commit
    val (v, _, _) = GraftTable.upsert(spark, dimRoot,
      spark.range(1, 2).select($"id".as("k"), lit("MINE").as("name")),
      "k", nBuckets = 1)
    assert(v === 1)
    assert(GraftTable.read(spark, dimRoot)
      .filter($"name" === "MINE").count() === 1)
    assert(GraftTable.read(spark, dimRoot)
      .filter($"name" === "GHOST").count() === 0)
    // the abort tombstone is durable: the woken coordinator is TOLD
    // its transaction died instead of half-publishing
    val e = intercept[IllegalStateException] {
      GraftTxn.commit(spark, txnDir, id, Seq(dimRoot, factRoot)) }
    assert(e.getMessage.contains("ABORTED"))
    // the txn's OTHER table reaps with the same rule on its next write
    val (fv, _, _) = GraftTable.upsert(spark, factRoot,
      spark.range(1, 2).select($"id".as("k"), lit(9L).as("product"),
        lit(900L).as("cents")), "k", nBuckets = 1)
    assert(fv === 1)
    assert(GraftTable.read(spark, factRoot)
      .filter($"cents" === -1L).count() === 0)
  }

  test("reapStaleStaging: applyCdcBatch and appendUpsert reap a dead " +
    "staging before retrying, then land their commits") {
    val (dimRoot, factRoot, txnDir) = fresh()
    GraftTable.create(spark, dimRoot, dim(20), "k", nBuckets = 1)
    GraftTable.create(spark, factRoot, fact(20), "k", nBuckets = 1)
    GraftTxn.stageAll(spark, txnDir, Seq(
      GraftTxn.TableWrite(dimRoot,
        spark.range(1, 3).select($"id".as("k"), lit("GHOST").as("name")),
        "k", 1),
      GraftTxn.TableWrite(factRoot,
        spark.range(1, 3).select($"id".as("k"), lit(0L).as("product"),
          lit(-1L).as("cents")), "k", 1)))
    backdateStaging(dimRoot, 1)
    backdateStaging(factRoot, 1)
    val (v, _, _) = GraftTable.applyCdcBatch(spark, dimRoot,
      Seq((1L, "CDC", "replace")).toDF("k", "name", "_op"), "k",
      nBuckets = 1)
    assert(v === 1)
    assert(GraftTable.read(spark, dimRoot)
      .filter($"name" === "CDC").count() === 1)
    assert(GraftTable.read(spark, dimRoot)
      .filter($"name" === "GHOST").count() === 0)
    val (fv, _) = GraftTable.appendUpsert(spark, factRoot,
      Seq((1L, 9L, 12345L)).toDF("k", "product", "cents"), "k", nBuckets = 1)
    assert(fv === 1)
    assert(GraftTable.read(spark, factRoot)
      .filter($"cents" === 12345L).count() === 1)
    assert(GraftTable.read(spark, factRoot)
      .filter($"cents" === -1L).count() === 0)
  }

  test("reapStaleStaging: a FRESH (in-flight) staging is never touched") {
    val (dimRoot, factRoot, txnDir) = fresh()
    GraftTable.create(spark, dimRoot, dim(20), "k", nBuckets = 1)
    GraftTable.create(spark, factRoot, fact(20), "k", nBuckets = 1)
    val id = GraftTxn.stageAll(spark, txnDir, Seq(
      GraftTxn.TableWrite(dimRoot,
        spark.range(1, 3).select($"id".as("k"), lit("TXN").as("name")),
        "k", 1)))
    // an hour-long horizon: this seconds-old staging is live, not stale
    assert(!GraftTable.reapStaleStaging(spark, dimRoot, staleMs = 3600000L))
    // the staging survived intact — the coordinator commits normally
    GraftTxn.commit(spark, txnDir, id, Seq(dimRoot))
    assert(GraftTable.latestVersion(spark, dimRoot) === 1)
    assert(GraftTable.read(spark, dimRoot)
      .filter($"name" === "TXN").count() === 2)
  }

  test("reapStaleStaging: a live coordinator's commit winning the " +
    "marker race makes the reaper back off") {
    val (dimRoot, factRoot, txnDir) = fresh()
    GraftTable.create(spark, dimRoot, dim(20), "k", nBuckets = 1)
    GraftTable.create(spark, factRoot, fact(20), "k", nBuckets = 1)
    val id = GraftTxn.stageAll(spark, txnDir, Seq(
      GraftTxn.TableWrite(dimRoot,
        spark.range(1, 3).select($"id".as("k"), lit("SLOW").as("name")),
        "k", 1)))
    // the staging LOOKS stale (far-future clock), but the coordinator
    // is merely slow: its commit lands INSIDE the reaper's window,
    // between the liveness check and the abort-marker creation
    val reaped = GraftTable.reapStaleStagingWithHook(spark, dimRoot,
      staleMs = 1000L, nowMillis = System.currentTimeMillis() + 10000000L,
      beforeMarkerRace = () => GraftTxn.commit(spark, txnDir, id))
    assert(!reaped) // lost the single atomic marker race → conformed
    // the committed transaction stands, staging intact
    assert(GraftTable.latestVersion(spark, dimRoot) === 1)
    assert(GraftTable.read(spark, dimRoot)
      .filter($"name" === "SLOW").count() === 2)
  }
}
