package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** CONCURRENT MV refresh: a refresh is one commit on the MV table
  * that publishes the window's rows with the advanced cursor, so it is
  * exactly-once under races — a twin refresher that loses the publish
  * finds the cursor at the heads; a FOREIGN commit that wins it
  * carried the old cursor, so the refresh rebases instead of losing or
  * double-applying the delta. No leases, no clocks. */
class GraftMvConcurrencySpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft_mv_conc_spec").toString

  private def src(n: Int) = spark.range(1, n + 1).select(
    $"id".as("k"), ($"id" % 12).as("g"), ($"id" * 3).as("v"))

  private def want(d: String): Seq[(Long, Long, Long)] =
    GraftTable.read(spark, s"$d/src").groupBy("g")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"))
      .as[(Long, Long, Long)].collect().toSeq.sorted

  private def got(d: String): Seq[(Long, Long, Long)] =
    GraftMv.read(spark, s"$d/mv").select("g", "n", "sv")
      .as[(Long, Long, Long)].collect().toSeq.sorted

  test("four RACING refreshers: every window applies exactly once " +
      "(a double-apply would double the counts), all callers succeed") {
    val d = freshDir()
    GraftTable.create(spark, s"$d/src", src(600), "k", nBuckets = 2)
    GraftMv.create(spark, s"$d/mv", s"$d/src", "g",
      Seq(MvAgg("count", "", "n"), MvAgg("sum", "v", "sv")))
    (1 to 3).foreach { round =>
      // a few source commits per round: reprice, insert, delete
      GraftTable.upsert(spark, s"$d/src",
        src(600).filter($"k" % (11 + round) === 1)
          .withColumn("v", lit(-round.toLong)), "k")
      GraftTable.upsert(spark, s"$d/src",
        src(600).filter($"k" % (17 + round) === 2)
          .withColumn("k", $"k" + round * 100000L), "k")
      GraftTable.deleteWhere(spark, s"$d/src",
        $"k" % (19 + round) === 3 && $"k" < 600, "k")
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      val latch = new java.util.concurrent.CountDownLatch(1)
      (1 to 4).foreach { _ =>
        pool.submit(new Runnable {
          override def run(): Unit = try {
            latch.await()
            GraftMv.refresh(spark, s"$d/mv")
            ()
          } catch { case e: Throwable => errs.add(e) }
        })
      }
      latch.countDown()
      pool.shutdown()
      assert(pool.awaitTermination(120,
        java.util.concurrent.TimeUnit.SECONDS))
      assert(errs.isEmpty, s"round $round: ${errs.peek()}")
      assert(got(d) === want(d), s"round $round content diverged")
    }
  }

  test("a FOREIGN commit winning the MV publish race: the refresh " +
      "rebases on it and applies the window once — never doubled, the " +
      "cursor carried through the foreign commit") {
    val d = freshDir()
    GraftTable.create(spark, s"$d/src", src(400), "k", nBuckets = 2)
    GraftMv.create(spark, s"$d/mv", s"$d/src", "g",
      Seq(MvAgg("count", "", "n"), MvAgg("sum", "v", "sv")))
    GraftTable.upsert(spark, s"$d/src",
      src(400).filter($"k" % 13 === 5).withColumn("v", lit(-77L)), "k")
    // a FOREIGN content-preserving commit (restore-to-head always
    // commits a fresh manifest) lands just before the refresh's publish
    val mvHead = GraftTable.latestVersion(spark, s"$d/mv")
    val (v, dirty) = GraftTable.withLogStore(new RaceOnceLogStore(() => {
      GraftTable.restore(spark, s"$d/mv", mvHead); ()
    }))(GraftMv.refresh(spark, s"$d/mv"))
    assert(v === 1 && dirty > 0, "the window must apply after the race")
    assert(got(d) === want(d))
    // the racer carried the old cursor; the rebased refresh published
    // the new one on top of it
    val head = GraftTable.latestVersion(spark, s"$d/mv")
    assert(head === mvHead + 2)
    val racer = scala.io.Source.fromFile(
      f"$d/mv/_log/v${mvHead + 1}%05d.manifest")
    try assert(racer.getLines().contains("#cursor\t0")) finally racer.close()
    assert(GraftTable.headCursor(spark, s"$d/mv") === Some("1"))
    assert(GraftMv.refresh(spark, s"$d/mv")._2 === 0L)
  }

  test("auto-fresh MVs on the ingest path: graft.mv.autorefresh " +
      "advances the MV every committed batch, replays stay idempotent, " +
      "a dropped MV is skipped") {
    val d = freshDir()
    val b0 = src(200)
    GraftTable.ingestBatch(spark, s"$d/src", b0, "k",
      batchId = 0, queryId = "q1")
    GraftMv.create(spark, s"$d/mv", s"$d/src", "g",
      Seq(MvAgg("count", "", "n"), MvAgg("sum", "v", "sv")))
    GraftTable.setTableProperty(spark, s"$d/src",
      "graft.mv.autorefresh", s"$d/mv")
    // batch 1 repricing: the MV must be fresh with NO manual refresh
    GraftTable.ingestBatch(spark, s"$d/src",
      b0.filter($"k" % 7 === 1).withColumn("v", lit(-3L)), "k",
      batchId = 1, queryId = "q1")
    assert(got(d) === want(d), "the sink must auto-refresh the MV")
    assert(GraftMv.refresh(spark, s"$d/mv")._2 === 0L,
      "a manual refresh right after must be a no-op")
    // a REPLAYED batch (same queryId+batchId) is skipped by the marker
    // and leaves the MV consistent
    GraftTable.ingestBatch(spark, s"$d/src",
      b0.filter($"k" % 7 === 1).withColumn("v", lit(-3L)), "k",
      batchId = 1, queryId = "q1")
    assert(got(d) === want(d))
    // dropping the MV must not wedge the sink (listed root is skipped)
    GraftMv.drop(spark, s"$d/mv")
    GraftTable.ingestBatch(spark, s"$d/src",
      b0.filter($"k" % 5 === 2).withColumn("v", lit(9L)), "k",
      batchId = 2, queryId = "q1")
    assert(GraftTable.read(spark, s"$d/src")
      .filter($"v" === 9L).count() > 0)
  }


  test("metadata stays BOUNDED under a long refresh chain: one def " +
      "file, the cursor rides the MV manifests; graft.maintenance.auto " +
      "on the MV table bounds its file count; content stays exact " +
      "throughout") {
    val d = freshDir()
    GraftTable.create(spark, s"$d/src", src(400), "k", nBuckets = 2)
    GraftMv.create(spark, s"$d/mv", s"$d/src", "g",
      Seq(MvAgg("count", "", "n"), MvAgg("sum", "v", "sv")))
    GraftTable.setTableProperty(spark, s"$d/mv",
      "graft.maintenance.auto", "true")
    GraftTable.setTableProperty(spark, s"$d/mv",
      "graft.compact.targetRows", "100000")
    (1 to 25).foreach { i =>
      GraftTable.upsert(spark, s"$d/src",
        src(400).filter($"k" % 29 === i % 29)
          .withColumn("v", lit(i.toLong)), "k")
      GraftMv.refresh(spark, s"$d/mv")
    }
    assert(got(d) === want(d), "25 windows must stay exact")
    val log = new java.io.File(s"$d/mv/_log")
    assert(log.listFiles().map(_.getName).filter(_.startsWith("mv"))
      .toSeq === Seq("mvdef.tsv"), "the definition is one static file")
    assert(GraftTable.headCursor(spark, s"$d/mv") ===
      Some(GraftTable.latestVersion(spark, s"$d/src").toString))
    val nFiles = GraftTable.snapshotFileLedger(spark, s"$d/mv",
      GraftTable.latestVersion(spark, s"$d/mv")).size
    assert(nFiles <= 12,
      s"auto-maintenance must bound the MV's file count, found $nFiles")
  }

  test("MV over an MV composes: a months rollup MV sourced FROM the " +
      "days MV refreshes through the chain (an MV is a graft table " +
      "with its own change feed)") {
    val d = freshDir()
    val data = spark.range(1, 401).select($"id".as("k"),
      ($"id" % 9).as("g"),
      timestamp_seconds($"id" * 21600).as("ts"), ($"id" * 3).as("v"))
    GraftTable.create(spark, s"$d/src", data, "k", nBuckets = 2)
    // MV1: (g, day) from the source
    GraftMv.createGrouped(spark, s"$d/mv1", s"$d/src",
      Seq(MvGroup("g", "g"), MvGroup("day", "days(ts)")),
      Seq(MvAgg("count", "", "n"), MvAgg("sum", "v", "sv")))
    // MV2: per-g totals FROM MV1 (sums of sums — exact for count/sum)
    GraftMv.create(spark, s"$d/mv2", s"$d/mv1", "g",
      Seq(MvAgg("sum", "n", "n_total"), MvAgg("sum", "sv", "sv_total")))
    def want2() = GraftTable.read(spark, s"$d/src").groupBy("g")
      .agg(count(lit(1)).as("n_total"), sum("v").as("sv_total"))
      .as[(Long, Long, Long)].collect().toSeq.sorted
    def got2() = GraftMv.read(spark, s"$d/mv2")
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(got2() === want2())
    // source changes ripple: refresh MV1, then MV2 off MV1's feed
    GraftTable.upsert(spark, s"$d/src",
      data.filter($"k" % 13 === 4).withColumn("v", lit(-6L)), "k")
    GraftTable.deleteWhere(spark, s"$d/src", $"k" % 17 === 5, "k")
    GraftMv.refresh(spark, s"$d/mv1")
    val (_, dirty2) = GraftMv.refresh(spark, s"$d/mv2")
    assert(dirty2 > 0, "MV1's apply must feed MV2's change window")
    assert(got2() === want2())
  }
}
