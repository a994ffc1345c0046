package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Incremental materialized-view contracts: a [[GraftMv]] refresh
  * converges to the full GROUP BY recompute by CHANGE-FEED DELTA
  * (count/sum: source never read; min/max: dirty groups re-agg), and
  * the cursor publishing with the rows makes an interrupted refresh
  * impossible to double-apply. */
class GraftMvSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft_mv_spec").toString

  /** keyed rows: k unique, g = group (k/10), v with NULLs on k%7==3 */
  private def src(n: Int) = spark.range(1, n + 1).select(
    $"id".as("k"),
    ($"id" / 10).cast("long").as("g"),
    when($"id" % 7 === 3, lit(null).cast("long"))
      .otherwise($"id" * 3).as("v"))

  private def fullAgg(root: String) =
    GraftTable.read(spark, root).groupBy("g")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"))

  test("create materializes the full GROUP BY; no-op refresh is free") {
    val d = freshDir()
    GraftTable.create(spark, s"$d/src", src(500), "k", nBuckets = 4)
    GraftMv.create(spark, s"$d/mv", s"$d/src", "g",
      Seq(MvAgg("count", "", "n"), MvAgg("sum", "v", "sv")))
    val got = GraftMv.read(spark, s"$d/mv").orderBy("g").collect().toSeq
    val want = fullAgg(s"$d/src").orderBy("g").collect().toSeq
    assert(got === want)
    assert(GraftMv.refresh(spark, s"$d/mv")._2 === 0L)
  }

  test("delta refresh (count/sum): converges over upserts, deletes, " +
      "group birth and group death — without reading the source") {
    val d = freshDir()
    GraftTable.create(spark, s"$d/src", src(500), "k", nBuckets = 4)
    GraftMv.create(spark, s"$d/mv", s"$d/src", "g",
      Seq(MvAgg("count", "", "n"), MvAgg("sum", "v", "sv")))
    // commit 1: updates in existing groups + a brand-new group 99
    GraftTable.upsert(spark, s"$d/src",
      spark.range(1, 21).select($"id".as("k"), lit(5L).as("g"),
        ($"id" * 1000).as("v"))
        .unionByName(spark.range(990, 995).select($"id".as("k"),
          lit(99L).as("g"), lit(7L).as("v"))), "k")
    // commit 2: kill group 3 entirely (keys 30..39)
    GraftTable.deleteWhere(spark, s"$d/src",
      col("k").between(30, 39), "k")
    val (caughtUp, dirty) = GraftMv.refresh(spark, s"$d/mv")
    assert(caughtUp === 2 && dirty > 0)
    val got = GraftMv.read(spark, s"$d/mv").orderBy("g").collect().toSeq
    val want = fullAgg(s"$d/src").orderBy("g").collect().toSeq
    assert(got === want)
    // group death: g=3 must be GONE, not a zero row
    assert(!got.exists(_.getLong(0) == 3L))
    assert(got.exists(_.getLong(0) == 99L))
  }

  test("sum NULL-exactness: a group whose last non-null value leaves " +
      "returns to SQL NULL, not 0") {
    val d = freshDir()
    // group 1 = keys 1..3, all NULL v except key 2
    val rows = Seq((1L, 1L, null.asInstanceOf[java.lang.Long]),
      (2L, 1L, java.lang.Long.valueOf(42L)),
      (3L, 1L, null.asInstanceOf[java.lang.Long]),
      (10L, 2L, java.lang.Long.valueOf(5L)))
      .toDF("k", "g", "v")
    GraftTable.create(spark, s"$d/src", rows, "k", nBuckets = 1)
    GraftMv.create(spark, s"$d/mv", s"$d/src", "g",
      Seq(MvAgg("count", "", "n"), MvAgg("sum", "v", "sv")))
    GraftTable.deleteWhere(spark, s"$d/src", col("k") === 2, "k")
    GraftMv.refresh(spark, s"$d/mv")
    val g1 = GraftMv.read(spark, s"$d/mv").filter($"g" === 1)
      .collect()(0)
    assert(g1.getLong(1) === 2L) // n
    assert(g1.isNullAt(2), "sum over zero non-null inputs must be NULL")
  }

  test("min/max MV: deleted maximum surfaces the runner-up via " +
      "dirty-group re-aggregation") {
    val d = freshDir()
    GraftTable.create(spark, s"$d/src", src(300).filter($"v".isNotNull),
      "k", nBuckets = 2)
    GraftMv.create(spark, s"$d/mv", s"$d/src", "g",
      Seq(MvAgg("max", "v", "mx"), MvAgg("min", "v", "mn"),
        MvAgg("sum", "v", "sv")))
    // delete each group-20 row holding the current max (k=209 → v=627)
    GraftTable.deleteWhere(spark, s"$d/src", col("k") === 209, "k")
    // and bump a value far above any existing max in group 10
    GraftTable.upsert(spark, s"$d/src",
      Seq((105L, 10L, 1000000L)).toDF("k", "g", "v"), "k")
    GraftMv.refresh(spark, s"$d/mv")
    val got = GraftMv.read(spark, s"$d/mv").orderBy("g").collect().toSeq
    val want = GraftTable.read(spark, s"$d/src").groupBy("g")
      .agg(max("v").as("mx"), min("v").as("mn"), sum("v").as("sv"))
      .orderBy("g").collect().toSeq
    assert(got === want)
  }

  test("crash-safety: a refused MV publish leaves head, cursor and " +
      "rows unchanged; the next refresh applies the window once") {
    val d = freshDir()
    GraftTable.create(spark, s"$d/src", src(200), "k", nBuckets = 2)
    GraftMv.create(spark, s"$d/mv", s"$d/src", "g",
      Seq(MvAgg("count", "", "n"), MvAgg("sum", "v", "sv")))
    val before = GraftMv.read(spark, s"$d/mv").orderBy("g").collect().toSeq
    GraftTable.upsert(spark, s"$d/src",
      Seq((5L, 0L, 777L)).toDF("k", "g", "v"), "k")
    val want = fullAgg(s"$d/src").orderBy("g").collect().toSeq
    // the refresh's one write is the MV manifest publish: refuse it
    // (a crash at the commit point leaves the same state)
    val mvHead = GraftTable.latestVersion(spark, s"$d/mv")
    intercept[GraftTable.ConcurrentCommitException] {
      GraftTable.withLogStore(new RefuseManifestsLogStore)(
        GraftMv.refresh(spark, s"$d/mv"))
    }
    assert(GraftTable.latestVersion(spark, s"$d/mv") === mvHead)
    assert(GraftTable.headCursor(spark, s"$d/mv") === Some("0"))
    assert(GraftMv.read(spark, s"$d/mv").orderBy("g").collect().toSeq
      === before)
    val (v1, dirty1) = GraftMv.refresh(spark, s"$d/mv")
    assert(v1 === 1 && dirty1 > 0L, "the refused window must apply")
    assert(GraftMv.read(spark, s"$d/mv").orderBy("g").collect().toSeq
      === want)
    // rows and cursor publish together: the head's cursor IS the
    // source head, so a second refresh has nothing to apply
    assert(GraftTable.headCursor(spark, s"$d/mv") === Some("1"))
    assert(GraftMv.refresh(spark, s"$d/mv") === ((1, 0L)))
    assert(GraftMv.read(spark, s"$d/mv").orderBy("g").collect().toSeq
      === want)
  }

  test("avg MV: delta-maintained exact (sum, count) pair, quotient " +
      "served at read — NULL when no non-null contribution lives") {
    val d = freshDir()
    GraftTable.create(spark, s"$d/src", src(500), "k", nBuckets = 4)
    GraftMv.create(spark, s"$d/mv", s"$d/src", "g",
      Seq(MvAgg("avg", "v", "av"), MvAgg("count", "", "n")))
    def want = GraftTable.read(spark, s"$d/src").groupBy("g")
      .agg(avg("v").as("av"), count(lit(1)).as("n"))
      .orderBy("g").collect().toSeq
    assert(GraftMv.read(spark, s"$d/mv").orderBy("g").collect().toSeq
      === want)
    // updates, NULL-ing values, deletes — avg must track via ± deltas
    GraftTable.upsert(spark, s"$d/src",
      spark.range(40, 60).select($"id".as("k"),
        ($"id" / 10).cast("long").as("g"),
        when($"id" % 2 === 0, lit(null).cast("long"))
          .otherwise($"id" * 100).as("v")), "k")
    GraftTable.deleteWhere(spark, s"$d/src", col("k").between(100, 140), "k")
    val (_, dirty) = GraftMv.refresh(spark, s"$d/mv")
    assert(dirty > 0)
    assert(GraftMv.read(spark, s"$d/mv").orderBy("g").collect().toSeq
      === want)
    // a group with rows but zero non-null values: avg is SQL NULL
    GraftTable.upsert(spark, s"$d/src",
      Seq((9001L, 900L, null.asInstanceOf[java.lang.Long]),
        (9002L, 900L, null.asInstanceOf[java.lang.Long]))
        .toDF("k", "g", "v"), "k")
    GraftMv.refresh(spark, s"$d/mv")
    val g900 = GraftMv.read(spark, s"$d/mv").filter($"g" === 900)
      .collect()(0)
    assert(g900.isNullAt(1), "avg over zero non-null inputs must be NULL")
    assert(g900.getLong(2) === 2L)
  }

  test("filtered MV: the predicate defines the relation — updates " +
      "crossing the boundary enter and leave the aggregate") {
    val d = freshDir()
    GraftTable.create(spark, s"$d/src", src(300).filter($"v".isNotNull),
      "k", nBuckets = 2)
    GraftMv.create(spark, s"$d/mv", s"$d/src", "g",
      Seq(MvAgg("count", "", "n"), MvAgg("sum", "v", "sv")),
      filter = Some("v >= 300"))
    def want = GraftTable.read(spark, s"$d/src").filter($"v" >= 300)
      .groupBy("g").agg(count(lit(1)).as("n"), sum("v").as("sv"))
      .orderBy("g").collect().toSeq
    assert(GraftMv.read(spark, s"$d/mv").orderBy("g").collect().toSeq
      === want)
    // cross the boundary BOTH ways: k=150 (v=450, inside) drops to 10
    // (leaves); k=20 (v=60, outside) jumps to 9000 (enters); and a
    // whole group's surviving rows fall below (group death in the
    // FILTERED relation while rows live on in the source)
    GraftTable.upsert(spark, s"$d/src",
      Seq((150L, 15L, 10L), (20L, 2L, 9000L)).toDF("k", "g", "v"), "k")
    GraftTable.upsert(spark, s"$d/src",
      spark.range(110, 120).select($"id".as("k"), lit(11L).as("g"),
        lit(5L).as("v")), "k")
    val (_, dirty) = GraftMv.refresh(spark, s"$d/mv")
    assert(dirty > 0)
    val got = GraftMv.read(spark, s"$d/mv").orderBy("g").collect().toSeq
    assert(got === want)
    assert(!got.exists(_.getLong(0) == 11L),
      "group 11's rows all left the filtered relation: the MV row dies")
  }

  test("SQL surface: CREATE MATERIALIZED VIEW with WHERE and avg, " +
      "REFRESH converges against the live source") {
    val d = freshDir()
    GraftTable.create(spark, s"$d/src", src(400), "k", nBuckets = 2)
    spark.conf.set("spark.sql.catalog.gmv2", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gmv2.base", d)
    spark.sql("CREATE MATERIALIZED VIEW gmv2.mvf AS " +
      "SELECT g, count(*) AS n, avg(v) AS av FROM gmv2.src " +
      "WHERE k % 2 = 0 GROUP BY g")
    GraftTable.upsert(spark, s"$d/src",
      spark.range(50, 90).select($"id".as("k"),
        ($"id" / 10).cast("long").as("g"), ($"id" * 13).as("v")), "k")
    spark.sql("REFRESH MATERIALIZED VIEW gmv2.mvf")
    val got = GraftMv.read(spark, s"$d/mvf").orderBy("g").collect().toSeq
    val want = GraftTable.read(spark, s"$d/src").filter($"k" % 2 === 0)
      .groupBy("g").agg(count(lit(1)).as("n"), avg("v").as("av"))
      .orderBy("g").collect().toSeq
    assert(got === want)
  }

  test("multiple refreshes across many source commits stay exact") {
    val d = freshDir()
    GraftTable.create(spark, s"$d/src", src(400), "k", nBuckets = 4)
    GraftMv.create(spark, s"$d/mv", s"$d/src", "g",
      Seq(MvAgg("count", "", "n"), MvAgg("sum", "v", "sv")))
    (1 to 4).foreach { i =>
      GraftTable.upsert(spark, s"$d/src",
        spark.range(i * 50, i * 50 + 10).select($"id".as("k"),
          ($"id" / 10).cast("long").as("g"),
          lit(i.toLong * 11).as("v")), "k")
      if (i % 2 == 0) {
        GraftMv.refresh(spark, s"$d/mv")
        assert(GraftMv.read(spark, s"$d/mv").orderBy("g").collect().toSeq
          === fullAgg(s"$d/src").orderBy("g").collect().toSeq,
          s"diverged after refresh $i")
      }
    }
    GraftMv.refresh(spark, s"$d/mv")
    assert(GraftMv.read(spark, s"$d/mv").orderBy("g").collect().toSeq
      === fullAgg(s"$d/src").orderBy("g").collect().toSeq)
  }

  test("count(col) delta-maintains the NON-NULL count: NULL flips in " +
      "both directions and deletes stay exact, 0 not NULL when every " +
      "input is NULL") {
    val d = freshDir()
    GraftTable.create(spark, s"$d/src", src(300), "k", nBuckets = 2)
    GraftMv.create(spark, s"$d/mv", s"$d/src", "g",
      Seq(MvAgg("count", "v", "nv"), MvAgg("count", "", "n"),
        MvAgg("sum", "v", "sv")))
    def want() = GraftTable.read(spark, s"$d/src").groupBy("g")
      .agg(count($"v").as("nv"), count(lit(1)).as("n"),
        sum("v").as("sv")).orderBy("g").collect().toSeq
    assert(GraftMv.read(spark, s"$d/mv").orderBy("g").collect().toSeq
      === want())
    // flip values -> NULL (k%5==1) via op=replace (upsert's coalesce
    // is the partial-update contract and would keep the old value),
    // NULL -> values (k%7==3 was NULL), delete some, add a group
    // whose v is ALL NULL
    GraftTable.applyCdcBatch(spark, s"$d/src",
      spark.range(1, 301).filter($"id" % 5 === 1).select($"id".as("k"),
        ($"id" / 10).cast("long").as("g"),
        lit(null).cast("long").as("v"), lit("replace").as("_op")), "k")
    GraftTable.upsert(spark, s"$d/src",
      spark.range(1, 301).filter($"id" % 7 === 3).select($"id".as("k"),
        ($"id" / 10).cast("long").as("g"), lit(77L).as("v")), "k")
    GraftTable.upsert(spark, s"$d/src",
      spark.range(900, 906).select($"id".as("k"), lit(90L).as("g"),
        lit(null).cast("long").as("v")), "k")
    GraftTable.deleteWhere(spark, s"$d/src", col("k") % 11 === 2, "k")
    val (_, dirty) = GraftMv.refresh(spark, s"$d/mv")
    assert(dirty > 0)
    val got = GraftMv.read(spark, s"$d/mv").orderBy("g").collect().toSeq
    assert(got === want())
    // the all-NULL group counts 0 (count is never NULL); the delete
    // (k%11==2 catches 904) leaves 5 of its 6 rows
    val g90 = got.find(_.getLong(0) == 90L).get
    assert(g90.getLong(1) === 0L && g90.getLong(2) === 5L)
  }
}
