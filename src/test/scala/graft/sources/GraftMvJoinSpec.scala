package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** STAR-JOIN materialized views: the MV's relation is fact⋈dim(s) on
  * the dims' recorded keys; refresh folds BOTH sides' change feeds
  * (fact deltas against the new dims, dim deltas against the old fact
  * — the telescoping decomposition), and the transparent rewrite
  * serves a matching star query — including rollups — from the MV. */
class GraftMvJoinSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft_mv_join_spec").toString

  /** fact(k, fk1, fk2, v), dim1(d1k, grp), dim2(d2k, region). */
  private def setup(): String = {
    val d = freshDir()
    val fact = spark.range(1, 501).select($"id".as("k"),
      ($"id" % 40).as("fk1"), ($"id" % 11).as("fk2"),
      ($"id" * 3).as("v"))
    val dim1 = spark.range(0, 40).select($"id".as("d1k"),
      ($"id" % 6).as("grp"))
    val dim2 = spark.range(0, 11).select($"id".as("d2k"),
      concat(lit("r"), ($"id" % 3).cast("string")).as("region"))
    GraftTable.create(spark, s"$d/fact", fact, "k", nBuckets = 2)
    GraftTable.create(spark, s"$d/dim1", dim1, "d1k", nBuckets = 1)
    GraftTable.create(spark, s"$d/dim2", dim2, "d2k", nBuckets = 1)
    d
  }

  private def enrichNow(d: String): DataFrame =
    GraftTable.read(spark, s"$d/fact").as("f")
      .join(GraftTable.read(spark, s"$d/dim1").as("a"),
        $"f.fk1" === $"a.d1k")
      .join(GraftTable.read(spark, s"$d/dim2").as("b"),
        $"f.fk2" === $"b.d2k")

  private def want(d: String): Seq[(Long, String, Long, Long)] =
    enrichNow(d).groupBy($"grp", $"region")
      .agg(count(lit(1)).as("n"), sum($"v").as("sv"))
      .as[(Long, String, Long, Long)].collect().toSeq.sorted

  private def got(d: String): Seq[(Long, String, Long, Long)] =
    GraftMv.read(spark, s"$d/mv").select("grp", "region", "n", "sv")
      .as[(Long, String, Long, Long)].collect().toSeq.sorted

  test("create: the MV aggregates the ENRICHED relation; groups may " +
      "be dim columns; ambiguous names refuse") {
    val d = setup()
    GraftMv.createJoined(spark, s"$d/mv", s"$d/fact",
      Seq(s"$d/dim1" -> "fk1", s"$d/dim2" -> "fk2"),
      Seq(MvGroup("grp", "grp"), MvGroup("region", "region")),
      Seq(MvAgg("count", "", "n"), MvAgg("sum", "v", "sv")))
    assert(got(d) === want(d))
    // ambiguity: a dim column named like a fact column refuses
    val dim3 = spark.range(0, 11).select($"id".as("d3k"), ($"id" * 7).as("v"))
    GraftTable.create(spark, s"$d/dim3", dim3, "d3k", nBuckets = 1)
    val e = intercept[IllegalArgumentException] {
      GraftMv.createJoined(spark, s"$d/mv2", s"$d/fact",
        Seq(s"$d/dim3" -> "fk2"), Seq(MvGroup("d3k", "d3k")),
        Seq(MvAgg("sum", "v", "sv")))
    }
    assert(e.getMessage.contains("ambiguous"))
  }

  test("FACT-side deltas refresh incrementally (insert, reprice, " +
      "delete, group death) against the new dim state") {
    val d = setup()
    GraftMv.createJoined(spark, s"$d/mv", s"$d/fact",
      Seq(s"$d/dim1" -> "fk1", s"$d/dim2" -> "fk2"),
      Seq(MvGroup("grp", "grp"), MvGroup("region", "region")),
      Seq(MvAgg("count", "", "n"), MvAgg("sum", "v", "sv")))
    val fact = GraftTable.read(spark, s"$d/fact")
    GraftTable.upsert(spark, s"$d/fact",
      fact.filter($"k" % 13 === 2).withColumn("v", lit(-5L)), "k")
    GraftTable.upsert(spark, s"$d/fact",
      fact.filter($"k" % 17 === 3).withColumn("k", $"k" + 100000L), "k")
    GraftTable.deleteWhere(spark, s"$d/fact", $"k" % 19 === 4, "k")
    val (_, dirty) = GraftMv.refresh(spark, s"$d/mv")
    assert(dirty > 0)
    assert(GraftMv.refresh(spark, s"$d/mv")._2 === 0L, "no-op is free")
    assert(got(d) === want(d))
  }

  test("DIM-side deltas refresh incrementally: a dim attribute update " +
      "MOVES fact rows between groups; a dim delete drops them (inner " +
      "join); a dim insert births previously-unmatched fact rows") {
    val d = setup()
    // fk1 % 40: dim1 keys 0..39 all present; add fact rows pointing at
    // a MISSING dim2 key (11..12) to exercise the birth case
    GraftTable.upsert(spark, s"$d/fact",
      Seq((9001L, 5L, 11L, 100L), (9002L, 6L, 12L, 200L))
        .toDF("k", "fk1", "fk2", "v"), "k")
    GraftMv.createJoined(spark, s"$d/mv", s"$d/fact",
      Seq(s"$d/dim1" -> "fk1", s"$d/dim2" -> "fk2"),
      Seq(MvGroup("grp", "grp"), MvGroup("region", "region")),
      Seq(MvAgg("count", "", "n"), MvAgg("sum", "v", "sv")))
    assert(got(d) === want(d))
    // MOVE: re-group dim1 keys 0..9 into new grp values
    GraftTable.upsert(spark, s"$d/dim1",
      spark.range(0, 10).select($"id".as("d1k"), (($"id" + 3) % 6).as("grp")),
      "d1k")
    // DELETE: dim2 key 7 disappears — its fact rows leave the MV
    GraftTable.deleteWhere(spark, s"$d/dim2", $"d2k" === 7L, "d2k")
    // BIRTH: dim2 key 11 appears — fact row 9001 joins now
    GraftTable.upsert(spark, s"$d/dim2",
      Seq((11L, "r11")).toDF("d2k", "region"), "d2k")
    val (_, dirty) = GraftMv.refresh(spark, s"$d/mv")
    assert(dirty > 0)
    assert(got(d) === want(d))
    // second wave: BOTH sides change in one refresh window
    GraftTable.upsert(spark, s"$d/fact",
      GraftTable.read(spark, s"$d/fact").filter($"k" % 23 === 1)
        .withColumn("v", lit(1000L)), "k")
    GraftTable.upsert(spark, s"$d/dim1",
      spark.range(20, 25).select($"id".as("d1k"), lit(0L).as("grp")),
      "d1k")
    GraftMv.refresh(spark, s"$d/mv")
    assert(got(d) === want(d))
  }

  test("min/max join MV re-aggregates dirty groups from the enriched " +
      "relation; a filtered join MV filters on a dim column") {
    val d = setup()
    GraftMv.createJoined(spark, s"$d/mvm", s"$d/fact",
      Seq(s"$d/dim1" -> "fk1"),
      Seq(MvGroup("grp", "grp")),
      Seq(MvAgg("max", "v", "mx"), MvAgg("min", "v", "mn")))
    GraftMv.createJoined(spark, s"$d/mvf", s"$d/fact",
      Seq(s"$d/dim2" -> "fk2"),
      Seq(MvGroup("region", "region")),
      Seq(MvAgg("count", "", "n")), filter = Some("region <> 'r1'"))
    // delete each grp's max candidates; move a dim1 key
    GraftTable.deleteWhere(spark, s"$d/fact", $"v" > 1400L, "k")
    GraftTable.upsert(spark, s"$d/dim1",
      Seq((3L, 5L)).toDF("d1k", "grp"), "d1k")
    GraftMv.refresh(spark, s"$d/mvm")
    GraftMv.refresh(spark, s"$d/mvf")
    val wantM = GraftTable.read(spark, s"$d/fact").as("f")
      .join(GraftTable.read(spark, s"$d/dim1").as("a"), $"f.fk1" === $"a.d1k")
      .groupBy("grp").agg(max("v").as("mx"), min("v").as("mn"))
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(GraftMv.read(spark, s"$d/mvm").as[(Long, Long, Long)]
      .collect().toSeq.sorted === wantM)
    val wantF = GraftTable.read(spark, s"$d/fact").as("f")
      .join(GraftTable.read(spark, s"$d/dim2").as("b"), $"f.fk2" === $"b.d2k")
      .filter($"region" =!= "r1").groupBy("region")
      .agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toSeq.sorted
    assert(GraftMv.read(spark, s"$d/mvf").as[(String, Long)]
      .collect().toSeq.sorted === wantF)
  }

  test("transparent rewrite serves the star query from the MV — " +
      "either join order, with dim-group residuals and ROLLUP; a " +
      "stale DIM refuses exactly like a stale fact") {
    val d = setup()
    GraftMv.createJoined(spark, s"$d/mv", s"$d/fact",
      Seq(s"$d/dim1" -> "fk1", s"$d/dim2" -> "fk2"),
      Seq(MvGroup("grp", "grp"), MvGroup("region", "region")),
      Seq(MvAgg("count", "", "n"), MvAgg("sum", "v", "sv"),
        MvAgg("avg", "v", "av")))
    val cat = "gmvj" + TestIds.next()
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.base", d)
    spark.conf.set("spark.graft.mv.rewrite.views", s"$d/mv")
    def served(q: DataFrame): Boolean =
      q.queryExecution.executedPlan.toString.contains(s"$d/mv")
    try {
      val q = spark.sql(s"SELECT grp, region, count(*) AS c, " +
        s"sum(v) AS s, avg(v) AS a FROM $cat.fact f " +
        s"JOIN $cat.dim1 d1 ON f.fk1 = d1.d1k " +
        s"JOIN $cat.dim2 d2 ON f.fk2 = d2.d2k GROUP BY grp, region")
      assert(served(q), "the exact star query must serve from the MV")
      val wantQ = enrichNow(d).groupBy($"grp", $"region")
        .agg(count(lit(1)).as("c"), sum($"v").as("s"), avg($"v").as("a"))
        .orderBy("grp", "region").collect().toSeq
      assert(q.orderBy("grp", "region").collect().toSeq === wantQ)
      // commuted join order + a dim-group residual + ROLLUP to grp
      val q2 = spark.sql(s"SELECT grp, count(*) AS c, sum(v) AS s " +
        s"FROM $cat.dim1 d1 JOIN $cat.fact f ON d1.d1k = f.fk1 " +
        s"JOIN $cat.dim2 d2 ON f.fk2 = d2.d2k " +
        s"WHERE region = 'r1' GROUP BY grp")
      assert(served(q2), "rollup + dim residual over the star must serve")
      val wantQ2 = enrichNow(d).filter($"region" === "r1").groupBy($"grp")
        .agg(count(lit(1)).as("c"), sum($"v").as("s"))
        .orderBy("grp").collect().toSeq
      assert(q2.orderBy("grp").collect().toSeq === wantQ2)
      // a query joining only ONE of the dims is a DIFFERENT relation
      val q3 = spark.sql(s"SELECT grp, count(*) AS c FROM $cat.fact f " +
        s"JOIN $cat.dim1 d1 ON f.fk1 = d1.d1k GROUP BY grp")
      assert(!served(q3), "a sub-star join must refuse (inner-join " +
        "row multiplicity differs)")
      // stale DIM: one dim commit, the star query refuses
      GraftTable.upsert(spark, s"$d/dim1",
        Seq((0L, 5L)).toDF("d1k", "grp"), "d1k")
      val q4 = spark.sql(s"SELECT grp, region, count(*) AS c " +
        s"FROM $cat.fact f JOIN $cat.dim1 d1 ON f.fk1 = d1.d1k " +
        s"JOIN $cat.dim2 d2 ON f.fk2 = d2.d2k GROUP BY grp, region")
      assert(!served(q4), "a stale dim must disable the rewrite")
      GraftMv.refresh(spark, s"$d/mv")
      val q5 = spark.sql(s"SELECT grp, region, count(*) AS c " +
        s"FROM $cat.fact f JOIN $cat.dim1 d1 ON f.fk1 = d1.d1k " +
        s"JOIN $cat.dim2 d2 ON f.fk2 = d2.d2k GROUP BY grp, region")
      assert(served(q5), "REFRESH re-arms the star rewrite")
      assert(q5.orderBy("grp", "region").collect().toSeq ===
        enrichNow(d).groupBy($"grp", $"region")
          .agg(count(lit(1)).as("c"))
          .orderBy("grp", "region").collect().toSeq)
    } finally spark.conf.unset("spark.graft.mv.rewrite.views")
  }

  test("crash-safe refresh: a refused publish with dim targets " +
      "changes nothing; the retry applies once and the cursor reaches " +
      "every head") {
    val d = setup()
    GraftMv.createJoined(spark, s"$d/mv", s"$d/fact",
      Seq(s"$d/dim1" -> "fk1"),
      Seq(MvGroup("grp", "grp")),
      Seq(MvAgg("count", "", "n"), MvAgg("sum", "v", "sv")))
    val before = want1(d)
    GraftTable.upsert(spark, s"$d/dim1",
      spark.range(0, 10).select($"id".as("d1k"), (($"id" + 1) % 6).as("grp")),
      "d1k")
    GraftTable.upsert(spark, s"$d/fact",
      GraftTable.read(spark, s"$d/fact").filter($"k" % 29 === 7)
        .withColumn("v", lit(-9L)), "k")
    val mvHead = GraftTable.latestVersion(spark, s"$d/mv")
    intercept[GraftTable.ConcurrentCommitException] {
      GraftTable.withLogStore(new RefuseManifestsLogStore)(
        GraftMv.refresh(spark, s"$d/mv"))
    }
    assert(GraftTable.latestVersion(spark, s"$d/mv") === mvHead)
    assert(GraftTable.headCursor(spark, s"$d/mv") === Some("0,0"))
    assert(want1(d) === before)
    val (v, dirty) = GraftMv.refresh(spark, s"$d/mv")
    assert(v === 1 && dirty > 0L)
    assert(want1(d) === enrichNow(d).groupBy($"grp")
      .agg(count(lit(1)).as("n"), sum($"v").as("sv"))
      .as[(Long, Long, Long)].collect().toSeq.sorted)
    assert(GraftTable.headCursor(spark, s"$d/mv") === Some("1,1"))
    assert(GraftMv.refresh(spark, s"$d/mv")._2 === 0L,
      "a refresh at the cursor must not redo the window")
  }

  private def want1(d: String): Seq[(Long, Long, Long)] =
    GraftMv.read(spark, s"$d/mv").select("grp", "n", "sv")
      .as[(Long, Long, Long)].collect().toSeq.sorted


  test("SQL surface: CREATE MATERIALIZED VIEW ... FROM fact JOIN dims " +
      "ON fk = key creates the star MV; REFRESH folds both feeds") {
    val d = setup()
    val cat = "gmvjs" + TestIds.next()
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.base", d)
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.mv AS " +
      s"SELECT grp, region, count(*) AS n, sum(v) AS sv " +
      s"FROM $cat.fact JOIN $cat.dim1 ON fk1 = d1k " +
      s"JOIN $cat.dim2 ON d2k = fk2 GROUP BY grp, region")
    assert(got(d) === want(d))
    // mutate BOTH sides, refresh via SQL
    GraftTable.upsert(spark, s"$d/fact",
      GraftTable.read(spark, s"$d/fact").filter($"k" % 31 === 2)
        .withColumn("v", lit(-4L)), "k")
    GraftTable.upsert(spark, s"$d/dim1",
      Seq((5L, 1L)).toDF("d1k", "grp"), "d1k")
    val dirty = spark.sql(s"REFRESH MATERIALIZED VIEW $cat.mv")
      .collect()(0).getLong(1)
    assert(dirty > 0)
    assert(got(d) === want(d))
    // an ON clause matching NEITHER side's key refuses loudly
    val e = intercept[IllegalArgumentException] {
      spark.sql(s"CREATE MATERIALIZED VIEW $cat.mv2 AS " +
        s"SELECT grp, count(*) AS n FROM $cat.fact " +
        s"JOIN $cat.dim1 ON fk1 = grp GROUP BY grp")
    }
    assert(e.getMessage.contains("dim key"))
  }

  /** fact(k, city_fk, v) -> city(ck, state_fk, cname) -> state(sk,
    * region): the reference's own snowflake collapse
    * (street->city->state, LocationDimension.sql:171-180). */
  private def chainSetup(): String = {
    val d = freshDir()
    val fact = spark.range(1, 501).select($"id".as("k"),
      ($"id" % 30).as("city_fk"), ($"id" * 3).as("v"))
    val city = spark.range(0, 30).select($"id".as("ck"),
      ($"id" % 7).as("state_fk"),
      concat(lit("c"), $"id".cast("string")).as("cname"))
    val state = spark.range(0, 7).select($"id".as("sk"),
      concat(lit("R"), ($"id" % 3).cast("string")).as("region"))
    GraftTable.create(spark, s"$d/fact", fact, "k", nBuckets = 2)
    GraftTable.create(spark, s"$d/city", city, "ck", nBuckets = 1)
    GraftTable.create(spark, s"$d/state", state, "sk", nBuckets = 1)
    d
  }

  private def chainEnrich(d: String): DataFrame =
    GraftTable.read(spark, s"$d/fact").as("f")
      .join(GraftTable.read(spark, s"$d/city").as("c"),
        $"f.city_fk" === $"c.ck")
      .join(GraftTable.read(spark, s"$d/state").as("s"),
        $"c.state_fk" === $"s.sk")

  private def chainWant(d: String): Seq[(String, Long, Long)] =
    chainEnrich(d).groupBy($"region")
      .agg(count(lit(1)).as("n"), sum($"v").as("sv"))
      .as[(String, Long, Long)].collect().toSeq.sorted

  test("SNOWFLAKE CHAIN create: a dim's fk may live on a previously-" +
      "declared dim (auto-resolved holder); a state-level GROUP BY " +
      "aggregates the full chain; unresolvable or out-of-order fks " +
      "refuse") {
    val d = chainSetup()
    GraftMv.createJoined(spark, s"$d/mv", s"$d/fact",
      Seq(s"$d/city" -> "city_fk", s"$d/state" -> "state_fk"),
      Seq(MvGroup("region", "region")),
      Seq(MvAgg("count", "", "n"), MvAgg("sum", "v", "sv")))
    assert(GraftMv.read(spark, s"$d/mv").select("region", "n", "sv")
      .as[(String, Long, Long)].collect().toSeq.sorted === chainWant(d))
    // child declared before its parent: state_fk resolves nowhere
    val e = intercept[IllegalArgumentException] {
      GraftMv.createJoined(spark, s"$d/mv2", s"$d/fact",
        Seq(s"$d/state" -> "state_fk", s"$d/city" -> "city_fk"),
        Seq(MvGroup("region", "region")), Seq(MvAgg("count", "", "n")))
    }
    assert(e.getMessage.contains("previously-declared"))
  }

  test("SNOWFLAKE CHAIN deltas: fact reprice, MID-dim update (a city " +
      "MOVES state — fact rows change groups), and LEAF-dim update " +
      "(a state MOVES region) each refresh exactly") {
    val d = chainSetup()
    GraftMv.createJoined(spark, s"$d/mv", s"$d/fact",
      Seq(s"$d/city" -> "city_fk", s"$d/state" -> "state_fk"),
      Seq(MvGroup("region", "region")),
      Seq(MvAgg("count", "", "n"), MvAgg("sum", "v", "sv")))
    // 1: fact-side reprice + delete
    GraftTable.upsert(spark, s"$d/fact",
      GraftTable.read(spark, s"$d/fact").filter($"k" % 13 === 2)
        .withColumn("v", lit(-5L)), "k")
    GraftTable.deleteWhere(spark, s"$d/fact", $"k" % 17 === 3, "k")
    var (_, dirty) = GraftMv.refresh(spark, s"$d/mv")
    assert(dirty > 0)
    assert(GraftMv.read(spark, s"$d/mv").select("region", "n", "sv")
      .as[(String, Long, Long)].collect().toSeq.sorted === chainWant(d))
    // 2: MID-dim — cities 3,4 move to state 6 (their fact rows must
    // move between region groups)
    GraftTable.upsert(spark, s"$d/city",
      Seq((3L, 6L, "c3"), (4L, 6L, "c4")).toDF("ck", "state_fk", "cname"),
      "ck")
    val r2 = GraftMv.refresh(spark, s"$d/mv")
    assert(r2._2 > 0)
    assert(GraftMv.read(spark, s"$d/mv").select("region", "n", "sv")
      .as[(String, Long, Long)].collect().toSeq.sorted === chainWant(d))
    // 3: LEAF-dim — state 5 moves region (every fact row reaching it
    // through any city moves group)
    GraftTable.upsert(spark, s"$d/state",
      Seq((5L, "R9")).toDF("sk", "region"), "sk")
    val r3 = GraftMv.refresh(spark, s"$d/mv")
    assert(r3._2 > 0)
    assert(GraftMv.read(spark, s"$d/mv").select("region", "n", "sv")
      .as[(String, Long, Long)].collect().toSeq.sorted === chainWant(d))
    // convergence: refresh again is a no-op
    assert(GraftMv.refresh(spark, s"$d/mv")._2 === 0L)
  }

  test("SNOWFLAKE CHAIN rewrite: the 3-deep star query serves from " +
      "the MV; a LEAF-dim commit makes it stale exactly like a fact " +
      "commit") {
    val d = chainSetup()
    GraftMv.createJoined(spark, s"$d/mv", s"$d/fact",
      Seq(s"$d/city" -> "city_fk", s"$d/state" -> "state_fk"),
      Seq(MvGroup("region", "region")),
      Seq(MvAgg("count", "", "n"), MvAgg("sum", "v", "sv")))
    val cat = "gmvsn" + TestIds.next()
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.base", d)
    spark.conf.set("spark.graft.mv.rewrite.views", s"$d/mv")
    def served(q: DataFrame): Boolean =
      q.queryExecution.executedPlan.toString.contains(s"$d/mv")
    try {
      val q = spark.sql(s"SELECT region, count(*) AS c, sum(v) AS s " +
        s"FROM $cat.fact f JOIN $cat.city c ON f.city_fk = c.ck " +
        s"JOIN $cat.state st ON c.state_fk = st.sk GROUP BY region")
      assert(served(q), "the chain star query must serve from the MV")
      assert(q.orderBy("region").collect().toSeq ===
        chainEnrich(d).groupBy($"region")
          .agg(count(lit(1)).as("c"), sum($"v").as("s"))
          .orderBy("region").collect().toSeq)
      // global rollup over the chain
      val qg = spark.sql(s"SELECT sum(v) AS s FROM $cat.fact f " +
        s"JOIN $cat.city c ON f.city_fk = c.ck " +
        s"JOIN $cat.state st ON c.state_fk = st.sk")
      assert(served(qg), "the global rollup must serve")
      assert(qg.as[Long].head() ===
        chainEnrich(d).agg(sum($"v")).as[Long].head())
      // leaf-dim commit -> stale -> refuse; refresh re-arms
      GraftTable.upsert(spark, s"$d/state",
        Seq((2L, "R7")).toDF("sk", "region"), "sk")
      val q2 = spark.sql(s"SELECT region, count(*) AS c " +
        s"FROM $cat.fact f JOIN $cat.city c ON f.city_fk = c.ck " +
        s"JOIN $cat.state st ON c.state_fk = st.sk GROUP BY region")
      assert(!served(q2), "a stale leaf dim must disable the rewrite")
      GraftMv.refresh(spark, s"$d/mv")
      val q3 = spark.sql(s"SELECT region, count(*) AS c " +
        s"FROM $cat.fact f JOIN $cat.city c ON f.city_fk = c.ck " +
        s"JOIN $cat.state st ON c.state_fk = st.sk GROUP BY region")
      assert(served(q3), "REFRESH re-arms the chain rewrite")
      assert(q3.orderBy("region").collect().toSeq ===
        chainEnrich(d).groupBy($"region").agg(count(lit(1)).as("c"))
          .orderBy("region").collect().toSeq)
    } finally spark.conf.unset("spark.graft.mv.rewrite.views")
  }
}
