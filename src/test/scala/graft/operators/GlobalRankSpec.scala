package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class GlobalRankSpec extends SparkSpec {
  import spark.implicits._

  // 20k rows, duplicated keys, adversarial order (seeded → reproducible)
  private lazy val rnd = new scala.util.Random(42)
  private lazy val rows = (1 to 20000).map { i =>
    (i.toLong, s"k${rnd.nextInt(3000)}%04d", rnd.nextInt(100))
  }
  private lazy val df = rows.toDF("id", "key", "v").repartition(16)

  test("two-phase row_number matches the single-partition window") {
    val single = df.withColumn("rn",
      row_number().over(Window.orderBy("key", "id")).cast("long"))
      .select("id", "rn").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val two = GlobalRank.rowNumber(df, "rn", col("key"), col("id"))
      .select("id", "rn").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(two === single)
  }

  test("two-phase dense_rank matches the single-partition window") {
    val single = df.withColumn("dr",
      dense_rank().over(Window.orderBy("key")).cast("long"))
      .select("id", "dr").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val two = GlobalRank.denseRank(df, "dr", col("key"))
      .select("id", "dr").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(two === single)
  }

  test("two-phase exclusive cumsum matches the single-partition window") {
    val single = df.withColumn("cs",
      coalesce(sum("v").over(Window.orderBy("key", "id")
        .rowsBetween(Window.unboundedPreceding, -1)).cast("long"), lit(0L)))
      .select("id", "cs").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val two = GlobalRank.exclusiveCumSum(df, "cs", col("v"), col("key"), col("id"))
      .select("id", "cs").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(two === single)
  }

  test("two-phase rank matches the single-partition window") {
    val single = df.withColumn("rk",
      rank().over(Window.orderBy("key")).cast("long"))
      .select("id", "rk").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val two = GlobalRank.rank(df, "rk", col("key"))
      .select("id", "rk").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(two === single)
  }

  test("two-phase percent_rank matches the single-partition window") {
    val single = df.withColumn("pr",
      percent_rank().over(Window.orderBy("key")))
      .select("id", "pr").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val two = GlobalRank.percentRank(df, "pr", col("key"))
      .select("id", "pr").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(two === single)
    // single-row frame: SQL standard says 0.0, not NaN
    val one = Seq((1L, "a")).toDF("id", "key")
    assert(GlobalRank.percentRank(one, "pr", col("key"))
      .select("pr").head().getDouble(0) === 0.0)
  }

  test("two-phase ntile matches the single-partition window across bucket shapes") {
    // 20000 % 7 != 0 exercises the uneven-tile split; 3 and 100 the
    // even-ish ones; 30000 > n the degenerate tile-per-row case
    for (b <- Seq(3, 7, 100, 30000)) {
      val single = df.withColumn("nt",
        ntile(b).over(Window.orderBy("key", "id")).cast("long"))
        .select("id", "nt").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val two = GlobalRank.ntile(df, b, "nt", col("key"), col("id"))
        .select("id", "nt").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(two === single, s"buckets=$b")
    }
  }

  /** Each of the four ranks over `in` (columns id, key, v) returns
    * every input row, with the single-partition window's value. Whole
    * rows are collected: pruning to (id, rank) would let the ranked
    * rows and a key-only read of them share one exchange. */
  private def assertFourRanksMatchWindow(in: org.apache.spark.sql.DataFrame): Unit = {
    def byId(d: org.apache.spark.sql.DataFrame, c: String) = {
      val rows = d.collect()
      assert(rows.length === in.count(), s"$c lost or duplicated rows")
      rows.map(r => r.getAs[Long]("id") -> r.getAs[Long](c)).toMap
    }
    val cumsum = coalesce(sum("v").over(Window.orderBy("key", "id")
      .rowsBetween(Window.unboundedPreceding, -1)).cast("long"), lit(0L))
    assert(byId(GlobalRank.rowNumber(in, "x", col("key"), col("id")), "x") ===
      byId(in.withColumn("x", row_number().over(Window.orderBy("key", "id")).cast("long")), "x"))
    assert(byId(GlobalRank.denseRank(in, "x", col("key")), "x") ===
      byId(in.withColumn("x", dense_rank().over(Window.orderBy("key")).cast("long")), "x"))
    assert(byId(GlobalRank.rank(in, "x", col("key")), "x") ===
      byId(in.withColumn("x", rank().over(Window.orderBy("key")).cast("long")), "x"))
    assert(byId(GlobalRank.exclusiveCumSum(in, "x", col("v"), col("key"), col("id")), "x") ===
      byId(in.withColumn("x", cumsum), "x"))
  }

  private def withConf(k: String, v: String)(body: => Unit): Unit = {
    val prior = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body
    finally prior.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  test("exchange reuse off: every rank still matches the single-partition window") {
    withConf("spark.sql.exchange.reuse", "false")(assertFourRanksMatchWindow(df))
  }

  test("wide rows coalesced by AQE: every rank returns every row") {
    // The ranked rows carry a 200-char payload, so AQE coalesces their
    // range partitions at a different count than a key-only read of
    // the same data would; offsets must come from the partitions the
    // rows are actually read through.
    val payloadRnd = new scala.util.Random(7)
    val wide = (1 to 20000).map { i =>
      (i.toLong, f"k${payloadRnd.nextInt(5000)}%04d", payloadRnd.nextInt(100),
        payloadRnd.alphanumeric.take(200).mkString)
    }.toDF("id", "key", "v", "payload").repartition(4)
    withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes", "262144") {
      withConf("spark.sql.shuffle.partitions", "8")(assertFourRanksMatchWindow(wide))
    }
  }

  test("a ranked frame joins with itself") {
    // the rank column is an attribute the node itself produces; a
    // self-join must still tell the two sides' columns apart
    val ranked = GlobalRank.rowNumber(df, "rn", col("key"), col("id"))
    val rnOf = ranked.select("id", "rn").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = ranked.alias("a").join(ranked.alias("b"), col("a.rn") === col("b.rn") - 1)
      .select(col("a.id"), col("b.id")).collect()
    assert(pairs.length === 19999)
    pairs.foreach(r => assert(rnOf(r.getLong(1)) === rnOf(r.getLong(0)) + 1))
  }

  test("each rank is one GlobalRankExec over one range exchange (no full-input " +
    "single-partition sort)") {
    import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    val out = GlobalRank.rowNumber(df, "rn", col("key"), col("id"))
    out.collect()
    val plan = out.queryExecution.executedPlan
    val helper = new AdaptiveSparkPlanHelper {}
    val ranks = helper.collect(plan) { case r: graft.plans.GlobalRankExec => r }
    assert(ranks.size === 1, plan.treeString)
    // the input's own round-robin exchange aside, one range exchange on
    // the keys and nothing single-partition
    val exchanges = helper.collect(plan) { case e: ShuffleExchangeExec => e.outputPartitioning }
    val ranges = exchanges.collect { case r: RangePartitioning => r }
    assert(ranges.map(_.ordering.map(_.child.toString.takeWhile(_ != '#'))) ===
      Seq(Seq("key", "id")), plan.treeString)
    assert(!exchanges.contains(SinglePartition), plan.treeString)
    assert(helper.collect(plan) { case w: WindowExec => w }.isEmpty, plan.treeString)
    assert(helper.collect(plan) { case s: SortExec => s }.forall(!_.global), plan.treeString)
  }

  test("AQE-coalesced range partitions: local ranks and offsets agree") {
    // a few hundred rows over 64 range partitions: AQE coalesces the
    // reads, so the local branch and the offsets branch must see the
    // same (coalesced) partition ids
    val small = rows.take(300).toDF("id", "key", "v").repartition(4)
    // collects `d` itself, so its executed plan is the final one
    def byId(d: org.apache.spark.sql.DataFrame, c: String) =
      d.collect().map(r => r.getAs[Long]("id") -> r.getAs[Long](c)).toMap
    val prior = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    try {
      val rn = GlobalRank.rowNumber(small, "x", col("key"), col("id"))
      assert(byId(rn, "x") === byId(small.withColumn("x",
        row_number().over(Window.orderBy("key", "id")).cast("long")), "x"))
      assert(rn.queryExecution.executedPlan.toString.contains("coalesced"),
        rn.queryExecution.executedPlan.toString)
      assert(byId(GlobalRank.denseRank(small, "x", col("key")), "x") ===
        byId(small.withColumn("x",
          dense_rank().over(Window.orderBy("key")).cast("long")), "x"))
      assert(byId(GlobalRank.rank(small, "x", col("key")), "x") ===
        byId(small.withColumn("x",
          rank().over(Window.orderBy("key")).cast("long")), "x"))
      assert(byId(GlobalRank.exclusiveCumSum(small, "x", col("v"),
          col("key"), col("id")), "x") ===
        byId(small.withColumn("x", coalesce(sum("v").over(
          Window.orderBy("key", "id")
            .rowsBetween(Window.unboundedPreceding, -1)).cast("long"),
          lit(0L))), "x"))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prior)
  }
}
