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

  test("fails fast when exchange reuse is disabled (offset-consistency guard)") {
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try {
      val e = intercept[IllegalArgumentException] {
        GlobalRank.rowNumber(df, "rn", col("key"), col("id"))
      }
      assert(e.getMessage.contains("exchange.reuse"))
    } finally spark.conf.set("spark.sql.exchange.reuse", "true")
  }

  test("ranking windows are pid-partitioned (no full-input single-partition sort)") {
    val out = GlobalRank.rowNumber(df, "rn", col("key"), col("id"))
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    val windowLines = plan.linesIterator.filter(_.contains("Window")).toSeq
    assert(windowLines.nonEmpty)
    // every window (local rank + offsets cumsum) involves __pid — none
    // sorts the full input on a single partition
    assert(windowLines.forall(_.contains("__pid")), windowLines.mkString("\n"))
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
