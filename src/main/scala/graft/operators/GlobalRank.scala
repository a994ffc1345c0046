package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scalable global sequence assignment: the two-phase replacement for
  * `rank().over(Window.orderBy(...))`, whose empty partitionBy funnels
  * every row through ONE partition (a single-partition exchange +
  * sort — fine for dim-sized inputs, fatal at 10⁹ rows; the classic
  * surrogate-ID scale cliff).
  *
  * Phase 1: range-repartition by the key — partitions are globally
  * ordered and equal keys are co-located — and rank *within* each
  * partition (`partitionBy(spark_partition_id())`), so all window
  * sorts run in parallel. Phase 2: per-partition totals (row count
  * for row_number, distinct-key count for dense_rank) are turned into
  * cumulative offsets and broadcast back; the global value is
  * `local + offset of preceding partitions`. Output is identical to
  * the single-partition window (pinned by `GlobalRankSpec`).
  *
  * The offsets window itself is a single-partition sort — over ONE ROW
  * PER PARTITION, i.e. O(number of shuffle partitions), which does not
  * grow with the data. Catalyst's exchange reuse evaluates the phase-1
  * shuffle once for both the ranking and the counting subtree.
  *
  * Keys rank ascending (the only order surrogate-ID assignment needs);
  * ties within equal keys are broken arbitrarily, exactly like the
  * single-partition form.
  */
object GlobalRank {

  /** `row_number().over(Window.orderBy(keys))` at scale. Output column
    * is LongType. */
  def rowNumber(df: DataFrame, outCol: String, keys: Column*): DataFrame =
    twoPhase(df, outCol, keys, count(lit(1)), row_number())

  /** `dense_rank().over(Window.orderBy(keys))` at scale: a partition's
    * offset contribution is its distinct-key count, which is the
    * largest local dense rank (equal keys never straddle a range
    * boundary). Reading it off the pid-clustered local frame costs no
    * distinct aggregation over the range exchange. Output column is
    * LongType. */
  def denseRank(df: DataFrame, outCol: String, keys: Column*): DataFrame =
    twoPhase(df, outCol, keys, max(col("__local")), dense_rank(),
      totalOverLocal = true)

  /** `rank().over(Window.orderBy(keys))` at scale. The offset for a
    * partition is its preceding ROW count (not distinct keys): rank =
    * 1 + number of rows strictly before my key group, and since the
    * range partitioning co-locates equal keys, that is exactly
    * `preceding-partition rows + local rank()`. Output is LongType. */
  def rank(df: DataFrame, outCol: String, keys: Column*): DataFrame =
    twoPhase(df, outCol, keys, count(lit(1)),
      org.apache.spark.sql.functions.rank())

  /** `percent_rank().over(Window.orderBy(keys))` at scale:
    * `(rank − 1) / (n − 1)` with the SQL-standard `n == 1 → 0.0`
    * guard; `n` arrives as a one-row broadcast aggregate, never a
    * window. Output column is DoubleType. */
  def percentRank(df: DataFrame, outCol: String, keys: Column*): DataFrame = {
    val ranked = rank(df, "__grk", keys: _*)
    val total = df.groupBy().agg(count(lit(1)).as("__gn"))
    ranked.join(broadcast(total))
      .withColumn(outCol,
        when(col("__gn") === 1, lit(0.0))
          .otherwise((col("__grk") - 1).cast("double") / (col("__gn") - 1)))
      .drop("__grk", "__gn")
  }

  /** `ntile(buckets).over(Window.orderBy(keys))` at scale, from the
    * two-phase row number plus a broadcast total: with `q = n / B`,
    * `r = n % B`, the first `r` tiles carry `q + 1` rows — integer
    * arithmetic reproduces the SQL-standard split exactly (including
    * `n < B`, where tile = row number). Ties follow the row-number
    * tie-break, so pass a UNIQUE key suffix for determinism. Output
    * column is LongType. */
  def ntile(df: DataFrame, buckets: Int, outCol: String,
            keys: Column*): DataFrame = {
    require(buckets >= 1, s"ntile buckets must be >= 1, got $buckets")
    val rn = rowNumber(df, "__grn", keys: _*)
    val total = df.groupBy().agg(count(lit(1)).as("__gn"))
    // Column `/` is DOUBLE division — every quotient here must be the
    // integer one, so each goes through floor(). The q == 0 case
    // (more buckets than rows) never reaches the otherwise branch
    // (threshold = n there), so its divide-by-zero is unevaluated.
    def idiv(a: Column, b: Column): Column = floor(a / b).cast("long")
    val q = idiv(col("__gn"), lit(buckets))
    val r = col("__gn") % buckets
    val threshold = r * (q + 1)
    rn.join(broadcast(total))
      .withColumn(outCol,
        when(col("__grn") <= threshold,
          idiv(col("__grn") - 1, q + 1) + 1)
          .otherwise(r + idiv(col("__grn") - threshold - 1, q) + 1))
      .drop("__grn", "__gn")
  }

  /** Both subtrees (local ranks, offsets) read the SAME range
    * exchange; correctness of the broadcast offsets requires that
    * exchange to be materialized ONCE (two independent
    * materializations could sample different range boundaries on a
    * nondeterministic source, silently corrupting global ids).
    * Catalyst's exchange reuse guarantees it — so its conf must be on,
    * and we fail fast rather than corrupt if a session disabled it. */
  private def requireExchangeReuse(df: DataFrame): Unit = {
    val reuse = df.sparkSession.conf.get("spark.sql.exchange.reuse", "true")
    require(reuse.toBoolean,
      "GlobalRank requires spark.sql.exchange.reuse=true: local ranks and " +
        "partition offsets must read one shared materialization of the range " +
        "exchange, or global ids can silently mismatch")
  }

  /** Exclusive global running sum of `value` in `keys` order (the
    * sequence-packing offset), two-phase like the ranks: per-range
    * local cumsum + broadcast partition offsets — no single-partition
    * window at any input size. Output column is LongType. */
  def exclusiveCumSum(df: DataFrame, outCol: String, value: Column,
                      keys: Column*): DataFrame = {
    requireExchangeReuse(df)
    val parted = df.repartitionByRange(keys: _*)
      .withColumn("__pid", spark_partition_id())
    val local = parted.withColumn("__local",
      coalesce(sum(value).over(Window.partitionBy(col("__pid")).orderBy(keys: _*)
        .rowsBetween(Window.unboundedPreceding, -1)).cast("long"), lit(0L)))
    val offsets = parted
      .groupBy(col("__pid")).agg(sum(value).cast("long").as("__cnt"))
      // this unpartitioned Window triggers Spark's "No Partition
      // Defined" warning in the logs — EXPECTED and benign: its input
      // is one row per shuffle partition (O(#partitions), never
      // O(data)), the only single-partition state this operator keeps
      .withColumn("__off", coalesce(
        sum(col("__cnt")).over(Window.orderBy(col("__pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__pid"), col("__off"))
    local.join(broadcast(offsets), Seq("__pid"))
      .withColumn(outCol, col("__off") + col("__local"))
      .drop("__pid", "__local", "__off")
  }

  /** @param totalOverLocal aggregate `perPartitionTotal` over the
    *   ranked local frame (it may then read `__local`) instead of over
    *   the range-partitioned input. */
  private def twoPhase(df: DataFrame, outCol: String, keys: Seq[Column],
                       perPartitionTotal: Column, localRank: Column,
                       totalOverLocal: Boolean = false): DataFrame = {
    requireExchangeReuse(df)
    val parted = df.repartitionByRange(keys: _*)
      .withColumn("__pid", spark_partition_id())
    val local = parted.withColumn("__local",
      localRank.over(Window.partitionBy(col("__pid")).orderBy(keys: _*)))
    val offsets = (if (totalOverLocal) local else parted)
      .groupBy(col("__pid")).agg(perPartitionTotal.cast("long").as("__cnt"))
      // unpartitioned Window over one row per shuffle partition — the
      // log's "No Partition Defined" warning here is expected; see
      // exclusiveCumSum above
      .withColumn("__off", coalesce(
        sum(col("__cnt")).over(Window.orderBy(col("__pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__pid"), col("__off"))
    local.join(broadcast(offsets), Seq("__pid"))
      .withColumn(outCol, col("__off") + col("__local"))
      .drop("__pid", "__local", "__off")
  }
}
