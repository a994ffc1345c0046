package graft.operators

import graft.plans.{GlobalRankNode, RankKind}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.{Project, Sort}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.LongType

/** Scalable global sequence assignment: the replacement for
  * `rank().over(Window.orderBy(...))`, whose empty partitionBy funnels
  * every row through ONE partition (a single-partition exchange +
  * sort — fine for dim-sized inputs, fatal at 10⁹ rows; the classic
  * surrogate-ID scale cliff).
  *
  * Each rank is one Catalyst operator, [[graft.plans.GlobalRankExec]]
  * (planned by [[graft.plans.GlobalRankStrategy]], so the session
  * needs [[graft.plans.GraftExtensions]]): one range exchange on the
  * keys — partitions are globally ordered and equal keys are
  * co-located — and a local sort, then one totals job over that
  * materialization (rows, distinct peers or Σ value per partition)
  * whose prefix sums are each partition's offset, and a pass over the
  * SAME materialization that emits `offset + local value`. The two
  * passes read one shuffle output through the same partitions, so the
  * offsets match the rows by construction, under AQE coalescing too.
  * The totals job re-runs the local sort; that is the one remaining
  * second pass. Output is identical to the single-partition window
  * (pinned by `GlobalRankSpec`).
  *
  * Keys rank ascending unless a key says otherwise (the only order
  * surrogate-ID assignment needs); ties within equal keys are broken
  * arbitrarily, exactly like the single-partition form.
  */
object GlobalRank {

  /** `row_number().over(Window.orderBy(keys))` at scale. Output column
    * is LongType. */
  def rowNumber(df: DataFrame, outCol: String, keys: Column*): DataFrame =
    ranked(df, outCol, RankKind.RowNumber, None, keys)

  /** `dense_rank().over(Window.orderBy(keys))` at scale: a partition's
    * offset contribution is its distinct-key count, counted in the
    * sorted partition (equal keys never straddle a range boundary).
    * Output column is LongType. */
  def denseRank(df: DataFrame, outCol: String, keys: Column*): DataFrame =
    ranked(df, outCol, RankKind.DenseRank, None, keys)

  /** `rank().over(Window.orderBy(keys))` at scale. The offset for a
    * partition is its preceding ROW count (not distinct keys): rank =
    * 1 + number of rows strictly before my key group, and since the
    * range partitioning co-locates equal keys, that is exactly
    * `preceding-partition rows + local rank()`. Output is LongType. */
  def rank(df: DataFrame, outCol: String, keys: Column*): DataFrame =
    ranked(df, outCol, RankKind.Rank, None, keys)

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
    * global row number plus a broadcast total: with `q = n / B`,
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

  /** Exclusive global running sum of `value` in `keys` order (the
    * sequence-packing offset), like the ranks: per-partition sums are
    * the offsets, no single-partition window at any input size. Each
    * value counts as a long (NULL adds 0). Output column is LongType. */
  def exclusiveCumSum(df: DataFrame, outCol: String, value: Column,
                      keys: Column*): DataFrame =
    ranked(df, outCol, RankKind.CumSum, Some(value.cast("long")), keys)

  /** Appends `outCol` from a [[GlobalRankNode]] over `df`. The keys and
    * the summand resolve through the analyzer on throwaway plans over
    * `df`, so the node holds plain serializable catalyst trees (see
    * [[graft.plans.TopK.topKPerGroup]]). */
  private def ranked(df: DataFrame, outCol: String, kind: RankKind,
                     value: Option[Column], keys: Seq[Column]): DataFrame = {
    val sort = bridge.analyzed(df.sortWithinPartitions(keys: _*)).asInstanceOf[Sort]
    val summand = value.map { v =>
      bridge.analyzed(df.select(v)).asInstanceOf[Project].projectList.head match {
        case a: Alias => a.child
        case e => e
      }
    }
    val out = AttributeReference(outCol, LongType, nullable = false)()
    // re-aliased in a Project: a self-join can renew a Project's aliases,
    // never a custom node's own output
    bridge.ofRows(df.sparkSession, Project(sort.child.output :+ Alias(out, outCol)(),
      GlobalRankNode(kind, sort.order, summand, out, sort.child)))
  }
}
