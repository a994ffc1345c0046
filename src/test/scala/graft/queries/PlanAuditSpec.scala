package graft.queries

import graft.SparkSpec
import graft.plans.GlobalRankExec
import org.apache.spark.sql.catalyst.expressions.SortOrder
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Physical-plan regression audit (SURVEY §4 / the 100 TB checklist):
  * the properties that make these plans survive scale-up must not
  * silently regress — filters reach the parquet scan, projections
  * prune columns, dimension joins broadcast, hot paths stay inside
  * whole-stage codegen. */
class PlanAuditSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val dir = "/root/testdata/sf0.001"

  /** Final adaptive plan — AQE only materializes join strategies and
    * codegen spans after execution. */
  private def plan(name: String): String = executed(name).toString

  /** The executed plan of `df` after collecting it. */
  private def executed(df: org.apache.spark.sql.DataFrame): SparkPlan = {
    df.collect() // must execute THIS plan (count() would build another)
    df.queryExecution.executedPlan
  }

  private def executed(name: String): SparkPlan =
    executed(graft.SparkEntry.queries(name)(spark, dir))

  /** The exchanges a node reads: the first exchange down each input path. */
  private def feeding(p: SparkPlan): Seq[Exchange] = p match {
    case e: Exchange => Seq(e)
    case s: QueryStageExec => feeding(s.plan)
    case r: ReusedExchangeExec => feeding(r.child)
    case a: AdaptiveSparkPlanExec => feeding(a.executedPlan)
    case o => o.children.flatMap(feeding)
  }

  private def keyNames(order: Seq[SortOrder]): Seq[String] =
    order.map(_.child.toString.replaceAll("#\\d+L?", ""))

  /** What a scalable global rank looks like in `p`, returning the ranks:
    *  - each is a [[GlobalRankExec]] whose input is one range exchange
    *    on its own keys — or on a prefix of them, which already orders
    *    the partitions (a rank over another rank's output reuses its
    *    exchange that way);
    *  - no Window or Sort reads a single-partition exchange that
    *    carries data-sized input (more rows than there are shuffle
    *    partitions — the old offsets window read one row per range
    *    partition, and nothing may read more). */
  private def assertScalableRanks(q: String, p: SparkPlan): Seq[GlobalRankExec] = {
    val ranks = collect(p) { case r: GlobalRankExec => r }
    ranks.foreach { r =>
      val ranges = feeding(r.child).collect { case e: ShuffleExchangeExec =>
        e.outputPartitioning match {
          case rp: RangePartitioning => keyNames(rp.ordering)
          case other => Seq(other.toString)
        }
      }
      assert(ranges.size === 1 && ranges.head.nonEmpty &&
        keyNames(r.order).startsWith(ranges.head), s"$q: rank input\n${r.treeString}")
    }
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toLong
    collect(p) { case n @ (_: WindowExec | _: SortExec) => n }.foreach { n =>
      feeding(n).foreach {
        case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition =>
          val rows = e.metrics("shuffleRecordsWritten").value
          assert(rows <= parts,
            s"$q: ${n.nodeName} over a $rows-row single-partition exchange\n${n.treeString}")
        case _ =>
      }
    }
    ranks
  }

  test("q05: quantity filter is pushed into the parquet scan") {
    val p = plan("q05_never_bulk_ordered_parts")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThanOrEqual(l_quantity,45.0)")
      || p.contains("GreaterThanOrEqual(l_quantity,45.0)"))
  }

  test("q05: scan reads only the joined/projected columns") {
    val p = plan("q05_never_bulk_ordered_parts")
    assert(p.contains("ReadSchema: struct<l_partkey:bigint,l_quantity:double>"))
    assert(!p.contains("l_extendedprice")) // pruning dropped unused cols
  }

  test("q02: every dimension join broadcasts (no sort-merge on dims)") {
    val p = plan("q02_revenue_by_nation")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3)
    assert(!p.contains("SortMergeJoin")
      || p.indexOf("SortMergeJoin") > p.indexOf("BroadcastHashJoin"))
  }

  test("q01: aggregation is partial (map-side combine) and codegen'd") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("HashAggregate"))
    assert(p.contains("*(")) // whole-stage codegen span marker
    // partial + final pair: two HashAggregate nodes around the exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("q30: no UDFs in the vector hot path (codegen everywhere)") {
    val p = plan("q30_ann_brute_force")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"))
    assert(p.contains("*(")) // whole-stage codegen span marker
  }

  test("q04: surrogate ranks are two-phase (no full-input single-partition window)") {
    val p = executed("q04_surrogate_ids")
    // the old Window.orderBy(empty partitionBy) form would sort the
    // full input on one partition
    assert(assertScalableRanks("q04", p).nonEmpty, p.toString)
  }

  test("q32: LSH bucket projection is constant-folded (vec_dot, no HOFs)") {
    val p = plan("q32_ann_lsh")
    assert(p.contains("vec_dot("))
    // the hyperplane signs must be literal arrays, not per-row
    // aggregate(zip_with(md5(...))) interpreted lambdas
    assert(!p.contains("zip_with") && !p.contains("aggregate("))
    assert(!p.contains("ScalaUDF"))
  }

  test("q38: near-dup candidate generation has no full-corpus cartesian") {
    val p = plan("q38_embedding_neardup")
    // the only nested-loop joins allowed are the bounded broadcast ones
    // against the k-centroid table; the vector-pair join itself must be
    // a hash equi-join on the admissible cell pairs
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q29: native hamming_hex expression stays inside codegen") {
    val p = plan("q29_simhash_neardup")
    assert(!p.contains("ScalaUDF"))
    assert(p.contains("hamming_hex("))
    assert(p.contains("*(")) // whole-stage codegen span marker
  }

  test("q58: per-row quality gates run in one scan stage (no exchange)") {
    val p = plan("q58_gopher_quality")
    // a pure projection + sort: the only exchange allowed is the final
    // rangepartitioning for the global ORDER BY
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")), exchanges.mkString("\n"))
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"))
  }

  test("q59: repetition stats aggregate with map-side combine") {
    val p = plan("q59_repetition_stats")
    // explode -> (doc, gram) count -> per-doc agg: both levels partial
    assert("HashAggregate".r.findAllIn(p).size >= 4)
    assert(!p.contains("ScalaUDF"))
  }

  test("q61: top-N is a TakeOrderedAndProject, not a global sort") {
    val p = plan("q61_tpch_q3_unshipped")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.linesIterator.exists(l =>
      l.contains("Exchange rangepartitioning"))) // no full-result sort shuffle
  }

  test("q68: supplier blacklist is a broadcast anti-join") {
    val p = plan("q68_tpch_q16_supplier_variety")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q81: every scan predicate is pushed into the parquet scan") {
    val p = plan("q81_tpch_q6_forecast_revenue")
    // discount band and quantity cap push down as-is; the year()
    // filter stays in the post-scan filter (not a raw column
    // predicate). The toString elides long filter lists, so assert on
    // the surviving prefix.
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), " +
      "IsNotNull(l_quantity), GreaterThanOrEqual(l_discou"), p)
  }

  test("q73: custom top-k exec replaces the window plan") {
    val p = plan("q73_topk_per_group")
    assert(p.contains("TopKPerGroup"), p)
    assert(!p.contains("Window"), p)
  }

  test("q92: quantile binning ranks two-phase (all windows pid-keyed)") {
    // (the name predates GlobalRankExec: "pid-keyed" now reads "each
    // rank over one range exchange on its keys")
    val p = executed("q92_quantile_binning")
    // exactly one rank: the row count reads the input, not the ranks
    assert(assertScalableRanks("q92", p).size === 1, p.toString)
  }

  test("q94: collocation totals ride broadcasts, not shuffled joins") {
    val p = plan("q94_collocations")
    // the two one-row totals must be broadcast nested-loop/hash joins;
    // a shuffled join on a one-row side would be a planning regression
    assert("Broadcast".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q24: minhash signatures compute once (band self-join reuses the exchange)") {
    val p = plan("q24_minhash_lsh")
    // signatures ride through the band self-join; the two sides are the
    // identical subtree, so exactly ONE min(...) signature aggregation
    // tree must execute — the other side is a ReusedExchange. Two
    // distinct signature aggregations = the old rejoin-twice plan.
    val finalPlan = p.split("== Initial Plan ==")(0) // drop AQE's pre-plan echo
    assert(finalPlan.contains("ReusedExchange"), finalPlan)
    val sigAggs = finalPlan.linesIterator
      .count(l => l.contains("partial_min") && l.contains("md5"))
    assert(sigAggs <= 1, s"signature agg computed $sigAggs times:\n$finalPlan")
  }

  test("q100: stratified sampling routes through the native top-k exec") {
    val p = plan("q100_stratified_sample")
    assert(p.contains("TopKPerGroup"), p)
    assert(!p.contains("Window"), p)
  }

  test("q102: decay explode runs on the daily aggregate, not the fact scan") {
    val p = plan("q102_decayed_revenue")
    // aggregate-first: the explode must sit ON TOP of the day-grain
    // aggregation, i.e. a HashAggregate appears deeper in the tree
    // (later in print order) than the Generate — the 30× amplification
    // touches only day-grain rows, never the raw fact scan
    val genIdx = p.indexOf("Generate")
    assert(genIdx > 0, p)
    assert(p.indexOf("HashAggregate", genIdx) > genIdx, p)
    // the day self-join is an equi-join, never a range/nested-loop
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q106: weighted top-k is a TakeOrderedAndProject, not a global sort") {
    val p = plan("q106_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q103: centroid aggregation is map-side combined (partial avg under the explode)") {
    val p = plan("q103_label_centroids")
    assert(p.contains("Generate"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("Window"), p)
  }

  test("q113: profiling five columns scans the table once") {
    val p = plan("q113_table_profile").split("== Initial Plan ==")(0)
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") || l.contains("FileScan"))
    assert(scans === 1, s"expected one orders scan, got $scans:\n$p")
  }

  test("q119: interval overlap joins on the bucket grid, not a nested loop") {
    val p = plan("q119_session_overlap")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q114: the RANGE window runs over the day-grain aggregate") {
    val p = plan("q114_range_frame")
    val winIdx = p.indexOf("Window")
    assert(winIdx > 0, p)
    // a HashAggregate (the daily rollup) sits BELOW the window — the
    // frame never scans fact-grain rows
    assert(p.indexOf("HashAggregate", winIdx) > winIdx, p)
  }

  test("q124: the bloom prefilter sits on the fact scan, before the semi-join shuffle") {
    val p = plan("q124_bloom_semi_join")
    val bloomIdx = p.indexOf("might_contain")
    assert(bloomIdx > 0, s"bloom prefilter missing from plan:\n$p")
    // the prefilter is a Filter over the lineitem scan, not post-join
    val joinIdx = p.indexOf("LeftSemi")
    assert(joinIdx > 0 && bloomIdx > joinIdx,
      "prefilter must appear under (after, in toString order) the semi-join node")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q126: log compaction is one keyed aggregation, never a log-wide window") {
    val p = plan("q126_cdc_compaction")
    assert(!p.contains("Window"), s"window formulation would sort the whole log:\n$p")
    // partial + final aggregate pair around one exchange (map-side
    // combine before the shuffle). max(struct) buffers aren't
    // hash-mutable, so Spark plans SortAggregate — still two-phase:
    // the partial pass compacts each map partition to ≤1 row per key.
    assert("partial_max".r.findAllIn(p).size >= 1, p)
    assert("Aggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q122: span dedup is hash-joins + hash-aggregates only (no cartesian, no sort-join)") {
    val p = plan("q122_span_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q129: pagerank edge build and iterations are equi-joins (no nested loop)") {
    val p = plan("q129_pagerank_copurchase")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the power iterations re-join the same edge list; the plan must
    // reuse its exchange, not re-run the lineitem self-join per round
    assert(p.contains("ReusedExchange"), s"edge shuffle not reused:\n$p")
  }

  test("q162: sliding windows are one scan + explode, never a self-join") {
    // the adaptive plan string repeats the tree under "== Initial
    // Plan =="; audit the final plan section only
    val p = plan("q162_sliding_windows").split("== Initial Plan ==").head
    // window(ts, size, slide) plans as a generated-expression Expand
    // over the window instances; a join-based rewrite would re-scan
    assert(!p.contains("Join"), p)
    assert("FileScan parquet".r.findAllIn(p).size === 1, p)
    assert(p.contains("Expand"), p)
  }

  test("q185: hilbert index stays inside codegen (no UDF, only the 1-row stats cross)") {
    val p = plan("q185_hilbert_layout")
    // the only nested-loop join allowed is the broadcast of the 1-row
    // min/max stats; the curve arithmetic itself must be pure codegen
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      p.take(2000))
    assert(p.contains("*("), p.take(2000)) // whole-stage codegen span marker
  }

  test("q186: compaction windows partition by source (no single-partition sort)") {
    val p = plan("q186_compaction_plan")
    assert(!p.contains("SinglePartition"), p)
    assert(p.contains("hashpartitioning(source"), p)
  }

  test("q200: profiler is a two-level hash aggregation, no count-distinct Expand") {
    val p = plan("q200_column_stats")
    // melt + groupBy(col,value) + groupBy(col): partial/final pairs of
    // two aggregations; an Expand node would mean the multi-distinct
    // rewrite sneaked back in (input × #distinct-aggs blowup)
    assert(!p.contains("Expand"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 4, p)
  }

  test("q201/q204/q207: write-path diffs/merges are single hash joins, no cartesian") {
    for (q <- Seq("q201_snapshot_diff", "q204_merge_upsert", "q207_incremental_agg")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
      assert(p.contains("FullOuter"), s"$q missing the full-outer merge join:\n$p")
    }
  }

  test("q203: bucket weights join by broadcast; only the 1-row totals cross") {
    // adaptive toString repeats the tree under "== Initial Plan =="
    val p = plan("q203_dsir_importance").split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct"), p)
    // the 256-row weight table and the doc-count table must broadcast
    assert(p.contains("BroadcastHashJoin"), p)
    // the only nested-loop allowed is the broadcast of the 1-row totals
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, p)
    // top-20 must be the bounded-heap form, not a global window
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q210: detector eval joins stay equi-join (no doc-cross anywhere)") {
    val p = plan("q210_dedup_eval")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q215: BFS rounds are all equi-joins (no cartesian, no walk blowup)") {
    val p = plan("q215_shortest_paths")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q216: n-gram clipping joins on (doc, gram) — never doc-cross") {
    val p = plan("q216_bleu_eval")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q218: PQ encoding is projection-only against centroid literals") {
    val p = plan("q218_product_quantization")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the only joins are the final vec_id equi-joins of the two codes
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findAllIn(p).size <= 2, p)
  }

  test("q219: only the 1-row census crosses; terciles window by source") {
    val p = plan("q219_perplexity_filter")
    assert(!p.contains("CartesianProduct"), p)
    // the (N, V) census is the single allowed nested-loop broadcast
    // (count within the FINAL plan only — the AQE dump repeats the
    // tree in its "Initial Plan" section)
    val finalPlan = p.split("== Initial Plan ==").head
    assert("BroadcastNestedLoopJoin".r.findAllIn(finalPlan).size <= 1, p)
    val windows = finalPlan.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.nonEmpty && windows.forall(_.contains("source")), p)
  }

  test("q213: anomaly scoring broadcasts the model, heap-selects top-20") {
    val p = plan("q213_sequence_anomaly")
    val windows = p.linesIterator.filter(_.contains("Window")).toSeq
    // the lead() window must partition by user — never a global sort
    assert(windows.nonEmpty && windows.forall(_.contains("user_id")), p)
    // the |types|^2 model joins the event stream as a broadcast
    assert(p.contains("BroadcastHashJoin"), p)
    // top-20 anomalous users via bounded heap, not a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q225: fuzzy matching joins on the block key; scorer stays in codegen") {
    val p = plan("q225_jaro_winkler_match")
    // candidates come from the blocking equi-join, never probes x parts
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    // the native expression compiles into the codegen span (no UDF)
    assert(!p.contains("ScalaUDF") && p.contains("jaro_winkler"), p)
    // best-match window partitions by probe — no global sort
    val windows = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(windows.forall(_.contains("probe_key")), p)
  }

  test("q226: interpolation windows partition by series (no global sort)") {
    val p = plan("q226_linear_interpolate")
    val windows = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(windows.nonEmpty && windows.forall(_.contains("grp")), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q231: pairwise slopes come from the priority equi-join, medians hash-aggregate") {
    val p = plan("q231_theil_sen")
    // the day x day pairing must key on priority — a cartesian over
    // days would be the naive form
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"), p)
  }

  test("q233: label propagation rounds are equi-joins with per-node windows") {
    val p = plan("q233_label_propagation")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    // every argmax window partitions by node
    val windows = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(windows.nonEmpty && windows.forall(_.contains("node")), p)
  }

  test("q235: bootstrap is explode + keyed aggregation (no per-replicate scans)") {
    val p = plan("q235_bootstrap_ci")
    // ONE generator over the base scan, not 40 of them (the plan text
    // prints the codegen subtree twice, hence <= 2 occurrences)
    assert("FileScan parquet".r.findAllIn(p).size <= 2, p)
    assert(p.contains("Generate explode"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q229/q230/q234: curation projections carry no UDFs and stay in codegen") {
    Seq("q229_url_canonicalize", "q230_html_extract", "q234_utf8_truncate")
      .foreach { q =>
        val p = plan(q)
        assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), s"$q:\n$p")
        assert(p.contains("*("), s"$q lost whole-stage codegen:\n$p")
      }
  }

  test("q238/q246: eval/objective formatters are pure codegen'd projections") {
    Seq("q238_rouge_l", "q246_span_corruption").foreach { q =>
      val p = plan(q)
      assert(!p.contains("ScalaUDF") && !p.contains("CartesianProduct"), s"$q:\n$p")
      assert(p.contains("*("), s"$q lost whole-stage codegen:\n$p")
    }
  }

  test("q243: tree rollup sweeps levels via keyed aggregation (broadcast level table)") {
    val p = plan("q243_tree_rollup")
    // the powers-of-two level lookup broadcasts; nothing nested-loops
    // over the data
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q244: lag scan joins on the shifted day key; moments hash-aggregate") {
    val p = plan("q244_cross_correlation")
    // day-grain x lags cross is the only broadcast nest (15 x ~2400
    // rows, calendar-bounded); the series alignment is an equi-join
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q254: ADC scan is a code-only broadcast equi-join (no cartesian, no UDF)") {
    val p = plan("q254_ivf_pq_search")
    // the candidate stage must be codes ⋈ broadcast(probes) on the cell
    // key; the codebook LUTs are constant-folded literal projections.
    // (The brute-force TRUTH branch is a broadcast nested loop over the
    // 10 bounded queries — allowed; a CartesianProduct is not.)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p)
    assert(p.contains("TopKPerGroup"), p) // both rankings bounded-heap
  }

  test("q257: global percent_rank/ntile ride two-phase ranks + broadcast totals") {
    // both ranks are GlobalRankExecs over range exchanges; the n-row
    // totals join as broadcasts
    val p = executed("q257_global_ntile_prank")
    assert(assertScalableRanks("q257", p).size >= 2, p.toString)
    assert(!p.toString.contains("CartesianProduct"), p.toString)
  }

  test("q260/q262/q268: round-9 windows are group-keyed or pid-keyed " +
    "(no data-sized single-partition window)") {
    // q260 windows by the prompt group (data-sized cardinality);
    // q262/q268 rank through GlobalRankExec ("pid-keyed" in the name
    // predates it). No window or sort reads data-sized input through a
    // single partition.
    Seq("q260_grpo_advantage", "q262_sft_loss_mask",
      "q268_reproducible_shuffle").foreach { q =>
      val p = executed(q)
      val ranks = assertScalableRanks(q, p)
      val windows = collect(p) { case w: WindowExec => w }
      assert(windows.forall(_.partitionSpec.nonEmpty),
        s"$q has an unpartitioned window:\n" + windows.mkString("\n"))
      assert(windows.nonEmpty || ranks.nonEmpty, s"$q:\n$p")
      assert(!p.toString.contains("CartesianProduct"), s"$q:\n$p")
    }
  }

  test("q245/q179: cumulative score-grain ranks are two-phase (no data-sized " +
    "unpartitioned or low-cardinality-partitioned window)") {
    // o_totalprice is near-unique (the 'distinct score grain' is ~99.8%
    // of rows at sf0.1), so any window keyed only by score — or by the
    // 5-value segment — is a full-table sort in O(1) tasks at scale.
    // Both queries must route through GlobalRank.exclusiveCumSum: a
    // GlobalRankExec over a range exchange, and no window at all.
    Seq("q245_calibration_brier", "q179_grouped_auc").foreach { q =>
      val p = executed(q)
      assert(assertScalableRanks(q, p).nonEmpty, s"$q: expected a global cumsum\n$p")
      assert(collect(p) { case w: WindowExec => w }.isEmpty, s"$q:\n$p")
    }
  }

  test("LocationDim: three flat level ranks, none over street_id, each one " +
    "GlobalRankExec") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.Attribute
    val in = Seq(
      ("1 Main St", "Portland", "OR", "97035"),
      ("1 Main St", "Portland", "ME", "04101"),
      ("2 Elm St", "Portland", "ME", "04102"),
      ("1 Main St", "Austin", "TX", "73301"),
      ("9 Oak Ave", "Boston", "MA", "02215")
    ).toDF("street", "city", "state", "postal")
    val plan = executed(graft.pipeline.LocationDim(in))
    def ranges(plan: SparkPlan): Seq[ShuffleExchangeExec] = collect(plan) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }
    val exchanges = ranges(plan)
    val keyLists = exchanges.map(_.outputPartitioning
      .asInstanceOf[RangePartitioning].ordering
      .map(_.child.asInstanceOf[Attribute].name)).toSet
    // the old fourth rank ranged over street_id
    assert(keyLists === Set(Seq("state", "postal"),
      Seq("city", "state", "postal"), Seq("street", "city", "state", "postal")))
    // a nested rank range-partitions a plan that holds the level below
    exchanges.foreach(e => assert(ranges(e.child).isEmpty, e.treeString))
    assert(assertScalableRanks("LocationDim", plan).size === 3, plan.toString)
  }
}
