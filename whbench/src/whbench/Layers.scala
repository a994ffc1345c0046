package whbench

/** Per-layer metrics from a traced run's spans. Every metric is printed
  * for every workload; a layer the workload does not reach reads 0. */
object Layers {
  val stages = Seq("ingest", "cleanse", "location_dim", "time_dim", "product_dim", "fact", "save")
  val verbs = Seq("upsert_clustered", "upsert_scattered", "cdc_apply", "delete")
  val reads = Seq("point", "range", "scan_agg", "mv_agg", "time_travel")

  def all(tr: Tracer): Seq[Metric] = {
    val cores = Main.cores
    val spans = tr.spans.toSeq
    def named(n: String) = spans.filter(_.name == n)
    def medMs(n: String) = Stats.median(named(n).map(_.ms))
    def attrSum(ss: Seq[Span], k: String) = ss.map(_.attrs.getOrElse(k, 0.0)).sum
    def attrMean(ss: Seq[Span], k: String) = Stats.mean(ss.flatMap(_.attrs.get(k)))
    def per(ss: Seq[Span])(f: Span => Double) = Stats.ratio(ss.map(f).sum, ss.size)
    def busy(ss: Seq[Span]) = Stats.ratio(ss.map(_.busyMs).sum, ss.map(_.ms).sum * cores)

    // pipeline: per traced ETL pass, the stage spans that split it and the
    // ingest probe after it (same op id); medians over passes
    val passes = named("op.etl_pass")
    def inPass(p: Span) = spans.filter(s => s.op == p.op && s.layer == "pipeline")
    def perPass(f: Seq[Span] => Double) = Stats.median(passes.map(p => f(inPass(p))))
    def stage(st: String)(f: Span => Double) =
      perPass(_.filter(_.name == s"pipeline.$st").map(f).sum)
    val pipeline =
      stages.map(st => Metric(s"pipeline.${st}_ms", stage(st)(_.ms), "ms")) ++
        stages.map(st => Metric(s"pipeline.$st.jobs", stage(st)(_.jobs.toDouble), "count")) ++
        Seq(Metric("pipeline.driver_gap_ms", Stats.median(passes.map(p =>
          tr.subtree(p).filter(_.layer == "pipeline").map(_.driverGapMs).sum)), "ms")) ++
        Seq("landing", "invalid", "cleansed", "fact").map(r =>
          Metric(s"pipeline.${r}_rows", attrMean(passes, s"${r}_rows"), "count"))

    // table: one span per commit verb call
    val commits = spans.filter(s => verbs.exists(v => s.name == s"table.$v"))
    val rewritten = attrSum(commits, "files_rewritten")
    val touched = rewritten + attrSum(commits, "files_dvd") + attrSum(commits, "files_carried")
    val table =
      verbs.map(v => Metric(s"table.${v}_ms", medMs(s"table.$v"), "ms")) ++ Seq(
        Metric("table.snapshot_resolve_ms", medMs("table.snapshot_resolve"), "ms"),
        Metric("table.files_rewritten", attrMean(commits, "files_rewritten"), "count"),
        Metric("table.files_carried", attrMean(commits, "files_carried"), "count"),
        Metric("table.rewrite_ratio", Stats.ratio(rewritten, touched), "ratio"),
        Metric("table.bytes_written_per_commit", attrMean(commits, "bytes_written"), "B"),
        Metric("table.jobs_per_commit", per(commits)(_.jobs), "count"),
        Metric("table.stages_per_commit", per(commits)(_.stages), "count"),
        Metric("table.shuffle_bytes_per_commit", per(commits)(_.shuffleWriteBytes.toDouble), "B"),
        Metric("table.planning_ms_per_commit", per(commits)(_.planningMs), "ms"),
        Metric("table.driver_gap_ms_per_commit", per(commits)(_.driverGapMs), "ms"),
        Metric("table.busy_ratio", busy(commits), "ratio"))

    // mv: refresh spans inside commit steps, change-feed probes after them
    val refreshes = named("mv.refresh")
    val probes = named("mv.changes")
    val mv = Seq(
      Metric("mv.refresh_ms", medMs("mv.refresh"), "ms"),
      Metric("mv.dirty_groups", attrMean(refreshes, "dirty_groups"), "count"),
      Metric("mv.feed_rows", attrMean(probes, "feed_rows"), "count"),
      Metric("mv.changes_ms", medMs("mv.changes"), "ms"),
      Metric("mv.dirty_per_feed_row",
        Stats.ratio(attrSum(refreshes, "dirty_groups"), attrSum(probes, "feed_rows")), "ratio"),
      Metric("mv.jobs_per_refresh", per(refreshes)(_.jobs), "count"),
      Metric("mv.planning_ms_per_refresh", per(refreshes)(_.planningMs), "ms"),
      Metric("mv.driver_gap_ms_per_refresh", per(refreshes)(_.driverGapMs), "ms"),
      Metric("mv.busy_ratio", busy(refreshes), "ratio"))

    // read: one span per analyst query
    val queries = spans.filter(s => reads.exists(r => s.name == s"read.$r"))
    val mvAggs = named("read.mv_agg")
    val read =
      reads.map(r => Metric(s"read.${r}_ms", medMs(s"read.$r"), "ms")) ++ Seq(
        Metric("read.files_scanned_ratio",
          Stats.ratio(attrSum(queries, "files_opened"), attrSum(queries, "files_total")), "ratio"),
        Metric("read.mv_rewrite_hit_ratio",
          Stats.ratio(attrSum(mvAggs, "mv_hit"), mvAggs.size), "ratio"),
        Metric("read.planning_ms_per_query", per(queries)(_.planningMs), "ms"),
        Metric("read.jobs_per_query", per(queries)(_.jobs), "count"))

    // spark: totals over the traced operations (spans under an op root)
    val ops = spans.filter(_.layer == "op")
    val underOps = ops.flatMap(tr.subtree)
    val spark = Seq(
      Metric("spark.jobs", underOps.map(_.jobs.toDouble).sum, "count"),
      Metric("spark.stages", underOps.map(_.stages.toDouble).sum, "count"),
      Metric("spark.tasks", underOps.map(_.tasks.toDouble).sum, "count"),
      Metric("spark.shuffle_write_bytes", underOps.map(_.shuffleWriteBytes.toDouble).sum, "B"),
      Metric("spark.planning_ms", underOps.map(_.planningMs).sum, "ms"),
      Metric("spark.busy_ratio",
        Stats.ratio(underOps.map(_.busyMs).sum, ops.map(_.ms).sum * cores), "ratio"))

    // self time per layer, per traced operation; `op` is time inside an
    // operation that no layer span covers (the benchmark's own share)
    val self = Seq("pipeline", "table", "mv", "read", "op").map { l =>
      Metric(s"$l.self_ms_per_op",
        Stats.ratio(underOps.filter(_.layer == l).map(_.selfMs).sum, ops.size), "ms")
    }
    val covered = underOps.filter(s => s.layer != "op" && s.parent >= 0 &&
      spans(s.parent).layer == "op").map(_.ms).sum
    val coverage = Metric("trace.coverage_ratio", Stats.ratio(covered, ops.map(_.ms).sum), "ratio")

    pipeline ++ table ++ mv ++ read ++ spark ++ self :+ coverage
  }
}
