package whbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.functions._

import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.sources.{GraftMv, GraftTable, MvAgg, MvGroup}

/** The keyed sales-line table and its revenue-by-product×day MV, as the
  * commit and read workloads build them, with an in-memory replay of
  * every committed batch (the oracle). */
final class SalesTable(ctx: Ctx, val dir: String) {
  import ctx.spark
  import ctx.spark.implicits._

  val root = s"$dir/sales"
  val mvRoot = s"$dir/sales_rev"
  val replay = mutable.LongMap.empty[Sale]
  var nextKey = 0L
  /** What the last commit verb call cost. */
  var lastVerb: Cost = Cost.zero

  private def verb[T](span: String)(body: => T): T = {
    val (r, c) = Cost.of(ctx.tracer.span(span)(body))
    lastVerb = c
    r
  }

  def create(rows: Seq[Sale]): Unit = {
    GraftTable.create(spark, root, rows.toDF(), "k")
    rows.foreach(s => replay(s.k) = s)
    nextKey = rows.map(_.k).max + 1
  }

  def createMv(): Unit =
    GraftMv.createGrouped(spark, mvRoot, root,
      Seq(MvGroup("product", "product"), MvGroup("day", "day")),
      Seq(MvAgg("count", "", "n"), MvAgg("sum", "qty", "units"),
        MvAgg("sum", "amount", "revenue")))

  def liveKeys(rnd: Random, n: Int): Seq[Long] = {
    val keys = replay.keysIterator.toArray
    java.util.Arrays.sort(keys)
    Seq.fill(n)(keys(rnd.nextInt(keys.length))).distinct
  }

  /** The four commit kinds, each returning (files rewritten, files
    * with a new deletion vector, files carried, rows in the batch), and
    * applying the same batch to the replay. */
  def upsertClustered(rnd: Random, n: Int, day: Int, span: String): (Int, Int, Int, Int) = {
    val rows = (0 until n).map(j => SalesGen.sale(rnd, nextKey + j, day))
    nextKey += n
    val df = rows.toDF()
    val (_, rw, ca) = verb(span)(GraftTable.upsert(spark, root, df, "k"))
    rows.foreach(s => replay(s.k) = s)
    (rw, 0, ca, n)
  }

  def upsertScattered(rnd: Random, n: Int, span: String): (Int, Int, Int, Int) = {
    val rows = liveKeys(rnd, n).map(k => SalesGen.restate(rnd, replay(k)))
    val df = rows.toDF()
    val (_, rw, ca) = verb(span)(GraftTable.upsert(spark, root, df, "k"))
    rows.foreach(s => replay(s.k) = s)
    (rw, 0, ca, rows.size)
  }

  def cdc(rnd: Random, updates: Int, inserts: Int, deletes: Int): (Int, Int, Int, Int) = {
    val touched = liveKeys(rnd, updates + deletes)
    val (upd, del) = touched.splitAt(touched.size * updates / (updates + deletes))
    val ins = (0 until inserts).map(j => SalesGen.sale(rnd, nextKey + j, rnd.nextInt(SalesGen.nDays)))
    nextKey += inserts
    val ups = upd.map(k => SalesGen.restate(rnd, replay(k))) ++ ins
    val batch = (ups.map(s => (s.k, s.product, s.day, s.qty, s.amount, "upsert")) ++
      del.map { k => val s = replay(k); (s.k, s.product, s.day, s.qty, s.amount, "delete") })
      .toDF("k", "product", "day", "qty", "amount", "_op")
    val (_, rw, ca) = verb("table.cdc_apply")(GraftTable.applyCdcBatch(spark, root, batch, "k"))
    ups.foreach(s => replay(s.k) = s)
    del.foreach(replay.remove)
    (rw, 0, ca, ups.size + del.size)
  }

  /** Delete one (product, day) cell that has live rows. */
  def deleteCell(rnd: Random, span: String): (Int, Int, Int, Int) = {
    val victim = replay(liveKeys(rnd, 1).head)
    val (p, d) = (victim.product, victim.day)
    val gone = replay.valuesIterator.filter(s => s.product == p && s.day == d).map(_.k).toSeq
    val pred = col("product") === p && col("day") === d
    val (_, dvd, rw, ca) = verb(span)(GraftTable.deleteWhereAuto(spark, root, pred, "k"))
    gone.foreach(replay.remove)
    (rw, dvd, ca, gone.size)
  }

  def refresh(): Long = ctx.tracer.span("mv.refresh") {
    val (_, dirty) = GraftMv.refresh(spark, mvRoot)
    ctx.tracer.attr("dirty_groups", dirty.toDouble)
    dirty
  }

  /** Full check: every table row and every MV group equal the replay. */
  def fullCheck(): Seq[String] = {
    val rows = GraftTable.read(spark, root).as[Sale].collect().sortBy(_.k).toSeq
    val want = replay.values.toSeq.sortBy(_.k)
    val groups = GraftMv.read(spark, mvRoot)
      .select($"product", $"day", $"n", $"units", $"revenue")
      .as[(Int, Int, Long, Long, Long)].collect().sorted.toSeq
    val wantGroups = want.groupBy(s => (s.product, s.day)).toSeq.map { case ((p, d), ss) =>
      (p, d, ss.size.toLong, ss.map(_.qty.toLong).sum, ss.map(_.amount).sum)
    }.sorted
    (if (rows != want) Seq(s"table differs from replay (${rows.size} vs ${want.size} rows)")
     else Nil) ++
      (if (groups != wantGroups)
         Seq(s"MV differs from replay (${groups.size} vs ${wantGroups.size} groups)")
       else Nil)
  }

  def version: Int = GraftTable.latestVersion(spark, root)
  def bytes: Long = Fs.du(root) + Fs.du(mvRoot)
}

/** `commit_stream`: each operation is one load made visible to analysts —
  * a seeded load on the sales table, the MV refresh, and the analyst mix
  * ([[Analyst]]) through the `graft` catalog. The loads rotate clustered
  * upsert (the day's new lines), scattered upsert (restatements across
  * the table), CDC batch (updates, inserts, deletes) and a predicate
  * delete, so the table gains versions and deletion-vector files as the
  * stream runs. The operation's latency is the sum of the timed calls
  * (verb, refresh, each query); the benchmark's own bookkeeping between
  * them is not counted. */
final class CommitWorkload(ctx: Ctx) extends Workload {
  import CommitWorkload.Step
  import ctx.spark

  private val tableRows = if (ctx.tiny) 4000 else 20000
  private val batch = if (ctx.tiny) 100 else 500
  private var t: SalesTable = _
  private var bytesAdded = 0L
  private var rowsCommitted = 0L
  private val kinds = Seq("upsert_clustered", "upsert_scattered", "cdc_apply", "delete")
  private val steps = mutable.ArrayBuffer.empty[Step]

  def setup(dir: String): Unit = {
    t = new SalesTable(ctx, dir)
    t.create(SalesGen.initial(new Random(ctx.seed), tableRows))
    t.createMv()
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.base", dir)
    spark.conf.set("spark.graft.mv.rewrite.views", t.mvRoot)
  }

  // the first set-up is cold (about four times a warm one); the median
  // of three is a warm one
  def setupReps: Int = 3
  def cycle: Int = 4
  // one untimed load first: the first load, refresh and queries in a JVM
  // pay for loading and compiling their code paths
  def warmupOps(trace: Boolean): Int = 1

  def op(i: Int, traced: Boolean): (Cost, Boolean) = {
    val rnd = new Random(ctx.seed * 7919 + i)
    val kind = kinds(i % 4)
    val tr = ctx.tracer
    val (bytesBefore, tableBefore, vBefore) = (t.bytes, Fs.du(t.root), t.version)
    val before = t.replay.clone()
    val (files, step, results) = tr.op("op.commit_step") {
      val (rewritten, dvd, carried, rows) = kind match {
        case "upsert_clustered" =>
          t.upsertClustered(rnd, batch, SalesGen.nDays + i / 4, "table.upsert_clustered")
        case "upsert_scattered" => t.upsertScattered(rnd, batch, "table.upsert_scattered")
        case "cdc_apply" => t.cdc(rnd, updates = batch * 2 / 5, inserts = batch / 5,
          deletes = batch / 5)
        case _ => t.deleteCell(rnd, "table.delete")
      }
      val commit = t.lastVerb
      val (_, refresh) = Cost.of(t.refresh())
      // one point lookup per cycle asks for an absent key; the seed picks
      // which load kind it follows
      val absent = i % cycle == Math.floorMod(ctx.seed, cycle.toLong)
      val mix = Analyst.mix(rnd, absent, t.replay.values, before.values, vBefore, t.nextKey,
        ctx.corrupt)
      val results = mix.map { q =>
        val ((df, got), cost) = Cost.of(tr.span(s"read.${q.kind}") {
          val df = spark.sql(q.sql)
          (df, df.collect())
        })
        (q, df, got, cost)
      }
      ((rewritten, dvd, carried, rows),
        Step(i, kind, commit, refresh, results.map(r => (r._1.kind, r._4))), results)
    }
    bytesAdded += t.bytes - bytesBefore
    rowsCommitted += files._4
    steps += step
    if (traced) traceAttrs(kind, files, tableBefore, vBefore, results.map(r => (r._1, r._2)))

    // checks: every answer against the replay's, and each MV-served
    // answer against the same query run with the rewrite switched off
    val bad = results.flatMap { case (q, _, got, _) =>
      val c = Analyst.canonRows(got)
      if (c != q.expected) Seq(s"${q.kind} answer differs from the replay: ${q.sql}") else Nil
    } ++ results.filter(_._1.kind == "mv_agg").flatMap { case (q, _, got, _) =>
      spark.conf.unset("spark.graft.mv.rewrite.views")
      val twin = try spark.sql(q.sql).collect() finally
        spark.conf.set("spark.graft.mv.rewrite.views", t.mvRoot)
      if (Analyst.canonRows(twin) != Analyst.canonRows(got))
        Seq(s"MV-served answer differs from its unserved twin: ${q.sql}") else Nil
    }
    bad.foreach(b => ctx.log(s"step $i ($kind): $b"))
    (step.cost, bad.isEmpty)
  }

  /** Trace-only figures for one traced step: what the verb returned and
    * wrote, how many files each query could open, whether the MV served,
    * and two probes outside the step (snapshot resolution, change feed). */
  private def traceAttrs(kind: String, files: (Int, Int, Int, Int), tableBefore: Long,
      vBefore: Int, queries: Seq[(Query, org.apache.spark.sql.DataFrame)]): Unit = {
    val tr = ctx.tracer
    val verb = tr.last(s"table.$kind")
    tr.attrOn(verb, "files_rewritten", files._1)
    tr.attrOn(verb, "files_dvd", files._2)
    tr.attrOn(verb, "files_carried", files._3)
    tr.attrOn(verb, "bytes_written", (Fs.du(t.root) - tableBefore).toDouble)
    val readSpans = tr.spans.reverseIterator.filter(_.layer == "read").take(queries.size)
      .toSeq.reverse
    readSpans.zip(queries).foreach { case (s, (q, df)) =>
      q.prune.foreach { case (lo, hi) =>
        val v = q.version.orElse(Some(t.version))
        val opened =
          if (lo == hi) GraftTable.prunedFileCountKeys(spark, t.root, Seq(lo), v)
          else GraftTable.prunedFileCount(spark, t.root, lo, hi, v)
        s.attrs("files_opened") = opened
        s.attrs("files_total") =
          GraftTable.prunedFileCount(spark, t.root, Long.MinValue, Long.MaxValue, v)
      }
      if (q.kind == "mv_agg") s.attrs("mv_hit") = if (readsMv(df)) 1 else 0
    }
    tr.span("table.snapshot_resolve")(GraftTable.read(spark, t.root))
    tr.span("mv.changes") {
      tr.attr("feed_rows",
        GraftTable.changes(spark, t.root, vBefore, t.version, "k").count().toDouble)
    }
  }

  /** Whether the optimized plan reads the MV's files. */
  private def readsMv(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l.relation
    }.exists {
      case fs: HadoopFsRelation => fs.location.rootPaths.exists(_.toString.contains(t.mvRoot))
      case _ => false
    }

  def finalCheck(): Seq[String] = t.fullCheck()
  def bytesWrittenPerRow: Double = Stats.ratio(bytesAdded.toDouble, rowsCommitted.toDouble)

  def summary(latencies: Seq[(Int, Double)]): Seq[Metric] = {
    val measured = latencies.map(_._1).toSet
    val ss = steps.filter(s => measured(s.i)).toSeq
    val commits = ss.map(_.commit.wallMs)
    val reads = ss.flatMap(_.queries).map { case (k, c) => (k, c.wallMs) }
    val cycles = ss.sortBy(_.i).grouped(4)
      .map(c => c.map(s => s.commit.wallMs + s.refresh.wallMs).sum)
    Seq(
      Metric("commit_p50_ms", Stats.median(commits), "ms"),
      Metric("commit_tail_ms", Stats.tail(commits), "ms"),
      Metric("commits", commits.size.toDouble, "count"),
      Metric("refresh_p50_ms", Stats.median(ss.map(_.refresh.wallMs)), "ms"),
      Metric("stream_s", Stats.median(cycles.toSeq) / 1000, "s"),
      Metric("read_p50_ms", Stats.median(reads.map(_._2)), "ms"),
      Metric("read_tail_ms", Stats.tail(reads.map(_._2)), "ms"),
      Metric("reads", reads.size.toDouble, "count"),
      Metric("mv_read_p50_ms", Stats.median(reads.filter(_._1 == "mv_agg").map(_._2)), "ms")) ++
      kinds.map(k =>
        Metric(s"${k}_p50_ms", Stats.median(ss.filter(_.kind == k).map(_.commit.wallMs)), "ms"))
  }

  def layerMetrics(tr: Tracer): Seq[Metric] = Layers.all(tr)
}

object CommitWorkload {
  /** Per operation: index, load kind, and what the verb, the refresh and
    * each query (by kind) cost. */
  private final case class Step(i: Int, kind: String, commit: Cost, refresh: Cost,
      queries: Seq[(String, Cost)]) {
    def cost: Cost = queries.map(_._2).foldLeft(commit + refresh)(_ + _)
  }
}
