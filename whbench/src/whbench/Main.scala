package whbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What every workload shares: the session, its scratch directory, the
  * seed, the tracer and the size preset (`full`, or `tiny` for the
  * smoke test). `corrupt` perturbs one expected value so the smoke test
  * can prove the output checks bite. */
final class Ctx(val spark: SparkSession, val work: String, val seed: Long,
    val tracer: Tracer, val tiny: Boolean, val corrupt: Boolean) {
  def log(msg: String): Unit = System.err.println(s"[whbench] $msg")
}

/** A metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** One workload: set-up, then operations in whole cycles, each timed by
  * the workload itself around the calls a user would wait for. */
trait Workload {
  /** Build fresh program state under `dir`; called more than once, and
    * the state of the last call is the one the operations use. */
  def setup(dir: String): Unit
  /** How many times set-up runs; `setup_s` reports the median. */
  def setupReps: Int
  /** Operations per cycle; the measured loop always runs whole cycles. */
  def cycle: Int
  /** Most cycles an untraced run measures, however long `--seconds` is. */
  def maxCycles: Int = Int.MaxValue
  /** Cycles a traced run measures, half of the operations traced. */
  def traceCycles: Int = 2
  /** Untimed operations before measuring (JIT, caches, lazy set-up). */
  def warmupOps(trace: Boolean): Int
  /** Run operation `i`: what its user-visible calls cost, and whether
    * its outputs matched what the generator expects. */
  def op(i: Int, traced: Boolean): (Cost, Boolean)
  /** Whole-state checks after the last operation; mismatches. */
  def finalCheck(): Seq[String]
  /** Bytes the program wrote for the workload's data ÷ rows it ingested. */
  def bytesWrittenPerRow: Double
  /** The workload's own named figures, printed on the summary line. */
  def summary(latencies: Seq[(Int, Double)]): Seq[Metric]
  /** Per-layer metrics from the traced operations. */
  def layerMetrics(tracer: Tracer): Seq[Metric]
}

object Main {

  /** `local[2]`: the operations are bound by many small single-task Spark
    * jobs (executors stay well under one busy core), and the spare cores
    * keep the JIT compiler and GC off the measured path; `local[4]`
    * measured a slower, noisier first ETL pass on a 4-vCPU VM. */
  val cores: Int = Runtime.getRuntime.availableProcessors() min 2

  private def usage(): Nothing = {
    System.err.println("usage: whbench.Main --workload etl_batch|commit_stream " +
      "--seed N --seconds S --trace 0|1 --work DIR [--size full|tiny] " +
      "[--corrupt-expected]")
    sys.exit(2)
  }

  def main(argv: Array[String]): Unit = {
    val args = mutable.Map.empty[String, String]
    val it = argv.iterator
    while (it.hasNext) it.next() match {
      case "--corrupt-expected" => args("corrupt") = "1"
      case k if k.startsWith("--") && it.hasNext => args(k.drop(2)) = it.next()
      case _ => usage()
    }
    val workload = args.getOrElse("workload", usage())
    val seed = args.get("seed").map(_.toLong).getOrElse(usage())
    val seconds = args.get("seconds").map(_.toDouble).getOrElse(usage())
    val trace = args.getOrElse("trace", "0") == "1"
    val work = new File(args.getOrElse("work", usage())).getAbsolutePath
    val tiny = args.getOrElse("size", "full") == "tiny"

    val t0 = System.nanoTime()
    Files.createDirectories(Paths.get(work, "tmp"))
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("whbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/tmp")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
    graft.QueryDef.sessionConfs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer(spark, trace)
    val ctx = new Ctx(spark, work, seed, tracer, tiny, args.contains("corrupt"))
    val w: Workload = workload match {
      case "etl_batch" => new EtlWorkload(ctx)
      case "commit_stream" => new CommitWorkload(ctx)
      case _ => usage()
    }

    var attempted = 0
    var failed = 0
    val problems = mutable.ArrayBuffer.empty[String]
    def guarded[T](what: String)(body: => T): Option[T] =
      try Some(body)
      catch {
        case e: Exception =>
          problems += s"$what: $e"
          ctx.log(s"$what failed: $e")
          None
      }

    // set-up, several times: the median is steadier than one sample; a
    // traced run reports no set-up time, so it sets up once
    val setupReps = if (tiny || trace) 1 else w.setupReps
    val setupTimes = (1 to setupReps).flatMap { r =>
      val t = System.nanoTime()
      guarded(s"setup $r")(w.setup(s"$work/setup-$r")).map(_ => (System.nanoTime() - t) / 1e9)
    }
    val setupOk = setupTimes.size == setupReps
    if (!setupOk) { attempted += 1; failed += 1 }
    ctx.log(f"session ${sessionS}%.2f s, set-up ${setupTimes.map(t => f"$t%.2f").mkString(" ")} s")

    // warm-up operations are checked but not timed
    var i = 0
    def runOp(traced: Boolean): Option[Cost] = {
      attempted += 1
      val r = guarded(s"op $i")(w.op(i, traced)) match {
        case Some((c, true)) =>
          ctx.log(f"op $i: ${c.wallMs}%.1f ms wall, ${c.cpuMs}%.1f ms CPU"); Some(c)
        case Some((_, false)) => problems += s"op $i: output mismatch"; failed += 1; None
        case None => failed += 1; None
      }
      i += 1
      r
    }
    if (setupOk) (0 until w.warmupOps(trace)).foreach(_ => runOp(traced = false))

    // measured loop: whole cycles until the time is up. A traced run
    // makes a fixed number of cycles and traces every other operation,
    // shifting the pattern by one each cycle (so every position in a
    // cycle is measured both ways) and reversing it every other pair of
    // cycles; the overhead is the difference between the means of the
    // two halves, in which a linear warm-up trend cancels
    val latencies = mutable.ArrayBuffer.empty[(Int, Cost, Boolean)]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val (minCycles, maxCycles) = if (trace) (w.traceCycles, w.traceCycles) else (1, w.maxCycles)
    var j = 0
    while (setupOk && failed == 0 && j / w.cycle < maxCycles &&
        (j / w.cycle < minCycles || System.nanoTime() < deadline)) {
      (0 until w.cycle).foreach { _ =>
        val traced = trace && (j % w.cycle + j / w.cycle + j / (2 * w.cycle)) % 2 == 1
        tracer.record(traced)
        val idx = i
        runOp(traced).foreach(ms => latencies += ((idx, ms, traced)))
        j += 1
      }
    }
    tracer.record(false)
    if (setupOk && failed == 0) {
      attempted += 1
      val bad = guarded("final check")(w.finalCheck()).getOrElse(Seq("final check threw"))
      if (bad.nonEmpty) { failed += 1; problems ++= bad }
    }
    tracer.finish()

    val untraced = latencies.filterNot(_._3).map(l => (l._1, l._2.wallMs)).toSeq
    val ops = untraced.map(_._2)
    val opsCpu = latencies.filterNot(_._3).map(_._2.cpuMs).toSeq
    val metrics: Seq[Metric] =
      if (!trace) Seq(
        Metric("setup_s", sessionS + Stats.median(setupTimes), "s"),
        Metric("op_p50_ms", Stats.median(ops), "ms"),
        Metric("op_cpu_ms", Stats.median(opsCpu), "ms"),
        Metric("bytes_written_per_row", w.bytesWrittenPerRow, "B/row"))
      else {
        val tracedOps = latencies.filter(_._3).map(_._2.wallMs).toSeq
        w.layerMetrics(tracer) ++ Seq(
          Metric("trace.overhead_ms", Stats.mean(tracedOps) - Stats.mean(ops), "ms"),
          Metric("trace.traced_ops", tracedOps.size.toDouble, "count"))
      }

    if (trace) {
      val out = Paths.get(work, "..", "traces", s"$workload-seed$seed.json").normalize()
      Files.createDirectories(out.getParent)
      Files.write(out, tracer.toJson.getBytes("UTF-8"))
      ctx.log(s"trace written to $out")
    }
    problems.take(20).foreach(p => ctx.log(s"FAIL $p"))
    val summary = Seq(
      Metric("ops", ops.size.toDouble, "count"),
      Metric("op_tail_ms", Stats.tail(ops), "ms"),
      Metric("fail_ratio", Stats.ratio(failed, attempted max 1), "ratio")) ++
      (if (trace) Nil else w.summary(untraced))
    println("summary " + workload + " " + summary.map(m =>
      s"${m.name}=${Json.num(m.value)}${m.unit}").mkString(" "))
    val metricJson = metrics.map(m =>
      s"${Json.str(m.name)}:{\"value\":${Json.num(m.value)},\"unit\":${Json.str(m.unit)}}")
      .mkString(",")
    println(s"""WHBENCH_RESULT {"correct":${failed == 0},"attempted":${attempted max 1},""" +
      s""""failed":$failed,"metrics":{$metricJson}}""")
    spark.stop()
  }
}
