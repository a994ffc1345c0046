package whbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.pipeline._

/** `etl_batch`: the reference's own job — a seeded dirty January CSV
  * through `Pipeline.runAndSave` into a fresh directory, one operation
  * per pass. Each pass's six outputs are read back and checked
  * against what the generator injected. */
final class EtlWorkload(ctx: Ctx) extends Workload {
  import ctx.spark

  private var input: EtlInput = _
  private var csv: String = _
  private val bytesPerRow = mutable.ArrayBuffer.empty[Double]

  def setup(dir: String): Unit = {
    input = if (ctx.tiny)
      EtlGen.generate(ctx.seed, validLines = 48, repeatedHeaders = 2, blankLines = 2,
        duplicates = 2)
    else EtlGen.generate(ctx.seed)
    Files.createDirectories(Paths.get(dir))
    csv = s"$dir/sales_january.csv"
    Files.write(Paths.get(csv), input.lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  def setupReps: Int = 3
  def cycle: Int = 1
  // an untraced run times exactly one pass, the first in a fresh JVM, as
  // the `RunPipeline` command runs it; a traced run compares warm passes
  def warmupOps(trace: Boolean): Int = if (trace) 1 else 0
  override def maxCycles: Int = 1
  override def traceCycles: Int = 4

  def op(i: Int, traced: Boolean): (Cost, Boolean) = {
    val out = s"${ctx.work}/etl/pass-$i"
    val (result, cost) = Cost.of {
      if (traced) ctx.tracer.op("op.etl_pass")(Pipeline.runAndSave(spark, csv, out))
      else Pipeline.runAndSave(spark, csv, out)
    }
    if (traced) stageSpans(out, result)
    bytesPerRow += Fs.du(out).toDouble / input.expect.landing
    val bad = check(out, traced)
    bad.foreach(b => ctx.log(s"pass $i: $b"))
    Fs.rm(out)
    (cost, bad.isEmpty)
  }

  /** Split the traced pass just made into stage spans, from its Spark
    * jobs. A job belongs to the stage whose output its SQL execution
    * produces: the checkpoint of the cleansed rows or of a dimension (the
    * execution with a job that computes that checkpoint's RDD), the fact
    * write (`fact`), or one of the other five writes (`save`). Jobs of an
    * execution that produces none of these go with the next job that does.
    * A stage span runs from the end of the previous stage's last job to the
    * end of its own, the first from the start of the pass and the last to
    * its end, so the driver work that prepares a stage counts in it and the
    * spans cover the pass. `Ingest.load` runs no job (its scan is part of
    * the cleanse stage's jobs); it is timed on its own by [[check]]. */
  private def stageSpans(out: String, r: Pipeline.Result): Unit = {
    val tr = ctx.tracer
    val pass = tr.last("op.etl_pass").get
    def rddOf(df: DataFrame) = df.queryExecution.logical.collectFirst {
      case l: LogicalRDD => l.rdd.id
    }
    val checkpoints = Seq(r.cleansed -> "cleanse", r.locationDim -> "location_dim",
      r.timeDim -> "time_dim", r.productDim -> "product_dim")
      .flatMap { case (df, st) => rddOf(df).map(_ -> st) }.toMap
    val jobs = tr.jobsIn(pass)
    val stageOf = jobs.filter(_.execution >= 0).groupBy(_.execution).flatMap { case (e, js) =>
      val plan = tr.plan(e)
      val st =
        if (plan.contains(s"$out/fact_table")) Some("fact")
        else if (plan.contains(s"$out/")) Some("save")
        else js.flatMap(j => checkpoints.get(j.outputRdd)).headOption
      st.map(e -> _)
    }
    val labels = jobs.map(j => stageOf.get(j.execution).orElse(checkpoints.get(j.outputRdd)))
      .scanRight(Option.empty[String])((l, next) => l.orElse(next)).init
    val lastLabel = labels.flatten.lastOption.getOrElse("save")
    val runs = jobs.zip(labels.map(_.getOrElse(lastLabel))).foldLeft(
      List.empty[(String, Double)]) {
      case ((st, end) :: rest, (j, l)) if st == l => (st, end max j.end) :: rest
      case (acc, (j, l)) => (l, j.end) :: acc
    }.reverse
    var start = pass.start
    runs.zipWithIndex.foreach { case ((st, end), k) =>
      val stop = if (k == runs.size - 1) pass.end else (end max start) min pass.end
      tr.child(pass, s"pipeline.$st", start, stop)
      start = stop
    }
  }

  private def check(out: String, traced: Boolean): Seq[String] = {
    val e = input.expect
    def count(name: String) = spark.read.parquet(s"$out/$name").count()
    def revenueCents(name: String): Long = spark.read.parquet(s"$out/$name")
      .agg(sum(col("quantity_ordered") * col("price_each")).cast("decimal(38,2)"))
      .head().getDecimal(0).movePointRight(2).longValueExact()
    val corrupt = if (ctx.corrupt) 1L else 0L
    val got = Seq(
      "invalid rows" -> (count("invalid"), e.invalid),
      "cleansed rows" -> (count("cleansed"), e.cleansed + corrupt),
      "location_dimension rows" -> (count("location_dimension"), e.locations),
      "time_dimension rows" -> (count("time_dimension"), e.days),
      "product_dimension rows" -> (count("product_dimension"), e.productVersions),
      "fact_table rows" -> (count("fact_table"), e.fact),
      "cleansed revenue (cents)" -> (revenueCents("cleansed"), e.cleansedRevenueCents),
      "fact_table revenue (cents)" -> (revenueCents("fact_table"), e.factRevenueCents))
    if (traced) {
      val pass = ctx.tracer.last("op.etl_pass")
      // landing is not saved: loading and counting it is a trace-only
      // probe, which also times the ingest step on its own
      val landing = ctx.tracer.span("pipeline.ingest")(Ingest.load(spark, csv).count())
      ctx.tracer.attrOn(pass, "landing_rows", landing.toDouble)
      Seq("invalid" -> "invalid_rows", "cleansed" -> "cleansed_rows",
        "fact_table" -> "fact_rows").foreach { case (n, k) =>
        ctx.tracer.attrOn(pass, k, got.find(_._1 == s"$n rows").get._2._1.toDouble)
      }
    }
    got.collect { case (what, (g, want)) if g != want => s"$what: got $g, want $want" }
  }

  def finalCheck(): Seq[String] = Nil

  def bytesWrittenPerRow: Double = Stats.median(bytesPerRow.toSeq)

  def summary(latencies: Seq[(Int, Double)]): Seq[Metric] = Seq(
    Metric("etl_s", Stats.median(latencies.map(_._2)) / 1000, "s"),
    Metric("csv_lines", input.lines.size.toDouble, "count"),
    Metric("fact_rows", input.expect.fact.toDouble, "count"))

  def layerMetrics(tr: Tracer): Seq[Metric] = Layers.all(tr)
}
