package graft.pipeline

import org.apache.spark.sql.SparkSession
import graft.QueryDef

/** CLI equivalent of the reference's `CALL etl(filepath)`
  * (ref: MotherProcedure.sql:2-25):
  *
  *   runMain graft.pipeline.RunPipeline <csvPath> <outDir> [dense|sparse]
  *
  * Writes invalid/cleansed/dims/fact_table parquet under outDir and
  * prints one summary line of row counts.
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: RunPipeline <csvPath> <outDir> [dense|sparse]")
    val Array(csvPath, outDir) = args.take(2)
    val mode = args.lift(2).getOrElse("dense")
    require(mode == "dense" || mode == "sparse",
      s"third arg must be 'dense' or 'sparse', got '$mode'")
    val dense = mode == "dense"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-etl")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    QueryDef.sessionConfs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val r = Pipeline.runAndSave(spark, csvPath, outDir, denseFact = dense)
    // count the saved parquet (footer row counts), not the frames:
    // `invalid` would re-parse the CSV and `fact` recompute the cube
    val counts = Seq("invalid" -> "invalid", "cleansed" -> "cleansed",
      "location_dim" -> "location_dimension", "time_dim" -> "time_dimension",
      "product_dim" -> "product_dimension", "fact" -> "fact_table")
      .map { case (key, dir) =>
        s""""$key":${spark.read.parquet(s"$outDir/$dir").count()}""" }
    println(counts.mkString("{", ",", "}"))
    // analyst SQL surface over the same run
    QuerySurface.register(r)
    println("top cities by revenue:")
    QuerySurface.revenueByCity(spark).show(5, truncate = false)
    spark.stop()
  }
}
