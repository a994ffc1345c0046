package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

/** S8 — orchestration (ref: MotherProcedure.sql:2-25): the `CALL etl`
  * chain import → cleanse → location → time → product → fact as one
  * lazy composition.
  *
  * `cleansed` and the three dimensions are `localCheckpoint`ed: the
  * reuse the reference buys with its materialized staging tables.
  * `cleansed` is read by all three dimension builds and the fact build;
  * each dimension by its own output and the fact build. The fact is
  * not materialized; Catalyst pipelines it into its write (SURVEY §4).
  *
  * Spark jobs of one pass over the warehouse benchmark's `etl_batch`
  * CSV (`whbench/run.py --trace 1`, local[2]): the `cleansed`
  * checkpoint 7, location 15, time 2, product 6, the fact write 8
  * and the other five writes 5 — 43 in all. The dimensions are small
  * in rows, not in jobs: each global rank in them costs a range
  * sample, a range shuffle, a totals job and the pass that emits it
  * (see [[graft.operators.GlobalRank]]). The product dim comes out
  * range-partitioned by `product_name`, so the fact's per-name price
  * window reads it without a shuffle.
  */
object Pipeline {

  final case class Result(
      landing: DataFrame,
      invalid: DataFrame,
      cleansed: DataFrame,
      locationDim: DataFrame,
      timeDim: DataFrame,
      productDim: DataFrame,
      fact: DataFrame)

  def run(spark: SparkSession, csvPath: String, denseFact: Boolean = true): Result = {
    val landing = Ingest.load(spark, csvPath)
    // Seed the NULL-order_id backfill above the batch's own max id so
    // backfilled ids can never collide with real ones. The reference
    // seeds only from the pre-batch warehouse (Cleansing.sql:16) and
    // CAN collide within a batch — documented deviation (sane fix).
    // The seed is a one-row aggregate joined in-plan (broadcast cross
    // join inside Cleanse) — no driver round-trip splitting the plan.
    val seed = landing.agg(
      org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.max(
          org.apache.spark.sql.functions.col("order_id").cast("int")),
        org.apache.spark.sql.functions.lit(0)).as("__seed"))
    val routed = Cleanse(landing, seedDf = Some(seed))
    // localCheckpoint, not cache: four consumers (three dims + fact)
    // re-embed this subtree in every downstream plan, and the fact's
    // signature aggregates re-embed the dims again — with a plain
    // cache the full cleanse lineage is re-analyzed per action and the
    // end-to-end plan runs to ~9,400 formatted lines (driver planning
    // cost per run). Truncating lineage here cuts it ~6× and the
    // downstream work is identical; the blocks live in the same
    // storage the cache used (MEMORY_AND_DISK), the trade being
    // recompute-on-eviction becomes recompute-never (acceptable: the
    // pipeline result is consumed within the run that built it).
    val cleansed = routed.cleansed.localCheckpoint()
    // dims are dimension-sized (tens of rows per distinct attribute)
    // and each is consumed TWICE (its own output + the fact build) —
    // checkpointing runs each dim's jobs once (23 across the three,
    // see above) and stops the fact plan re-embedding every dim's
    // window/rank lineage
    val location = LocationDim(cleansed).localCheckpoint()
    val time = TimeDim(cleansed).localCheckpoint()
    val product = ProductDim(cleansed).localCheckpoint()
    val fact = FactBuilder(cleansed, product, location, time, dense = denseFact)
    Result(landing, routed.invalid, cleansed, location, time, product, fact)
  }

  /** Persist every output as parquet under `outDir` (the reference's
    * CREATE TABLE AS materialization, SURVEY §2 S4).
    *
    * @param bucketedFactTable when set, the fact table is ALSO written
    *   as a managed table bucketed+sorted by `location_id` (the fact's
    *   highest-cardinality join/grouping key): downstream location
    *   joins and rollups read co-located buckets and skip their
    *   shuffle — the write-side knob that matters most at 100 TB,
    *   where the fact⋈fact / fact-groupBy shuffle dominates. */
  def runAndSave(spark: SparkSession, csvPath: String, outDir: String,
                 denseFact: Boolean = true,
                 bucketedFactTable: Option[String] = None,
                 factBuckets: Int = 32): Result = {
    val r = run(spark, csvPath, denseFact)
    Seq(
      "invalid" -> r.invalid, "cleansed" -> r.cleansed,
      "location_dimension" -> r.locationDim, "time_dimension" -> r.timeDim,
      "product_dimension" -> r.productDim, "fact_table" -> r.fact
    ).foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$outDir/$name")
    }
    bucketedFactTable.foreach { table =>
      graft.sources.Sources.writeBucketed(r.fact, table,
        Seq("location_id"), factBuckets)
    }
    r
  }
}
