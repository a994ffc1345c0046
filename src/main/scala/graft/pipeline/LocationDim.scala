package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** F4/W2/J6/P5/P6/S7 — snowflake-collapsed location dimension
  * (ref: LocationDimension.sql:2-184), set-based.
  *
  * The reference walks cleansed with a cursor doing lookup-before-
  * insert per level with COUNT(*)+1 surrogate counters (O(n²), ref:
  * LocationDimension.sql:76-133). Level natural keys, taken from its
  * WHERE clauses:
  *   state  = (state_name, postal)          (LocationDimension.sql:91)
  *   city   = (city_name, state-level key)  (LocationDimension.sql:108)
  *   street = (street_name, city-level key) (LocationDimension.sql:125)
  * so each level is really keyed by its full ancestor chain.
  *
  * Flat design: the distinct addresses, the distinct (city, state,
  * postal) and the distinct (state, postal) are ranked by three
  * INDEPENDENT [[graft.operators.GlobalRank.rowNumber]] passes (over
  * distinct rows, row_number is the level's dense_rank), and the city
  * and state ranks are joined back onto the addresses by natural key.
  * No rank runs on top of another, so no pass re-embeds the plan of
  * the one before it. The joins are plain equi-joins: [[Cleanse]]
  * never emits a NULL address part (SPLIT_PART's '' for a missing
  * one).
  *
  * `location_id` is the street rank: 'L' + pad(street_rk). The
  * reference-shaped definition — row_number over (street_id, city_id,
  * state_id), as the q193 oracle writes it — orders by `street_id`
  * alone, because street ids are unique per address, so no fourth
  * rank is needed. Below 10⁶ addresses every id has six digits and
  * string order is numeric order, so the two definitions give
  * byte-identical ids (pinned by `LocationDimSpec`).
  *
  * Documented deviations (SURVEY §7.4):
  *  - IDs ordered by natural key, not cursor-encounter order (the
  *    reference's own final L-ids are not reproducible bit-for-bit);
  *  - LPAD width 6 everywhere (the reference's 3-digit pads silently
  *    truncate past 999 — real collision at its own 9,160 streets);
  *  - from 10⁶ addresses on, a row_number over the padded `street_id`
  *    string would sort `ST1000000` between `ST100000` and `ST100001`;
  *    `location_id` here keeps the natural-key order instead, so
  *    `location_id` and `street_id` always carry the same digits.
  *
  * Row order: each partition comes out sorted by (state_id, city_id,
  * location_id), i.e. in hierarchy order — a dimension-sized local
  * sort, no exchange. The dense fact's cross join iterates the
  * broadcast dim in the order it has, so this order fixes the fact's
  * file bytes for a given input, and it compresses better than the
  * street order the last rank leaves behind.
  *
  * Scale: no data-sized single-partition window; every rank is a
  * range-partitioned [[graft.plans.GlobalRankExec]], so ID assignment
  * survives 10⁹ distinct addresses. Output columns exactly match
  * location_dimension (ref: LocationDimension.sql:62-72).
  */
object LocationDim {

  /** Zero-pad to 6 but never truncate: LPAD cuts longer strings, which
    * would silently collide IDs past 999,999 (plausible location counts
    * at 100 TB). */
  private def padId(prefix: String, rank: Column) = {
    val s = rank.cast("string")
    concat(lit(prefix), when(length(s) < 6, lpad(s, 6, "0")).otherwise(s))
  }

  def apply(cleansed: DataFrame): DataFrame = {
    import graft.operators.GlobalRank
    val triples = cleansed
      .select("street", "city", "state", "postal")
      .dropDuplicates()

    def ranked(out: String, keys: String*): DataFrame =
      GlobalRank.rowNumber(triples.select(keys.map(col): _*).distinct(),
        out, keys.map(col): _*)

    GlobalRank.rowNumber(triples, "street_rk",
        col("street"), col("city"), col("state"), col("postal"))
      .join(ranked("city_rk", "city", "state", "postal"),
        Seq("city", "state", "postal"))
      .join(ranked("state_rk", "state", "postal"), Seq("state", "postal"))
      .select(
        padId("L", col("street_rk")).as("location_id"),
        padId("ST", col("street_rk")).as("street_id"),
        col("street").as("street_name"),
        padId("CT", col("city_rk")).as("city_id"),
        col("city").as("city_name"),
        padId("SA", col("state_rk")).as("state_id"),
        col("state").as("state_name"),
        col("postal"),
        concat_ws("", col("street"), lit(", "), col("city"), lit(", "),
          col("state"), lit(" "), col("postal")).as("full_address"))
      .sortWithinPartitions("state_id", "city_id", "location_id")
  }
}
