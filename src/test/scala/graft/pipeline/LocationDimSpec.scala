package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** `LocationDim` against the single-partition window definition the
  * q193 oracle writes: DENSE_RANK per level over the distinct
  * addresses, then ROW_NUMBER over (street_id, city_id, state_id). */
class LocationDimSpec extends SparkSpec {
  import spark.implicits._

  /** Seeded adversarial addresses: one city name in two states
    * (Portland OR / ME, Springfield IL / MA), states holding several
    * cities, two postal codes per city, one street name across many
    * cities, and exact repeats. */
  private def addresses(seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val cities = Seq("Portland" -> "OR", "Portland" -> "ME",
      "Springfield" -> "IL", "Springfield" -> "MA", "Boston" -> "MA",
      "Austin" -> "TX", "Dallas" -> "TX", "Seattle" -> "WA")
    val postals = cities.map(c =>
      c -> Seq.fill(2)(f"${10000 + rnd.nextInt(90000)}%05d")).toMap
    val streetNames = Seq("Main St", "Elm St", "Oak Ave", "1st Ave", "Park Rd")
    val rows = (1 to 400).map { _ =>
      val c = cities(rnd.nextInt(cities.size))
      val street =
        if (rnd.nextInt(4) == 0) "Main St"
        else s"${1 + rnd.nextInt(60)} ${streetNames(rnd.nextInt(streetNames.size))}"
      (street, c._1, c._2, postals(c)(rnd.nextInt(2)))
    }
    (rows ++ rows.take(40)).toDF("street", "city", "state", "postal")
  }

  private def oracle(in: DataFrame): DataFrame = {
    def pad(prefix: String, rank: Column) =
      concat(lit(prefix), lpad(rank.cast("string"), 6, "0"))
    def dense(keys: String*) =
      dense_rank().over(Window.orderBy(keys.map(col): _*))
    in.select("street", "city", "state", "postal").distinct()
      .withColumn("state_id", pad("SA", dense("state", "postal")))
      .withColumn("city_id", pad("CT", dense("city", "state", "postal")))
      .withColumn("street_id",
        pad("ST", dense("street", "city", "state", "postal")))
      .withColumn("location_id", pad("L", row_number().over(
        Window.orderBy("street_id", "city_id", "state_id"))))
      .select(col("location_id"), col("street_id"),
        col("street").as("street_name"), col("city_id"),
        col("city").as("city_name"), col("state_id"),
        col("state").as("state_name"), col("postal"),
        concat_ws("", col("street"), lit(", "), col("city"), lit(", "),
          col("state"), lit(" "), col("postal")).as("full_address"))
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  test("matches the single-partition window definition at 8 shuffle " +
    "partitions; location_id carries the digits of street_id") {
    val prior = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      for (seed <- Seq(1, 7, 42)) {
        val in = addresses(seed)
        val got = LocationDim(in)
        assert(got.columns.toSeq === oracle(in).columns.toSeq)
        assert(sortedRows(got) === sortedRows(oracle(in)), s"seed=$seed")
        val ids = got.select("location_id", "street_id").collect()
        assert(ids.length === in.distinct().count(), s"seed=$seed")
        ids.foreach { r =>
          assert(r.getString(0).stripPrefix("L") ===
            r.getString(1).stripPrefix("ST"), r.toString)
        }
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prior)
  }

  test("rows come out in hierarchy order (state_id, city_id, location_id) " +
    "within each partition") {
    val got = LocationDim(addresses(7))
    val parts = got.select("state_id", "city_id", "location_id").rdd.glom().collect()
      .map(_.map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq)
    assert(parts.exists(_.map(_._1).distinct.size > 1), parts.toSeq)
    parts.foreach(p => assert(p === p.sorted))
  }
}
