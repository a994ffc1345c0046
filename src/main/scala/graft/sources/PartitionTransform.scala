package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Iceberg-style PARTITION TRANSFORMS for [[GraftTable]] — the second
  * pruning axis next to the key's range buckets, declared in the table
  * spec rather than baked into directory names (Hive-style paths can
  * never re-partition; a transform in table METADATA can evolve).
  *
  * A transform maps each row to one integral partition VALUE; writes
  * arrange files along it and record per-file [min, max] of the value
  * in the version's colstats sidecar under a reserved synthetic column
  * name (`__p_…`), so partition pruning rides the SAME stats machinery
  * as Z-order box reads: files without a recorded range (written
  * before the transform existed) are always kept — partition evolution
  * never makes old files unreadable, it just prunes them less.
  *
  * Values are deterministic pure functions both engines can compute
  * (`days` = floor(epoch seconds / 86400) under the engine's fixed UTC
  * session; `bucket` = xxhash64 of the canonical string form mod n),
  * so oracle replays and cross-engine gates stay exact. */
sealed trait PartitionTransform {
  /** Reserved colstats column name carrying this transform's per-file
    * value range. */
  def statsCol: String
  /** The partition value of a row, as a non-null long Column. */
  def valueCol: Column
  /** Canonical serialized form, stored as the `#partition` header of
    * each manifest ([[GraftTable.partitionSpec]]). */
  def render: String
}

/** `days(col)`: calendar-day number floor(epochSeconds/86400) of a
  * timestamp/date column — the 100 TB event-table norm (one day's
  * predicate opens one day's files). */
final case class DaysPartition(column: String) extends PartitionTransform {
  override def statsCol: String = s"__p_days_$column"
  override def valueCol: Column =
    floor(unix_timestamp(col(column)).cast("double") / 86400.0).cast("long")
  override def render: String = s"days($column)"
}

/** `months(col)`: months since epoch (year*12 + month−1) of a
  * timestamp/date column — the long-horizon retention grain (a
  * month's backfill opens a month's files, and a 10-year table keeps
  * ~120 partitions instead of ~3,650). */
final case class MonthsPartition(column: String) extends PartitionTransform {
  override def statsCol: String = s"__p_months_$column"
  override def valueCol: Column =
    (year(col(column)).cast("long") * 12L +
      month(col(column)).cast("long") - 1L).cast("long")
  override def render: String = s"months($column)"
}

/** `years(col)`: calendar year of a timestamp/date column — the
  * archival grain. */
final case class YearsPartition(column: String) extends PartitionTransform {
  override def statsCol: String = s"__p_years_$column"
  override def valueCol: Column = year(col(column)).cast("long")
  override def render: String = s"years($column)"
}

/** `truncate(w, col)`: the value rounded down to a multiple of `w`
  * (floor-division semantics, negative values round toward −∞ exactly
  * like Iceberg) — range-style pruning for integral id/amount columns
  * where a hash bucket would destroy range locality. */
final case class TruncatePartition(width: Long, column: String)
  extends PartitionTransform {
  require(width >= 1, s"truncate width must be >= 1, got $width")
  override def statsCol: String = s"__p_trunc${width}_$column"
  // exact integer floor-truncation (v − pmod(v, w)), Iceberg's own
  // formula: routing the division through a double loses precision at
  // |v| ≥ 2^53 and can band a value wrongly vs the documented spec
  override def valueCol: Column =
    (col(column).cast("long") -
      pmod(col(column).cast("long"), lit(width))).cast("long")
  override def render: String = s"truncate($width,$column)"
}

/** `bucket(n, col)`: xxhash64 of the column's canonical string form,
  * taken mod n — co-locates equal values without ordering them (the
  * id-heavy join/point-lookup layout). */
final case class BucketPartition(n: Int, column: String)
  extends PartitionTransform {
  require(n >= 1, s"bucket count must be >= 1, got $n")
  override def statsCol: String = s"__p_bucket${n}_$column"
  override def valueCol: Column =
    pmod(xxhash64(col(column).cast("string")), lit(n.toLong)).cast("long")
  override def render: String = s"bucket($n,$column)"
}

object PartitionTransform {
  private val Days = """days\(([^)]+)\)""".r
  private val Months = """months\(([^)]+)\)""".r
  private val Years = """years\(([^)]+)\)""".r
  private val Trunc = """truncate\((\d+),([^)]+)\)""".r
  private val Bucket = """bucket\((\d+),([^)]+)\)""".r

  def parse(s: String): PartitionTransform = s.trim match {
    case Days(c) => DaysPartition(c.trim)
    case Months(c) => MonthsPartition(c.trim)
    case Years(c) => YearsPartition(c.trim)
    case Trunc(w, c) => TruncatePartition(w.toLong, c.trim)
    case Bucket(n, c) => BucketPartition(n.toInt, c.trim)
    case other => throw new IllegalArgumentException(
      s"unknown partition transform '$other' (supported: days(col), " +
        "months(col), years(col), truncate(w,col), bucket(n,col))")
  }
}
