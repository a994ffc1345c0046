package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, WriteBuilder}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL / DataSource surface for [[GraftTable]] — the way an analyst
  * actually consumes a lakehouse table:
  *
  * {{{
  *   spark.read.format("graft").option("versionAsOf", 2).load(root)
  *
  *   spark.conf.set("spark.sql.catalog.graft",
  *     "graft.sources.GraftCatalog")
  *   spark.conf.set("spark.sql.catalog.graft.base", warehouseDir)
  *   spark.sql("SELECT * FROM graft.events VERSION AS OF 2 " +
  *             "WHERE k BETWEEN 100 AND 200")
  * }}}
  *
  * Both paths resolve to the SAME pruned snapshot reads as the Scala
  * API: the scan builder extracts a key range from the pushed-down
  * predicates (the key column is recorded in `_log/key.json` at create
  * time) and routes through [[GraftTable.readRange]], so manifest
  * file skipping bites through SQL text exactly as it does through
  * `readRange(...)` — and `VERSION AS OF` maps onto the same manifest
  * time travel as `read(spark, root, Some(v))`.
  *
  * Execution is a NATIVE DSv2 Batch ([[GraftBatchScan]]): file-level
  * skipping stays a metadata-only manifest pass (never data I/O), the
  * surviving files run through Spark's own vectorized parquet reader,
  * and manifest statistics reach Catalyst's join sizing directly via
  * `SupportsReportStatistics`. Writes ride the [[org.apache.spark.sql.connector
  * .write.V1Write]] bridge: `CREATE TABLE` / `INSERT INTO` through
  * [[GraftCatalog]] land as real versioned commits via the SAME
  * [[GraftTable.upsert]] path as the Scala API (keyed MERGE, pruned
  * copy-on-write, OCC retry) — see [[GraftSqlTable.newWriteBuilder]].
  */
class GraftDataSource extends TableProvider with DataSourceRegister
  with org.apache.spark.sql.sources.StreamSinkProvider
  with org.apache.spark.sql.sources.StreamSourceProvider {

  override def shortName(): String = "graft"

  /** STREAMING SOURCE (`spark.readStream.format("graft")`): the
    * snapshot-then-tail rows view — [[graft.streaming
    * .GraftTableSource]]. GraftSqlTable deliberately claims no
    * MICRO_BATCH_READ, so DataStreamReader routes here (the same V1
    * bridge the sink uses). */
  override def sourceSchema(sqlContext: org.apache.spark.sql.SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val spark = sqlContext.sparkSession
    val root = parameters.getOrElse("path",
      sys.error("graft streaming source needs .option(\"path\", root)"))
    val latest = GraftTable.latestVersion(spark, root)
    require(latest >= 0, s"no graft table at $root")
    ("graft", GraftTable.tableSchema(spark, root, latest))
  }

  override def createSource(sqlContext: org.apache.spark.sql.SQLContext,
      metadataPath: String, schema: Option[StructType],
      providerName: String, parameters: Map[String, String])
    : org.apache.spark.sql.execution.streaming.Source =
    new graft.streaming.GraftTableSource(
      sqlContext.sparkSession
        .asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      parameters)

  override def supportsExternalMetadata(): Boolean = false

  private def rootOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty,
      "graft reads need a table root: spark.read.format(\"graft\").load(root)")
    p
  }

  private def versionOf(spark: SparkSession, root: String,
      options: CaseInsensitiveStringMap): Int = {
    val latest = GraftTable.latestVersion(spark, root)
    require(latest >= 0, s"no graft table at $root (a streaming sink " +
      "creating a new table needs .option(\"key\", keyColumn))")
    Option(options.get("versionAsOf")).map(_.toInt).getOrElse(latest)
  }

  // a not-yet-existing table is tolerated ONLY on the streaming-sink
  // creation path (signalled by the sink's mandatory 'key' option):
  // DataStreamWriter probes the provider for table capabilities before
  // falling back to the V1 StreamSinkProvider, and that probe must not
  // throw just because the sink will CREATE the table on first batch
  private def creatableSink(spark: SparkSession, root: String,
      options: CaseInsensitiveStringMap): Boolean =
    options.containsKey("key") && GraftTable.latestVersion(spark, root) < 0

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    val root = rootOf(options)
    if (creatableSink(spark, root, options)) new StructType()
    else GraftTable.tableSchema(spark, root, versionOf(spark, root, options))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val spark = SparkSession.active
    val root = rootOf(options)
    if (creatableSink(spark, root, options))
      new GraftSqlTable(root, -1, writable = false)
    else new GraftSqlTable(root, versionOf(spark, root, options))
  }

  /** NATIVE streaming sink — `df.writeStream.format("graft")
    * .option("path", root).option("key", k)`: each micro-batch lands
    * through [[GraftTable.ingestBatch]], the SAME commit path as the
    * Scala API (create on first batch, keyed-MERGE upsert after, one
    * version per batch) with `_log/ingest-<queryId>-<batchId>.marker` replay
    * guards — a batch re-delivered after a failure between sink commit
    * and checkpoint advance does not grow the version log (the
    * effective-once contract production sinks document; content
    * idempotent either way, upsert is last-write-wins per key).
    * GraftSqlTable deliberately does NOT claim STREAMING_WRITE, so
    * DataStreamWriter routes here (the V1 sink bridge): the commit is
    * driver-ORCHESTRATED metadata (manifest publish) while the data
    * plane stays a distributed write job — the Delta sink shape. */
  override def createSink(ctx: org.apache.spark.sql.SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
    : org.apache.spark.sql.execution.streaming.Sink = {
    require(partitionColumns.isEmpty,
      "graft sink: use the table's partition transform, not partitionBy")
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append()
      || outputMode == org.apache.spark.sql.streaming.OutputMode.Update(),
      s"graft sink supports Append/Update (keyed upsert), got $outputMode")
    val root = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft sink needs .option(\"path\", tableRoot)"))
    val key = parameters.getOrElse("key", throw new IllegalArgumentException(
      "graft sink needs .option(\"key\", keyColumn)"))
    val nBuckets = parameters.get("buckets").map(_.toInt).getOrElse(8)
    // .option("mode", "eqdel"): micro-batches land as APPEND-ONLY
    // upserts (fresh files + equality-delete key list, zero base
    // reads per trigger) — the write-amplification floor for
    // continuous CDC; resolveEqDels/maintenance retires the key sets
    val sinkMode = parameters.getOrElse("mode", "")
    require(sinkMode.isEmpty || sinkMode == "eqdel",
      s"graft sink mode must be 'eqdel' when set, got '$sinkMode'")
    // .option("layout", "hash"): a sink-created table is born with the
    // hash-bucket layout (`buckets` buckets) — a CDC replica that will
    // be storage-partition-joined declares it at the stream, not in a
    // separate create step. No-op on an existing table (layout is a
    // create-time contract).
    val sinkLayout = parameters.getOrElse("layout", "")
    require(sinkLayout.isEmpty || sinkLayout == "hash",
      s"graft sink layout must be 'hash' when set, got '$sinkLayout'")
    // .option("maintenance", "auto"): every Nth committed version
    // (graft.maintenance.everyBatches, default 8) runs the free probe
    // ladder post-commit — pending eqdels resolve, dirty DVs absorb,
    // small files bin-pack — so a continuous CDC sink's merge-on-read
    // debt stays bounded with NO manual verbs ('off' suppresses a
    // table-property opt-in)
    val sinkMaint = parameters.getOrElse("maintenance", "")
    require(Set("", "auto", "off")(sinkMaint),
      s"graft sink maintenance must be 'auto' or 'off', got '$sinkMaint'")
    new org.apache.spark.sql.execution.streaming.Sink {
      override def addBatch(batchId: Long, data: DataFrame): Unit = {
        val spark = data.sparkSession
        // the stream's queryId scopes the replay guard: batchId alone
        // is global per table, and a second query (or a fresh
        // checkpoint) restarting at batchId 0 would be silently
        // skipped. StreamExecution publishes the id as a driver-local
        // property during addBatch — stable across restarts of the
        // same checkpoint, new for a new one (the Delta sink rule).
        val queryId = Option(spark.sparkContext
          .getLocalProperty("sql.streaming.queryId")).getOrElse("")
        // re-wrap + pin: the keyed merge joins the batch against the
        // current snapshot (a streaming-flagged plan refuses that),
        // and the commit path takes several actions over the batch —
        // cache so the micro-batch computes once
        val batch = org.apache.spark.sql.graft.bridge.asBatch(data).cache()
        try GraftTable.ingestBatch(spark, root, batch, key, batchId,
          nBuckets, queryId, sinkMode,
          createHashLayout = sinkLayout == "hash",
          maintenance = sinkMaint)
        finally batch.unpersist()
      }
      override def toString: String = s"GraftSink[$root]"
    }
  }
}

/** A [[GraftTable]] snapshot pinned at `version`, as a DSv2 table.
  *
  * Reads serve the pinned snapshot; writes (`INSERT INTO`, or a
  * DataFrame append) land on the CURRENT table head through the SAME
  * [[GraftTable.upsert]] the Scala API uses — keyed-MERGE semantics
  * (same-key rows replace, new keys insert — the only write primitive
  * a keyed table has), with the full commit machinery intact:
  * attempt-dir staging, pruned copy-on-write, stats/bloom sidecars,
  * change-feed preimages, and OCC retry against a racing committer.
  * `writable = false` (a `VERSION AS OF` load) refuses DML — writing
  * "into the past" would silently target the head instead. */
class GraftSqlTable(val root: String, val snapshotVersion: Int,
    val writable: Boolean = true)
  extends Table with SupportsRead with SupportsWrite with SupportsDelete {

  override def name(): String = s"graft.`$root`"

  override def version(): String = snapshotVersion.toString

  /** The pinned version's definition, read once: it never changes, and
    * Spark re-validates a captured table's columns when the query
    * executes — after a VACUUM in between may have removed the
    * version's manifest. */
  private lazy val meta =
    GraftTable.tableMeta(SparkSession.active, root, snapshotVersion)

  override def schema(): StructType = meta.schema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE)

  /** Table metadata surfaced to `SHOW TBLPROPERTIES` / `DESCRIBE
    * TABLE EXTENDED`: the key column, the active partition transform,
    * and every declared CHECK constraint (as `check.<name>`). */
  override def properties(): util.Map[String, String] = {
    val spark = SparkSession.active
    val m = new util.HashMap[String, String]()
    GraftTable.keyColumn(spark, root).foreach(m.put("key", _))
    if (snapshotVersion >= 0)
      meta.spec.foreach(t => m.put("partitioning", t.render))
    GraftTable.constraints(spark, root)
      .foreach { case (n, e) => m.put(s"check.$n", e) }
    GraftTable.tableProperties(spark, root)
      .foreach { case (n, v) => m.put(n, v) }
    m
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(root, snapshotVersion, schema())

  /** `DELETE FROM graft.t WHERE ...`: source filters convert to one
    * Column predicate and route through [[GraftTable.deleteWhereAuto]]
    * — the `graft.dml.mode` policy (default `auto`): barely-touched
    * files commit DELETION-VECTOR sidecars (write cost ∝ deleted rows
    * — the merge-on-read shape a narrow SQL DELETE against a 100 TB
    * table needs), files past the dirty-ratio threshold rewrite, fully
    * dead files drop. Set `graft.dml.mode = cow` for right-to-erasure
    * tables — physical byte removal is the point there, and a DV would
    * leave the erased rows readable inside the data file (q249's
    * workflow documents this exception). A predicate with any
    * unconvertible conjunct is refused up front (`canDeleteWhere`
    * false → Spark raises; a partial delete would silently remove the
    * wrong rows). */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    writable && filters.forall(f => GraftSqlTable.filterColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(writable,
      s"cannot delete from a time-travelled graft table (VERSION AS OF " +
        s"$snapshotVersion)")
    val spark = SparkSession.active
    val key = GraftTable.keyColumn(spark, root).getOrElse(
      throw new IllegalStateException(s"table at $root records no key column"))
    val pred = filters.flatMap(GraftSqlTable.filterColumn)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    GraftTable.deleteWhereAuto(spark, root, pred, key)
    ()
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(writable,
      s"cannot write to a time-travelled graft table (VERSION AS OF " +
        s"$snapshotVersion); write to the table head instead")
    new WriteBuilder {
      override def build(): V1Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              require(!overwrite,
                "graft INSERT OVERWRITE is not supported; deletes are " +
                  "explicit (GraftTable.delete) so erasure stays auditable")
              val spark = data.sparkSession
              val key = GraftTable.keyColumn(spark, root).getOrElse(
                throw new IllegalStateException(
                  s"table at $root records no key column"))
              // V1 insert hands positional columns; restore the table's
              // names so upsert's column-wise merge aligns correctly.
              // The write honors the table's DML policy like every
              // other surface: under `dv`/`auto` a key-hitting INSERT
              // takes the merge-on-read path (position sidecars +
              // fresh files) instead of rewriting touched files; a
              // pure append writes fresh files either way.
              val named = data.toDF(schema().fieldNames.toSeq: _*)
              GraftTable.insertBatch(spark, root, named, key)
            }
          }
      }
    }
  }
}

object GraftSqlTable {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col => c, lit, not}

  /** Source-Filter → Column translation for DELETE predicates. None
    * for shapes we can't express EXACTLY — deleting on a misread
    * predicate is data loss, so unknown shapes refuse rather than
    * approximate. */
  private[sources] def filterColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(c(a) === lit(v))
    case EqualNullSafe(a, v) => Some(c(a) <=> lit(v))
    case GreaterThan(a, v) => Some(c(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(c(a) >= lit(v))
    case LessThan(a, v) => Some(c(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(c(a) <= lit(v))
    case In(a, vs) => Some(c(a).isin(vs.toSeq: _*))
    case IsNull(a) => Some(c(a).isNull)
    case IsNotNull(a) => Some(c(a).isNotNull)
    case StringStartsWith(a, v) => Some(c(a).startsWith(v))
    case StringEndsWith(a, v) => Some(c(a).endsWith(v))
    case StringContains(a, v) => Some(c(a).contains(v))
    case And(l, r) =>
      for { a <- filterColumn(l); b <- filterColumn(r) } yield a && b
    case Or(l, r) =>
      for { a <- filterColumn(l); b <- filterColumn(r) } yield a || b
    case Not(inner) => filterColumn(inner).map(not)
    case AlwaysTrue() => Some(lit(true))
    case AlwaysFalse() => Some(lit(false))
    case _ => None
  }
}

/** SQL surface for a WRITABLE BRANCH (`cat.t.branch_<name>` or
  * `` cat.`t$branch_<name>` `` — the Iceberg `branch_` identifier
  * idiom): reads serve the BRANCH HEAD through the same pruned,
  * DV-masked scan machinery as main (schema and partition spec pinned
  * to the branch's base era; metadata-served aggregates and NDV stats
  * stay off — branch ledgers are branch-local); `INSERT INTO` routes
  * through [[GraftTable.upsertBranch]], the keyed merge onto the
  * branch lineage. Publication stays an explicit verb (`FAST FORWARD`
  * SQL / [[GraftTable.mergeBranch]]), so the q316 audit-then-publish
  * workflow is SQL-only end to end: fork → INSERT → FF. */
class GraftBranchSqlTable(val root: String, val branchName: String)
  extends Table with SupportsRead with SupportsWrite {

  private def baseVersion: Int =
    GraftTable.branchBase(SparkSession.active, root, branchName)

  override def name(): String = s"graft.`$root` branch $branchName"

  override def schema(): StructType =
    GraftTable.tableSchema(SparkSession.active, root, baseVersion)

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(root, baseVersion, schema(), Some(branchName))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): V1Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              require(!overwrite,
                "graft INSERT OVERWRITE is not supported on branches")
              val spark = data.sparkSession
              val key = GraftTable.keyColumn(spark, root).getOrElse(
                throw new IllegalStateException(
                  s"table at $root records no key column"))
              val named = data.toDF(schema().fieldNames.toSeq: _*)
              GraftTable.upsertBranch(spark, root, branchName, named, key)
              ()
            }
          }
      }
    }
}

/** Scan builder: prunes columns, and mines the pushed predicates for a
  * key range to file-skip with. All filters are reported back as
  * residual (Spark re-evaluates them — the skipping is a strict
  * optimization, so a filter the range extraction misreads can never
  * produce wrong rows).
  *
  * Also serves global aggregates from METADATA ALONE
  * ([[SupportsPushDownAggregates]]): an unfiltered, ungrouped
  * `count(*)` / `min` / `max` over the key column (manifest per-file
  * rows + exact key intervals) or over a colstats-covered secondary
  * column, and `count(col)` via the per-file `#nulls.<col>` ledger
  * (rows − nulls) — zero data files opened. At
  * 100 TB that is the difference between an instant metadata answer
  * and a full-table scan for the most common sanity queries a
  * warehouse runs (`SELECT count(*) FROM t`, key-range probes before
  * a backfill). Pushdown REFUSES (falls back to the data scan)
  * whenever exactness is not provable: any residual filter (Spark
  * only offers aggregates when no post-scan filter remains — belt and
  * braces here), any GROUP BY, a non-integral column, or a secondary
  * column any of whose live files lacks a recorded range. Partial-
  * pushdown contract: the scan emits ONE row of exact global
  * partials; Spark's final aggregate merges it (sum-of-counts,
  * min-of-mins), so plan shape stays standard. */
class GraftScanBuilder(root: String, version: Int, fullSchema: StructType,
    branch: Option[String] = None)
  extends ScanBuilder
  with SupportsPushDownFilters with SupportsPushDownRequiredColumns
  with SupportsPushDownAggregates {

  private var required: StructType = fullSchema
  private var filters: Array[Filter] = Array.empty
  private var pushedAgg: Option[(StructType, Seq[Any])] = None

  override def pruneColumns(requiredSchema: StructType): Unit = {
    if (pushedAgg.isDefined) return // agg schema is the scan schema
    // preserve table column order; an empty projection (COUNT(*)) keeps
    // one column so the v1 relation still has rows to count
    val want = requiredSchema.fieldNames.toSet
    val kept = fullSchema.fields.filter(f => want(f.name))
    required =
      if (kept.nonEmpty) StructType(kept)
      else StructType(fullSchema.fields.take(1))
  }

  override def pushFilters(fs: Array[Filter]): Array[Filter] = {
    filters = fs
    fs // everything stays residual; we only USE them for file skipping
  }

  override def pushedFilters(): Array[Filter] = {
    val key = GraftTable.keyColumn(SparkSession.active, root)
    filters.filter(f => key.exists(k =>
      GraftScanBuilder.keyBound(f, k).isDefined))
  }

  override def pushAggregation(agg: Aggregation): Boolean = {
    import org.apache.spark.sql.types._
    if (filters.nonEmpty || agg.groupByExpressions.nonEmpty) return false
    // branch scans never metadata-serve: the snapshot ledgers are
    // main-versioned; the branch's stat lines live in its own log
    if (branch.isDefined) return false
    val spark = SparkSession.active
    // pending EQUALITY DELETES make live-row arithmetic unknowable
    // from metadata (an unresolved key may or may not hit) — refuse,
    // the scan path masks correctly
    if (GraftTable.hasLiveEqDels(spark, root, version)) return false
    val key = GraftTable.keyColumn(spark, root)
    lazy val (rows, keyRange) = GraftTable.snapshotKeyStats(spark, root, version)

    def colNameOf(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[String] = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        Some(r.fieldNames()(0))
      case _ => None
    }
    def narrow(v: Long, dt: DataType): Any = dt match {
      case LongType => java.lang.Long.valueOf(v)
      case IntegerType => java.lang.Integer.valueOf(v.toInt)
      case ShortType => java.lang.Short.valueOf(v.toShort)
      case ByteType => java.lang.Byte.valueOf(v.toByte)
      case _ => throw new IllegalStateException(s"non-integral $dt")
    }
    // Some(None) = empty snapshot (NULL min/max); None = not servable
    def rangeOf(c: String): Option[Option[(Long, Long)]] =
      if (rows == 0L) Some(None)
      else if (key.contains(c)) keyRange.map(r => Some(r))
      else GraftTable.snapshotColumnRange(spark, root, version, c)
        .map(r => Some(r))
    def minMax(e: org.apache.spark.sql.connector.expressions.Expression,
        isMin: Boolean): Option[(StructField, Any)] = for {
      c <- colNameOf(e)
      f <- fullSchema.fields.find(_.name == c)
      if f.dataType == LongType || f.dataType == IntegerType ||
        f.dataType == ShortType || f.dataType == ByteType
      r <- rangeOf(c)
    } yield {
      val label = if (isMin) s"min($c)" else s"max($c)"
      val v = r.map(lohi => narrow(if (isMin) lohi._1 else lohi._2,
        f.dataType)).orNull
      (StructField(label, f.dataType, nullable = true), v)
    }

    val resolved = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some((
        StructField("count(*)", LongType, nullable = false),
        java.lang.Long.valueOf(rows): Any))
      case m: Min => minMax(m.column, isMin = true)
      case m: Max => minMax(m.column, isMin = false)
      case c: Count if !c.isDistinct =>
        // count(col) = rows − per-file null counts (colstats ledger);
        // refuses unless EVERY live file carries a recorded null count
        for {
          name <- colNameOf(c.column)
          if fullSchema.fieldNames.contains(name)
          nulls <- GraftTable.snapshotNullCount(spark, root, version, name)
        } yield (StructField(s"count($name)", LongType, nullable = false),
          java.lang.Long.valueOf(rows - nulls): Any)
      case sm: org.apache.spark.sql.connector.expressions.aggregate.Sum
          if !sm.isDistinct =>
        // sum(col) from the per-file #sum ledger — exact even under
        // int64 wrap (addition is associative mod 2⁶⁴); LongType
        // columns only (Spark's sum result type for them is LongType,
        // so the partial row merges losslessly; narrower ints sum to
        // LongType too but their pushed result type must match — serve
        // those as well, the partial is a long either way)
        for {
          name <- colNameOf(sm.column)
          f <- fullSchema.fields.find(_.name == name)
          if f.dataType == LongType || f.dataType == IntegerType ||
            f.dataType == ShortType || f.dataType == ByteType
          total <- GraftTable.snapshotColumnSum(spark, root, version, name)
        } yield (StructField(s"sum($name)", LongType, nullable = true),
          total.map(java.lang.Long.valueOf).orNull: Any)
      case _ => None // Avg/count(distinct): the manifest can't serve these
    }
    if (resolved.exists(_.isEmpty)) return false
    val ok = resolved.flatten
    pushedAgg = Some((StructType(ok.map(_._1)), ok.map(_._2)))
    true
  }

  override def build(): Scan =
    new GraftBatchScan(root, version, required, filters, pushedAgg, branch)
}

object GraftScanBuilder {
  /** (lower, upper) bound contribution of one source Filter on the key
    * column, if it is a supported shape. Bounds are inclusive. */
  private[sources] def keyBound(f: Filter, key: String): Option[(Long, Long)] = {
    def long(v: Any): Option[Long] = v match {
      case n: Long => Some(n)
      case n: Int => Some(n.toLong)
      case n: Short => Some(n.toLong)
      case n: Byte => Some(n.toLong)
      case _ => None // non-integral comparand: don't risk a wrong range
    }
    f match {
      case EqualTo(`key`, v) => long(v).map(n => (n, n))
      case GreaterThan(`key`, v) => long(v).map(n => (n + 1, Long.MaxValue))
      case GreaterThanOrEqual(`key`, v) => long(v).map(n => (n, Long.MaxValue))
      case LessThan(`key`, v) => long(v).map(n => (Long.MinValue, n - 1))
      case LessThanOrEqual(`key`, v) => long(v).map(n => (Long.MinValue, n))
      case In(`key`, vs) if vs.nonEmpty =>
        val ns = vs.map(long)
        if (ns.exists(_.isEmpty)) None
        else Some((ns.flatten.min, ns.flatten.max))
      case And(l, r) =>
        (keyBound(l, key), keyBound(r, key)) match {
          case (Some((lo1, hi1)), Some((lo2, hi2))) =>
            Some((math.max(lo1, lo2), math.min(hi1, hi2)))
          case (one, other) => one.orElse(other)
        }
      case _ => None
    }
  }

  /** Intersect every filter's key-range contribution (filters are
    * conjunctive at this level). */
  private[sources] def keyRange(filters: Array[Filter],
      key: String): Option[(Long, Long)] =
    filters.flatMap(keyBound(_, key)).reduceOption { (a, b) =>
      (math.max(a._1, b._1), math.min(a._2, b._2))
    }

  /** Comparand → the leaf-column LEDGER's long domain for one ledgered
    * data type (integral value, date epoch-day, timestamp epoch-micros
    * — exactly what the write pass records). None for unledgered
    * types. */
  private[sources] def ledgerConv(dt: org.apache.spark.sql.types.DataType)
    : Option[Any => Option[Long]] = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType | IntegerType | ShortType | ByteType => Some({
        case n: Long => Some(n)
        case n: Int => Some(n.toLong)
        case n: Short => Some(n.toLong)
        case n: Byte => Some(n.toLong)
        case _ => None
      })
      case DateType => Some({
        case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
        case d: java.time.LocalDate => Some(d.toEpochDay)
        case _ => None
      })
      case TimestampType => Some({
        case t: java.sql.Timestamp =>
          Some(java.lang.Math.floorDiv(t.getTime, 1000L) * 1000000L +
            t.getNanos.toLong / 1000L)
        case t: java.time.Instant =>
          Some(t.getEpochSecond * 1000000L + t.getNano.toLong / 1000L)
        case _ => None
      })
      case _ => None
    }
  }

  /** [[keyBound]] for an arbitrary ledgered column: the (lo, hi)
    * contribution of one Filter in the ledger's long domain. */
  private[sources] def colBound(f: Filter, c: String,
      conv: Any => Option[Long]): Option[(Long, Long)] = f match {
    case EqualTo(`c`, v) => conv(v).map(n => (n, n))
    case GreaterThan(`c`, v) if conv(v).exists(_ < Long.MaxValue) =>
      conv(v).map(n => (n + 1, Long.MaxValue))
    case GreaterThanOrEqual(`c`, v) => conv(v).map(n => (n, Long.MaxValue))
    case LessThan(`c`, v) if conv(v).exists(_ > Long.MinValue) =>
      conv(v).map(n => (Long.MinValue, n - 1))
    case LessThanOrEqual(`c`, v) => conv(v).map(n => (Long.MinValue, n))
    case In(`c`, vs) if vs.nonEmpty =>
      val ns = vs.map(conv)
      if (ns.exists(_.isEmpty)) None
      else Some((ns.flatten.min, ns.flatten.max))
    case And(l, r) =>
      (colBound(l, c, conv), colBound(r, c, conv)) match {
        case (Some((a1, b1)), Some((a2, b2))) =>
          Some((math.max(a1, a2), math.min(b1, b2)))
        case (one, other) => one.orElse(other)
      }
    case _ => None
  }

  /** Per-column [lo, hi] intervals mined from the pushed (conjunctive)
    * predicates, for every LEDGERED non-key column — what feeds the
    * `#minmax` file-skipping axis. */
  private[sources] def colRanges(filters: Array[Filter],
      schema: StructType, key: Option[String]): Map[String, (Long, Long)] =
    schema.fields.filter(f => !key.contains(f.name)).flatMap { f =>
      ledgerConv(f.dataType).flatMap { conv =>
        filters.flatMap(colBound(_, f.name, conv))
          .reduceOption { (a, b) =>
            (math.max(a._1, b._1), math.min(a._2, b._2))
          }.map(f.name -> _)
      }
    }.toMap

  /** Top-level IS NULL / IS NOT NULL conjunct columns (non-key) — the
    * `#nulls` ledger can skip files for both. */
  private[sources] def nullPrunes(filters: Array[Filter],
      schema: StructType, key: Option[String]): (Set[String], Set[String]) = {
    val cols = schema.fieldNames.toSet -- key
    (filters.collect { case IsNull(c) if cols(c) => c }.toSet,
      filters.collect { case IsNotNull(c) if cols(c) => c }.toSet)
  }
}

/** A [[org.apache.spark.sql.execution.datasources
  * .PartitioningAwareFileIndex]] served ENTIRELY from the graft
  * manifest: file paths and exact on-disk lengths come from the
  * manifest's per-file ledger (recorded at write time), so planning a
  * scan costs ZERO filesystem metadata RPCs — no directory listing, no
  * per-file `getFileStatus` — however many thousand files the pruned
  * snapshot spans. At 100 TB the listing alone is the dominant
  * planning cost for object stores; the manifest already paid it once
  * at commit time. Unpartitioned (`PartitionSpec.emptySpec`): graft
  * lays out by key-range bucketing, and file skipping happened BEFORE
  * this index was built (only pruned survivors are handed in). */
private[sources] class ManifestFileIndex(spark: SparkSession,
    tableRoot: org.apache.hadoop.fs.Path,
    statuses: Seq[org.apache.hadoop.fs.FileStatus],
    tableSchema: StructType)
  extends org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex(
    spark, Map.empty, Some(tableSchema),
    org.apache.spark.sql.execution.datasources.NoopCache) {

  override def partitionSpec()
    : org.apache.spark.sql.execution.datasources.PartitionSpec =
    org.apache.spark.sql.execution.datasources.PartitionSpec.emptySpec

  // computed ONCE (planning asks for the file listing repeatedly;
  // rebuilding an O(files) map per call would tax large snapshots)
  override protected lazy val leafFiles: scala.collection.mutable.LinkedHashMap[
      org.apache.hadoop.fs.Path, org.apache.hadoop.fs.FileStatus] = {
    val m = new scala.collection.mutable.LinkedHashMap[
      org.apache.hadoop.fs.Path, org.apache.hadoop.fs.FileStatus]()
    statuses.foreach(s => m += (s.getPath -> s))
    m
  }

  override protected lazy val leafDirToChildrenFiles: Map[
      org.apache.hadoop.fs.Path, Array[org.apache.hadoop.fs.FileStatus]] =
    statuses.groupBy(_.getPath.getParent)
      .map { case (dir, fs) => dir -> fs.toArray }

  // the leaf files themselves (same contract as InMemoryFileIndex over
  // an explicit file list): allFiles() resolves each root path against
  // leafFiles, so the table root — which is a key in NEITHER map —
  // must not appear here
  override def rootPaths: Seq[org.apache.hadoop.fs.Path] =
    statuses.map(_.getPath)

  override def refresh(): Unit = ()
}

/** One metadata-served aggregate row ([[GraftScanBuilder
  * .pushAggregation]]): the exact global partials were computed from
  * the manifest at push time; execution just emits them. */
private[sources] case class GraftAggPartition(values: Seq[Any])
  extends org.apache.spark.sql.connector.read.InputPartition

private[sources] class GraftAggReaderFactory
  extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  override def createReader(
      p: org.apache.spark.sql.connector.read.InputPartition)
    : org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow] = {
    val values = p.asInstanceOf[GraftAggPartition].values
    new org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow] {
      private var emitted = false
      override def next(): Boolean = if (emitted) false else { emitted = true; true }
      override def get(): org.apache.spark.sql.catalyst.InternalRow =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          values.toArray)
      override def close(): Unit = ()
    }
  }
}

/** The scan: a NATIVE DSv2 `Batch` whose data path delegates to
  * Spark's own vectorized parquet machinery over EXACTLY the manifest
  * files the key-range predicates keep.
  *
  * Native (not the `V1Scan` bridge) for one load-bearing reason:
  * Spark wraps every `V1Scan` in a `V1ScanWrapper` during scan
  * push-down, and `DataSourceV2ScanRelation.computeStats` checks the
  * WRAPPER for `SupportsReportStatistics` — so manifest statistics
  * could never reach join sizing without a planner-strategy shim that
  * re-walked every plan fragment (a measured +53% planning tax on the
  * registry's biggest query). As a native Batch the scan object IS
  * what `computeStats` sees: rowCount and sizeInBytes come straight
  * from the manifest's per-file ledger, restricted to the pruned
  * survivors, so a selective `WHERE k BETWEEN ...` over a huge graft
  * table reports the pruned size and the optimizer picks a BROADCAST
  * join for exactly the reads the format knows are small — zero
  * per-fragment planning overhead (the decision that matters most at
  * 1000 executors: mis-sizing this join means shuffling 100 TB).
  *
  * Execution: file pruning is a metadata-only manifest pass; the
  * surviving files go into a [[ManifestFileIndex]] (no FS listing) and
  * through `ParquetScanBuilder` — so splits, the vectorized columnar
  * reader, row-group/page skipping from the pushed data filters, and
  * whole-stage codegen over the scan are all Spark's own parquet path,
  * identical to `spark.read.schema(s).parquet(files)`. All filters
  * stay residual above the scan (skipping is a strict optimization).
  *
  * Metadata-served aggregates execute as ONE partition emitting the
  * exact global partial row computed at push time — no data I/O. */
class GraftBatchScan(val root: String, val version: Int,
    val required: StructType, val filters: Array[Filter],
    val pushedAgg: Option[(StructType, Seq[Any])] = None,
    val branch: Option[String] = None)
  extends Scan with org.apache.spark.sql.connector.read.Batch
  with org.apache.spark.sql.connector.read.SupportsReportStatistics
  with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
  with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  override def readSchema(): StructType =
    pushedAgg.map(_._1).getOrElse(required)

  override def toBatch: org.apache.spark.sql.connector.read.Batch = this

  override def description(): String =
    s"GraftScan root=$root version=$version" +
      branch.map(b => s" branch=$b").getOrElse("") +
      pushedAgg.map(a =>
        s" servedAggregates=[${a._1.fieldNames.mkString(", ")}]").getOrElse("")

  private def keyRange: Option[(Long, Long)] =
    GraftTable.keyColumn(SparkSession.active, root)
      .flatMap(k => GraftScanBuilder.keyRange(filters, k))

  /** Planning-time POINT pruning for a hash-ledgered (string) key:
    * `k = 'x'` / `k IN (…)` filters convert to their stat hashes and
    * prune files by interval containment (plus bucket id under a hash
    * layout) — [[GraftScanBuilder.keyRange]] rightly refuses string
    * comparands, so without this a string-keyed point lookup would
    * open every file. None for integral keys (ranges cover them). */
  @transient private lazy val pushedStatKeys: Option[Array[Long]] = {
    val spark = SparkSession.active
    GraftTable.keyColumn(spark, root)
      .filter(_ => GraftTable.keyHashMode(spark, root))
      .flatMap { k =>
        val vals: Seq[String] = filters.toSeq.flatMap {
          case EqualTo(a, s: String) if a == k => Seq(s)
          case In(a, vs) if a == k && vs.nonEmpty &&
              vs.forall(_.isInstanceOf[String]) =>
            vs.toSeq.map(_.asInstanceOf[String])
          case _ => Seq.empty
        }
        if (vals.isEmpty) None
        else Some(vals.map(GraftTable.keyStatValue)
          .distinct.sorted.toArray)
      }
  }

  /** (rowCount, sizeInBytes) of exactly what this scan will read:
    * manifest rows/bytes restricted to the files the key-range
    * predicates keep, byte-scaled by the column projection. Lazy: one
    * manifest read per scan instance, however many times planning
    * walks the tree. */
  private[graft] lazy val manifestStats: (Long, Long) = {
    val spark = SparkSession.active
    val (rows, bytes) =
      if (branch.isDefined)
        GraftTable.branchStats(spark, root, branch.get)
      else GraftTable.snapshotStats(spark, root, version, keyRange)
    // column pruning scales the byte estimate: a 2-column projection
    // of a 20-column table should not report the full file size
    val nAll = math.max(1, GraftTable.tableSchema(spark, root, version)
      .fields.length)
    (rows, math.max(1L, bytes * math.min(required.fields.length, nAll) / nAll))
  }

  /** Per-column DISTINCT COUNTS from the table's KMV digest sidecars
    * (restricted to the pruned file set), surfaced through the DSv2
    * column-statistics map — Spark's `transformV2Stats` turns these
    * into catalyst attribute stats, so with CBO enabled an aggregate
    * over a low-NDV column is estimated at NDV rows instead of input
    * rows and the planner BROADCASTS the join above it (the decision
    * that matters at 1000 executors: without it, a 25-row group-by
    * output gets shuffle-joined like a table). Columns without full
    * digest coverage (pre-NDV history, clones) simply don't appear —
    * no estimate beats a wrong one. DV'd files DO serve: their digests
    * and null ledgers describe physical content, an upper bound on the
    * live rows — sound for estimation, so the capability survives the
    * default merge-on-read DML mode. Lazy: computed once per scan
    * instance, a pure metadata pass. */
  private lazy val columnStatsMap: java.util.Map[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    val m = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
    if (pushedAgg.isEmpty && branch.isEmpty) {
      val spark = SparkSession.active
      required.fieldNames.foreach { c =>
        val ndvOpt = GraftTable.estimateDistinct(
          spark, root, version, c, keyRange).filter(_ > 0L)
        // catalyst's hasCountStats demands BOTH distinct and null
        // counts before group-by estimation trusts a column — serve
        // the null count from the existing #nulls ledger (the ADVISORY
        // form: a DV'd file's physical nulls are an upper bound on its
        // live nulls — this surface estimates, it never answers)
        val nullsOpt = GraftTable.estimateNullCount(
          spark, root, version, c, keyRange)
        (ndvOpt, nullsOpt) match {
          case (Some(ndv), Some(nulls)) =>
            // transformV2Stats matches attributes by describe() — a
            // plain top-level column reference (FieldReference itself
            // is private[sql])
            val ref = new org.apache.spark.sql.connector.expressions
              .NamedReference {
                override def fieldNames(): Array[String] = Array(c)
                override def describe(): String = c
                override def toString: String = c
              }
            m.put(ref,
              new org.apache.spark.sql.connector.read.colstats
                .ColumnStatistics {
                  override def distinctCount(): java.util.OptionalLong =
                    java.util.OptionalLong.of(ndv)
                  override def nullCount(): java.util.OptionalLong =
                    java.util.OptionalLong.of(nulls)
                })
          case _ => () // partial evidence: no estimate beats a wrong one
        }
      }
    }
    m
  }

  override def estimateStatistics()
    : org.apache.spark.sql.connector.read.Statistics = {
    val (rows, bytes) =
      if (pushedAgg.isDefined) (1L, 64L) // one metadata-served agg row
      else manifestStats
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
        columnStatsMap
    }
  }

  // ---- RUNTIME FILE PRUNING (SupportsRuntimeFiltering) -------------
  //
  // The key column is reported as a runtime-filterable attribute, so
  // a broadcast join against a selective dimension injects a
  // dynamic-pruning subquery: once the build side completes, Spark
  // hands the observed join-key values to [[filter]] and THIS scan
  // re-plans its partitions — files whose [minKey, maxKey] interval
  // contains none of the values never open. At 1000 executors this is
  // the difference between scanning a 100 TB fact for a 3-key lookup
  // join and opening three files; the static manifest skip can't do
  // it because the keys are only known at run time.

  /** Runtime join-key values (sorted), set by [[filter]]. Excluded
    * from equals/hashCode — exchange reuse must key on WHAT the scan
    * statically reads. */
  @transient @volatile private var runtimeKeys: Option[Array[Long]] = None
  /** Runtime PARTITION-TRANSFORM values (sorted transform outputs of
    * the observed join values on the transform's input column), set by
    * [[filter]] — the second pruning axis. */
  @transient @volatile private var runtimePvals: Option[Array[Long]] = None
  /** Post-runtime-filter file count — test/gate observability. */
  @transient @volatile private[graft] var runtimePrunedTo: Int = -1

  private def namedRef(c: String)
    : org.apache.spark.sql.connector.expressions.NamedReference =
    new org.apache.spark.sql.connector.expressions.NamedReference {
      override def fieldNames(): Array[String] = Array(c)
      override def describe(): String = c
      override def toString: String = c
    }

  override def filterAttributes()
    : Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    if (pushedAgg.isDefined) return Array.empty
    // a metadata-served aggregate's row is precomputed at push time:
    // never advertise it as runtime-filterable
    val spark = SparkSession.active
    val key = GraftTable.keyColumn(spark, root)
      .filter(k => required.fieldNames.contains(k))
    // the active partition transform's INPUT column is the second
    // runtime-filterable axis: a broadcast join on the time dimension
    // hands its observed values to [[filter]], which maps them through
    // the transform and prunes by the per-file value ranges — the
    // days()/bucket() DPP a 100 TB fact lives by
    val pcol = GraftTable.partitionSpec(spark, root, version)
      .map(GraftTable.transformColumn)
      .filter(c => required.fieldNames.contains(c))
      .filterNot(c => key.contains(c))
    (key.toSeq ++ pcol.toSeq).map(namedRef).toArray
  }

  override def filter(runtime: Array[Filter]): Unit = {
    val spark = SparkSession.active
    val key = GraftTable.keyColumn(spark, root).orNull
    val spec = GraftTable.partitionSpec(spark, root, version)
    val pcol = spec.map(GraftTable.transformColumn).orNull
    lazy val hashMode = GraftTable.keyHashMode(spark, root)
    def longOf(v: Any): Option[Long] = v match {
      case l: Long => Some(l)
      case i: Int => Some(i.toLong)
      case s: Short => Some(s.toLong)
      case b: Byte => Some(b.toLong)
      // hash-ledgered key: the observed string probes convert to
      // their stat hashes — the same domain the file intervals (and
      // hash-layout buckets) live in
      case s: String if hashMode => Some(GraftTable.keyStatValue(s))
      case u: org.apache.spark.unsafe.types.UTF8String if hashMode =>
        Some(GraftTable.keyStatValue(u))
      case _ => None
    }
    // IN / = on the key column prune; anything else is ignored (the
    // runtime filter is a pure optimization — Spark re-evaluates the
    // join anyway, so dropping an unconvertible filter is safe)
    val values = runtime.flatMap {
      case In(a, vs) if a == key =>
        val ls = vs.flatMap(longOf)
        if (ls.length == vs.length) Some(ls) else None
      case EqualTo(a, v) if a == key => longOf(v).map(Array(_))
      case _ => None
    }.flatten
    // IN / = on the transform's input column: map the observed values
    // through the transform ITSELF (a LocalRelation evaluation — the
    // exact write-side function, so days/months/bucket semantics can
    // never drift) and prune by per-file transform-value ranges
    val rawPvals = runtime.flatMap {
      case In(a, vs) if pcol != null && a == pcol => vs.toSeq
      case EqualTo(a, v) if pcol != null && a == pcol => Seq(v)
      case _ => Seq.empty
    }
    val pvals: Array[Long] =
      if (rawPvals.isEmpty) Array.empty
      else try {
        val dt = GraftTable.tableSchema(spark, root, version)
          .find(_.name == pcol).map(_.dataType).getOrElse(
            org.apache.spark.sql.types.StringType)
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(pcol, dt, nullable = true)))
        import scala.jdk.CollectionConverters._
        spark.createDataFrame(
          rawPvals.toSeq.map(v => org.apache.spark.sql.Row(v)).asJava, schema)
          .select(spec.get.valueCol.as("__pv"))
          .collect().map(_.getLong(0))
      } catch {
        // value/type mismatch: skip this axis — pruning is optional
        case _: Exception => Array.empty[Long]
      }
    if (values.nonEmpty || pvals.nonEmpty) synchronized {
      if (values.nonEmpty) runtimeKeys = Some(values.distinct.sorted)
      if (pvals.nonEmpty) runtimePvals = Some(pvals.distinct.sorted)
      prunedFilesCache = null // re-plan partitions under the new keys
      parquetScanCache = null
      dvScanCache = None
      dvScanBuilt = false
      eqScanCache = None
      eqScanBuilt = false
    }
  }

  /** Pending EQUALITY DELETES of this snapshot as (version, absolute
    * key dir, nKeys) — branch lineages are eqdel-free (fork refuses).
    * Empty on the common path: zero plan overhead. */
  @transient private lazy val eqdels: Seq[(Int, String, Long)] =
    if (branch.isDefined) Seq.empty
    else GraftTable.pendingEqDelDirs(SparkSession.active, root, version)

  /** Whether any pending eqdel applies to this file (committed after
    * the file's `data/vNNNNN-…/` birth directory). */
  private def appliesEq(st: org.apache.hadoop.fs.FileStatus): Boolean =
    eqdels.nonEmpty && {
      val av = GraftTable.addedVersion(st.getPath.toString)
      eqdels.exists(_._1 > av)
    }

  /** Key column plumbing for the eqdel-masked path: (physical field,
    * ordinal of the key in the masked scan's output, whether the key
    * was APPENDED beyond `required` and must be projected away). */
  @transient private lazy val eqKeyInfo
    : (org.apache.spark.sql.types.StructField, Int, Boolean) = {
    val spark = SparkSession.active
    val k = GraftTable.keyColumn(spark, root).getOrElse(
      throw new IllegalStateException(
        s"table at $root has pending equality deletes but no " +
          "recorded key column"))
    val schema = GraftTable.tableSchema(spark, root, version)
    val i = schema.fieldNames.indexOf(k)
    require(i >= 0, s"key column '$k' missing from schema at $root")
    val physField = GraftTable.physicalSchema(schema).fields(i)
    val inReq = required.fieldNames.indexOf(k)
    if (inReq >= 0) (physField, inReq, false)
    else (physField, required.fields.length, true)
  }

  /** The pruned snapshot's files, split by DELETION-VECTOR presence:
    * clean files keep the exact fast parquet plan; DV'd files go
    * through the masked merge-on-read path below (files a pending
    * EQUALITY DELETE applies to — DV'd or not — go through the
    * key-masked variant). Cached per scan instance but INVALIDATED
    * by a runtime filter (the DSv2 runtime-filtering contract
    * re-plans partitions after [[filter]]). */
  @transient private var prunedFilesCache
    : Seq[(org.apache.hadoop.fs.FileStatus, String, Long)] = null
  private def prunedFiles
    : Seq[(org.apache.hadoop.fs.FileStatus, String, Long)] = synchronized {
    if (prunedFilesCache == null) {
      // static string-point stats and runtime-observed stats are
      // CONJUNCTIVE predicates — intersect when both exist (a file
      // needed by the query must satisfy each)
      val statKeys = (runtimeKeys, pushedStatKeys) match {
        case (Some(r), Some(p)) =>
          Some(r.toSet.intersect(p.toSet).toArray.sorted)
        case (r, p) => r.orElse(p)
      }
      // SECONDARY-COLUMN static skipping (round 17): every ledgered
      // non-key column's predicate interval + IS (NOT) NULL conjuncts
      // prune against the per-file #minmax/#nulls ledgers
      val spark = SparkSession.active
      val schema = GraftTable.tableSchema(spark, root, version)
      val keyOpt = GraftTable.keyColumn(spark, root)
      val colRanges = GraftScanBuilder.colRanges(filters, schema, keyOpt)
      val (isNullC, isNotNullC) =
        GraftScanBuilder.nullPrunes(filters, schema, keyOpt)
      prunedFilesCache =
        // an EMPTY intersection proves no file is needed (an empty
        // keyValues array would read as "no pruning" downstream)
        if (statKeys.exists(_.isEmpty)) Seq.empty
        else GraftTable.snapshotFilesWithDvs(
          spark, root, version, keyRange, statKeys,
          runtimePvals, branch, colRanges, isNullC, isNotNullC)
      if (runtimeKeys.isDefined || runtimePvals.isDefined)
        runtimePrunedTo = prunedFilesCache.size
    }
    prunedFilesCache
  }

  private def buildParquetScan(spark: SparkSession,
      statuses: Seq[org.apache.hadoop.fs.FileStatus],
      withRowIndex: Boolean,
      extraKey: Option[org.apache.spark.sql.types.StructField] = None)
    : org.apache.spark.sql.execution.datasources.v2.FileScan = {
    val schema = GraftTable.tableSchema(spark, root, version)
    // COLUMN MAPPING: parquet stores PHYSICAL names, so the underlying
    // file scan plans under the physical schema (same field order —
    // rows map back to the logical readSchema positionally). Filters
    // referencing a RENAMED column are dropped from the row-group
    // pushdown (they're all residual anyway — Spark re-evaluates; the
    // renamed column just loses page skipping, never correctness).
    val physFull = GraftTable.physicalSchema(schema)
    val renamed = schema.fields
      .filter(f => GraftTable.physName(f) != f.name).map(_.name).toSet
    // the DV-masked scan appends Spark's parquet ROW-INDEX temporary
    // column: the reader GENERATES per-file row positions (split- and
    // row-group-skip-aware) instead of reading a column — the join
    // key against the deletion vector's position list
    val rowIdx = org.apache.spark.sql.types.StructField(
      org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
        .ROW_INDEX_TEMPORARY_COLUMN_NAME,
      org.apache.spark.sql.types.LongType, nullable = true)
    val dataSchema =
      if (withRowIndex) StructType(physFull.fields :+ rowIdx) else physFull
    // the eqdel-masked path needs the KEY VALUE per row even when the
    // projection pruned it — append it (physical name) before the
    // generated row index; the reader projects both away
    val wanted =
      if (withRowIndex)
        StructType(GraftTable.physicalSchema(required).fields ++
          extraKey.toSeq :+ rowIdx)
      else GraftTable.physicalSchema(required)
    val index = new ManifestFileIndex(spark,
      new org.apache.hadoop.fs.Path(root), statuses, dataSchema)
    val sb = new GraftParquetScanBuilder(spark, index, dataSchema,
      CaseInsensitiveStringMap.empty())
    sb.pruneColumns(wanted)
    // the masked path pushes nothing (row-group pruning is a pure
    // optimization; the masked subset is deleted-rows-sized anyway)
    if (!withRowIndex)
      sb.pushSourceFilters(filters.filter(
        _.references.forall(r => !renamed.contains(r))))
    sb.build()
  }

  /** Spark's parquet scan over the CLEAN pruned file set, built once
    * per (scan instance, runtime-filter state) — invalidated with
    * [[prunedFiles]]. */
  @transient private var parquetScanCache
    : org.apache.spark.sql.execution.datasources.v2.FileScan = null
  private def cleanFiles = prunedFiles.filter(t =>
    t._2.isEmpty && !appliesEq(t._1))
  private def dvOnlyFiles = prunedFiles.filter(t =>
    t._2.nonEmpty && !appliesEq(t._1))
  private def eqMaskedFiles = prunedFiles.filter(t => appliesEq(t._1))

  private def parquetScan
    : org.apache.spark.sql.execution.datasources.v2.FileScan =
    synchronized {
      if (parquetScanCache == null)
        parquetScanCache = buildParquetScan(SparkSession.active,
          cleanFiles.map(_._1), withRowIndex = false)
      parquetScanCache
    }

  /** The masked scan over DV'd files (None when the snapshot has no
    * DVs — zero overhead on the common path). */
  @transient private var dvScanCache
    : Option[org.apache.spark.sql.execution.datasources.v2.FileScan] = None
  @transient private var dvScanBuilt: Boolean = false
  private def dvScan
    : Option[org.apache.spark.sql.execution.datasources.v2.FileScan] =
    synchronized {
      if (!dvScanBuilt) {
        val dvd = dvOnlyFiles
        dvScanCache =
          if (dvd.isEmpty) None
          else Some(buildParquetScan(SparkSession.active, dvd.map(_._1),
            withRowIndex = true))
        dvScanBuilt = true
      }
      dvScanCache
    }

  /** The key-masked scan over files a pending EQUALITY DELETE applies
    * to (None when no eqdel pends — the common case). Reads with the
    * row index AND (when pruned away) the key column appended; the
    * reader drops rows whose key the pending set retired after the
    * file's birth version, then rows the file's own DV masks. */
  @transient private var eqScanCache
    : Option[org.apache.spark.sql.execution.datasources.v2.FileScan] = None
  @transient private var eqScanBuilt: Boolean = false
  private def eqScan
    : Option[org.apache.spark.sql.execution.datasources.v2.FileScan] =
    synchronized {
      if (!eqScanBuilt) {
        val eqd = eqMaskedFiles
        eqScanCache =
          if (eqd.isEmpty) None
          else Some(buildParquetScan(SparkSession.active, eqd.map(_._1),
            withRowIndex = true,
            extraKey = if (eqKeyInfo._3) Some(eqKeyInfo._1) else None))
        eqScanBuilt = true
      }
      eqScanCache
    }

  private def hconfMap: Map[String, String] = {
    val it = SparkSession.active.sparkContext.hadoopConfiguration.iterator()
    val b = Map.newBuilder[String, String]
    while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue) }
    b.result()
  }

  // ---- STORAGE-PARTITIONED JOIN (SupportsReportPartitioning) -------
  //
  // A hash-layout table's files are mono-bucket by construction
  // ([[GraftTable.writeDataFiles]]), so the scan truthfully reports
  // `KeyGroupedPartitioning(bucket(n, key))` and wraps every split
  // with its bucket id as the partition key. Two graft tables created
  // with the same (n, hash) layout then join on their keys with ZERO
  // shuffle on either side — Spark groups same-bucket splits into one
  // task and zips the two sides bucket-by-bucket (the Iceberg SPJ
  // shape, `spark.sql.sources.v2.bucketing.enabled`). At 100 TB this
  // is the difference between exchanging both join sides across the
  // cluster every query and exchanging nothing, forever, for every
  // join on the layout's key.

  /** (bucket count, logical key column) when this scan can truthfully
    * report key-grouped partitioning: table declares a hash layout,
    * the scan is a plain data read (no served aggregate; branch heads
    * keep the layout too but stay conservative — their scans are
    * maintenance-sized), and the key survives the projection (Spark
    * must resolve `bucket(n, key)` against the scan's own output). */
  @transient private lazy val spjInfo: Option[(Int, String)] =
    if (pushedAgg.isDefined || branch.isDefined) None
    else {
      val spark = SparkSession.active
      GraftTable.hashLayout(spark, root, version).flatMap { n =>
        GraftTable.keyColumn(spark, root)
          .filter(k => required.fieldNames.contains(k))
          .map(k => (n, k))
      }
    }

  /** The bucket count, iff EVERY pruned file parses a bucket id — one
    * unparseable file and the scan must not report a partitioning it
    * can't prove. Recomputed against the current pruned set (runtime
    * filtering only ever shrinks it, so reported values stay a subset
    * of the planning-time values — the DSv2 runtime-filter contract
    * for key-grouped scans). */
  private def spjActive: Option[(Int, String)] = spjInfo.filter { _ =>
    val fs = prunedFiles
    fs.nonEmpty && fs.forall(t =>
      GraftTable.fileBucket(t._1.getPath.toUri.getPath).isDefined)
  }

  override def outputPartitioning()
    : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    spjActive match {
      case Some((n, k)) =>
        val ids = prunedFiles.flatMap(t =>
          GraftTable.fileBucket(t._1.getPath.toUri.getPath)).distinct
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(
            Array(org.apache.spark.sql.connector.expressions.Expressions
              .bucket(n, k)), ids.size)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(0)
    }

  /** Under an active hash layout, attach each split's bucket id as its
    * partition key (one wrapped partition per SPLIT — parquet's own
    * bin-packing mixes buckets, so packing is re-done by Spark's
    * key-grouping instead). No-op otherwise. */
  private def withBucketKeys(
      ps: Array[org.apache.spark.sql.connector.read.InputPartition])
    : Array[org.apache.spark.sql.connector.read.InputPartition] =
    spjActive match {
      case Some(_) => ps.flatMap {
        case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
          fp.files.zipWithIndex.map { case (pf, i) =>
            val b = GraftTable.fileBucket(pf.urlEncodedPath).getOrElse(
              throw new IllegalStateException(
                s"hash-layout file without a bucket segment: ${pf.toPath}"))
            GraftBucketedPartition(b,
              org.apache.spark.sql.execution.datasources.FilePartition(
                fp.index * 10000 + i, Array(pf)))
              : org.apache.spark.sql.connector.read.InputPartition
          }
        case dv: GraftDvPartition =>
          Array(GraftBucketedPartition(bucketOfSingle(dv.inner), dv)
            : org.apache.spark.sql.connector.read.InputPartition)
        case eq: GraftEqPartition =>
          Array(GraftBucketedPartition(bucketOfSingle(eq.inner), eq)
            : org.apache.spark.sql.connector.read.InputPartition)
        case other => Array(other)
      }
      case None => ps
    }

  private def bucketOfSingle(
      fp: org.apache.spark.sql.execution.datasources.FilePartition): Int =
    GraftTable.fileBucket(fp.files.head.urlEncodedPath).getOrElse(
      throw new IllegalStateException(
        s"hash-layout file without a bucket segment: ${fp.files.head.toPath}"))

  override def planInputPartitions()
    : Array[org.apache.spark.sql.connector.read.InputPartition] =
    pushedAgg match {
      case Some((_, values)) => Array(GraftAggPartition(values))
      case None =>
        val clean =
          if (cleanFiles.nonEmpty)
            parquetScan.toBatch.planInputPartitions()
          else Array
            .empty[org.apache.spark.sql.connector.read.InputPartition]
        val masked = dvScan.map { s =>
          val dvByName = dvOnlyFiles
            .map(t => t._1.getPath.getName -> t._2).toMap
          val hm = hconfMap
          // one wrapped partition per SPLIT (file identity must be
          // unambiguous inside a partition — the DV is per file)
          s.toBatch.planInputPartitions().flatMap {
            case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
              fp.files.zipWithIndex.map { case (pf, i) =>
                val name = pf.toPath.getName
                GraftDvPartition(
                  org.apache.spark.sql.execution.datasources.FilePartition(
                    fp.index * 10000 + i, Array(pf)),
                  dvByName(name), hm)
                  : org.apache.spark.sql.connector.read.InputPartition
              }
          }
        }.getOrElse(Array.empty[
          org.apache.spark.sql.connector.read.InputPartition])
        val eqMasked = eqScan.map { s =>
          val byName = eqMaskedFiles
            .map(t => t._1.getPath.getName -> t._2).toMap
          val hm = hconfMap
          val dirs = eqdels.map(t => (t._1, t._2))
          val (keyField, keyOrd, appended) = eqKeyInfo
          val rawStr =
            GraftTable.keyHashMode(SparkSession.active, root)
          s.toBatch.planInputPartitions().flatMap {
            case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
              fp.files.zipWithIndex.map { case (pf, i) =>
                val name = pf.toPath.getName
                GraftEqPartition(
                  org.apache.spark.sql.execution.datasources.FilePartition(
                    fp.index * 10000 + 5000 + i, Array(pf)),
                  byName(name),
                  GraftTable.addedVersion(pf.toPath.toString),
                  dirs, keyOrd, appended,
                  keyField.dataType.typeName, hm, rawStr)
                  : org.apache.spark.sql.connector.read.InputPartition
              }
          }
        }.getOrElse(Array.empty[
          org.apache.spark.sql.connector.read.InputPartition])
        withBucketKeys(clean ++ masked ++ eqMasked)
    }

  override def createReaderFactory()
    : org.apache.spark.sql.connector.read.PartitionReaderFactory =
    pushedAgg match {
      case Some(_) => new GraftAggReaderFactory
      case None =>
        val dvF = dvScan.map(_.toBatch.createReaderFactory())
        val eqF = eqScan.map(_.toBatch.createReaderFactory())
        // the clean factory also serves the no-files case (an empty
        // snapshot plans zero partitions but still needs a factory)
        val cleanF =
          if (cleanFiles.nonEmpty || (dvF.isEmpty && eqF.isEmpty))
            Some(parquetScan.toBatch.createReaderFactory())
          else None
        val inner =
          if (dvF.isEmpty && eqF.isEmpty) cleanF.get
          else new GraftDvAwareReaderFactory(cleanF, dvF, eqF,
            GraftTable.physicalSchema(required).fields.map(_.dataType))
        // bucket-keyed partitions are a transparent carrier: strip the
        // key before the underlying factory dispatches on its own
        // partition types
        if (spjActive.isDefined) new GraftBucketUnwrapFactory(inner)
        else inner
    }

  // value equality so exchange/scan reuse keys on WHAT is read, not on
  // scan object identity
  override def equals(other: Any): Boolean = other match {
    case o: GraftBatchScan =>
      root == o.root && version == o.version &&
        required == o.required && filters.toSeq == o.filters.toSeq &&
        pushedAgg == o.pushedAgg && branch == o.branch
    case _ => false
  }
  override def hashCode(): Int =
    (root, version, required, filters.toSeq, pushedAgg, branch).hashCode()
}

/** Thin subclass purely to feed already-translated source filters into
  * the protected push-down state (`pushFilters` wants resolved
  * catalyst Expressions, which a DSv2 connector downstream of Spark's
  * own translation no longer has). */
private[sources] class GraftParquetScanBuilder(spark: SparkSession,
    index: org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex,
    schema: StructType, options: CaseInsensitiveStringMap)
  extends org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder(
    spark, index, schema, schema, options) {
  def pushSourceFilters(fs: Array[Filter]): Unit = {
    pushedDataFilters = pushDataFilters(fs)
  }
}

/** One DV-masked split: a single-file [[org.apache.spark.sql.execution
  * .datasources.FilePartition]] (file identity must be unambiguous —
  * the deletion vector is per file) plus its DV sidecar path and the
  * serialized Hadoop conf the executor needs to open it. */
private[sources] case class GraftDvPartition(
    inner: org.apache.spark.sql.execution.datasources.FilePartition,
    dvPath: String, hconf: Map[String, String])
  extends org.apache.spark.sql.connector.read.InputPartition

/** One EQUALITY-DELETE-masked split: a single-file partition plus the
  * file's optional DV sidecar, its birth version, the pending eqdel
  * key directories (version, absolute dir), and where the key sits in
  * the masked scan's output (`keyOrdinal`; `keyAppended` = the key was
  * pruned from the projection and rides as an extra trailing column
  * the reader drops). */
private[sources] case class GraftEqPartition(
    inner: org.apache.spark.sql.execution.datasources.FilePartition,
    dvPath: String, addedV: Int, eqDirs: Seq[(Int, String)],
    keyOrdinal: Int, keyAppended: Boolean, keyTypeName: String,
    hconf: Map[String, String],
    // hash-ledgered (string) key: the sidecar stores the RAW key and
    // masking compares it exactly; integral keys parse to longs
    rawStringKey: Boolean)
  extends org.apache.spark.sql.connector.read.InputPartition

/** A split of a HASH-LAYOUT table, carrying its bucket id as the
  * partition key — what lets Spark group same-bucket splits of two
  * co-layout tables into one task and join them with zero shuffle
  * (storage-partitioned join). A pure transparent carrier: the reader
  * factory strips it before dispatch. */
private[sources] case class GraftBucketedPartition(bucketId: Int,
    inner: org.apache.spark.sql.connector.read.InputPartition)
  extends org.apache.spark.sql.connector.read.InputPartition
  with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bucketId))
  override def preferredLocations(): Array[String] =
    inner.preferredLocations()
}

/** Strips the [[GraftBucketedPartition]] carrier so the wrapped
  * factory dispatches on its own partition types (parquet
  * FilePartition / GraftDvPartition / GraftEqPartition) — columnar
  * capability reporting included. */
private[sources] class GraftBucketUnwrapFactory(
    inner: org.apache.spark.sql.connector.read.PartitionReaderFactory)
  extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  private def un(p: org.apache.spark.sql.connector.read.InputPartition)
    : org.apache.spark.sql.connector.read.InputPartition = p match {
    case b: GraftBucketedPartition => b.inner
    case p => p
  }
  override def createReader(
      p: org.apache.spark.sql.connector.read.InputPartition) =
    inner.createReader(un(p))
  override def createColumnarReader(
      p: org.apache.spark.sql.connector.read.InputPartition) =
    inner.createColumnarReader(un(p))
  override def supportColumnarReads(
      p: org.apache.spark.sql.connector.read.InputPartition): Boolean =
    inner.supportColumnarReads(un(p))
}

/** Executor-side cache of pending-eqdel key sets: key → newest
  * retiring version, loaded ONCE per executor per pending set (the
  * sidecar lines are `key\tversion` text, written by appendUpsert).
  * Bounded by the resolve thresholds (`graft.eqdel.maxPendingKeys`
  * default 4M ≈ 100 MB of map) — [[GraftTable.resolveEqDels]] is the
  * pressure valve, exactly like DV absorption. */
private[sources] object GraftEqKeySets {
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.HashMap[AnyRef, java.lang.Integer]]()

  /** `rawString` = hash-ledgered table: keys stay the raw sidecar
    * strings (exact masking); otherwise they parse to longs (integral
    * keys). The mode rides the cache key so two tables sharing an
    * executor can't cross contaminate. */
  def get(dirs: Seq[(Int, String)], hconf: Map[String, String],
      rawString: Boolean)
    : java.util.HashMap[AnyRef, java.lang.Integer] =
    cache.computeIfAbsent(
      (if (rawString) "s|" else "l|") + dirs.map(_._2).sorted.mkString("|"),
      _ => load(dirs, hconf, rawString))

  private def load(dirs: Seq[(Int, String)], hconf: Map[String, String],
      rawString: Boolean)
    : java.util.HashMap[AnyRef, java.lang.Integer] = {
    val c = new org.apache.hadoop.conf.Configuration(false)
    hconf.foreach { case (k, v) => c.set(k, v) }
    val m = new java.util.HashMap[AnyRef, java.lang.Integer]()
    dirs.foreach { case (_, dir) =>
      val dp = new org.apache.hadoop.fs.Path(dir)
      val fs = dp.getFileSystem(c)
      if (fs.exists(dp)) fs.listStatus(dp).foreach { st =>
        val name = st.getPath.getName
        if (st.isFile && !name.startsWith("_") && !name.startsWith(".")) {
          val in = new java.io.BufferedReader(
            new java.io.InputStreamReader(fs.open(st.getPath),
              java.nio.charset.StandardCharsets.UTF_8))
          try {
            var line = in.readLine()
            while (line != null) {
              if (line.nonEmpty) {
                val t = line.indexOf('\t')
                val k: AnyRef =
                  if (rawString) line.substring(0, t)
                  else java.lang.Long.valueOf(line.substring(0, t))
                val v = Integer.valueOf(line.substring(t + 1).trim.toInt)
                val prev = m.get(k)
                if (prev == null || v > prev) m.put(k, v)
              }
              line = in.readLine()
            }
          } finally in.close()
        }
      }
    }
    m
  }
}

/** Composite reader factory: clean splits flow untouched through
  * Spark's parquet factory (columnar and all); DV'd splits read with
  * the generated ROW-INDEX column last, drop rows whose index the
  * sidecar lists, and project the index column away. The sidecar
  * loads once per split, executor-side, into a sorted long array
  * (binary-search membership — a 1M-row DV is 8 MB).
  *
  * COLUMNAR UNDER DVs (round 14): when every projected type is
  * vector-copyable, DV'd splits serve MASKED `ColumnarBatch`es — a
  * batch containing no deleted row is re-wrapped over the same column
  * vectors minus the row-index column (ZERO copy, the overwhelmingly
  * common case for a sparse DV); a batch with deletions copies only
  * its survivors into fresh on-heap vectors. The whole scan then
  * stays columnar (`ColumnarToRow` + whole-stage codegen above it)
  * with one DV'd file among thousands of clean ones — Delta's
  * columnar-DV answer. Non-copyable projections (nested types) fall
  * back to the row path for the whole scan (Spark ANDs per-partition
  * columnar support), which was round 13's behavior for everything. */
private[sources] class GraftDvAwareReaderFactory(
    clean: Option[org.apache.spark.sql.connector.read.PartitionReaderFactory],
    dv: Option[org.apache.spark.sql.connector.read.PartitionReaderFactory],
    eq: Option[org.apache.spark.sql.connector.read.PartitionReaderFactory],
    dataTypes: Array[org.apache.spark.sql.types.DataType])
  extends org.apache.spark.sql.connector.read.PartitionReaderFactory {

  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}
  import org.apache.spark.sql.types._
  import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}

  private def loadDv(d: GraftDvPartition): Array[Long] =
    loadDvPath(d.dvPath, d.hconf)

  private def loadDvPath(dvPath: String,
      hconf: Map[String, String]): Array[Long] = {
    val c = new org.apache.hadoop.conf.Configuration(false)
    hconf.foreach { case (k, v) => c.set(k, v) }
    val hp = new org.apache.hadoop.fs.Path(dvPath)
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(hp.getFileSystem(c).open(hp),
        java.nio.charset.StandardCharsets.UTF_8))
    try {
      val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
      var line = in.readLine()
      while (line != null) {
        if (line.nonEmpty) buf += line.toLong
        line = in.readLine()
      }
      val a = buf.toArray
      java.util.Arrays.sort(a)
      a
    } finally in.close()
  }

  /** Types the survivor-copy path can write into a fresh vector. */
  private val columnarCopyable: Boolean = dataTypes.forall {
    case BooleanType | ByteType | ShortType | IntegerType | DateType |
         LongType | TimestampType | TimestampNTZType | FloatType |
         DoubleType | StringType | BinaryType => true
    case _: DecimalType => true
    case _ => false
  }

  override def supportColumnarReads(p: InputPartition): Boolean =
    // Spark REQUIRES one uniform answer across a scan's partitions
    // (DataSourceV2ScanExecBase refuses a mix): when any eqdel-masked
    // split is present the whole scan reads row-wise — the key lookup
    // per row is a hash probe either way, and the pending window is
    // transient by design (resolveEqDels restores the columnar plan)
    if (eq.isDefined) false
    else p match {
      case d: GraftDvPartition =>
        columnarCopyable && dv.exists(_.supportColumnarReads(d.inner))
      case other => clean.exists(_.supportColumnarReads(other))
    }

  private def copyValue(dt: DataType, from: ColumnVector, row: Int,
      to: org.apache.spark.sql.execution.vectorized.WritableColumnVector,
      o: Int): Unit =
    if (from.isNullAt(row)) to.putNull(o)
    else dt match {
      case BooleanType => to.putBoolean(o, from.getBoolean(row))
      case ByteType => to.putByte(o, from.getByte(row))
      case ShortType => to.putShort(o, from.getShort(row))
      case IntegerType | DateType => to.putInt(o, from.getInt(row))
      case LongType | TimestampType | TimestampNTZType =>
        to.putLong(o, from.getLong(row))
      case FloatType => to.putFloat(o, from.getFloat(row))
      case DoubleType => to.putDouble(o, from.getDouble(row))
      case StringType =>
        val b = from.getUTF8String(row).getBytes
        to.putByteArray(o, b, 0, b.length): Unit
      case BinaryType =>
        val b = from.getBinary(row)
        to.putByteArray(o, b, 0, b.length): Unit
      case d: DecimalType =>
        to.putDecimal(o, from.getDecimal(row, d.precision, d.scale),
          d.precision)
      case other => throw new UnsupportedOperationException(
        s"unreachable: $other is guarded by columnarCopyable")
    }

  override def createColumnarReader(p: InputPartition)
    : PartitionReader[ColumnarBatch] = p match {
    case d: GraftDvPartition =>
      val inner = dv.get.createColumnarReader(d.inner)
      new PartitionReader[ColumnarBatch] {
        private lazy val deleted: Array[Long] = loadDv(d)
        private var cur: ColumnarBatch = _
        override def next(): Boolean = {
          if (!inner.next()) return false
          val b = inner.get()
          val n = b.numRows()
          val idxCol = b.column(dataTypes.length) // trailing row index
          val keep = new Array[Boolean](n)
          var kept = 0
          var i = 0
          while (i < n) {
            keep(i) = java.util.Arrays
              .binarySearch(deleted, idxCol.getLong(i)) < 0
            if (keep(i)) kept += 1
            i += 1
          }
          val dataCols =
            Array.tabulate[ColumnVector](dataTypes.length)(b.column)
          cur =
            if (kept == n) // no deletion in this batch: ZERO-copy rewrap
              new ColumnarBatch(dataCols, n)
            else {
              val out = dataTypes.map(dt =>
                new org.apache.spark.sql.execution.vectorized
                  .OnHeapColumnVector(math.max(1, kept), dt))
              var o = 0
              i = 0
              while (i < n) {
                if (keep(i)) {
                  var c = 0
                  while (c < dataTypes.length) {
                    copyValue(dataTypes(c), dataCols(c), i, out(c), o)
                    c += 1
                  }
                  o += 1
                }
                i += 1
              }
              new ColumnarBatch(out.map(v => v: ColumnVector), kept)
            }
          true
        }
        override def get(): ColumnarBatch = cur
        override def close(): Unit = inner.close()
      }
    case other => clean.get.createColumnarReader(other)
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case ep: GraftEqPartition =>
        val inner = eq.get.createReader(ep.inner)
        new PartitionReader[InternalRow] {
          private lazy val deleted: Array[Long] =
            if (ep.dvPath.isEmpty) Array.emptyLongArray
            else loadDvPath(ep.dvPath, ep.hconf)
          private lazy val keys =
            GraftEqKeySets.get(ep.eqDirs, ep.hconf, ep.rawStringKey)
          // output width = required ++ (appended key?) ++ row index
          private val width =
            dataTypes.length + (if (ep.keyAppended) 1 else 0) + 1
          private val idxOrd = width - 1
          private lazy val proj =
            org.apache.spark.sql.catalyst.expressions.UnsafeProjection
              .create(dataTypes.zipWithIndex.map { case (dt, i) =>
                org.apache.spark.sql.catalyst.expressions
                  .BoundReference(i, dt, nullable = true)
                  : org.apache.spark.sql.catalyst.expressions.Expression
              }.toSeq)
          private def keyOf(r: InternalRow): AnyRef =
            if (r.isNullAt(ep.keyOrdinal)) null
            else if (ep.rawStringKey)
              // hash-ledgered table: compare the RAW string key (the
              // sidecar stores it verbatim — exact masking, never a
              // hash that could retire a colliding innocent row)
              r.getUTF8String(ep.keyOrdinal).toString
            else ep.keyTypeName match {
              case "long" => java.lang.Long.valueOf(r.getLong(ep.keyOrdinal))
              case "integer" | "date" =>
                java.lang.Long.valueOf(r.getInt(ep.keyOrdinal).toLong)
              case "short" =>
                java.lang.Long.valueOf(r.getShort(ep.keyOrdinal).toLong)
              case "byte" =>
                java.lang.Long.valueOf(r.getByte(ep.keyOrdinal).toLong)
              case other => throw new UnsupportedOperationException(
                s"eqdel masking over a '$other'-typed key")
            }
          private var cur: InternalRow = _
          override def next(): Boolean = {
            while (inner.next()) {
              val r = inner.get()
              val alive =
                (deleted.length == 0 ||
                  java.util.Arrays.binarySearch(
                    deleted, r.getLong(idxOrd)) < 0) && {
                  val k = keyOf(r)
                  k == null || {
                    val v = keys.get(k)
                    v == null || v <= ep.addedV
                  }
                }
              if (alive) { cur = proj(r); return true }
            }
            false
          }
          override def get(): InternalRow = cur
          override def close(): Unit = inner.close()
        }
      case d: GraftDvPartition =>
        val inner = dv.get.createReader(d.inner)
        new PartitionReader[InternalRow] {
          private lazy val deleted: Array[Long] = loadDv(d)
          // project the trailing row-index column away — a codegen'd
          // UnsafeProjection over ordinals 0..n-1 (exactly the clean
          // scan's output shape); the result buffer is reused per row,
          // the standard reader contract (consumers copy to buffer)
          private lazy val proj =
            org.apache.spark.sql.catalyst.expressions.UnsafeProjection
              .create(dataTypes.zipWithIndex.map { case (dt, i) =>
                org.apache.spark.sql.catalyst.expressions
                  .BoundReference(i, dt, nullable = true)
                  : org.apache.spark.sql.catalyst.expressions.Expression
              }.toSeq)
          private var cur: InternalRow = _
          override def next(): Boolean = {
            while (inner.next()) {
              val r = inner.get()
              val idx = r.getLong(dataTypes.length)
              if (java.util.Arrays.binarySearch(deleted, idx) < 0) {
                cur = proj(r)
                return true
              }
            }
            false
          }
          override def get(): InternalRow = cur
          override def close(): Unit = inner.close()
        }
      case other => clean.get.createReader(other)
    }
}

/** Iceberg-style METADATA TABLES over a graft table, served entirely
  * from the log — `SELECT * FROM cat.t\$files / t\$history / t\$tags`:
  *
  *  - `\$files`:   (file, min_key, max_key, n_rows, n_bytes) of the
  *                 snapshot — what OPTIMIZE planning, skew audits, and
  *                 small-file reports query;
  *  - `\$history`: (version, committed_at millis, n_files, n_rows) —
  *                 the commit log (instants from the durable manifest
  *                 header);
  *  - `\$tags`:    (tag, version) named refs.
  *
  * Execution is a DSv2 [[org.apache.spark.sql.connector.read
  * .LocalScan]]: the rows ARE driver metadata (file counts, never
  * data), so a metadata query costs manifest reads only — no executor
  * launch, no data I/O. `VERSION AS OF` composes (`t\$files VERSION AS
  * OF 2` lists that snapshot's ledger). */
class GraftMetaTable(root: String, kind: String, version: Int)
  extends Table with SupportsRead {
  import org.apache.spark.sql.types._

  override def name(): String = s"graft.`$root`$$$kind"

  override def schema(): StructType = kind match {
    case "files" => StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("min_key", LongType, nullable = false),
      StructField("max_key", LongType, nullable = false),
      StructField("n_rows", LongType, nullable = false),
      StructField("n_bytes", LongType, nullable = false)))
    case "history" => StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("committed_at", LongType, nullable = false),
      StructField("n_files", LongType, nullable = false),
      StructField("n_rows", LongType, nullable = false)))
    case "tags" => StructType(Seq(
      StructField("tag", StringType, nullable = false),
      StructField("version", LongType, nullable = false)))
    case "branches" => StructType(Seq(
      StructField("branch", StringType, nullable = false),
      StructField("base_version", LongType, nullable = false),
      StructField("head_branch_version", LongType, nullable = false)))
    case "properties" => StructType(Seq(
      StructField("property", StringType, nullable = false),
      StructField("value", StringType, nullable = false)))
    case other => throw new IllegalArgumentException(
      s"unknown graft metadata table '$$$other' " +
        "(files, history, tags, branches, properties)")
  }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan =
        new org.apache.spark.sql.connector.read.LocalScan {
          override def readSchema(): StructType = schema()
          override def description(): String = name()
          override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] = {
            import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
            import org.apache.spark.unsafe.types.UTF8String
            val spark = SparkSession.active
            kind match {
              case "files" =>
                GraftTable.snapshotFileLedger(spark, root, version)
                  .sortBy(_._1)
                  .map { case (p, mn, mx, n, b) =>
                    new GenericInternalRow(Array[Any](
                      UTF8String.fromString(p), mn, mx, n, b))
                      : org.apache.spark.sql.catalyst.InternalRow
                  }.toArray
              case "history" =>
                val ts = GraftTable.commitTimestamps(spark, root).toMap
                GraftTable.history(spark, root)
                  .filter(h => h._1 <= version && ts.contains(h._1))
                  .map { case (v, nf, nr) =>
                    new GenericInternalRow(Array[Any](
                      v.toLong, ts(v), nf.toLong, nr))
                      : org.apache.spark.sql.catalyst.InternalRow
                  }.toArray
              case "branches" =>
                GraftTable.listBranches(spark, root).sorted
                  .map { b =>
                    new GenericInternalRow(Array[Any](
                      UTF8String.fromString(b),
                      GraftTable.branchBase(spark, root, b).toLong,
                      GraftTable.branchHeadVersion(spark, root, b).toLong))
                      : org.apache.spark.sql.catalyst.InternalRow
                  }.toArray
              case "properties" =>
                // declared layout surfaces as a synthetic read-only row
                // (it is a create-time physical contract, not a settable
                // property — shown so DESCRIBE-style tooling sees it)
                val layoutRow = GraftTable.hashLayout(spark, root)
                  .map(n => "graft.layout" -> s"hash($n)").toSeq
                // a materialized view's definition rows make the MV
                // self-describing: source, group, aggregates, filter,
                // and the refresh cursor (what freshness tooling and
                // the rewrite rule key on)
                val mvRows = GraftMv.defFor(spark, root).toSeq.flatMap {
                  facts =>
                    Seq("graft.mv.source" -> facts.source,
                      "graft.mv.group" -> facts.groups.map(g =>
                        if (g.isBare) g.alias
                        else s"${g.expr} AS ${g.alias}").mkString(", "),
                      "graft.mv.aggs" -> facts.aggs.map(a =>
                        if (a.kind == "count") s"count(*) AS ${a.alias}"
                        else s"${a.kind}(${a.col}) AS ${a.alias}")
                        .mkString(", "),
                      "graft.mv.lastSourceVersion" ->
                        facts.lastV.toString) ++
                      facts.filter.map("graft.mv.filter" -> _).toSeq ++
                      // star-join dims: one row per join with its own
                      // refresh cursor (a dim commit = stale too)
                      facts.joins.zipWithIndex.flatMap { case (j, i) =>
                        Seq(s"graft.mv.join.$i" ->
                          s"${j.dim} ON fk ${j.fk} = key ${j.dimKey}",
                          s"graft.mv.join.$i.lastVersion" ->
                            j.lastV.toString)
                      }
                }
                (GraftTable.tableProperties(spark, root).toSeq ++
                  layoutRow ++ mvRows)
                  .sortBy(_._1)
                  .map { case (k, v) =>
                    new GenericInternalRow(Array[Any](
                      UTF8String.fromString(k), UTF8String.fromString(v)))
                      : org.apache.spark.sql.catalyst.InternalRow
                  }.toArray
              case _ =>
                GraftTable.tags(spark, root).toSeq.sortBy(_._1)
                  .map { case (t, v) =>
                    new GenericInternalRow(Array[Any](
                      UTF8String.fromString(t), v.toLong))
                      : org.apache.spark.sql.catalyst.InternalRow
                  }.toArray
            }
          }
        }
    }
}

/** Catalog plugin mapping `graft.<name>` to a [[GraftTable]] rooted at
  * `<base>/<name>` (`base` from `spark.sql.catalog.graft.base`), with
  * `VERSION AS OF n` time travel resolving through the same manifest
  * log as `GraftTable.read(spark, root, Some(n))`.
  *
  * DDL + DML: `CREATE TABLE graft.t (...) TBLPROPERTIES ('key' = 'k')`
  * creates an empty keyed table (key defaults to the first column;
  * optional 'buckets' / 'bloom' properties mirror the Scala create
  * arguments), and `INSERT INTO graft.t SELECT ...` commits a real
  * version through [[GraftTable.upsert]] — keyed MERGE, pruned
  * copy-on-write, OCC — so SQL writers and Scala writers share one
  * commit path. Destructive ops (DROP, schema evolution, erasure)
  * stay on the explicit Scala API. */
/** The `bucket(n, key)` V2 function backing hash-layout partition
  * reporting: `pmod(xxhash64(key as long), n)` — bit-identical to the
  * write side's bucket column ([[GraftTable.writeDataFiles]], seed 42
  * is Spark's xxhash64 default). Spark resolves the scan's reported
  * `bucket` transform through the table's catalog (the Iceberg
  * FunctionCatalog shape); two scans are SPJ-compatible iff their
  * bound functions share `canonicalName`, so the name pins the hash
  * contract. */
private[sources] object GraftBucketFunction
  extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, key): pmod(xxhash64(key as long), n) — the graft " +
      "hash-layout bucket id"
  override def bind(inputType: StructType)
    : org.apache.spark.sql.connector.catalog.functions.BoundFunction = {
    require(inputType.fields.length == 2,
      s"bucket takes (numBuckets, key), got ${inputType.simpleString}")
    val keyType = inputType.fields(1).dataType
    val ok = keyType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.StringType => true
      case _ => false
    }
    require(ok,
      s"bucket key must be integral or string, got ${keyType.simpleString}")
    new org.apache.spark.sql.connector.catalog.functions
      .ScalarFunction[Integer] {
      override def inputTypes(): Array[org.apache.spark.sql.types.DataType] =
        Array(org.apache.spark.sql.types.IntegerType, keyType)
      override def resultType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.IntegerType
      override def name(): String = "bucket"
      override def canonicalName(): String = "graft.bucket"
      override def isResultNullable: Boolean = false
      override def produceResult(
          input: org.apache.spark.sql.catalyst.InternalRow): Integer =
        keyType match {
          case org.apache.spark.sql.types.StringType =>
            // the write side buckets string keys by pmod(xxhash64(s), n)
            // (hash-ledgered keys, [[GraftTable.keyHashMode]]) — same
            // hash, same modulus, bit-identical
            Integer.valueOf(java.lang.Math.floorMod(
              GraftTable.keyStatValue(input.getUTF8String(1)),
              input.getInt(0).toLong).toInt)
          case _ =>
            val n = input.getInt(0)
            val k: Long = keyType match {
              case org.apache.spark.sql.types.LongType => input.getLong(1)
              case org.apache.spark.sql.types.IntegerType =>
                input.getInt(1).toLong
              case org.apache.spark.sql.types.ShortType =>
                input.getShort(1).toLong
              case _ => input.getByte(1).toLong
            }
            Integer.valueOf(GraftTable.bucketOfKey(k, n))
        }
    }
  }
}

class GraftCatalog extends TableCatalog with StagingTableCatalog
  with FunctionCatalog {

  private var catalogName: String = _
  private var base: String = _

  /** The catalog-level function registry (`FunctionCatalog`): just
    * `bucket` — what V2ScanPartitioningAndOrdering resolves the
    * scan's reported `bucket(n, key)` transform through, the
    * load-bearing piece of the storage-partitioned join. */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty) Array(Identifier.of(namespace, "bucket"))
    else Array.empty
  override def loadFunction(ident: Identifier)
    : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name() == "bucket") GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    base = options.get("base")
    require(base != null && base.nonEmpty,
      s"set spark.sql.catalog.$name.base to the warehouse directory")
  }

  override def name(): String = catalogName

  private def rootOf(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).mkString(s"$base/", "/", "")

  private def exists(root: String): Boolean =
    GraftTable.latestVersion(SparkSession.active, root) >= 0

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val spark = SparkSession.active
    val dir = new org.apache.hadoop.fs.Path(
      (namespace.foldLeft(base)(_ + "/" + _)))
    val f = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(dir)) throw new NoSuchNamespaceException(
      catalogName +: namespace)
    f.listStatus(dir).filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => exists((namespace.foldLeft(base)(_ + "/" + _)) + "/" + n))
      .map(n => Identifier.of(namespace, n))
  }

  override def tableExists(ident: Identifier): Boolean = exists(rootOf(ident))

  /** `cat.\`t$files\`` / `cat.t.files` (Iceberg style) → the metadata
    * table over `t`, pinned at `v` (head if None). None when the
    * identifier isn't a metadata reference over an existing table. */
  private def metaTable(ident: Identifier, v: Option[Int]): Option[Table] = {
    val kinds = Set("files", "history", "tags", "branches", "properties")
    val n = ident.name()
    val dollar = n.lastIndexOf('$')
    val resolved =
      if (dollar > 0 && kinds(n.substring(dollar + 1)))
        Some((Identifier.of(ident.namespace(), n.substring(0, dollar)),
          n.substring(dollar + 1)))
      else if (kinds(n) && ident.namespace().nonEmpty)
        Some((Identifier.of(ident.namespace().init,
          ident.namespace().last), n))
      else None
    resolved.flatMap { case (baseIdent, kind) =>
      val root = rootOf(baseIdent)
      if (!exists(root)) None
      else Some(new GraftMetaTable(root, kind, v.getOrElse(
        GraftTable.latestVersion(SparkSession.active, root))))
    }
  }

  /** `cat.t.branch_<w>` / `` cat.`t$branch_<w>` `` → the writable
    * branch table over `t` (the metaTable resolution shape). None when
    * the identifier isn't a branch reference over an existing table
    * and branch. */
  private def branchTable(ident: Identifier): Option[Table] = {
    val n = ident.name()
    val dollar = n.lastIndexOf('$')
    val resolved =
      if (dollar > 0 && n.substring(dollar + 1).startsWith("branch_"))
        Some((Identifier.of(ident.namespace(), n.substring(0, dollar)),
          n.substring(dollar + 1).stripPrefix("branch_")))
      else if (n.startsWith("branch_") && ident.namespace().nonEmpty)
        Some((Identifier.of(ident.namespace().init,
          ident.namespace().last), n.stripPrefix("branch_")))
      else None
    resolved.flatMap { case (baseIdent, bname) =>
      val root = rootOf(baseIdent)
      if (!exists(root) || bname.isEmpty ||
          !GraftTable.listBranches(SparkSession.active, root).contains(bname))
        None
      else Some(new GraftBranchSqlTable(root, bname))
    }
  }

  override def loadTable(ident: Identifier): Table = {
    val root = rootOf(ident)
    if (exists(root))
      new GraftSqlTable(root,
        GraftTable.latestVersion(SparkSession.active, root))
    else branchTable(ident)
      .orElse(metaTable(ident, None))
      .getOrElse(throw new NoSuchTableException(ident))
  }

  /** `SELECT ... FROM graft.t VERSION AS OF n` — or `VERSION AS OF
    * 'tagname'`: a non-integer reference resolves through the table's
    * tags ([[GraftTable.tag]]), the Iceberg-style named ref. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val root = rootOf(ident)
    if (!exists(root)) {
      // metadata tables compose with VERSION AS OF (integer only —
      // the base table's tags are resolvable through `t$tags` itself)
      version.toIntOption.foreach(v =>
        metaTable(ident, Some(v)).foreach(t => return t))
      throw new NoSuchTableException(ident)
    }
    val v = GraftTable.resolveRef(SparkSession.active, root, version)
      .getOrElse(throw new IllegalArgumentException(
        s"graft time travel takes an integer version or a tag name; " +
          s"'$version' is neither (tags: " +
          s"${GraftTable.tags(SparkSession.active, root).keys.toSeq.sorted
            .mkString(", ")})"))
    new GraftSqlTable(root, v, writable = false)
  }

  /** `SELECT ... FROM graft.t TIMESTAMP AS OF <ts>` — Spark hands the
    * literal as MICROseconds since epoch; resolution is the largest
    * version whose manifest was committed at or before it
    * ([[GraftTable.resolveTimestamp]] over the `#commit-ts` header
    * each commit writes into its manifest). Vacuumed history is not
    * resolvable, exactly like Delta. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val root = rootOf(ident)
    if (!exists(root)) throw new NoSuchTableException(ident)
    val spark = SparkSession.active
    val millis = timestamp / 1000L
    val v = GraftTable.resolveTimestamp(spark, root, millis)
      .getOrElse {
        val earliest = GraftTable.commitTimestamps(spark, root)
          .headOption.map(_._2).getOrElse(0L)
        throw new IllegalArgumentException(
          s"no graft version at or before epoch-millis $millis " +
            s"(earliest retained commit: $earliest)")
      }
    new GraftSqlTable(root, v, writable = false)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    require(partitions.isEmpty,
      "graft tables use range bucketing by key, not partition transforms")
    val spark = SparkSession.active
    val root = rootOf(ident)
    if (exists(root)) throw new TableAlreadyExistsException(ident.toString)
    val key = Option(properties.get("key")).getOrElse(schema.fieldNames.head)
    require(schema.fieldNames.contains(key),
      s"key column '$key' is not in the table schema")
    val nBuckets = Option(properties.get("buckets")).map(_.toInt).getOrElse(8)
    val bloom = Option(properties.get("bloom"))
    // TBLPROPERTIES ('layout' = 'hash'): hash-bucket layout with
    // `buckets` buckets — the storage-partitioned-join declaration
    val hashLayout = Option(properties.get("layout")).exists { m =>
      require(m == "hash", s"unknown layout '$m' (supported: hash)")
      true
    }
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)
    GraftTable.create(spark, root, empty, key, nBuckets, bloom,
      hashLayout = hashLayout)
    new GraftSqlTable(root, 0)
  }

  /** `ALTER TABLE cat.t ADD COLUMNS (x BIGINT, …) | RENAME COLUMN a TO
    * b | DROP COLUMN c` — all METADATA-ONLY commits. Adds route onto
    * [[GraftTable.evolveAddColumns]]; rename/drop ride the format's
    * name-mode COLUMN MAPPING ([[GraftTable.renameColumn]] /
    * [[GraftTable.dropColumn]]): the parquet files keep their frozen
    * physical names, time travel across the change still resolves, and
    * a re-added name maps to a fresh physical column (tombstones).
    * Retype refuses — widening would need per-file read casts the
    * format deliberately doesn't carry. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val root = rootOf(ident)
    if (!exists(root)) throw new NoSuchTableException(ident)
    val spark = SparkSession.active
    def top(names: Array[String], what: String): String = {
      require(names.length == 1,
        s"graft $what takes top-level columns only, got " +
          names.mkString("."))
      names(0)
    }
    val added = changes.collect { case a: TableChange.AddColumn =>
      org.apache.spark.sql.types.StructField(
        top(a.fieldNames, "ADD COLUMNS"), a.dataType, nullable = true)
    }
    if (added.nonEmpty) GraftTable.evolveAddColumns(spark, root, added.toSeq)
    changes.foreach {
      case _: TableChange.AddColumn => () // applied above, as one commit
      case r: TableChange.RenameColumn =>
        GraftTable.renameColumn(spark, root,
          top(r.fieldNames, "RENAME COLUMN"), r.newName)
      case d: TableChange.DeleteColumn =>
        GraftTable.dropColumn(spark, root, top(d.fieldNames, "DROP COLUMN"))
      // SET/UNSET TBLPROPERTIES: operational knobs (DML routing,
      // maintenance policy) — metadata files, never a table version
      case p: TableChange.SetProperty =>
        GraftTable.setTableProperty(spark, root, p.property, p.value)
      case p: TableChange.RemoveProperty =>
        GraftTable.unsetTableProperty(spark, root, p.property): Unit
      case other => throw new UnsupportedOperationException(
        s"graft ALTER TABLE supports ADD COLUMNS / RENAME COLUMN / " +
          s"DROP COLUMN / SET-UNSET TBLPROPERTIES (got $other); retype " +
          "would need per-file read casts the format deliberately does " +
          "not carry")
    }
    loadTable(ident)
  }

  /** ATOMIC CTAS — `CREATE TABLE cat.t AS SELECT …`: Spark routes
    * table-plus-data creation through the staging protocol, the query
    * result lands as the table's SINGLE version-0 commit (the
    * create-if-absent manifest rename is the atomic point — no
    * empty-create + append pair, no window where readers see an empty
    * table), and a failed job's staging is torn down whole by
    * [[StagedGraftTable.abortStagedChanges]]. TBLPROPERTIES carry
    * `key` (default: first column), `buckets`, `bloom` exactly like
    * plain CREATE TABLE. */
  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    require(partitions.isEmpty,
      "graft tables use range bucketing by key, not partition transforms")
    val root = rootOf(ident)
    if (exists(root)) throw new TableAlreadyExistsException(ident.toString)
    new StagedGraftTable(root, schema, properties)
  }

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable =
    throw new UnsupportedOperationException(
      "graft REPLACE TABLE is not supported; versions are immutable " +
        "history — RESTORE or write a new table instead")

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable =
    stageReplace(ident, schema, partitions, properties)

  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException(
      "graft tables are dropped by deleting the table root")

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("graft tables cannot be renamed")
}

/** The staging half of atomic CTAS: the CTAS query's rows arrive
  * through the V1 write bridge and become the table's version-0
  * commit directly ([[GraftTable.create]] — schema, key, data files,
  * and the manifest publish in one creation); `commitStagedChanges`
  * is then a no-op (the manifest rename already was the atomic
  * point), and `abortStagedChanges` removes the whole root so a
  * failed CTAS leaves nothing behind. */
class StagedGraftTable(root: String, createSchema: StructType,
    properties: util.Map[String, String])
  extends StagedTable with SupportsWrite {

  override def name(): String = s"graft.`$root` (staged)"
  override def schema(): StructType = createSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.V1_BATCH_WRITE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): V1Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              val spark = data.sparkSession
              val key = Option(properties.get("key"))
                .getOrElse(createSchema.fieldNames.head)
              require(createSchema.fieldNames.contains(key),
                s"key column '$key' is not in the table schema")
              val nBuckets = Option(properties.get("buckets"))
                .map(_.toInt).getOrElse(8)
              val bloom = Option(properties.get("bloom"))
              val hashLayout = Option(properties.get("layout")).exists { m =>
                require(m == "hash", s"unknown layout '$m' (supported: hash)")
                true
              }
              val named = data.toDF(createSchema.fieldNames.toSeq: _*)
              GraftTable.create(spark, root, named, key, nBuckets, bloom,
                hashLayout = hashLayout)
            }
          }
      }
    }

  override def commitStagedChanges(): Unit = ()

  override def abortStagedChanges(): Unit = {
    val spark = SparkSession.active
    val p = new org.apache.hadoop.fs.Path(root)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (f.exists(p)) f.delete(p, true)
    ()
  }
}
