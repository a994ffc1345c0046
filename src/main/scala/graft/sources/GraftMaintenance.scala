package graft.sources

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.{ParseException, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{IntegerType, LongType, StructType}

/** SQL MAINTENANCE statements for the graft format — the operational
  * verbs every lakehouse ships next to its DML (Delta's `OPTIMIZE` /
  * `VACUUM`):
  *
  * {{{
  *   OPTIMIZE cat.t                        -- bin-pack small files
  *   OPTIMIZE cat.t TARGET 500000 ROWS
  *   OPTIMIZE cat.t WHERE k BETWEEN a AND b -- SCOPED compaction
  *   OPTIMIZE cat.t ZORDER BY (c1, c2)     -- space-filling-curve layout
  *   OPTIMIZE cat.t IF FRAGMENTED [RATIO r] -- small-file probe (free no-op)
  *   VACUUM cat.t                          -- sweep unreferenced files
  *   VACUUM cat.t RETAIN 5 VERSIONS
  *   VACUUM cat.t RETAIN 7 DAYS            -- durable-instant horizon
  *   COMPACT LOG '/topic' [DIRTY RATIO r]  -- broker-log key compaction
  *   ABSORB DELETES cat.t [DIRTY RATIO r]  -- DV-absorption probe
  *   RESOLVE DELETES cat.t [PENDING RATIO r] -- eqdel→DV resolution
  *   CREATE MATERIALIZED VIEW cat.mv AS
  *     SELECT g, count(*) AS n, … FROM cat.t GROUP BY g
  *   CREATE MATERIALIZED VIEW cat.mv AS            -- star-join MV
  *     SELECT dim_col, count(*) AS n, … FROM cat.fact
  *     JOIN cat.dim ON fk = dim_key [JOIN …] GROUP BY dim_col
  *   REFRESH MATERIALIZED VIEW cat.mv      -- change-feed delta refresh
  *   DROP MATERIALIZED VIEW cat.mv         -- definition + backing table
  *   CREATE BRANCH w ON cat.t              -- fork at the head
  *   FAST FORWARD cat.t FROM w             -- audited branch publish
  *   MERGE BRANCH w INTO cat.t             -- publish onto an advanced main
  *   MERGE BRANCH w INTO cat.t OVERWRITE   -- conflicted publish, branch wins
  *   DROP BRANCH w ON cat.t
  *   RESTORE cat.t TO VERSION <n | tag>    -- republish an old snapshot
  *   ALTER TABLE cat.t SET LAYOUT HASH BUCKETS n  -- bucket evolution
  * }}}
  *
  * Spark's grammar has no such statements, so they arrive through the
  * LAST extension seam the engine hadn't used: an injected PARSER
  * ([[org.apache.spark.sql.SparkSessionExtensions.injectParser]]).
  * [[GraftMaintenanceParser]] recognizes exactly these statement
  * shapes and delegates EVERYTHING else to Spark's own parser
  * untouched — zero cost and zero behavior change for normal SQL. The
  * commands resolve `cat` through the session's catalog manager and
  * refuse non-graft catalogs with guidance; execution routes onto the
  * SAME Scala-API maintenance paths, so SQL operators and Scala
  * operators share one commit/retention machinery. */
class GraftMaintenanceParser(delegate: ParserInterface)
  extends ParserInterface {

  private val Optimize =
    ("""(?is)\s*OPTIMIZE\s+([\w.`]+)""" +
      """(?:\s+TARGET\s+(\d+)\s+ROWS)?""" +
      """(?:\s+WHERE\s+([\w`]+)\s+BETWEEN\s+(-?\d+)\s+AND\s+(-?\d+))?""" +
      """(?:\s+ZORDER\s+BY\s*\(\s*([\w`]+)\s*,\s*([\w`]+)\s*\))?""" +
      """(?:\s+(IF\s+FRAGMENTED)(?:\s+RATIO\s+([0-9.]+))?)?\s*;?\s*""").r
  private val Vacuum =
    ("""(?is)\s*VACUUM\s+([\w.`]+)""" +
      """(?:\s+RETAIN\s+(\d+)\s+(VERSIONS|DAYS|HOURS))?\s*;?\s*""").r
  private val CompactLog =
    ("""(?is)\s*COMPACT\s+LOG\s+'([^']+)'""" +
      """(?:\s+DIRTY\s+RATIO\s+([0-9.]+))?\s*;?\s*""").r
  private val AbsorbDeletes =
    ("""(?is)\s*ABSORB\s+DELETES\s+([\w.`]+)""" +
      """(?:\s+DIRTY\s+RATIO\s+([0-9.]+))?\s*;?\s*""").r
  private val ResolveDeletes =
    ("""(?is)\s*RESOLVE\s+DELETES\s+([\w.`]+)""" +
      """(?:\s+PENDING\s+RATIO\s+([0-9.]+))?\s*;?\s*""").r
  private val CreateMv =
    ("""(?is)\s*CREATE\s+MATERIALIZED\s+VIEW\s+([\w.`]+)\s+AS\s+""" +
      """SELECT\s+(.+?)\s+FROM\s+([\w.`]+)""" +
      """(?:\s+WHERE\s+(.+?))?\s+GROUP\s+BY\s+(.+?)\s*;?\s*""").r
  // the STAR-JOIN MV form: FROM fact JOIN dim ON a = b [JOIN ...];
  // each ON must be one equality between the fact's foreign key and
  // the dim's recorded key (either operand order, optionally
  // qualified — the run-time resolution decides which side is which
  // from the dim's recorded key)
  private val CreateMvJoin =
    ("""(?is)\s*CREATE\s+MATERIALIZED\s+VIEW\s+([\w.`]+)\s+AS\s+""" +
      """SELECT\s+(.+?)\s+FROM\s+([\w.`]+)""" +
      """((?:\s+JOIN\s+[\w.`]+\s+ON\s+[\w.`]+\s*=\s*[\w.`]+)+)""" +
      """(?:\s+WHERE\s+(.+?))?\s+GROUP\s+BY\s+(.+?)\s*;?\s*""").r
  private val JoinSeg =
    """(?is)JOIN\s+([\w.`]+)\s+ON\s+([\w.`]+)\s*=\s*([\w.`]+)""".r
  private val RefreshMv =
    """(?is)\s*REFRESH\s+MATERIALIZED\s+VIEW\s+([\w.`]+)\s*;?\s*""".r
  private val DropMv =
    """(?is)\s*DROP\s+MATERIALIZED\s+VIEW\s+([\w.`]+)\s*;?\s*""".r
  private val MergeBranch =
    ("""(?is)\s*MERGE\s+BRANCH\s+([A-Za-z][\w.-]*)\s+INTO\s+([\w.`]+)""" +
      """(?:\s+(OVERWRITE))?\s*;?\s*""").r
  private val AlterLayout =
    ("""(?is)\s*ALTER\s+TABLE\s+([\w.`]+)\s+SET\s+LAYOUT\s+HASH\s+""" +
      """BUCKETS\s+(\d+)\s*;?\s*""").r
  private val CreateBranch =
    """(?is)\s*CREATE\s+BRANCH\s+([A-Za-z][\w.-]*)\s+ON\s+([\w.`]+)\s*;?\s*""".r
  private val DropBranch =
    """(?is)\s*DROP\s+BRANCH\s+([A-Za-z][\w.-]*)\s+ON\s+([\w.`]+)\s*;?\s*""".r
  private val FastForward =
    """(?is)\s*FAST\s*FORWARD\s+([\w.`]+)\s+FROM\s+([A-Za-z][\w.-]*)\s*;?\s*""".r
  private val Restore =
    """(?is)\s*RESTORE\s+([\w.`]+)\s+TO\s+VERSION\s+([\w.-]+)\s*;?\s*""".r

  private def parts(ident: String): Seq[String] =
    ident.split('.').toSeq.map(_.stripPrefix("`").stripSuffix("`"))

  override def parsePlan(sqlText: String): LogicalPlan = sqlText match {
    case Optimize(ident, target, wcol, wlo, whi, z1, z2, ifFrag, fragRatio) =>
      GraftOptimizeCommand(parts(ident),
        Option(target).map(_.toLong).getOrElse(1000000L),
        (Option(z1), Option(z2)) match {
          case (Some(a), Some(b)) => Some((a, b))
          case _ => None
        },
        Option(wcol).map(c =>
          (c.stripPrefix("`").stripSuffix("`"), wlo.toLong, whi.toLong)),
        ifFragmented = ifFrag != null,
        fragRatio = Option(fragRatio).map(_.toDouble))
    case Vacuum(ident, retain, unit) =>
      (Option(retain), Option(unit).map(_.toUpperCase)) match {
        case (Some(n), Some("DAYS")) =>
          GraftVacuumCommand(parts(ident), Right(n.toLong * 86400000L))
        case (Some(n), Some("HOURS")) =>
          GraftVacuumCommand(parts(ident), Right(n.toLong * 3600000L))
        case (Some(n), _) =>
          GraftVacuumCommand(parts(ident), Left(n.toInt))
        case _ => GraftVacuumCommand(parts(ident), Left(3))
      }
    case CompactLog(dir, ratio) =>
      GraftCompactLogCommand(dir,
        Option(ratio).map(_.toDouble).getOrElse(0.5))
    case AbsorbDeletes(ident, ratio) =>
      GraftAbsorbCommand(parts(ident), Option(ratio).map(_.toDouble))
    case ResolveDeletes(ident, ratio) =>
      GraftResolveCommand(parts(ident), Option(ratio).map(_.toDouble))
    case CreateMvJoin(mvIdent, selectList, factIdent, joinText, where,
        groupBy) =>
      val (groups, aggs) =
        GraftMaintenance.parseMvDef(selectList, groupBy)
      val dims = JoinSeg.findAllMatchIn(joinText).map { m =>
        def lastSeg(x: String) = x.split('.')
          .last.stripPrefix("`").stripSuffix("`")
        (parts(m.group(1)), lastSeg(m.group(2)), lastSeg(m.group(3)))
      }.toSeq
      GraftMvCreateCommand(parts(mvIdent), parts(factIdent),
        groups, aggs, Option(where).map(_.trim), dims)
    case CreateMv(mvIdent, selectList, srcIdent, where, groupBy) =>
      val (groups, aggs) =
        GraftMaintenance.parseMvDef(selectList, groupBy)
      GraftMvCreateCommand(parts(mvIdent), parts(srcIdent),
        groups, aggs, Option(where).map(_.trim))
    case RefreshMv(ident) =>
      GraftMvRefreshCommand(parts(ident))
    case DropMv(ident) =>
      GraftMvDropCommand(parts(ident))
    case MergeBranch(name, ident, overwrite) =>
      GraftBranchCommand(parts(ident), name,
        if (overwrite != null) "merge-overwrite" else "merge")
    case AlterLayout(ident, n) =>
      GraftRebucketCommand(parts(ident), n.toInt)
    case CreateBranch(name, ident) =>
      GraftBranchCommand(parts(ident), name, "create")
    case DropBranch(name, ident) =>
      GraftBranchCommand(parts(ident), name, "drop")
    case FastForward(ident, name) =>
      GraftBranchCommand(parts(ident), name, "fastforward")
    case Restore(ident, ref) =>
      GraftRestoreCommand(parts(ident), ref)
    case _ => delegate.parsePlan(sqlText)
  }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String)
    : org.apache.spark.sql.types.DataType = delegate.parseDataType(sqlText)
}

private[sources] object GraftMaintenance {
  /** Resolve `cat.ns….table` to the graft table root via the session's
    * registered [[GraftCatalog]]; refuse anything else with guidance. */
  def rootOf(spark: SparkSession, parts: Seq[String],
      verb: String): String = {
    require(parts.length >= 2,
      s"$verb takes a catalog-qualified graft table (cat.t), got " +
        parts.mkString("."))
    val base = Option(spark.conf.getOption(
      s"spark.sql.catalog.${parts.head}.base").orNull).getOrElse(
      throw new IllegalArgumentException(
        s"$verb target must live in a graft catalog " +
          s"(spark.sql.catalog.${parts.head} is not configured)"))
    val cls = spark.conf.getOption(s"spark.sql.catalog.${parts.head}")
    require(cls.contains(classOf[GraftCatalog].getName),
      s"$verb supports graft catalog tables only; " +
        s"'${parts.head}' is ${cls.getOrElse("unset")}")
    (parts.tail.foldLeft(base)(_ + "/" + _))
  }

  def keyOf(spark: SparkSession, root: String, verb: String): String =
    GraftTable.keyColumn(spark, root).getOrElse(throw new IllegalStateException(
      s"$verb: table at $root records no key column"))

  /** Canonical form of a grain transform expression: whitespace
    * stripped, function name lowercased — so `DAYS( ts )` in GROUP BY
    * matches `days(ts) AS day` in the select list and round-trips
    * [[PartitionTransform.parse]]. */
  private def normalizeGrain(e: String): String = {
    val s = e.replaceAll("\\s+", "")
    val i = s.indexOf('(')
    if (i <= 0) s else s.substring(0, i).toLowerCase + s.substring(i)
  }

  /** Split a select-list / GROUP BY fragment on TOP-LEVEL commas only
    * (paren-depth counting): `truncate(4, c), count(*) AS n` is two
    * entries, not three — a bare `split(',')` would cut the
    * advertised `truncate(w,col)` / `bucket(n,col)` grains
    * mid-expression and make the documented grammar unreachable. */
  private def splitTopLevel(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    s.foreach {
      case '(' => depth += 1; cur += '('
      case ')' => depth -= 1; cur += ')'
      case ',' if depth == 0 => out += cur.result(); cur.clear()
      case c => cur += c
    }
    out += cur.result()
    out.result()
  }

  /** Parse the constrained MV definition: GROUP BY entries (bare
    * columns and `days(ts)`-style grains — grains must appear in the
    * select list with an alias) plus `count(*|1) AS a` /
    * `sum|min|max|avg(col) AS a` aggregate items — the shapes
    * [[GraftMv]] maintains incrementally. Anything else refuses with
    * the supported grammar (an MV that silently dropped an expression
    * would serve wrong answers forever). */
  def parseMvDef(selectList: String, groupBy: String)
    : (Seq[MvGroup], Seq[MvAgg]) = {
    val gEntries = splitTopLevel(groupBy).map(
      _.trim.stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty).toSeq
    require(gEntries.nonEmpty, "CREATE MATERIALIZED VIEW needs GROUP BY")
    val bare = gEntries.filter(_.matches("""\w+""")).toSet
    val CountItem = """(?i)count\s*\(\s*(?:\*|1)\s*\)\s+AS\s+(\w+)""".r
    val AggItem =
      """(?i)(sum|min|max|avg)\s*\(\s*`?(\w+)`?\s*\)\s+AS\s+(\w+)""".r
    val GrainItem =
      ("""(?i)((?:days|months|years)\s*\(\s*\w+\s*\)|""" +
        """truncate\s*\(\s*\d+\s*,\s*\w+\s*\)|""" +
        """bucket\s*\(\s*\d+\s*,\s*\w+\s*\))\s+AS\s+(\w+)""").r
    val GroupItem = """`?(\w+)`?""".r
    val grainAlias = scala.collection.mutable.LinkedHashMap[String, String]()
    val aggs = splitTopLevel(selectList).map(_.trim).flatMap {
      case GrainItem(expr, alias) =>
        grainAlias += normalizeGrain(expr) -> alias; None
      case CountItem(alias) => Some(MvAgg("count", "", alias))
      case AggItem(kind, c, alias) => Some(MvAgg(kind.toLowerCase, c, alias))
      case GroupItem(g) if bare.contains(g) => None // a group column
      case other => throw new IllegalArgumentException(
        s"CREATE MATERIALIZED VIEW: unsupported select item '$other' — " +
          "supported: the GROUP BY columns, days|months|years(col) AS a " +
          "(when grouped by the same grain), count(*) AS a, " +
          "sum(col) AS a, min(col) AS a, max(col) AS a, avg(col) AS a")
    }
    val groups = gEntries.map { e =>
      if (e.matches("""\w+""")) MvGroup(e, e)
      else {
        val n = normalizeGrain(e)
        grainAlias.get(n) match {
          case Some(alias) => MvGroup(alias, n)
          case None => throw new IllegalArgumentException(
            s"CREATE MATERIALIZED VIEW: grain group '$e' must appear " +
              "in the select list with an alias (e.g. days(ts) AS day)")
        }
      }
    }
    (groups, aggs)
  }
}

/** `OPTIMIZE cat.t [TARGET n ROWS] [ZORDER BY (c1, c2)]` — bin-pack
  * (or curve-layout) through the Scala API's commit machinery. */
case class GraftOptimizeCommand(parts: Seq[String], targetRows: Long,
    zorder: Option[(String, String)],
    range: Option[(String, Long, Long)] = None,
    ifFragmented: Boolean = false,
    fragRatio: Option[Double] = None) extends LeafRunnableCommand {

  override def output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("files_rewritten", IntegerType, nullable = false)(),
    AttributeReference("files_carried", IntegerType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = GraftMaintenance.rootOf(spark, parts, "OPTIMIZE")
    val key = GraftMaintenance.keyOf(spark, root, "OPTIMIZE")
    // WHERE col BETWEEN lo AND hi — SCOPED compaction: only files
    // whose key interval intersects the range rewrite (the
    // maintain-yesterday's-span verb at 100 TB). Key column only —
    // the manifest's skipping dimension — and incompatible with
    // ZORDER (a whole-table layout).
    val keyRange = range.map { case (c, lo, hi) =>
      require(c == key,
        s"OPTIMIZE ... WHERE supports the key column '$key' only " +
          s"(got '$c') — the manifest skips on key intervals")
      require(zorder.isEmpty,
        "OPTIMIZE ZORDER BY is a whole-table layout; drop the WHERE " +
          "range or the ZORDER clause")
      (lo, hi)
    }
    zorder match {
      case Some((c1, c2)) =>
        require(!ifFragmented,
          "OPTIMIZE ... IF FRAGMENTED is the bin-pack probe; drop the " +
            "ZORDER clause")
        val (v, written) =
          GraftTable.optimizeZOrder(spark, root, key, c1, c2, targetRows)
        Seq(Row(v.toLong, written, 0))
      case None if ifFragmented =>
        // `IF FRAGMENTED [RATIO r]`: the small-file probe — one
        // manifest listing; under-ratio tables no-op for free (the
        // ABSORB DELETES / COMPACT LOG idiom)
        require(keyRange.isEmpty,
          "OPTIMIZE ... IF FRAGMENTED probes the whole table; drop " +
            "the WHERE range or the IF FRAGMENTED clause")
        GraftTable.optimizeIfFragmented(spark, root, key, targetRows,
            fragRatio) match {
          case Some((v, rewritten, carried)) =>
            Seq(Row(v.toLong, rewritten, carried))
          case None =>
            Seq(Row(GraftTable.latestVersion(spark, root).toLong, 0, 0))
        }
      case None =>
        val (v, rewritten, carried) =
          GraftTable.optimize(spark, root, key, targetRows,
            keyRange = keyRange)
        Seq(Row(v.toLong, rewritten, carried))
    }
  }
}

/** `COMPACT LOG '<topicDir>' [DIRTY RATIO r]` — key-compact a broker
  * log topic's partitions whose eligible run is dirtier than `r`
  * (default 0.5, Kafka's `min.cleanable.dirty.ratio` shape) — the SQL
  * maintenance verb next to OPTIMIZE/VACUUM that closes the
  * compacted-topic operational loop. The probe is a pure listing;
  * under-ratio topics no-op for free. */
case class GraftCompactLogCommand(dir: String, minDirtyRatio: Double)
  extends LeafRunnableCommand {

  override def output: Seq[Attribute] = Seq(
    AttributeReference("partitions_compacted", IntegerType,
      nullable = false)(),
    AttributeReference("files_removed", IntegerType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val (parts, removed) =
      graft.streaming.GraftLog.compactIfDirty(spark, dir, minDirtyRatio)
    Seq(Row(parts, removed))
  }
}

/** `ABSORB DELETES cat.t [DIRTY RATIO r]` — the table-side
  * DV-absorption probe ([[GraftTable.absorbDvsIfDirty]]): a pure
  * manifest listing compares the table's dirty ratio (DV'd rows /
  * physical rows) against `r`, the `graft.dv.maxTableDirtyRatio`
  * property, or the 0.2 default, and rewrites ONLY the DV'd files
  * when over — the scheduled verb that bounds merge-on-read read
  * debt without anyone remembering to OPTIMIZE. Under-ratio tables
  * no-op for free (fired = 0, version unchanged). */
case class GraftAbsorbCommand(parts: Seq[String],
    ratio: Option[Double]) extends LeafRunnableCommand {

  override def output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("fired", IntegerType, nullable = false)(),
    AttributeReference("files_absorbed", IntegerType, nullable = false)(),
    AttributeReference("files_carried", IntegerType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = GraftMaintenance.rootOf(spark, parts, "ABSORB DELETES")
    val key = GraftMaintenance.keyOf(spark, root, "ABSORB DELETES")
    GraftTable.absorbDvsIfDirty(spark, root, key, ratio) match {
      case Some((v, absorbed, carried)) =>
        Seq(Row(v.toLong, 1, absorbed, carried))
      case None =>
        Seq(Row(GraftTable.latestVersion(spark, root).toLong, 0, 0, 0))
    }
  }
}

/** `RESOLVE DELETES cat.t [PENDING RATIO r]` — equality-delete
  * resolution ([[GraftTable.resolveEqDels]]): pending key sets from
  * append-only upserts convert to position deletion vectors in one
  * interval-pruned pass (the deferred read the eqdel ingest never
  * paid). Without a ratio it resolves unconditionally; with
  * `PENDING RATIO r` it is the scheduled probe
  * ([[GraftTable.resolveEqDelsIfPending]]) — under-threshold tables
  * no-op for free. */
case class GraftResolveCommand(parts: Seq[String],
    ratio: Option[Double]) extends LeafRunnableCommand {

  override def output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("fired", IntegerType, nullable = false)(),
    AttributeReference("files_touched", IntegerType, nullable = false)(),
    AttributeReference("keys_resolved", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = GraftMaintenance.rootOf(spark, parts, "RESOLVE DELETES")
    val key = GraftMaintenance.keyOf(spark, root, "RESOLVE DELETES")
    ratio match {
      case Some(_) =>
        GraftTable.resolveEqDelsIfPending(spark, root, key, ratio) match {
          case Some((v, touched, keys)) => Seq(Row(v.toLong, 1, touched, keys))
          case None => Seq(Row(
            GraftTable.latestVersion(spark, root).toLong, 0, 0, 0L))
        }
      case None =>
        val (v, touched, keys) = GraftTable.resolveEqDels(spark, root, key)
        Seq(Row(v.toLong, 1, touched, keys))
    }
  }
}

/** `CREATE MATERIALIZED VIEW cat.mv AS SELECT g, aggs… FROM cat.t
  * GROUP BY g` — defines + fully builds a [[GraftMv]]. The MV is an
  * ordinary graft table under the same catalog: `SELECT * FROM
  * cat.mv` works immediately, with the bookkeeping columns visible
  * (SQL surfaces the physical table; [[GraftMv.read]] hides them). */
case class GraftMvCreateCommand(mvParts: Seq[String],
    srcParts: Seq[String], groups: Seq[MvGroup], aggs: Seq[MvAgg],
    filter: Option[String] = None,
    // star-join dims: (dim table parts, ON's two column names — the
    // dim's recorded key decides which side is the fact's fk)
    dims: Seq[(Seq[String], String, String)] = Seq.empty)
  extends LeafRunnableCommand {

  override def output: Seq[Attribute] = Seq(
    AttributeReference("source_version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val mvRoot = GraftMaintenance.rootOf(spark, mvParts,
      "CREATE MATERIALIZED VIEW")
    val srcRoot = GraftMaintenance.rootOf(spark, srcParts,
      "CREATE MATERIALIZED VIEW")
    if (dims.isEmpty)
      Seq(Row(GraftMv.createGrouped(spark, mvRoot, srcRoot, groups, aggs,
        filter = filter).toLong))
    else {
      val resolved = dims.map { case (dimParts, c1, c2) =>
        val dimRoot = GraftMaintenance.rootOf(spark, dimParts,
          "CREATE MATERIALIZED VIEW")
        val dimKey = GraftTable.keyColumn(spark, dimRoot).getOrElse(
          throw new IllegalArgumentException(
            s"star-join MV dim at $dimRoot records no key column"))
        val fk =
          if (c1 == dimKey) c2
          else if (c2 == dimKey) c1
          else throw new IllegalArgumentException(
            s"star-join MV: ON $c1 = $c2 must equate the fact's " +
              s"foreign key with dim key '$dimKey' of $dimRoot")
        dimRoot -> fk
      }
      Seq(Row(GraftMv.createJoined(spark, mvRoot, srcRoot, resolved,
        groups, aggs, filter = filter).toLong))
    }
  }
}

/** `REFRESH MATERIALIZED VIEW cat.mv` — advance the MV to its
  * source's head by change-feed delta ([[GraftMv.refresh]]). */
case class GraftMvRefreshCommand(parts: Seq[String])
  extends LeafRunnableCommand {

  override def output: Seq[Attribute] = Seq(
    AttributeReference("source_version", LongType, nullable = false)(),
    AttributeReference("dirty_groups", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = GraftMaintenance.rootOf(spark, parts,
      "REFRESH MATERIALIZED VIEW")
    val (v, dirty) = GraftMv.refresh(spark, root)
    Seq(Row(v.toLong, dirty))
  }
}

/** `DROP MATERIALIZED VIEW cat.mv` — remove the MV: its definition,
  * refresh cursor, and backing graft table (log + data). Refuses on a
  * plain table (no MV definition file) — dropping a base table through the
  * MV verb would be a category error; this verb completes the MV
  * lifecycle (create → refresh → read/rewrite → drop). A registered
  * rewrite candidate simply stops resolving (`defFor` → None). */
case class GraftMvDropCommand(parts: Seq[String])
  extends LeafRunnableCommand {

  override def output: Seq[Attribute] = Seq(
    AttributeReference("dropped", IntegerType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = GraftMaintenance.rootOf(spark, parts,
      "DROP MATERIALIZED VIEW")
    Seq(Row(if (GraftMv.drop(spark, root)) 1 else 0))
  }
}

/** Branch workflow verbs: `CREATE BRANCH w ON cat.t` (fork at the
  * current head), `FAST FORWARD cat.t FROM w` (publish the branch's
  * commits version-for-version; refuses if main advanced), `DROP
  * BRANCH w ON cat.t`. Branch WRITES are the Scala `upsertBranch`
  * verb — a branch is a pipeline workspace, and pipelines write
  * through the API; the SQL verbs cover the human half (fork, publish,
  * clean up). Returns (version, published): create → (base, 0), drop →
  * (head at drop, 0), fastforward → (new main head, commits
  * published). */
case class GraftBranchCommand(parts: Seq[String], name: String,
    verb: String) extends LeafRunnableCommand {

  override def output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("published", IntegerType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = GraftMaintenance.rootOf(spark, parts, "BRANCH")
    verb match {
      case "create" =>
        Seq(Row(GraftTable.createBranch(spark, root, name).toLong, 0))
      case "drop" =>
        val head = GraftTable.latestVersion(spark, root)
        GraftTable.deleteBranch(spark, root, name)
        Seq(Row(head.toLong, 0))
      case "fastforward" =>
        GraftTable.fastForward(spark, root, name) match {
          case Right((v, n)) => Seq(Row(v.toLong, n))
          case Left(violations) => throw new IllegalStateException(
            s"FAST FORWARD refused by audits: $violations")
        }
      case "merge" | "merge-overwrite" =>
        // `MERGE BRANCH w INTO cat.t [OVERWRITE]` — the advanced-main
        // publish ([[GraftTable.mergeBranch]]): one keyed-MERGE commit
        // of the branch's net delta. Key-overlap conflicts refuse
        // loudly by default; OVERWRITE is the deliberate escape hatch
        // (branch wins on conflicted keys, cherry-pick semantics).
        GraftTable.mergeBranch(spark, root, name,
          strategy = if (verb == "merge-overwrite") "overwrite"
            else "refuse") match {
          case Right((v, n)) => Seq(Row(v.toLong, n.toInt))
          case Left(conflicts) => throw new IllegalStateException(
            s"MERGE BRANCH refused: $conflicts key(s) were changed by " +
              "BOTH main and the branch since the base — resolve on the " +
              "branch, recreate it from the current head, or publish " +
              "deliberately with MERGE BRANCH ... OVERWRITE")
        }
    }
  }
}

/** `ALTER TABLE cat.t SET LAYOUT HASH BUCKETS n` — bucket-count
  * evolution ([[GraftTable.setHashBuckets]]): one full re-bucketing
  * commit whose versioned layout sidecar publishes atomically with
  * the manifest, so old snapshots keep their old count and no reader
  * ever sees a mixed layout. Also adopts the layout on a
  * range-bucketed table. */
case class GraftRebucketCommand(parts: Seq[String], n: Int)
  extends LeafRunnableCommand {

  override def output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("files", IntegerType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = GraftMaintenance.rootOf(spark, parts, "ALTER TABLE")
    val key = GraftMaintenance.keyOf(spark, root, "ALTER TABLE")
    val v = GraftTable.setHashBuckets(spark, root, key, n)
    Seq(Row(v.toLong,
      GraftTable.snapshotFileLedger(spark, root, v).size))
  }
}

/** `RESTORE cat.t TO VERSION <n | tag>` — publish an old snapshot as
  * the NEW head (one metadata-only commit, history preserved — the
  * Delta RESTORE verb, SQL form of [[GraftTable.restore]]); the
  * reference resolves through tags exactly like `VERSION AS OF`. */
case class GraftRestoreCommand(parts: Seq[String], ref: String)
  extends LeafRunnableCommand {

  override def output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = GraftMaintenance.rootOf(spark, parts, "RESTORE")
    val to = GraftTable.resolveRef(spark, root, ref).getOrElse(
      throw new IllegalArgumentException(
        s"RESTORE: '$ref' is neither a version number nor a tag of $root"))
    Seq(Row(GraftTable.restore(spark, root, to).toLong))
  }
}

/** `VACUUM cat.t [RETAIN n VERSIONS | RETAIN n DAYS | RETAIN n HOURS]`
  * — sweep unreferenced data files and expired manifests (default
  * horizon 3 versions; tagged versions stay pinned, exactly like the
  * Scala API). Time-based retention resolves through the durable
  * in-manifest commit instants. */
case class GraftVacuumCommand(parts: Seq[String],
    retention: Either[Int, Long]) extends LeafRunnableCommand {

  override def output: Seq[Attribute] = Seq(
    AttributeReference("files_removed", IntegerType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = GraftMaintenance.rootOf(spark, parts, "VACUUM")
    val removed = retention match {
      case Left(versions) => GraftTable.vacuum(spark, root, versions)
      case Right(millis) => GraftTable.vacuumOlderThan(spark, root, millis)
    }
    Seq(Row(removed))
  }
}
