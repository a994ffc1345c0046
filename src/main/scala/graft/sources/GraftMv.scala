package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One aggregate column of a materialized view: `kind` ∈
  * count | sum | min | max | avg. `count` with an EMPTY `col` is
  * `count(*)`; with a column it is SQL `count(col)` — the non-null
  * row count, maintainable for free (it IS the hidden non-null
  * ledger machinery under a visible alias: ± delta on the
  * null-guarded sign, never NULL, 0 when every input is NULL). Values
  * are maintained as longs — the engine-wide cents/epoch idiom, exact
  * under delta arithmetic (no float drift across refreshes). A
  * DECIMAL(p≤18, s) measure (the reference's own `price_each
  * DECIMAL(10,2)`, Import.sql:72) rides the SAME long ledger as its
  * UNSCALED value (`123.45 → 12345`, exact — decimal×10^s is integral
  * by definition); [[GraftMv.read]] reconstructs the decimal at the
  * query type. FLOAT/DOUBLE measures REFUSE at create — a float sum
  * cannot be exactly delta-maintained (retraction drift), and a
  * silently-truncating cast is worse than an error. `avg` never
  * materializes the quotient (that would turn an exact delta into a
  * lossy one): the MV stores a hidden exact (sum, non-null count)
  * pair and [[GraftMv.read]] serves `sum / count` — a delta-maintained
  * avg with zero drift.
  *
  * `prec`/`scale` are INTERNAL: create derives them from the source
  * column's type (0/0 for integral/date/timestamp; the DecimalType's
  * precision/scale otherwise) and persists them in the def so every
  * refresh and read scales identically. Callers pass the 3-arg form. */
final case class MvAgg(kind: String, col: String, alias: String,
    prec: Int = 0, scale: Int = 0) {
  require(Set("count", "sum", "min", "max", "avg")(kind),
    s"MvAgg kind must be count|sum|min|max|avg, got '$kind'")
}

/** One GROUP BY column of a materialized view: a bare source column
  * (`alias == expr`) or a DERIVED GRAIN — a [[PartitionTransform]]
  * expression (`days(ts)`, `months(ts)`, `years(ts)`,
  * `truncate(w,c)`, `bucket(n,c)`) evaluated to its long value and
  * served under `alias`. The transform set is exactly the DPP/layout
  * machinery's, so write-side grouping, refresh-side feed grouping,
  * and the rewrite matcher all share one evaluation and can never
  * drift. */
final case class MvGroup(alias: String, expr: String) {
  require(alias.nonEmpty && !alias.startsWith("__mv_"),
    s"bad MV group alias '$alias'")
  def isBare: Boolean = expr == alias
  /** The group value of a row (the transform's long for grains). */
  def valueCol: Column =
    if (isBare) col(alias) else PartitionTransform.parse(expr).valueCol
}

/** One DIMENSION of a STAR-JOIN materialized view: the MV's relation
  * is `fact INNER JOIN dim ON holder.fk = dim.dimKey` folded over
  * every join — the standard warehouse denormalization (the
  * reference's own fact cube joins product/location/time dims the
  * same way, FactTable.sql:15-110). `dimKey` is the dim table's
  * RECORDED key, so each joined row matches at most one dim row (the
  * keyed-table uniqueness invariant is what makes the join N:1 and
  * the aggregate deltas exact). `cols` is the dim's projected NON-KEY
  * column set — the columns the MV's groups/aggregates/filter
  * reference PLUS any chained child's foreign key, frozen at create
  * so every refresh enriches identically. `lastV` is the dim version
  * the MV is refreshed to (each dim gets its own cursor — a dim
  * commit makes the MV stale exactly like a fact commit). `via` names
  * the relation HOLDING `fk`: empty = the fact (a flat star spoke);
  * a dim root = a SNOWFLAKE CHAIN link (the reference's own location
  * collapse street→city→state, LocationDimension.sql:171-180) — the
  * parent must be declared BEFORE the child, so the enrichment fold
  * always finds the fk column already joined in. */
final case class MvJoin(dim: String, fk: String, dimKey: String,
    lastV: Int, cols: Seq[String], via: String = "")

/** INCREMENTAL MATERIALIZED VIEWS over a graft table — the engine's
  * answer to "keep this GROUP BY fresh without recomputing it": the
  * MV is itself a graft table (keyed by the group tuple — every
  * read/time-travel/SQL capability applies), its definition lives
  * next to its log and its refresh cursor in it, and [[refresh]]
  * advances it by reading the SOURCE's change feed
  * ([[GraftTable.changes]] in retraction form) instead of the source:
  *
  *  - count/sum MVs refresh by PURE DELTA MERGE: the feed's ±
  *    contributions fold into the stored values per dirty group —
  *    the source is NEVER read, cost O(feed + dirty groups) however
  *    large the source (the DBSP/Materialize z-set rule, in batch
  *    clothing).
  *  - min/max MVs cannot subtract (a deleted max needs the
  *    runner-up), so dirty groups RE-AGGREGATE from a source read
  *    SEMI-JOIN-pruned to those groups — cost O(rows of dirty
  *    groups), still never O(source). The standard retractable-agg
  *    trade, documented rather than hidden.
  *
  * GROUP keys: one or more columns, each a bare column or a derived
  * GRAIN (`days(ts)` — the reference's own fact cube is
  * time×product×location, FactTable.sql:78-110). A single bare group
  * keys the MV table on that column directly; a composite (or
  * grained) group synthesizes a hidden `__mv_g` STRING key — the
  * group values joined with a unit separator — and rides the
  * hash-ledgered string-key machinery ([[GraftTable.keyHashMode]]):
  * exact tuple identity, no hash-collision group merging.
  *
  * A hidden `__mv_n` live-row count rides every MV (delta-able group
  * death is `__mv_n → 0` — those groups DELETE from the MV rather
  * than linger as zeros). Refresh is CRASH-SAFE **and CONCURRENT-SAFE**:
  * the refresh cursor (the source and dim versions the rows reflect)
  * lives IN the MV table's log, as the `#cursor` header of each MV
  * manifest — Delta's `SetTransaction(appId, version)`. A refresh is
  * one commit that publishes the window's rows and the advanced cursor
  * together, so rows and cursor can never disagree; every other
  * commit on the MV table (OPTIMIZE, auto-maintenance, restore)
  * carries the cursor forward. The definition itself is one static
  * file written once at create. No intents, leases or clocks.
  *
  * Refs: the reference's rollup relations are rebuilt wholesale — the
  * `fact_staging1..3` CTAS chain (FactTable.sql:15-110) recomputes
  * every aggregation level from scratch on each run; this is the
  * scale-path replacement. */
object GraftMv {

  /** The static definition: one file, written once at create. */
  private def defPath(mvRoot: String) =
    new org.apache.hadoop.fs.Path(mvRoot, "_log/mvdef.tsv")

  /** Whether an MV definition lives at `mvRoot`. */
  private[sources] def defExists(f: org.apache.hadoop.fs.FileSystem,
      mvRoot: String): Boolean =
    f.exists(defPath(mvRoot))

  /** Definition facts as the rewrite rule and tooling consume them. */
  final case class MvFacts(source: String, groups: Seq[MvGroup],
      aggs: Seq[MvAgg], lastV: Int, filter: Option[String],
      joins: Seq[MvJoin] = Seq.empty)

  /** `lastV` and each join's `lastV` are the refresh cursor, set from
    * the MV head's `#cursor` by [[atCursor]] (the def file itself only
    * records the create-time dim versions). */
  private final case class MvDef(source: String, sourceKey: String,
      groups: Seq[MvGroup], aggs: Seq[MvAgg], lastV: Int,
      filter: Option[String], // row predicate (SQL expression)
      // whether the MV table is keyed by the synthesized __mv_g string
      encodedKey: Boolean,
      joins: Seq[MvJoin])

  /** One line per fact, one form per line kind: `group alias expr`,
    * `join dim fk dimKey lastV cols via` (empty `cols`/`via` fields
    * stay in place — [[parseDef]] splits keeping them), `keymode`,
    * `filter` and `agg kind col alias prec scale`. */
  private def render(d: MvDef): String = {
    val b = new StringBuilder
    b ++= s"source\t${d.source}\n"
    b ++= s"sourceKey\t${d.sourceKey}\n"
    d.groups.foreach(g => b ++= s"group\t${g.alias}\t${g.expr}\n")
    d.joins.foreach(j => b ++= s"join\t${j.dim}\t${j.fk}\t${j.dimKey}\t" +
      s"${j.lastV}\t${j.cols.mkString(",")}\t${j.via}\n")
    b ++= s"keymode\t${if (d.encodedKey) "encoded" else "direct"}\n"
    d.filter.foreach(f => b ++= s"filter\t$f\n")
    d.aggs.foreach(a => b ++= s"agg\t${a.kind}\t${a.col}\t${a.alias}\t" +
      s"${a.prec}\t${a.scale}\n")
    b.result()
  }

  private def readDef(spark: SparkSession, mvRoot: String): MvDef = {
    val p = defPath(mvRoot)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(f.exists(p), s"no materialized view at $mvRoot")
    parseDef(readFullyText(f, p))
  }

  /** The refresh cursor as the MV table's `#cursor` header: the source
    * version, then each join's dim version. */
  private def renderCursor(to: Int, dimVs: Seq[Int]): String =
    (to +: dimVs).mkString(",")

  /** `d` at `cursor` (the MV head's, see [[renderCursor]]); a missing
    * cursor reads as never refreshed (-1). */
  private def atCursor(d: MvDef, cursor: Option[String]): MvDef = {
    val vs = cursor.map(_.split(',').map(_.toInt).toSeq)
      .getOrElse(Seq.fill(d.joins.size + 1)(-1))
    require(vs.size == d.joins.size + 1,
      s"MV cursor '${cursor.get}' does not match ${d.joins.size} joins")
    d.copy(lastV = vs.head, joins = d.joins.zip(vs.tail).map {
      case (j, v) => j.copy(lastV = v) })
  }

  private def readFullyText(f: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): String = {
    val in = f.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
      new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  private def parseDef(text: String): MvDef = {
    var source = ""; var sourceKey = ""
    val groups = Seq.newBuilder[MvGroup]
    val aggs = Seq.newBuilder[MvAgg]
    val joins = Seq.newBuilder[MvJoin]
    var filt: Option[String] = None
    var encoded = false
    text.linesIterator.filter(_.nonEmpty).foreach { l =>
      l.split("\t", -1) match {
        case Array("source", v) => source = v
        case Array("sourceKey", v) => sourceKey = v
        case Array("group", a, e) => groups += MvGroup(a, e)
        case Array("join", dim, fk, dk, v, cols, via) =>
          joins += MvJoin(dim, fk, dk, v.toInt,
            cols.split(',').filter(_.nonEmpty).toSeq, via)
        case Array("keymode", v) => encoded = v == "encoded"
        case Array("filter", v) => filt = Some(v)
        case Array("agg", k, c, a, p, s) =>
          aggs += MvAgg(k, c, a, p.toInt, s.toInt)
        case _ => () // forward compatibility
      }
    }
    MvDef(source, sourceKey, groups.result(), aggs.result(), -1, filt,
      encoded, joins.result())
  }

  private val HiddenN = "__mv_n"
  private val HiddenG = "__mv_g"
  private[sources] def nnOf(alias: String) = s"__mv_nn_$alias"
  private[sources] def sOf(alias: String) = s"__mv_s_$alias"

  /** The MV's STORED rows with every bookkeeping column — what the
    * rewrite's ROLLUP path re-aggregates (a coarser grouping needs
    * avg's hidden exact (sum, count) pair and sum's non-null ledger,
    * which [[read]] deliberately hides). */
  private[sources] def readRaw(spark: SparkSession,
      mvRoot: String): DataFrame = GraftTable.read(spark, mvRoot)

  /** Whether the MV needs the synthesized composite key (anything but
    * a single bare group column). */
  private def composite(groups: Seq[MvGroup]): Boolean =
    groups.size > 1 || !groups.head.isBare

  /** Escape one group value for the composite key: the encoding must
    * be INJECTIVE over arbitrary strings, so the separator (U+001F),
    * the NULL marker (U+0000), and the string-key machinery's refused
    * line-structure characters (tab/newline/CR) are all escaped behind
    * U+0010 (DLE) — a raw separator/NUL/DLE can then never appear in
    * an escaped value, so distinct group tuples can never encode to
    * the same key (('a<US>b','c') vs ('a','b<US>c')). */
  private def escGroupVal(c: Column): Column =
    replace(replace(replace(replace(replace(replace(c,
      lit("\u0010"), lit("\u0010\u0010")),
      lit("\u0000"), lit("\u0010z")),
      lit("\u001F"), lit("\u0010u")),
      lit("\t"), lit("\u0010t")),
      lit("\n"), lit("\u0010n")),
      lit("\r"), lit("\u0010r"))

  /** The MV table's key column name. */
  private def keyOf(d: MvDef): String =
    if (d.encodedKey) HiddenG else d.groups.head.alias

  /** The hidden composite key value from the (already materialized)
    * group ALIAS columns: ESCAPED group values joined with the unit
    * separator, NULLs encoded distinctly — exact tuple identity (it
    * rides the hash-ledgered string-key machinery; the ledger hashes,
    * row operations compare the full string). */
  private def gidCol(groups: Seq[MvGroup]): Column =
    concat_ws("\u001F", groups.map(g =>
      when(col(g.alias).isNull, lit("\u0000"))
        .otherwise(escGroupVal(col(g.alias).cast("string")))): _*)

  /** Materialize every group column (bare passthrough; grains compute
    * the transform value under the alias). */
  private def withGroups(df: DataFrame, groups: Seq[MvGroup]): DataFrame =
    groups.foldLeft(df)((d, g) =>
      if (g.isBare) d else d.withColumn(g.alias, g.valueCol))

  /** Temp name the dim's key joins under (dropped after the join) —
    * sidesteps fk/dimKey name collisions without frame aliases. */
  private val JoinKeyTmp = "__mv_join_key"

  /** One dim's PROJECTED relation at a pinned version: its key plus
    * the MV-referenced columns. */
  private def dimProjected(spark: SparkSession, j: MvJoin,
      v: Int): DataFrame =
    GraftTable.read(spark, j.dim, Some(v))
      .select((j.dimKey +: j.cols).map(col): _*)

  /** INNER N:1 join of `acc` to one dim relation (`dimDf` must carry
    * `j.dimKey` + projected cols; extra columns — a change feed's
    * `_change` — ride through). */
  private def joinOne(acc: DataFrame, dimDf: DataFrame,
      j: MvJoin): DataFrame = {
    val keyed = dimDf.withColumnRenamed(j.dimKey, JoinKeyTmp)
    acc.join(keyed, acc(j.fk) === keyed(JoinKeyTmp), "inner")
      .drop(JoinKeyTmp)
  }

  /** The ENRICHED relation: fact joined to every dim at the given
    * versions — what a star-join MV's groups/aggregates/filter are
    * defined over. */
  private def enrich(spark: SparkSession, fact: DataFrame,
      joins: Seq[MvJoin], dimVs: Seq[Int]): DataFrame =
    joins.zip(dimVs).foldLeft(fact) { case (acc, (j, v)) =>
      joinOne(acc, dimProjected(spark, j, v), j)
    }

  /** The STORED user-visible aggregate aliases — avg stores only its
    * hidden (sum, count) pair and is computed at [[read]] time. */
  private def visibleStored(aggs: Seq[MvAgg]): Seq[String] =
    aggs.filterNot(_.kind == "avg").map(_.alias)

  private[sources] def pow10(s: Int): Long = {
    var v = 1L; var i = 0; while (i < s) { v *= 10L; i += 1 }; v
  }

  /** One measure value on the long ledger: integral/date/timestamp
    * casts directly (the cents/epoch idiom); DECIMAL(p,s) stores its
    * UNSCALED value — `value × 10^s` is integral by the decimal's own
    * definition, and decimal multiplication is exact, so the cast
    * truncates nothing. p ≤ 18 (enforced at create) keeps the unscaled
    * value inside long. */
  private def ledgerCol(c: String, scale: Int): Column =
    if (scale == 0) col(c).cast("long")
    else (col(c) * lit(pow10(scale))).cast("long")

  /** Full-aggregation columns: the user's aggregates, plus a NON-NULL
    * count per sum column (SQL sum of zero non-null inputs is NULL —
    * a pure ± delta can't know when the last non-null contribution
    * left, so the MV carries the count), plus avg's exact hidden
    * (sum, non-null count) pair, plus the live-row count. */
  private def aggCols(aggs: Seq[MvAgg]): Seq[org.apache.spark.sql.Column] =
    (aggs.flatMap {
      case MvAgg("count", "", alias, _, _) => Seq(count(lit(1)).as(alias))
      case MvAgg("count", c, alias, _, _) => Seq(count(col(c)).as(alias))
      case MvAgg("sum", c, alias, _, s) =>
        Seq(sum(ledgerCol(c, s)).as(alias))
      case MvAgg("min", c, alias, _, s) =>
        Seq(min(ledgerCol(c, s)).as(alias))
      case MvAgg("max", c, alias, _, s) =>
        Seq(max(ledgerCol(c, s)).as(alias))
      case MvAgg("avg", _, _, _, _) => Seq.empty // hidden pair below
      case a => sys.error(s"unreachable: $a")
    }) ++ aggs.flatMap {
      case MvAgg("sum", c, alias, _, _) => Seq(count(col(c)).as(nnOf(alias)))
      case MvAgg("avg", c, alias, _, s) => Seq(
        sum(ledgerCol(c, s)).as(sOf(alias)),
        count(col(c)).as(nnOf(alias)))
      case _ => Seq.empty
    } :+ count(lit(1)).as(HiddenN)

  private def hiddenCols(aggs: Seq[MvAgg]): Seq[String] =
    aggs.flatMap {
      case MvAgg("sum", _, alias, _, _) => Seq(nnOf(alias))
      case MvAgg("avg", _, alias, _, _) => Seq(sOf(alias), nnOf(alias))
      case _ => Seq.empty
    } :+ HiddenN

  /** Define + fully build a materialized view of
    * `SELECT groups…, aggs… FROM source GROUP BY groups…` at
    * `mvRoot`. Single-bare-group form — see the [[MvGroup]] overload
    * for multi-column / grained groups. */
  def create(spark: SparkSession, mvRoot: String, sourceRoot: String,
      group: String, aggs: Seq[MvAgg], nBuckets: Int = 8,
      filter: Option[String] = None): Int =
    createGrouped(spark, mvRoot, sourceRoot, Seq(MvGroup(group, group)),
      aggs, nBuckets, filter)

  /** [[create]] for MULTI-COLUMN and GRAIN group keys — the
    * reference's own cube shape (time×product×location,
    * FactTable.sql:78-110): `Seq(MvGroup("cust","cust"),
    * MvGroup("day","days(ts)"))`. */
  def createGrouped(spark: SparkSession, mvRoot: String,
      sourceRoot: String, groups: Seq[MvGroup], aggs: Seq[MvAgg],
      nBuckets: Int = 8, filter: Option[String] = None): Int =
    createImpl(spark, mvRoot, sourceRoot, Seq.empty, groups, aggs,
      nBuckets, filter)

  /** [[createGrouped]] over a STAR JOIN — the denormalized
    * fact⋈dim(s) MV every warehouse maintains (the reference's own
    * analytics are this shape: revenue by nation is
    * orders⋈customer⋈nation). `dims` pairs each dim's table root with
    * its foreign-key column — held by the FACT (a flat spoke) or by a
    * PREVIOUSLY-DECLARED dim (a SNOWFLAKE CHAIN: fact→customer→nation
    * — the reference's own location collapse street→city→state,
    * LocationDimension.sql:171-180; the holder is auto-resolved, and
    * a parent must be declared before its child). Every join lands on
    * the dim's recorded key (N:1 by the keyed-table uniqueness
    * invariant), so groups and the filter may reference dim columns
    * at any chain depth while aggregates stay exact under delta
    * maintenance. Each dim gets its own refresh cursor: a dim commit
    * at any level makes the MV stale exactly like a fact commit, and
    * [[refresh]] folds EVERY relation's change feed (one telescoping
    * term per chain level — see [[starFeed]]). */
  def createJoined(spark: SparkSession, mvRoot: String,
      factRoot: String, dims: Seq[(String, String)], groups: Seq[MvGroup],
      aggs: Seq[MvAgg], nBuckets: Int = 8,
      filter: Option[String] = None): Int = {
    require(dims.nonEmpty, "createJoined needs at least one dim " +
      "(use createGrouped for a single-table MV)")
    // resolve each dim's recorded key and figure the PROJECTED column
    // set: every name the MV references (bare group aliases, grain
    // inputs, aggregate columns, filter identifiers) must live in
    // EXACTLY ONE of fact/dims — ambiguity refuses at create, never
    // guesses (the enriched relation must be deterministic forever)
    val factSchema = {
      val v = GraftTable.latestVersion(spark, factRoot)
      require(v >= 0, s"no fact table at $factRoot")
      GraftTable.read(spark, factRoot, Some(v)).schema
    }
    val needed: Seq[String] = (
      groups.map(g => if (g.isBare) g.alias
        else PartitionTransform.parse(g.expr) match {
          case DaysPartition(c) => c
          case MonthsPartition(c) => c
          case YearsPartition(c) => c
          case TruncatePartition(_, c) => c
          case BucketPartition(_, c) => c
        }) ++
      aggs.map(_.col).filter(_.nonEmpty) ++
      // PARSE the filter and take its attribute references — a regex
      // scrape read string literals ('cust') as column names and could
      // spuriously trip the ambiguity refusal below
      filter.toSeq.flatMap { f =>
        spark.sessionState.sqlParser.parseExpression(f).collect {
          case u: org.apache.spark.sql.catalyst.analysis
            .UnresolvedAttribute => u.nameParts.mkString(".")
        }
      }
    ).distinct
    // resolve each dim's fk HOLDER: the fact (flat spoke) or a
    // PREVIOUSLY-DECLARED dim (snowflake chain — street→city→state,
    // LocationDimension.sql:171-180). Declaration order is the join
    // order, so a chain's parent must come first; the fk must live in
    // EXACTLY ONE of (fact, earlier dims) — ambiguity or absence
    // refuses at create, never guesses.
    val dimSchemas = scala.collection.mutable.Map[String,
      org.apache.spark.sql.types.StructType]()
    val joins0 = dims.foldLeft(Seq.empty[MvJoin]) {
      case (acc, (dimRoot, fk)) =>
        val dv = GraftTable.latestVersion(spark, dimRoot)
        require(dv >= 0, s"no dim table at $dimRoot")
        val dimKey = GraftTable.keyColumn(spark, dimRoot).getOrElse(
          sys.error(s"MV dim at $dimRoot needs a recorded key column"))
        val holders = (if (factSchema.fieldNames.contains(fk))
          Seq("") else Seq.empty) ++
          acc.filter(j => dimSchemas(j.dim).fieldNames.contains(fk))
            .map(_.dim)
        require(holders.nonEmpty, s"foreign key '$fk' is not a column " +
          "of the fact or any previously-declared dim (a snowflake " +
          "chain's parent dim must be declared before its child)")
        require(holders.size == 1, s"foreign key '$fk' is ambiguous " +
          s"across ${holders.map(h => if (h.isEmpty) "fact" else h)
            .mkString(", ")} — rename it so exactly one relation " +
          "holds it")
        val dimSchema = GraftTable.read(spark, dimRoot, Some(dv)).schema
        dimSchemas(dimRoot) = dimSchema
        val cols = needed.filter(n => n != dimKey &&
          dimSchema.fieldNames.contains(n))
        acc :+ MvJoin(dimRoot, fk, dimKey, dv, cols, holders.head)
    }
    // a chained child's fk must ride its parent's projection (the
    // enrichment fold and the change-feed terms join through it)
    val joins = joins0.map { j =>
      val childFks = joins0.filter(_.via == j.dim).map(_.fk)
      // the enrichment fold drops the parent's join key after use, so
      // a chain THROUGH the parent's own key column cannot be joined
      // downstream — name a dedicated fk column instead
      require(!childFks.contains(j.dimKey),
        s"chained foreign key '${j.dimKey}' is ${j.dim}'s own key " +
          "column — a snowflake link needs a dedicated fk column on " +
          "the parent dim")
      if (childFks.isEmpty) j
      else j.copy(cols = (j.cols ++ childFks).distinct)
    }
    // ambiguity check over the NEEDED names only
    needed.foreach { n =>
      val holders = (if (factSchema.fieldNames.contains(n))
        Seq("fact") else Seq.empty) ++
        joins.filter(_.cols.contains(n)).map(_.dim)
      require(holders.size <= 1,
        s"MV column '$n' is ambiguous across ${holders.mkString(", ")} — " +
          "rename it in one of the tables (the enriched relation must " +
          "resolve every referenced name uniquely)")
    }
    require(!factSchema.fieldNames.contains(JoinKeyTmp) &&
      joins.forall(j => !j.cols.contains(JoinKeyTmp)),
      s"'$JoinKeyTmp' is reserved by the star-join machinery")
    createImpl(spark, mvRoot, factRoot, joins, groups, aggs, nBuckets,
      filter)
  }

  private def createImpl(spark: SparkSession, mvRoot: String,
      sourceRoot: String, joins: Seq[MvJoin], groups: Seq[MvGroup],
      aggs: Seq[MvAgg], nBuckets: Int, filter: Option[String]): Int = {
    require(groups.nonEmpty, "an MV needs at least one group column")
    require(groups.map(_.alias).distinct.size == groups.size,
      "MV group aliases must be distinct")
    require(aggs.nonEmpty, "an MV needs at least one aggregate")
    require(aggs.map(_.alias).distinct.size == aggs.size,
      "MV aliases must be distinct")
    require(!aggs.exists(_.alias.startsWith("__mv_")),
      "MV aliases must not start with the reserved '__mv_' prefix " +
        "(it names the hidden bookkeeping columns)")
    require(groups.map(_.alias).intersect(aggs.map(_.alias)).isEmpty,
      "MV group and aggregate aliases must not collide")
    // grains must parse up front (fail at create, not first refresh)
    groups.filterNot(_.isBare).foreach(g => PartitionTransform.parse(g.expr))
    filter.foreach(f => require(!f.exists(c => c == '\t' || c == '\n'),
      "MV filter must be a single-line SQL expression"))
    val srcV = GraftTable.latestVersion(spark, sourceRoot)
    require(srcV >= 0, s"no source table at $sourceRoot")
    val srcKey = GraftTable.keyColumn(spark, sourceRoot).getOrElse(
      sys.error(s"MV source at $sourceRoot needs a recorded key column"))
    // a FILTERED MV aggregates the predicate's row subset; the same
    // predicate applied per change-feed row keeps the delta exact (a
    // row-level predicate commutes with the feed's ± retraction form —
    // an update crossing the boundary is exactly one −old/+new pair).
    // Star joins ENRICH first: the MV's relation is fact⋈dims.
    val src0 = enrich(spark,
      GraftTable.read(spark, sourceRoot, Some(srcV)), joins,
      joins.map(_.lastV))
    val filtered = filter.map(f => src0.filter(expr(f))).getOrElse(src0)
    // a NONDETERMINISTIC predicate (rand() < p, …) cannot define an
    // MV: create, every refresh, and the rewrite's query side would
    // each see a DIFFERENT row subset — refuse at create, loudly.
    // Checked on the ANALYZED condition (the unresolved tree's
    // `deterministic` is vacuously true before function resolution).
    if (filter.isDefined) {
      val cond = filtered.queryExecution.analyzed.collectFirst {
        case org.apache.spark.sql.catalyst.plans.logical.Filter(c, _) => c
      }
      require(cond.forall(_.deterministic),
        s"MV filter must be deterministic, got '${filter.get}'")
    }
    // MEASURE TYPES resolve at create, against the ENRICHED relation
    // (a star MV's measure may live on a dim): integral/date/timestamp
    // ride the long ledger directly; DECIMAL(p≤18, s) rides it as the
    // exact unscaled value with (p, s) persisted in the def;
    // FLOAT/DOUBLE/anything else REFUSES LOUDLY — the old behavior
    // silently cast to long, so an MV over the reference's own
    // DECIMAL(10,2) measure (Import.sql:72) served truncated sums.
    val aggsR = aggs.map { a =>
      if (a.kind == "count") {
        // count(col) counts non-null rows of ANY type — only existence
        // is checked (count(*) has an empty col)
        require(a.col.isEmpty || filtered.schema.fieldNames.contains(a.col),
          s"MV count('${a.col}') is not a column of the MV's " +
            "(enriched) relation")
        a.copy(prec = 0, scale = 0)
      }
      else {
        val f = filtered.schema.fields.find(_.name == a.col).getOrElse(
          sys.error(s"MV aggregate column '${a.col}' is not a column " +
            "of the MV's (enriched) relation"))
        f.dataType match {
          case org.apache.spark.sql.types.ByteType |
               org.apache.spark.sql.types.ShortType |
               org.apache.spark.sql.types.IntegerType |
               org.apache.spark.sql.types.LongType |
               org.apache.spark.sql.types.DateType |
               org.apache.spark.sql.types.TimestampType =>
            a.copy(prec = 0, scale = 0)
          case d: org.apache.spark.sql.types.DecimalType =>
            require(d.precision <= 18,
              s"MV ${a.kind}('${a.col}') over DECIMAL(${d.precision}," +
                s"${d.scale}): precision above 18 does not fit the " +
                "exact long ledger — pre-scale into a narrower decimal " +
                "or an integral (cents) column")
            a.copy(prec = d.precision, scale = d.scale)
          case other => sys.error(
            s"MV ${a.kind}('${a.col}') needs an integral, " +
              "date/timestamp, or DECIMAL(p<=18) column — got " +
              s"${other.simpleString}. A float aggregate cannot be " +
              "exactly delta-maintained; pre-scale to an exact column " +
              "(cents, micros) in the source instead")
        }
      }
    }
    val src = withGroups(filtered, groups)
    val gCols = groups.map(g => col(g.alias))
    // the MV table's key must be non-null (NULL keys break every keyed
    // merge join — NULL never equals NULL); a single bare group over a
    // NULLABLE column can produce a NULL group, so it keys through the
    // encoded __mv_g string (NULL → the distinct marker) like
    // composites do. Persisted as `keymode` so refresh/read agree.
    val enc = composite(groups) ||
      src.schema.fields.find(_.name == groups.head.alias).forall(_.nullable)
    val full0 = src.groupBy(gCols: _*)
      .agg(aggCols(aggsR).head, aggCols(aggsR).tail: _*)
    val (full, key) =
      if (enc) (full0.withColumn(HiddenG, gidCol(groups)), HiddenG)
      else (full0, groups.head.alias)
    // version 0 carries the create-time cursor; the def lands after
    // it, so a crash in between leaves a plain table, never an MV
    // without rows
    GraftTable.createWithCursor(spark, mvRoot, full, key, nBuckets, None,
      None, false, Some(renderCursor(srcV, joins.map(_.lastV))))
    val p = defPath(mvRoot)
    GraftTable.writeAtomic(p.getFileSystem(
      spark.sparkContext.hadoopConfiguration), p, render(MvDef(sourceRoot,
      srcKey, groups, aggsR, srcV, filter, enc, joins)))
    // the MV appearing changes what the rewrite may serve — invalidate
    // same-session planning memos
    GraftTable.commitEpoch.incrementAndGet()
    srcV
  }

  /** Definition facts the TRANSPARENT REWRITE rule needs. None if no
    * MV lives at `mvRoot`. */
  private[sources] def defFor(spark: SparkSession, mvRoot: String)
    : Option[MvFacts] = {
    val p = defPath(mvRoot)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!defExists(f, mvRoot)) None
    else {
      // rows and cursor publish in one manifest, so the head's cursor
      // is exactly what the head's rows reflect
      val d = atCursor(readDef(spark, mvRoot),
        GraftTable.headCursor(spark, mvRoot))
      Some(MvFacts(d.source, d.groups, d.aggs, d.lastV, d.filter, d.joins))
    }
  }

  /** The MV's rows WITHOUT the bookkeeping columns — avg aliases are
    * served here as `sum / count` from the hidden exact pair (NULL
    * when no non-null contribution lives, the SQL avg rule). DECIMAL
    * measures reconstruct from the unscaled long ledger at exactly the
    * type Spark's own aggregate would produce — `sum(DECIMAL(p,s))` is
    * `DECIMAL(min(38,p+10),s)`, min/max keep `DECIMAL(p,s)` — via
    * [[MakeDecimal]] (the optimizer's own unscaled-long↔decimal
    * bridge), so the transparent rewrite's result types line up with
    * the query's and values are bit-exact. A decimal avg serves as
    * DOUBLE (`(ledger/10^s)/count` — the engine documents avg as a
    * double quotient everywhere). */
  def read(spark: SparkSession, mvRoot: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.MakeDecimal
    import org.apache.spark.sql.graft.bridge
    val d = readDef(spark, mvRoot)
    var df = GraftTable.read(spark, mvRoot)
    d.aggs.foreach {
      case MvAgg("avg", _, a, _, s) =>
        df = df.withColumn(a,
          when(col(nnOf(a)) > 0L,
            col(sOf(a)).cast("double") /
              (col(nnOf(a)).cast("double") * lit(pow10(s).toDouble)))
            .otherwise(lit(null).cast("double")))
      case MvAgg(k, _, a, p, s) if s > 0 || p > 0 =>
        val outPrec = if (k == "sum") math.min(38, p + 10) else p
        df = df.withColumn(a, bridge.column(
          MakeDecimal(bridge.expression(col(a)), outPrec, s)))
      case _ => ()
    }
    df.select((d.groups.map(g => col(g.alias)) ++
      d.aggs.map(a => col(a.alias))): _*)
  }

  /** Drop the MV at `mvRoot`: its definition, cursor, and backing
    * table (log + data, recursively). REFUSES a root without an MV
    * definition — a plain table must never be deletable through the
    * MV verb. Returns true (throws on a non-MV root); idempotent
    * callers should check [[defFor]] first. Invalidates same-session
    * rewrite memos via the commit epoch. */
  def drop(spark: SparkSession, mvRoot: String): Boolean = {
    val p = defPath(mvRoot)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(defExists(f, mvRoot),
      s"no materialized view at $mvRoot (DROP MATERIALIZED VIEW " +
        "refuses plain tables)")
    val removed = f.delete(new org.apache.hadoop.fs.Path(mvRoot), true)
    GraftTable.commitEpoch.incrementAndGet()
    removed
  }

  /** Attempts a refresh takes after losing the MV publish race. */
  private val RefreshRetries = 10

  /** Advance the MV to the source's (and every dim's) current head by
    * change-feed delta. Returns (sourceVersionCaughtUpTo, dirtyGroups)
    * — (lastV, 0) when already fresh.
    *
    * ONE COMMIT on the MV table ([[GraftTable.occCommit]]): the attempt
    * reads the head's cursor, plans the window cursor → heads against
    * the stored rows AT that head, and publishes the window's rows and
    * the advanced cursor in one manifest. CRASH-SAFE: nothing is
    * written before that publish, so a crash leaves head, cursor and
    * rows as they were. CONCURRENT-SAFE: a racer that lands first
    * makes the publish lose, and the retry re-plans on the new head —
    * a twin that applied the same window shows up as a cursor already
    * at the heads (success, nothing to do); a foreign commit
    * (OPTIMIZE, auto-maintenance) carried the old cursor forward, so
    * the retry is an ordinary rebase. */
  def refresh(spark: SparkSession, mvRoot: String,
      nBuckets: Int = 8): (Int, Long) = {
    val d0 = readDef(spark, mvRoot)
    val out = GraftTable.occCommit(spark, mvRoot, RefreshRetries) { snap =>
      val d = atCursor(d0, snap.cursor)
      require(d.lastV >= 0, s"MV table at $mvRoot carries no cursor")
      val srcHead = GraftTable.latestVersion(spark, d.source)
      val dimHeads = d.joins.map(j => GraftTable.latestVersion(spark, j.dim))
      if (srcHead == d.lastV && dimHeads == d.joins.map(_.lastV))
        (d.lastV, 0L)
      else {
        require(srcHead >= d.lastV,
          s"source at ${d.source} went backwards ($srcHead < ${d.lastV})")
        d.joins.zip(dimHeads).foreach { case (j, h) =>
          require(h >= j.lastV,
            s"dim at ${j.dim} went backwards ($h < ${j.lastV})")
        }
        (srcHead, applyWindow(spark, mvRoot, snap, d, srcHead, dimHeads,
          nBuckets))
      }
    }
    // AUTO-MAINTENANCE of the BACKING TABLE: a per-minute refresher
    // lands ~1 small commit per window — with `graft.maintenance.auto`
    // on the MV table, the free probe ladder bounds its file count
    // with no manual verbs (its commits carry the cursor forward)
    if (out._2 > 0 && GraftTable.tableProperties(spark, mvRoot)
        .get("graft.maintenance.auto").contains("true")) {
      GraftTable.maintainIfDue(spark, mvRoot, keyOf(d0))
      ()
    }
    out
  }

  /** Compute ONE delta window — fact feed (the cursor `d.lastV` → `to`)
    * and dim feeds (each join's cursor → its `dimHeads` target) —
    * against the MV rows at `snap`, and apply it over `snap`,
    * publishing the cursor (`to`, `dimHeads`) with it. Throws
    * [[GraftTable.ConcurrentCommitException]] when another commit
    * takes the version first. Returns the dirty-group count. */
  private def applyWindow(spark: SparkSession, mvRoot: String,
      snap: GraftTable.TableSnapshot, d: MvDef, to: Int,
      dimHeads: Seq[Int], nBuckets: Int): Long = {
    val feed0 =
      if (d.joins.isEmpty)
        GraftTable.changes(spark, d.source, d.lastV, to,
          d.sourceKey, withPreimages = true)
      else starFeed(spark, d, to, dimHeads)
    val feed = withGroups(
      d.filter.map(f => feed0.filter(expr(f))).getOrElse(feed0), d.groups)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val groups = d.groups
      val gNames = groups.map(_.alias)
      val gCols = gNames.map(col)
      val comp = d.encodedKey
      val mvKey = keyOf(d)
      // ENCODED-KEY MVs join on the NON-NULL encoded key: a grain (or
      // bare nullable column) yields NULL group values, and a plain
      // column equi-join treats NULL ≠ NULL — the stored row and its
      // delta would miss each other and the apply batch would carry
      // one key twice (the NULL-group corruption a null-safe identity
      // column prevents by construction). Only an MV created over a
      // provably NON-NULLABLE single bare group keeps the direct
      // column join (its value IS the table key; `keymode` records
      // the create-time decision so the planes can never drift).
      val keyed = if (comp) feed.withColumn(HiddenG, gidCol(groups))
        else feed
      val joinKeys = if (comp) Seq(HiddenG) else gNames
      val grpKeys = (joinKeys ++ gNames).distinct
      val dirty = keyed.select(grpKeys.map(col): _*).distinct()
      val deltaable = d.aggs.forall(a =>
        a.kind == "count" || a.kind == "sum" || a.kind == "avg")
      val mvCols = visibleStored(d.aggs) ++ hiddenCols(d.aggs)
      val rebuilt: DataFrame =
        if (deltaable) {
          // PURE DELTA: ± contributions per group, source never read
          val sign = when(col("_change").isin("insert", "update_postimage"),
            lit(1L)).otherwise(lit(-1L))
          val dAggs = (d.aggs.flatMap {
            case MvAgg("count", "", alias, _, _) => Seq(sum(sign).as(alias))
            case MvAgg("count", c, alias, _, _) =>
              // count(col): ± only the NON-NULL contributions
              Seq(sum(when(col(c).isNotNull, sign).otherwise(lit(0L)))
                .as(alias))
            case MvAgg("sum", c, alias, _, s) =>
              // sum skips NULL contributions; the nn delta tracks them
              Seq(sum(when(col(c).isNotNull, sign).otherwise(lit(0L)) *
                coalesce(ledgerCol(c, s), lit(0L))).as(alias))
            case MvAgg("avg", _, _, _, _) => Seq.empty // hidden pair below
            case a => sys.error(s"unreachable: $a")
          }) ++ d.aggs.flatMap {
            case MvAgg("sum", c, alias, _, _) =>
              Seq(sum(when(col(c).isNotNull, sign).otherwise(lit(0L)))
                .as(nnOf(alias)))
            case MvAgg("avg", c, alias, _, s) => Seq(
              sum(when(col(c).isNotNull, sign).otherwise(lit(0L)) *
                coalesce(ledgerCol(c, s), lit(0L))).as(sOf(alias)),
              sum(when(col(c).isNotNull, sign).otherwise(lit(0L)))
                .as(nnOf(alias)))
            case _ => Seq.empty
          } :+ sum(sign).as(HiddenN)
          val deltas = keyed.groupBy(grpKeys.map(col): _*)
            .agg(dAggs.head, dAggs.tail: _*).as("d")
          // rows the MV currently stores for the dirty groups — the
          // semi-join probe REUSES the deltas aggregate (its key set IS
          // the dirty-group set: grpKeys determine joinKeys) instead of
          // paying a separate distinct exchange over the feed
          val old = GraftTable.read(spark, mvRoot, Some(snap.version))
            .join(deltas.select(joinKeys.map(col): _*),
              joinKeys, "left_semi").as("o")
          def merged(c: String) =
            coalesce(col(s"o.$c"), lit(0L)) + coalesce(col(s"d.$c"), lit(0L))
          // group VALUE columns: unified by the Seq join for bare
          // single groups; coalesced across sides for composite (the
          // encoded key is the join identity, the values describe it)
          val groupOut =
            if (comp) groups.map(g =>
              coalesce(col(s"d.${g.alias}"), col(s"o.${g.alias}"))
                .as(g.alias))
            else gCols
          // left-outer ≡ the old full_outer here: `old` is semi-joined
          // to the deltas' key set, so every old key has a delta row —
          // driving from the deltas side drops one exchange (bare
          // single-group MVs reuse the groupBy partitioning outright)
          // and lets the planner broadcast the pruned `old` side
          deltas.join(old, joinKeys, "left_outer")
            .select((joinKeys.filter(_ == HiddenG).map(col) ++ groupOut ++
              mvCols.map { c =>
                val isSum = d.aggs.exists(a =>
                  a.kind == "sum" && a.alias == c)
                // SQL exactness: a sum with ZERO non-null live inputs
                // is NULL, not 0 — the nn ledger decides
                (if (isSum) when(merged(nnOf(c)) <= 0L,
                    lit(null).cast("long")).otherwise(merged(c))
                 else merged(c)).as(c)
              }): _*)
        } else {
          // RE-AGG the dirty groups from a group-pruned source read
          // (the MV's filter applies here too — it defines the
          // aggregated relation; star joins re-enrich at the WINDOW'S
          // fact+dim versions)
          val src0 = enrich(spark,
            GraftTable.read(spark, d.source, Some(to)), d.joins,
            dimHeads)
          val srcG = withGroups(
            d.filter.map(f => src0.filter(expr(f))).getOrElse(src0), groups)
          val srcK = if (comp) srcG.withColumn(HiddenG, gidCol(groups))
            else srcG
          val agged = srcK
            .join(dirty.select(joinKeys.map(col): _*).distinct(),
              joinKeys, "left_semi")
            .groupBy(grpKeys.map(col): _*)
            .agg(aggCols(d.aggs).head, aggCols(d.aggs).tail: _*)
          // groups whose rows ALL disappeared produce nothing here;
          // re-attach them via the dirty list so they delete below.
          // Driving from the dirty side, left-outer ≡ the old
          // full_outer: agged is built FROM rows semi-joined to dirty,
          // so its keys are a subset — one less exchange per refresh
          if (comp) {
            val a = agged.as("a"); val dd = dirty.as("dd")
            dd.join(a, joinKeys, "left_outer")
              .select((Seq(col(HiddenG)) ++
                groups.map(g => coalesce(col(s"a.${g.alias}"),
                  col(s"dd.${g.alias}")).as(g.alias)) ++
                mvCols.map(col)): _*)
          } else dirty.join(agged, gNames, "left_outer")
        }
      val op = "__mv_op"
      val batch = rebuilt.withColumn(op,
          when(coalesce(col(HiddenN), lit(0L)) <= 0L, "delete")
            .otherwise("replace"))
        .select(((if (comp) Seq(col(HiddenG)) else Seq.empty)
          ++ gCols ++ mvCols.map(col) :+ col(op)): _*)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // apply FIRST, count after: the apply's hit probe is the action
      // that materializes the persisted feed (and the batch cache), so
      // the dirty-group distinct then runs over warm caches — counting
      // first paid the whole feed materialization in a side job.
      // INVARIANT the post-commit count relies on: `dirty`'s lineage is
      // VERSION-PINNED on the source side (changes(from, to) /
      // starFeed read explicit versions, never the head), so a
      // cache-evicted recompute after the commit still reads the
      // same window — a feed built from an unpinned head read would
      // silently count post-commit state here
      try GraftTable.applyCdcAttempt(spark, mvRoot, snap, batch, mvKey, op,
        nBuckets, Some(renderCursor(to, dimHeads)))
      finally batch.unpersist()
      dirty.count()
    } finally feed.unpersist()
  }

  /** The combined RETRACTION-FORM change feed of a star-join MV's
    * ENRICHED relation between (factLastV, dim lastVs) and (srcHead,
    * dimHeads) — the telescoping decomposition
    *
    *   Δenriched = Σ_i [fact@OLD ⋈ dims_{<i}@NEW ⋈ Δdim_i ⋈ dims_{>i}@OLD]
    *             + [Δfact ⋈ dims@NEW]
    *
    * Each term's rows carry the driving feed's `_change` marker, so
    * one union folds through the same ± delta (or dirty-group re-agg)
    * machinery as a single-table feed. Cost: O(fact rows referencing
    * changed dim keys + fact feed) — never O(fact) when only small
    * dims changed, never O(dims) when only the fact changed. The N:1
    * key-unique join keeps every term a pure retraction pair: a dim
    * UPDATE contributes exactly one −old/+new row per affected fact
    * row.
    *
    * SNOWFLAKE CHAINS ride the same decomposition unchanged — the
    * enriched relation is one function of the (fact, dim_1..dim_n)
    * version vector however the fk edges nest, so the per-index
    * old/new telescoping still sums to the exact difference; the only
    * structural requirement is that the fold join a chain's parent
    * before its child (the def's declaration order, enforced at
    * create), so each `joinOne` finds its fk column — a parent's feed
    * or projection always carries its chained children's fks
    * ([[createJoined]] pins them into `cols`). A LEAF-dim update
    * (nation moving region) reaches the fact through the chain term's
    * parent joins at their OLD versions; a MID-dim update re-joins
    * its children at THEIR old versions — each term stays a pure
    * retraction pair. */
  private def starFeed(spark: SparkSession, d: MvDef, srcHead: Int,
      dimHeads: Seq[Int]): DataFrame = {
    val chg = "_change"
    val outCols: Seq[String] =
      (GraftTable.read(spark, d.source, Some(d.lastV)).schema.fieldNames
        .toSeq ++ d.joins.flatMap(_.cols)) :+ chg
    // dim-delta terms against the OLD fact
    val f0 = GraftTable.read(spark, d.source, Some(d.lastV))
    val dimTerms = d.joins.zipWithIndex
      .filter { case (j, i) => dimHeads(i) != j.lastV }
      .map { case (ji, i) =>
        val dFeed = GraftTable.changes(spark, ji.dim, ji.lastV,
          dimHeads(i), ji.dimKey, withPreimages = true)
          .select(((ji.dimKey +: ji.cols) :+ chg).map(col): _*)
        d.joins.zipWithIndex.foldLeft(f0) { case (acc, (j, k)) =>
          if (k == i) joinOne(acc, dFeed, j) // brings _change + sign
          else joinOne(acc, dimProjected(spark, j,
            if (k < i) dimHeads(k) else j.lastV), j)
        }
      }
    // fact-delta term against the NEW dims
    val factTerm =
      if (srcHead == d.lastV) Seq.empty
      else Seq(enrich(spark,
        GraftTable.changes(spark, d.source, d.lastV, srcHead,
          d.sourceKey, withPreimages = true), d.joins, dimHeads))
    (dimTerms ++ factTerm)
      .map(_.select(outCols.map(col): _*))
      .reduce(_.unionByName(_))
  }
}
