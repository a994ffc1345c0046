package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, BinaryOperator, Cast, EqualTo, Expression, ExprId, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}

/** TRANSPARENT MATERIALIZED-VIEW REWRITE — the Snowflake/BigQuery
  * capability: a `GROUP BY` query over a graft table is answered from
  * a REGISTERED, FRESH [[GraftMv]] instead of the table, without the
  * query changing a character. `SELECT cust, count(*), sum(cents)
  * FROM cat.orders GROUP BY cust` over a 100 TB fact becomes a read
  * of the (groups-sized) MV — the scan drops from the table's bytes
  * to the answer's.
  *
  * Opt-in and sound by construction:
  *  - `spark.graft.mv.rewrite.views` names the candidate MV roots
  *    (comma-separated). Empty (the default) → the rule is a no-op.
  *  - FRESHNESS is checked at planning: the MV's refresh cursor must
  *    sit exactly at the source's current version AND at the scan's
  *    pinned snapshot (an MV one commit behind — or a `versionAsOf`
  *    historical read — is never served; `REFRESH MATERIALIZED VIEW`
  *    re-arms). A crash-pending cursor reads as not-fresh until
  *    refresh recovery settles it.
  *  - STRUCTURE: the query's grouping SET must map INJECTIVELY into
  *    the MV's group columns — bare columns by attribute, derived
  *    GRAINS (`days(ts)`) by semantic equality against the
  *    transform's analyzed expression — and every aggregate must be
  *    one of the MV's maintained ones (by kind + input column, not by
  *    alias). Result data types identical. A BIJECTION serves the
  *    stored rows by projection; a PROPER SUBSET (including the empty
  *    set — a global aggregate) serves by ROLLUP: the MV's groups
  *    partition the source's rows, so re-aggregating MV rows at the
  *    query's coarser grain is exact — count/sum roll up by SUM
  *    (NULL-exact via the hidden non-null ledgers), min/max by
  *    MIN/MAX, avg from its hidden exact (sum, count) pair, never
  *    avg-of-avgs (Goldstein & Larson's rollup case).
  *  - FILTERS: a filtered MV serves a query whose WHERE is
  *    semantically EQUAL to the MV's stored predicate; additionally,
  *    EXTRA conjuncts referencing ONLY the MV's bare group columns
  *    are allowed on either MV form and become a POST-FILTER on the
  *    MV read — group-column predicates commute with GROUP BY, the
  *    one provably-safe subsumption step. General subsumption (query
  *    predicate ⊂ view predicate over aggregated columns) stays
  *    deliberately out of scope: containment proofs are where MV
  *    rewrites historically go wrong, and wrong is worse than slow.
  *
  * The substituted plan projects the MV's columns under the
  * Aggregate's own output expression ids, so every downstream
  * reference resolves unchanged (the [[graft.plans.ResolveCubeGuard]]
  * idiom). Ref: transparent aggregate routing in Snowflake MVs /
  * BigQuery MVs; Goldstein & Larson, "Optimizing queries using
  * materialized views" (SIGMOD '01) for the containment framing. */
case class GraftMvRewrite(session: SparkSession) extends Rule[LogicalPlan] {

  private def registered: Seq[String] = {
    val explicit = session.conf.getOption("spark.graft.mv.rewrite.views")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    // DISCOVERY mode: point at warehouse base dir(s) — every child
    // table carrying an MV definition becomes a rewrite candidate, so
    // `CREATE MATERIALIZED VIEW cat.mv AS …` is immediately servable
    // with zero further registration (the Snowflake UX). One listing
    // per TTL window per base; the per-MV def/freshness checks below
    // are unchanged.
    val discovered = session.conf
      .getOption("spark.graft.mv.rewrite.discover")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
      .flatMap(memoDiscover)
    (explicit ++ discovered).distinct
  }

  private val discoverMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, Seq[String])]()

  private def memoDiscover(base: String): Seq[String] = {
    val now = System.currentTimeMillis()
    val hit = discoverMemo.get(base)
    if (hit != null && now - hit._1 < memoTtlMs) hit._2
    else {
      val v = try {
        val p = new org.apache.hadoop.fs.Path(base)
        val f = p.getFileSystem(session.sparkContext.hadoopConfiguration)
        if (!f.exists(p)) Seq.empty
        else f.listStatus(p).filter(_.isDirectory).map(_.getPath)
          .filter(d => GraftMv.defExists(f, d.toString))
          .map(_.toUri.getPath).toSeq
      } catch { case _: Exception => Seq.empty }
      discoverMemo.put(base, (now, v))
      v
    }
  }

  /** PLANNING-TAX guard: the operator-optimization batch runs to a
    * fixed point, re-visiting every non-matching Aggregate each
    * iteration — without a memo each visit would re-read the MV def
    * and re-list the source's version log. A sub-second TTL keeps
    * those at ~one metadata read per QUERY while still observing a
    * refresh that lands between queries. Every memo additionally
    * carries the [[GraftTable.commitEpoch]] it was read at and is
    * DEAD the instant any same-session commit (table write or MV
    * cursor advance) lands — read-your-writes freshness is exact
    * in-process; only cross-process writers see the TTL window, which
    * is equivalent to the unavoidable plan-to-execute TOCTOU any
    * planning-time freshness check carries. */
  private val memoTtlMs = 500L
  private val defMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, Long, Option[GraftMv.MvFacts])]()
  private val headMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, Long, Int)]()

  private def memoDef(mvRoot: String): Option[GraftMv.MvFacts] = {
    val now = System.currentTimeMillis()
    val epoch = GraftTable.commitEpoch.get()
    val hit = defMemo.get(mvRoot)
    if (hit != null && hit._1 == epoch && now - hit._2 < memoTtlMs) hit._3
    else {
      val v = GraftMv.defFor(session, mvRoot)
      defMemo.put(mvRoot, (epoch, now, v))
      v
    }
  }

  private def memoHead(root: String): Int = {
    val now = System.currentTimeMillis()
    val epoch = GraftTable.commitEpoch.get()
    val hit = headMemo.get(root)
    if (hit != null && hit._1 == epoch && now - hit._2 < memoTtlMs) hit._3
    else {
      val v = GraftTable.latestVersion(session, root)
      headMemo.put(root, (epoch, now, v))
      v
    }
  }

  /** The graft table root a plan node scans — WITH the snapshot
    * version the scan is pinned to — if it is a plain (unfiltered,
    * unprojected-or-attr-only) read of one. The version matters:
    * `.option("versionAsOf", v)` loads stay `writable = true`, so a
    * GROUP BY over a HISTORICAL snapshot reaches here too, and
    * serving it from an MV sitting at the source's head would be
    * silently wrong — the caller requires the pinned version to equal
    * the MV's refresh cursor before rewriting. */
  private def rootOf(plan: LogicalPlan): Option[(String, Int)] = plan match {
    case r: DataSourceV2Relation => r.table match {
      case t: GraftSqlTable if t.writable =>
        Some((t.root, t.snapshotVersion))
      case _ => None
    }
    case s: DataSourceV2ScanRelation => s.scan match {
      case g: GraftBatchScan if g.pushedAgg.isEmpty && g.branch.isEmpty =>
        Some((g.root, g.version))
      case _ => None
    }
    // a column-pruning Project of plain attributes is transparent
    case Project(ps, child) if ps.forall(_.isInstanceOf[Attribute]) =>
      rootOf(child)
    case _ => None
  }

  /** One scan leaf of a (possibly join-shaped) relation tree:
    * (table root, pinned snapshot version, the scan's attributes). */
  private type StarLeaf = (String, Int, Seq[Attribute])

  /** Flatten an INNER equi-join tree over graft scans into its leaves,
    * join-key attribute pairs, and any filter conjuncts sitting INSIDE
    * the tree (they commute to the top across inner joins). Only
    * attr-only Projects, Filters, and Inner joins whose condition is a
    * conjunction of attribute equalities are transparent — anything
    * else (outer joins, non-equi conditions, cross joins, subqueries)
    * returns None and the rewrite refuses. A single plain scan returns
    * one leaf with no pairs — the single-table case rides the same
    * path. */
  private def flattenStar(p: LogicalPlan): Option[(Seq[StarLeaf],
      Seq[(AttributeReference, AttributeReference)], Seq[Expression])] =
    p match {
      case Project(ps, c) if ps.forall(_.isInstanceOf[Attribute]) =>
        flattenStar(c)
      case Filter(cond, c) =>
        flattenStar(c).map { case (l, e, f) =>
          (l, e, f ++ conjuncts(cond))
        }
      case j: Join if j.joinType == Inner && j.condition.isDefined =>
        val pairs0 = conjuncts(j.condition.get).map {
          case EqualTo(a: AttributeReference, b: AttributeReference) =>
            Some((a, b))
          case _ => None
        }
        if (!pairs0.forall(_.isDefined)) None
        else for {
          (ll, le, lf) <- flattenStar(j.left)
          (rl, re, rf) <- flattenStar(j.right)
        } yield (ll ++ rl, le ++ re ++ pairs0.flatten, lf ++ rf)
      case other => rootOf(other).map { case (root, v) =>
        (Seq((root, v, other.output)), Seq.empty, Seq.empty)
      }
    }

  /** Match the flattened relation against an MV definition's star
    * shape: exactly one leaf per table (fact + each dim, all distinct
    * roots), every def join realized by exactly one equi pair
    * connecting the HOLDER's `fk` attribute (the fact for a flat
    * spoke, the parent dim for a snowflake-chain link) to that dim's
    * `dimKey` attribute (either operand order), no extra leaves and
    * no extra equi pairs. Returns the pinned scan versions in
    * def-join order (fact first) plus the set of join-key exprIds
    * (whose inferred `isnotnull` decorations an inner equi-join makes
    * vacuous). */
  private def matchStarShape(facts: GraftMv.MvFacts, leaves: Seq[StarLeaf],
      pairs: Seq[(AttributeReference, AttributeReference)])
    : Option[(Int, Seq[Int], Set[ExprId])] = {
    if (leaves.size != facts.joins.size + 1) return None
    if (pairs.size != facts.joins.size) return None
    val factLeaves = leaves.filter(_._1 == facts.source)
    if (factLeaves.size != 1) return None
    val fact = factLeaves.head
    val factIds = fact._3.map(a => a.name -> a.exprId).toMap
    var remainingPairs = pairs
    val keyIds = Set.newBuilder[ExprId]
    val dimVs = facts.joins.map { j =>
      val dimLeaves = leaves.filter(_._1 == j.dim)
      if (dimLeaves.size != 1) return None
      val dim = dimLeaves.head
      val dimIds = dim._3.map(a => a.name -> a.exprId).toMap
      val holderIds =
        if (j.via.isEmpty) factIds
        else leaves.find(_._1 == j.via) match {
          case Some(h) => h._3.map(a => a.name -> a.exprId).toMap
          case None => return None
        }
      val (fkId, dkId) = (holderIds.get(j.fk), dimIds.get(j.dimKey)) match {
        case (Some(a), Some(b)) => (a, b)
        case _ => return None
      }
      val hit = remainingPairs.indexWhere { case (a, b) =>
        (a.exprId == fkId && b.exprId == dkId) ||
          (a.exprId == dkId && b.exprId == fkId)
      }
      if (hit < 0) return None
      remainingPairs = remainingPairs.patch(hit, Nil, 1)
      keyIds += fkId; keyIds += dkId
      dim._2
    }
    if (remainingPairs.nonEmpty) None
    else if (leaves.map(_._1).distinct.size != leaves.size) None
    else Some((fact._2, dimVs, keyIds.result()))
  }

  /** Strip no-op casts (`Cast(e, e.dataType)`) everywhere in a tree —
    * the analyzer and `functions.*` builders sprinkle them
    * differently, and SimplifyCasts may or may not have run before
    * this rule's batch. */
  private def stripNoopCasts(e: Expression): Expression = e.transformUp {
    case c: Cast if c.child.dataType == c.dataType => c.child
  }

  private def sameExpr(a: Expression, b: Expression): Boolean =
    stripNoopCasts(a).semanticEquals(stripNoopCasts(b))

  /** Analyzed grain expression templates, cached per (transform expr,
    * schema signature): `days(ts)`'s value column is built from
    * unresolved `functions` calls, so resolving it needs the analyzer
    * — run ONCE over an empty frame with the relation's schema, then
    * re-bound per call by name (cheap transformUp). */
  private val grainMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, String), Option[Expression]]()

  /** The grain transform of `g`, analyzed and bound to `out`'s
    * attributes — None when the transform can't resolve against the
    * relation (wrong column, type error): never rewrite on doubt. */
  private def grainExpr(g: MvGroup, out: Seq[Attribute])
    : Option[Expression] = {
    val sig = out.map(a => a.name + ":" + a.dataType.catalogString)
      .mkString(",")
    val template = grainMemo.computeIfAbsent((g.expr, sig), _ =>
      try {
        val schema = org.apache.spark.sql.types.StructType(out.map(a =>
          org.apache.spark.sql.types.StructField(a.name, a.dataType,
            a.nullable)))
        val empty = session.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          schema)
        empty.select(PartitionTransform.parse(g.expr).valueCol.as("__g"))
          .queryExecution.analyzed match {
          case Project(Seq(Alias(child, _)), _) => Some(child)
          case _ => None
        }
      } catch { case _: Exception => None })
    template.map { t =>
      val byName = out.map(a => a.name -> a).toMap
      t.transformUp {
        case a: AttributeReference if byName.contains(a.name) =>
          byName(a.name)
      }
    }
  }

  /** Analyze an arbitrary Column against `out`'s schema and rebind its
    * attribute references — the [[grainExpr]] machinery generalized
    * for the rollup's DERIVED grain expressions. Memoized per
    * (cache key, schema signature). */
  private def boundCol(key: String, c: => org.apache.spark.sql.Column,
      out: Seq[Attribute]): Option[Expression] = {
    val sig = out.map(a => a.name + ":" + a.dataType.catalogString)
      .mkString(",")
    val template = grainMemo.computeIfAbsent((s"__bound:$key", sig), _ =>
      try {
        val schema = org.apache.spark.sql.types.StructType(out.map(a =>
          org.apache.spark.sql.types.StructField(a.name, a.dataType,
            a.nullable)))
        val empty = session.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          schema)
        empty.select(c.as("__g")).queryExecution.analyzed match {
          case Project(Seq(Alias(child, _)), _) => Some(child)
          case _ => None
        }
      } catch { case _: Exception => None })
    template.map { t =>
      val byName = out.map(a => a.name -> a).toMap
      t.transformUp {
        case a: AttributeReference if byName.contains(a.name) =>
          byName(a.name)
      }
    }
  }

  /** One matched query grouping expression: the plan expression, the
    * MV group serving it, and — when the query grain is a COARSENING
    * of the MV's grain (days→months, months→years, truncate(w)→
    * truncate(kw)) — the query-side transform to DERIVE from the MV's
    * stored grain value during the rollup. */
  private case class GroupMatch(planExpr: Expression, mv: MvGroup,
      coarsen: Option[PartitionTransform])

  /** Whether the session evaluates calendar functions in UTC — the
    * engine's own sessions pin it. days→months/years coarsening is
    * only sound then: the stored day number is a UTC day, and a
    * non-UTC month boundary can split a UTC day, making the month NOT
    * a function of the day. (months→years and truncate widening are
    * pure arithmetic on the stored value — no guard needed.) */
  private def utcSession: Boolean = {
    val tz = session.sessionState.conf.sessionLocalTimeZone
    tz == "UTC" || tz == "Etc/UTC" || tz == "GMT" || tz == "+00:00"
  }

  /** The candidate QUERY-side transforms a stored MV grain can roll up
    * to — the time hierarchy plus widened truncates (width multiples,
    * probed from the plan expression's own literals). */
  private def coarsenTargets(m: PartitionTransform,
      pg: Expression): Seq[PartitionTransform] = m match {
    case DaysPartition(c) if utcSession =>
      Seq(MonthsPartition(c), YearsPartition(c))
    case MonthsPartition(c) => Seq(YearsPartition(c))
    case TruncatePartition(w, c) =>
      pg.collect {
        case Literal(v: Long, org.apache.spark.sql.types.LongType) => v
        case Literal(v: Int, org.apache.spark.sql.types.IntegerType) =>
          v.toLong
      }.distinct.filter(kw => kw > w && kw % w == 0)
        .map(kw => TruncatePartition(kw, c))
    case _ => Seq.empty
  }

  /** The DERIVED value of coarser grain `to` from the stored value of
    * grain `from` (a Column over the MV's group-alias column) —
    * exact: a day number maps to exactly one UTC month/year, a month
    * number to one year, a w-multiple floor to one kw-multiple floor
    * when w | kw. */
  private def deriveCol(alias: String, from: PartitionTransform,
      to: PartitionTransform): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions._
    val a = col(alias)
    // date_from_unix_date is a NATIVE codegen expression — a
    // RuntimeReplaceable (to_date/date_add-on-literal) would be
    // injected AFTER the optimizer's ReplaceExpressions batch and
    // fail codegen
    lazy val asDate = date_from_unix_date(a.cast("int"))
    (from, to) match {
      case (DaysPartition(c1), MonthsPartition(c2)) if c1 == c2 =>
        Some((year(asDate).cast("long") * 12 +
          month(asDate).cast("long") - 1).cast("long"))
      case (DaysPartition(c1), YearsPartition(c2)) if c1 == c2 =>
        Some(year(asDate).cast("long"))
      case (MonthsPartition(c1), YearsPartition(c2)) if c1 == c2 =>
        Some(((a - pmod(a, lit(12))) / lit(12)).cast("long"))
      case (TruncatePartition(w1, c1), TruncatePartition(w2, c2))
          if c1 == c2 && w2 > w1 && w2 % w1 == 0 =>
        Some((a - pmod(a, lit(w2))).cast("long"))
      case _ => None
    }
  }

  /** Map the query's grouping expressions INTO the MV's group columns
    * (injectively): bare groups match a plan attribute by name (over
    * this relation), grains match by semantic equality with the
    * analyzed transform — or with a COARSER grain of the same family
    * (the time-hierarchy rollup: an MV at days(ts) serves GROUP BY
    * months(ts)). Returns the matches in plan order PLUS the MV groups
    * left unmatched — both empty coarsenings and no leftovers for an
    * exact (bijective) match; anything else re-aggregates (ROLLUP
    * subsumption: sound because the MV's groups partition the source's
    * rows, so re-aggregating MV rows aggregates exactly the source's).
    * None when any query grouping expression has no MV counterpart. */
  private def matchGroups(planGs: Seq[Expression], groups: Seq[MvGroup],
      out: Seq[Attribute])
    : Option[(Seq[GroupMatch], Seq[MvGroup])] = {
    if (planGs.size > groups.size) return None
    val outIds = out.map(_.exprId).toSet
    val remaining = scala.collection.mutable.ArrayBuffer(groups: _*)
    val pairs = planGs.map { pg =>
      var hit: Option[(Int, Option[PartitionTransform])] = None
      remaining.zipWithIndex.foreach { case (g, i) =>
        if (hit.isEmpty) {
          if (g.isBare) pg match {
            case a: AttributeReference
                if a.name == g.alias && outIds.contains(a.exprId) =>
              hit = Some((i, None))
            case _ => ()
          }
          else if (grainExpr(g, out).exists(ge => sameExpr(ge, pg)))
            hit = Some((i, None))
          else {
            val mt = try Some(PartitionTransform.parse(g.expr))
              catch { case _: Exception => None }
            mt.foreach { m =>
              coarsenTargets(m, pg).foreach { qt =>
                if (hit.isEmpty &&
                    grainExpr(MvGroup("__q_probe", qt.render), out)
                      .exists(ge => sameExpr(ge, pg)))
                  hit = Some((i, Some(qt)))
              }
            }
          }
        }
      }
      hit.map { case (i, qt) =>
        val g = remaining(i); remaining.remove(i); GroupMatch(pg, g, qt)
      }
    }
    if (pairs.forall(_.isDefined)) Some((pairs.flatten, remaining.toSeq))
    else None
  }

  /** The MV alias serving one aggregate function call, if maintained
    * — matched by (kind, input column), never by name (the query's
    * aliases are free). */
  private def servedAlias(fn: org.apache.spark.sql.catalyst.expressions
      .aggregate.AggregateFunction, aggs: Seq[MvAgg]): Option[String] = {
    val wanted: Option[(String, String)] = fn match {
      case Count(Seq(Literal(1, _))) => Some(("count", ""))
      // SQL count(col) — the non-null count, maintained under its own
      // alias (it IS the nn-ledger machinery made visible)
      case Count(Seq(c: AttributeReference)) => Some(("count", c.name))
      case Sum(c: AttributeReference, _) => Some(("sum", c.name))
      case Min(c: AttributeReference) => Some(("min", c.name))
      case Max(c: AttributeReference) => Some(("max", c.name))
      case Average(c: AttributeReference, _) => Some(("avg", c.name))
      case _ => None
    }
    wanted.flatMap { case (kind, colName) =>
      aggs.find(a => a.kind == kind && a.col == colName).map(_.alias)
    }
  }

  /** The RE-AGGREGATION expression serving one query aggregate from
    * the MV's stored columns when the query groups COARSER than the MV
    * (rollup subsumption). Every maintained kind re-aggregates
    * exactly:
    *  - count(*) → coalesce(sum(n), 0) — the coalesce is load-bearing
    *    for the GLOBAL (no GROUP BY) rollup over an empty MV, where
    *    SQL's count is 0 but sum is NULL;
    *  - sum(c)   → sum(sv): stored sv is NULL iff its group had zero
    *    non-null inputs, and SUM skips NULLs, so the rollup is NULL
    *    exactly when every input was NULL — SQL's rule;
    *  - min/max  → min(mn) / max(mx) (NULL-skipping composes);
    *  - avg(c)   → sum(hidden s) / sum(hidden nn) from the exact pair
    *    (NEVER avg-of-avgs — unweighted rollup of quotients is the
    *    classic wrong answer this refuses by construction).
    * None when the aggregate isn't maintained or a data type differs. */
  private def rollupExpr(fn: org.apache.spark.sql.catalyst.expressions
      .aggregate.AggregateFunction, aggs: Seq[MvAgg],
      byName: Map[String, Attribute]): Option[Expression] = {
    import org.apache.spark.sql.catalyst.expressions.{Coalesce, Divide, GreaterThan, If}
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val found: Option[MvAgg] = fn match {
      case Count(Seq(Literal(1, _))) =>
        aggs.find(a => a.kind == "count" && a.col.isEmpty)
      case Count(Seq(c: AttributeReference)) =>
        aggs.find(a => a.kind == "count" && a.col == c.name)
      case Sum(c: AttributeReference, _) =>
        aggs.find(a => a.kind == "sum" && a.col == c.name)
      case Min(c: AttributeReference) =>
        aggs.find(a => a.kind == "min" && a.col == c.name)
      case Max(c: AttributeReference) =>
        aggs.find(a => a.kind == "max" && a.col == c.name)
      case Average(c: AttributeReference, _) =>
        aggs.find(a => a.kind == "avg" && a.col == c.name)
      case _ => None
    }
    found.flatMap { a =>
      // a DECIMAL measure's ledger stores the UNSCALED long; the
      // rollup re-aggregates the ledger (exact long arithmetic) and
      // reconstructs the decimal at exactly Spark's aggregate result
      // type via MakeDecimal — the optimizer's own unscaled bridge
      // (DecimalAggregates does the same rewrite in reverse)
      import org.apache.spark.sql.catalyst.expressions.MakeDecimal
      def asDecimal(e: Expression, outPrec: Int): Expression =
        if (a.scale == 0 && a.prec == 0) e
        else MakeDecimal(e, math.min(38, outPrec), a.scale)
      a.kind match {
        case "count" => byName.get(a.alias).map(x =>
          Coalesce(Seq(Sum(x).toAggregateExpression(), Literal(0L))))
        case "sum" => byName.get(a.alias)
          .map(x => asDecimal(Sum(x).toAggregateExpression(), a.prec + 10))
        case "min" => byName.get(a.alias)
          .map(x => asDecimal(Min(x).toAggregateExpression(), a.prec))
        case "max" => byName.get(a.alias)
          .map(x => asDecimal(Max(x).toAggregateExpression(), a.prec))
        // avg over a decimal measure refuses (rewriteOutput's dataType
        // check): Spark's decimal Average carries its own
        // precision/scale promotion and division rounding — serving a
        // double quotient would change the result type, and re-deriving
        // the exact decimal rounding here is where rewrites go wrong
        case "avg" if a.scale > 0 || a.prec > 0 => None
        case "avg" => for {
          s <- byName.get(sOfAlias(a.alias))
          n <- byName.get(nnOfAlias(a.alias))
        } yield {
          val sumN = Coalesce(Seq(Sum(n).toAggregateExpression(),
            Literal(0L)))
          If(GreaterThan(sumN, Literal(0L)),
            Divide(Cast(Sum(s).toAggregateExpression(), DoubleType),
              Cast(sumN, DoubleType)),
            Literal(null, DoubleType))
        }
        case _ => None
      }
    }
  }

  private def sOfAlias(a: String) = GraftMv.sOf(a)
  private def nnOfAlias(a: String) = GraftMv.nnOf(a)

  /** Rewrite one output expression of the Aggregate onto the MV's
    * columns: every [[AggregateExpression]] in the tree substitutes
    * through `sub` — the served MV attribute for an exact grouping
    * match, the [[rollupExpr]] re-aggregation for a coarser one; a
    * same data type is required in both (a swap that widened or
    * narrowed would corrupt downstream arithmetic) — each matched
    * grouping expression substitutes with its MV group column, and any
    * scalar expression AROUND them (round, arithmetic, casts) rides
    * along unchanged — `round(avg(v), 4)` serves from the MV's avg.
    * None if any aggregate in the tree is not maintained. */
  private def rewriteOutput(e: NamedExpression,
      groupTargets: Seq[(Expression, Expression)],
      byName: Map[String, Attribute],
      sub: AggregateExpression => Option[Expression]): Option[Expression] = {
    var ok = true
    val t = e.transformUp {
      case ae @ AggregateExpression(_, _, false, None, _) =>
        sub(ae).filter(_.dataType == ae.dataType) match {
          case Some(served) => served
          case None => ok = false; ae
        }
      case x if groupTargets.exists(p => p._1.semanticEquals(x) ||
          sameExpr(p._1, x)) =>
        val target = groupTargets.find(p => p._1.semanticEquals(x) ||
          sameExpr(p._1, x)).get._2
        if (target.dataType == x.dataType) target
        else { ok = false; x }
    }
    // every reference of the rewritten tree must be an MV column: an
    // aggregate shape the substitution case does NOT cover — DISTINCT,
    // FILTER (WHERE …) clauses, anything future — would otherwise ride
    // through with dangling SOURCE references and break (or corrupt)
    // the substituted plan instead of refusing the rewrite
    val mvIds = byName.values.map(_.exprId).toSet
    if (ok && t.references.forall(r => mvIds.contains(r.exprId))) Some(t)
    else None
  }

  /** Literal coerced to `dt` at plan time — how the analyzer's type
    * coercion left the PLAN side's literals, re-done on the parsed
    * side so canonical comparison sees identical trees. */
  private def castLit(l: Literal, dt: org.apache.spark.sql.types.DataType)
    : Option[Literal] =
    try Option(Cast(l, dt).eval(null)).map(Literal(_, dt))
    catch { case _: Exception => None }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  /** Conservatively null-intolerant: the tree contains NO node that
    * can evaluate to TRUE while a referenced input is NULL — any
    * Or / null-test / coalesce / conditional / negation anywhere
    * disqualifies (over-refusing only skips a rewrite, never serves
    * a wrong row). */
  private def nullIntolerant(e: Expression): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    def tolerant(x: Expression): Boolean = x match {
      case _: Or | _: Not | _: IsNull | _: IsNotNull |
           _: EqualNullSafe | _: Coalesce | _: CaseWhen | _: If |
           _: AtLeastNNonNulls | _: Nvl2 | _: NullIf => true
      case _ => x.children.exists(tolerant)
    }
    !tolerant(e)
  }

  /** The MV's stored predicate text, parsed, resolved against the
    * relation and literal-coerced the way the analyzer left the plan
    * side. None on any parse/resolution surprise. */
  private def resolvedMvFilter(txt: String, out: Seq[Attribute])
    : Option[Expression] =
    try {
      val byName = out.map(a => a.name -> a).toMap
      var ok = true
      val resolved = session.sessionState.sqlParser.parseExpression(txt)
        .transformUp {
          case u: UnresolvedAttribute => byName.get(u.name) match {
            case Some(a) => a
            case None => ok = false; u
          }
        }
      if (!ok) return None
      Some(resolved.transformUp {
        case b: BinaryOperator if b.left.dataType != b.right.dataType =>
          (b.left, b.right) match {
            case (a, l: Literal) =>
              castLit(l, a.dataType)
                .map(nl => b.withNewChildren(Seq(a, nl))).getOrElse(b)
            case (l: Literal, a) =>
              castLit(l, a.dataType)
                .map(nl => b.withNewChildren(Seq(nl, a))).getOrElse(b)
            case _ => b
          }
      })
    } catch { case _: Exception => None }

  /** Match the plan's filter condition against the MV's stored
    * predicate, allowing a RESIDUAL of extra conjuncts over the MV's
    * GROUP columns — bare columns by reference, derived GRAINS by
    * substituting the grain's analyzed expression tree with the
    * STORED grain column (`WHERE months(ts) >= 660` over an MV
    * grouped `(cust, months(ts))` post-filters the stored `mon`
    * value — exactly as sound as the bare case: the grain value is
    * functionally determined per MV row, so the predicate commutes
    * with GROUP BY). Returns Some(residualConjuncts) — REWRITTEN onto
    * group-alias attribute names, ready for the caller's by-name
    * rebinding — when the rewrite may serve (possibly empty — exact
    * match), None when it must not.
    *
    * Rules, in order:
    *  - every MV conjunct must be matched semantically by a plan
    *    conjunct (the plan must be AT LEAST as restrictive in exactly
    *    the MV's own terms — never serve a SUPERSET of the MV's rows);
    *  - the optimizer's inferred `isnotnull(a)` decorations are
    *    absolved only by a NULL-INTOLERANT MV conjunct referencing
    *    `a` (a null-tolerant predicate like `v IS NULL OR v > 3`
    *    keeps NULL rows — its isnotnull is load-bearing), by
    *    INNER-equi-join membership, or by a null-intolerant ADMITTED
    *    grain residual over `a` (the transforms are null-preserving:
    *    `months(ts)` is NULL iff `ts` is, so `mon >= 660` on the
    *    stored value excludes exactly the rows `isnotnull(ts)` would)
    *    — or kept as residual when `a` is a bare group column;
    *  - every remaining plan conjunct must be DETERMINISTIC and
    *    reference only bare group columns / stored grain values (a
    *    grain INPUT reached outside its transform — `WHERE ts >= …` —
    *    refuses: the MV stores the grain, not the input). */
  private def filterResidual(mvFilter: Option[String],
      planCs: Seq[Expression], out: Seq[Attribute],
      bareGroupIds: Set[ExprId],
      joinKeyIds: Set[ExprId],
      grains: Seq[(MvGroup, Expression)]): Option[Seq[Expression]] = {
    import org.apache.spark.sql.catalyst.expressions.IsNotNull
    val mvCs: Seq[Expression] = mvFilter match {
      case None => Seq.empty
      case Some(txt) => resolvedMvFilter(txt, out) match {
        case Some(r) => conjuncts(r)
        case None => return None
      }
    }
    // every MV conjunct must appear in the plan (else the query asks
    // for MORE rows than the MV aggregated)
    if (!mvCs.forall(m => planCs.exists(_.semanticEquals(m)))) return None
    val mvStrictIds = mvCs.filter(nullIntolerant)
      .flatMap(_.references.toSeq).map(_.exprId).toSet
    val leftovers = planCs.filterNot(p => mvCs.exists(_.semanticEquals(p)))
      .filterNot {
        // inferred isnotnull absolved by a null-intolerant MV conjunct
        // — or by INNER-equi-join membership (the join itself discards
        // NULL keys, so the MV aggregated exactly the non-null rows)
        case IsNotNull(a: AttributeReference) =>
          mvStrictIds.contains(a.exprId) || joinKeyIds.contains(a.exprId)
        case _ => false
      }
    // one synthetic attribute per grain, carrying the GROUP ALIAS name
    // (the caller rebinds residuals by name onto the MV's columns)
    val grainAttrs: Map[String, AttributeReference] = grains.map {
      case (g, ge) =>
        g.alias -> AttributeReference(g.alias, ge.dataType,
          nullable = true)()
    }.toMap
    val grainAttrIds = grainAttrs.values.map(_.exprId).toSet
    // rewrite one conjunct onto bare groups + STORED grain values
    def bind(l: Expression): Option[Expression] = {
      val sub =
        if (grains.isEmpty) l
        else l.transformUp {
          case x if grains.exists(p => sameExpr(p._2, x)) =>
            grainAttrs(grains.find(p => sameExpr(p._2, x)).get._1.alias)
        }
      if (sub.deterministic && sub.references.nonEmpty &&
          sub.references.forall(r => bareGroupIds.contains(r.exprId) ||
            grainAttrIds.contains(r.exprId))) Some(sub)
      else None
    }
    val bound = leftovers.map(l => l -> bind(l))
    // inputs of null-intolerant admitted GRAIN residuals absolve the
    // inferred isnotnull on those inputs (see the doc rule above)
    val absolvedIds = bound.collect {
      case (orig, Some(b)) if nullIntolerant(orig) &&
          b.references.exists(r => grainAttrIds.contains(r.exprId)) =>
        orig.references.toSeq.map(_.exprId)
    }.flatten.toSet
    val remaining = bound.filterNot {
      case (IsNotNull(a: AttributeReference), _) =>
        absolvedIds.contains(a.exprId)
      case _ => false
    }
    if (remaining.forall(_._2.isDefined)) Some(remaining.flatMap(_._2))
    else None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val views = registered
    if (views.isEmpty) return plan
    // peel Projects of attributes AND aliases (column pruning inserts
    // attribute-only ones; PullOutGroupingExpressions rewrites a
    // complex grouping expression — a grain like days(ts) — into an
    // `Alias AS _groupingexpression` in a Project below the Aggregate)
    // and collect the filter condition plus the alias→expression map,
    // down to the relation. The caller INLINES the aliases back so
    // grouping/output matching sees the real expressions.
    def peel(p: LogicalPlan): (Option[Expression],
        Map[ExprId, Expression], LogicalPlan) = p match {
      case Project(ps, c) if ps.forall(e =>
          e.isInstanceOf[Attribute] || e.isInstanceOf[Alias]) =>
        val (cond, m0, rel) = peel(c)
        val m = ps.collect { case al: Alias =>
          al.exprId -> al.child.transformUp {
            case a: AttributeReference if m0.contains(a.exprId) =>
              m0(a.exprId)
          }
        }.toMap
        (cond, m0 ++ m, rel)
      case Filter(c, r) =>
        val (inner, m0, rel) = peel(r)
        (inner match {
          case Some(i) =>
            Some(org.apache.spark.sql.catalyst.expressions.And(c, i))
          case None => Some(c)
        }, m0, rel)
      case other => (None, Map.empty, other)
    }
    plan.transformUp {
      // groupingExprs0 may be EMPTY: a global aggregate (SELECT
      // count(*) FROM t) rolls up from ANY fresh MV over the table
      case agg @ Aggregate(groupingExprs0, aggExprs0, child0, _)
          if flattenStar(peel(child0)._3).isDefined =>
        val (cond0, aliasMap, rel) = peel(child0)
        def inline(e: Expression): Expression = e.transformUp {
          case a: AttributeReference if aliasMap.contains(a.exprId) =>
            aliasMap(a.exprId)
        }
        def inlineNamed(e: NamedExpression): NamedExpression = e match {
          case a: AttributeReference if aliasMap.contains(a.exprId) =>
            Alias(aliasMap(a.exprId), a.name)(exprId = a.exprId)
          case other => inline(other).asInstanceOf[NamedExpression]
        }
        val groupingExprs = groupingExprs0.map(inline)
        val aggExprs = aggExprs0.map(inlineNamed)
        val (leaves, equiPairs, innerConds) = flattenStar(rel).get
        // plan-side filter conjuncts: peeled (above the relation,
        // alias-inlined) plus any sitting INSIDE the join tree
        val planCs = cond0.map(inline).toSeq.flatMap(conjuncts) ++
          innerConds
        // every leaf attribute, resolvable by UNIQUE name only — an
        // ambiguous name across fact/dims refuses conservatively
        val allOut: Seq[Attribute] = leaves.flatMap(_._3)
        val relByName: Map[String, Attribute] =
          allOut.groupBy(_.name).collect {
            case (n, as) if as.size == 1 => n -> as.head
          }.toMap
        val candidate = views.iterator.flatMap { mvRoot =>
          memoDef(mvRoot) match {
            case Some(facts) if facts.lastV >= 0 =>
              // the relation must BE the MV's star (fact + each dim,
              // joined fk→dimKey), every scan PINNED at the exact
              // version its cursor is refreshed to (a versionAsOf
              // historical read must never serve from a head-fresh
              // MV), and every cursor at its table's current head
              matchStarShape(facts, leaves, equiPairs) match {
                case Some((factV, dimVs, joinKeyIds))
                    if factV == facts.lastV &&
                      facts.lastV == memoHead(facts.source) &&
                      facts.joins.zip(dimVs).forall { case (j, v) =>
                        v == j.lastV && j.lastV == memoHead(j.dim) } =>
              val bareGroupIds = facts.groups.filter(_.isBare)
                .flatMap(g => relByName.get(g.alias)).map(_.exprId).toSet
              val grainPairs = facts.groups.filterNot(_.isBare)
                .flatMap(g => grainExpr(g, allOut).map(g -> _))
              (matchGroups(groupingExprs, facts.groups, allOut),
                filterResidual(facts.filter, planCs, allOut,
                  bareGroupIds, joinKeyIds, grainPairs)) match {
                case (Some((groupSub, rolledUp)), Some(residual)) =>
                  // EXACT (bijective, no coarsened grains) match
                  // serves the stored rows by projection; anything
                  // else re-aggregates the raw rows (which carry avg's
                  // hidden exact pair)
                  val exact = rolledUp.isEmpty &&
                    groupSub.forall(_.coarsen.isEmpty)
                  val mvPlan =
                    (if (exact) GraftMv.read(session, mvRoot)
                     else GraftMv.readRaw(session, mvRoot))
                      .queryExecution.analyzed
                  val byName = mvPlan.output.map(a => a.name -> a).toMap
                  // each matched query grouping expr's TARGET over the
                  // MV's columns: the group attr itself, or the
                  // derived coarser-grain expression over it
                  val targets: Seq[Option[Expression]] = groupSub.map {
                    gm =>
                      byName.get(gm.mv.alias).flatMap { attr =>
                        gm.coarsen match {
                          case None => Some(attr)
                          case Some(qt) =>
                            (try Some(PartitionTransform.parse(gm.mv.expr))
                             catch { case _: Exception => None })
                              .flatMap(mt => deriveCol(gm.mv.alias, mt, qt)
                                .flatMap(c => boundCol(
                                  s"${gm.mv.alias}:${mt.render}->" +
                                    qt.render,
                                  c, mvPlan.output)))
                        }
                      }.filter(_.dataType == gm.planExpr.dataType)
                  }
                  val groupTargets = groupSub.zip(targets).collect {
                    case (gm, Some(t)) => gm.planExpr -> t
                  }
                  val sub: AggregateExpression => Option[Expression] =
                    if (exact)
                      ae => servedAlias(ae.aggregateFunction, facts.aggs)
                        .flatMap(byName.get)
                    else
                      ae => rollupExpr(ae.aggregateFunction, facts.aggs,
                        byName)
                  // every output must rewrite onto the MV's columns
                  val mapped = aggExprs.map(e =>
                    rewriteOutput(e, groupTargets, byName, sub))
                  // the residual re-binds onto the MV's group columns
                  // (same names, the MV's exprIds)
                  var resOk = true
                  val boundResidual = residual.map(_.transformUp {
                    case a: AttributeReference =>
                      byName.get(a.name) match {
                        case Some(m) if m.dataType == a.dataType => m
                        case _ => resOk = false; a
                      }
                  })
                  if (mapped.forall(_.isDefined) && resOk &&
                      targets.forall(_.isDefined))
                    Some((mvPlan, mapped.flatten, boundResidual,
                      if (exact) None
                      else Some(groupTargets.map(_._2))))
                  else None
                case _ => None
              }
                case _ => None
              }
            case _ => None
          }
        }.take(1).toSeq.headOption
        candidate match {
          case Some((mvPlan, mapped, boundResidual, rollupKeep)) =>
            // the residual post-filters the MV's STORED rows — for a
            // rollup it must sit BELOW the re-aggregation (filtering a
            // rolled-up dimension, e.g. MV (cust, day) serving
            // `WHERE day-slice GROUP BY cust`, is only sound against
            // the partitioned rows, not the coarsened output)
            val base =
              if (boundResidual.isEmpty) mvPlan
              else Filter(boundResidual.reduce(
                org.apache.spark.sql.catalyst.expressions.And(_, _)),
                mvPlan)
            // re-alias under the Aggregate's exprIds so downstream
            // references stay resolved
            val outExprs = agg.output.zip(mapped).map { case (out, t) =>
              t match {
                case ne: NamedExpression if ne.exprId == out.exprId => ne
                case other => Alias(other, out.name)(exprId = out.exprId)
              }
            }
            rollupKeep match {
              case None => Project(outExprs, base)
              case Some(keep) =>
                // re-aggregate the (group-partitioned) MV rows at the
                // query's coarser grain — agg.copy keeps every other
                // Aggregate field as the analyzer left it
                agg.copy(groupingExpressions = keep,
                  aggregateExpressions = outExprs, child = base)
            }
          case None => agg
        }
    }
  }
}
