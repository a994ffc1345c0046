package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graft.bridge

/** The dense-cube size guard (SURVEY §7.4-4) as a real Catalyst
  * extension: a custom [[LogicalPlan]] node + an injected
  * [[Rule]] that picks the materialization strategy from the
  * optimizer's own cardinality estimate.
  *
  * The reference materializes its fact table as the DENSE cube
  * time × product × location ⟕ orders (FactTable.sql:78-110) — a
  * ~575× row amplification at its own scale and catastrophic at
  * 100 TB. [[CubeGuard]] carries BOTH candidate plans; at analysis
  * time [[ResolveCubeGuard]] reads the dense branch's estimated
  * `stats.sizeInBytes` (cross-join stats multiply, so the estimate
  * explodes exactly when the cube would) and substitutes:
  *
  *  - estimate ≤ threshold → the dense branch, byte-compatible with
  *    the reference's semantics (zero-filled empty cells);
  *  - estimate  > threshold → the sparse branch (order-grain fact,
  *    identical schema), with cube-style analysis left to
  *    `GROUP BY ... WITH CUBE` over it. Zero-quantity cells are
  *    absent — the documented scale trade (quantity/revenue
  *    aggregates are conserved).
  *
  * The substituted subtree then flows through the normal optimizer —
  * the guard itself never reaches physical planning.
  */
case class CubeGuard(dense: LogicalPlan, sparse: LogicalPlan, thresholdBytes: BigInt)
    extends LogicalPlan {
  override def children: Seq[LogicalPlan] = Seq(dense, sparse)
  // promise the weaker (more nullable) contract of the two branches, so
  // whichever one the rule substitutes can only over-deliver
  override def output: Seq[Attribute] = dense.output.zip(sparse.output).map {
    case (d, s) => d.withNullability(d.nullable || s.nullable)
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[LogicalPlan]): LogicalPlan =
    copy(dense = newChildren(0), sparse = newChildren(1))
}

object CubeGuard {
  /** Wrap two schema-compatible DataFrames in a guard node. Requires a
    * session with [[GraftExtensions]] installed (QueryDef.sessionConfs
    * sets `spark.sql.extensions`) — otherwise the node has no
    * resolution rule and planning fails fast. */
  def guarded(spark: SparkSession, dense: DataFrame, sparse: DataFrame,
              thresholdBytes: BigInt): DataFrame = {
    val d = bridge.analyzed(dense)
    val s = bridge.analyzed(sparse)
    require(d.output.map(_.name) == s.output.map(_.name) &&
      d.output.map(_.dataType) == s.output.map(_.dataType),
      s"dense/sparse schemas differ:\n  ${d.output}\n  ${s.output}")
    bridge.ofRows(spark, CubeGuard(d, s, thresholdBytes))
  }
}

/** Analysis-time elimination of [[CubeGuard]]: substitute the branch
  * the size estimate selects. Substituting the sparse branch re-aliases
  * its output to the dense branch's expression ids so downstream
  * references stay resolved. */
case class ResolveCubeGuard() extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case g: CubeGuard if g.childrenResolved =>
      if (g.dense.stats.sizeInBytes <= g.thresholdBytes) g.dense
      else Project(
        g.sparse.output.zip(g.dense.output).map { case (s, d) =>
          Alias(s, d.name)(exprId = d.exprId)
        }, g.sparse)
  }
}

/** Engine extensions, installed via `spark.sql.extensions=graft.plans.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
  import graft.functions.{HammingHex, KmvDigests, MojibakeRepair, RollingHash, UnicodeNormalize, VecDot}

  private def info(name: String, clazz: Class[_], usage: String) =
    new ExpressionInfo(clazz.getCanonicalName, null, name, usage,
      "", "", "", "", "4.0.0", "", "built-in")

  private def arity(name: String, n: Int, args: Seq[Expression]): Unit =
    if (args.size != n) throw new IllegalArgumentException(
      s"$name expects $n arguments, got ${args.size}")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectResolutionRule(_ => ResolveCubeGuard())
    // MERGE INTO over graft catalog tables → the CDC commit path
    ext.injectResolutionRule(_ => graft.sources.RewriteGraftMerge())
    // transparent MV rewrite: a GROUP BY over a graft table answers
    // from a registered FRESH materialized view (opt-in via
    // spark.graft.mv.rewrite.views; no-op when unset)
    ext.injectOptimizerRule(session => graft.sources.GraftMvRewrite(session))
    // OPTIMIZE / VACUUM statements for graft tables — everything else
    // delegates to Spark's parser untouched
    ext.injectParser((_, delegate) =>
      new graft.sources.GraftMaintenanceParser(delegate))
    ext.injectPlannerStrategy(_ => TopKStrategy)
    ext.injectPlannerStrategy(_ => GlobalRankStrategy)
    // graft scan statistics need no hook here: GraftBatchScan is a
    // native DSv2 Batch, so DataSourceV2ScanRelation.computeStats
    // consumes its SupportsReportStatistics directly
    // SQL surface for the native expressions: `spark.sql(...)` users
    // (the reference's audience writes SQL) get the same codegen'd
    // kernels the DataFrame API uses — no UDF fallback in SQL text.
    ext.injectFunction((FunctionIdentifier("vec_dot"),
      info("vec_dot", classOf[VecDot],
        "vec_dot(a, b) - dot product of two float arrays (codegen'd, sequential fold)"),
      (args: Seq[Expression]) => { arity("vec_dot", 2, args); VecDot(args(0), args(1)) }))
    ext.injectFunction((FunctionIdentifier("hamming_hex"),
      info("hamming_hex", classOf[HammingHex],
        "hamming_hex(a, b) - Hamming distance between two equal-length hex fingerprints"),
      (args: Seq[Expression]) => { arity("hamming_hex", 2, args); HammingHex(args(0), args(1)) }))
    ext.injectFunction((FunctionIdentifier("rolling_hash"),
      info("rolling_hash", classOf[RollingHash],
        "rolling_hash(s) - Rabin-Karp polynomial hash of a string"),
      (args: Seq[Expression]) => { arity("rolling_hash", 1, args); RollingHash(args(0)) }))
    ext.injectFunction((FunctionIdentifier("damerau_levenshtein"),
      info("damerau_levenshtein", classOf[graft.functions.DamerauLevenshtein],
        "damerau_levenshtein(a, b) - unrestricted Damerau-Levenshtein edit distance (adjacent transposition = 1 edit)"),
      (args: Seq[Expression]) => {
        arity("damerau_levenshtein", 2, args)
        graft.functions.DamerauLevenshtein(args(0), args(1))
      }))
    ext.injectFunction((FunctionIdentifier("lcs_length"),
      info("lcs_length", classOf[graft.functions.LcsLength],
        "lcs_length(a, b) - longest common subsequence length of two string arrays (two-row DP, codegen'd)"),
      (args: Seq[Expression]) => {
        arity("lcs_length", 2, args)
        graft.functions.LcsLength(args(0), args(1))
      }))
    ext.injectFunction((FunctionIdentifier("utf8_truncate"),
      info("utf8_truncate", classOf[graft.functions.Utf8Truncate],
        "utf8_truncate(s, maxBytes) - longest prefix of at most maxBytes UTF-8 bytes that never splits a codepoint"),
      (args: Seq[Expression]) => {
        arity("utf8_truncate", 2, args)
        graft.functions.Utf8Truncate(args(0), args(1))
      }))
    ext.injectFunction((FunctionIdentifier("jaro_winkler"),
      info("jaro_winkler", classOf[graft.functions.JaroWinkler],
        "jaro_winkler(a, b) - Jaro-Winkler similarity in [0,1] (codegen'd; DuckDB-compatible semantics)"),
      (args: Seq[Expression]) => {
        arity("jaro_winkler", 2, args)
        graft.functions.JaroWinkler(args(0), args(1))
      }))
    // Spark ships BloomFilterAggregate/BloomFilterMightContain for its
    // own runtime-filter injection but leaves them out of the public
    // FunctionRegistry; surfacing them gives the engine an explicit
    // bloom-prefiltered semi-join (build a compact filter over the keep
    // side, drop fact rows before the shuffle, exact semi-join confirms)
    // — the 100 TB path when the keep side is too big to broadcast.
    ext.injectFunction((FunctionIdentifier("bloom_filter_agg"),
      info("bloom_filter_agg",
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate],
        "bloom_filter_agg(xxhash64(key), estimatedItems, numBits) - aggregate: serialized bloom filter of the keys"),
      (args: Seq[Expression]) => {
        arity("bloom_filter_agg", 3, args)
        new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(args(0), args(1), args(2)).toAggregateExpression()
      }))
    ext.injectFunction((FunctionIdentifier("might_contain"),
      info("might_contain",
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain],
        "might_contain(bloomFilter, xxhash64(key)) - false => key definitely absent; true => probably present"),
      (args: Seq[Expression]) => {
        arity("might_contain", 2, args)
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(args(0), args(1))
      }))
    ext.injectFunction((FunctionIdentifier("unicode_normalize"),
      info("unicode_normalize", classOf[UnicodeNormalize],
        "unicode_normalize(s, 'NFC'|'NFKC'|'NFD'|'NFKD') - Unicode normalization (JDK Normalizer, codegen'd)"),
      (args: Seq[Expression]) => {
        arity("unicode_normalize", 2, args)
        val form = args(1) match {
          case Literal(v, org.apache.spark.sql.types.StringType) if v != null =>
            v.toString
          case other => throw new IllegalArgumentException(
            s"unicode_normalize form must be a string literal, got $other")
        }
        UnicodeNormalize(args(0), form)
      }))
    ext.injectFunction((FunctionIdentifier("mojibake_repair"),
      info("mojibake_repair", classOf[MojibakeRepair],
        "mojibake_repair(s) - undo UTF-8-read-as-Latin-1 double encoding when strictly valid; identity otherwise"),
      (args: Seq[Expression]) => {
        arity("mojibake_repair", 1, args); MojibakeRepair(args(0))
      }))
    ext.injectFunction((FunctionIdentifier("kmv_digests"),
      info("kmv_digests", classOf[KmvDigests],
        "kmv_digests(hash, k) - aggregate: ascending array of the k smallest distinct digests"),
      (args: Seq[Expression]) => {
        arity("kmv_digests", 2, args)
        val k = args(1) match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"kmv_digests k must be an integer literal, got $other")
        }
        KmvDigests(args(0), k).toAggregateExpression()
      }))
  }
}
