package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.Observation
import graft.{GraftQuery, Tables}
import graft.sources.{GraftMv, GraftTable, MvAgg, MvGroup}

/** Table-maintenance operators: the jobs a lakehouse runs BETWEEN
  * queries to keep 100 TB readable — small-file compaction planning
  * and single-pass pipeline observability.
  */
object MaintenanceQueries {

  /** Small-file compaction planner. The documents corpus is treated as
    * a ledger of per-source data files (64 doc_id ranges per source,
    * sized by their text bytes); the planner assigns CONTIGUOUS file
    * runs to compaction groups by cumulative-size binning: a file's
    * group is `floor(bytes_before_it / target)` within its source, so
    * every group is a consecutive range totalling ≈ the target size —
    * exactly the grouping OPTIMIZE-style compaction executes, and
    * contiguity is what keeps a sort-ordered layout sorted after the
    * rewrite.
    *
    * Scale: one window cumsum PARTITIONED BY source (parallel across
    * sources, no global sort), then one aggregation — both shuffles on
    * the same key. A 100 TB table's file ledger is ~10^6 rows — this
    * plan costs nothing next to the rewrite it schedules. */
  val q186CompactionPlan = GraftQuery(
    "q186_compaction_plan",
    (s, dir) => {
      val target = 400000L // bytes per compaction group
      val files = Tables.documents(s, dir)
        .groupBy(col("source"), (col("doc_id") % 64).as("file_id"))
        .agg(sum("n_chars").as("bytes"), count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("source").orderBy("file_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      files
        .withColumn("grp",
          (coalesce(sum("bytes").over(w), lit(0L)) / target).cast("long"))
        .groupBy("source", "grp")
        .agg(count(lit(1)).as("n_files"), sum("bytes").as("grp_bytes"),
          sum("n_docs").as("n_docs"),
          min("file_id").as("first_file"), max("file_id").as("last_file"))
        .orderBy("source", "grp")
    },
    Some("""WITH files AS (
           |  SELECT source, doc_id % 64 AS file_id,
           |    CAST(sum(n_chars) AS BIGINT) AS bytes, count(*) AS n_docs
           |  FROM documents GROUP BY 1, 2),
           |planned AS (
           |  SELECT source, file_id, bytes, n_docs,
           |    CAST(COALESCE(sum(bytes) OVER (PARTITION BY source
           |      ORDER BY file_id ROWS BETWEEN UNBOUNDED PRECEDING
           |      AND 1 PRECEDING), 0) // 400000 AS BIGINT) AS grp
           |  FROM files)
           |SELECT source, grp, count(*) AS n_files,
           |  CAST(sum(bytes) AS BIGINT) AS grp_bytes,
           |  CAST(sum(n_docs) AS BIGINT) AS n_docs,
           |  min(file_id) AS first_file, max(file_id) AS last_file
           |FROM planned GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  /** Single-pass pipeline observability: Spark's `observe` API
    * (CollectMetrics plan node) computes data-quality counters DURING
    * the main pass — row counts, null rates, value bounds — with zero
    * extra scans; executors fold the metrics into accumulators as the
    * rows stream through. This is how a production ingest reports
    * health at 100 TB: the alternative (a second aggregation query)
    * doubles the read. The gate query returns the observed metrics as
    * a one-row table; the oracle recomputes them declaratively. */
  val q187ObservedProfile = GraftQuery(
    "q187_observed_profile",
    (s, dir) => {
      val obs = Observation()
      val li = Tables.lineitem(s, dir).observe(
        obs,
        count(lit(1)).as("n_rows"),
        sum(when(col("l_quantity").isNull, 1).otherwise(0)).as("null_qty"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"),
        max("l_quantity").as("max_qty"))
      // the observed pass does real work (a filtered write-shaped
      // projection); metrics cover ALL rows seen, pre-filter
      li.filter(col("l_quantity") > 0).select("l_orderkey").count()
      val m = obs.get
      def asL(k: String) = m(k).asInstanceOf[Number].longValue()
      def asD(k: String) = m(k).asInstanceOf[Number].doubleValue()
      import s.implicits._
      Seq((asL("n_rows"), asL("null_qty"), asD("revenue"), asD("max_qty")))
        .toDF("n_rows", "null_qty", "revenue", "max_qty")
    },
    Some("""SELECT count(*) AS n_rows,
           |  CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS null_qty,
           |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           |  max(l_quantity) AS max_qty
           |FROM lineitem""".stripMargin))

  /** ANALYZE-style column statistics profiler: per column of the
    * documents table — row count, null count, exact NDV, min/max, and
    * average rendered length. The shape every cost-based optimizer and
    * data-quality monitor needs per table.
    *
    * Scale: the table is melted to (col_name, value) pairs — a
    * projection-only 5× row expansion, no shuffle — then aggregated in
    * TWO levels: groupBy(col_name, value) with map-side combine (the
    * heavy stage, equivalent to Spark's count-distinct Expand but with
    * explicit partial aggregation), then a final pass over the
    * VOCABULARY-sized (col_name, value, cnt) table. Exact NDV is the
    * gate contract; at 100 TB the one-pass approximate path is the KMV
    * sketch already gated by q34/q104. min/max for the integer columns
    * are computed numerically (lexicographic string min would order
    * "9" > "10") and rendered as integers, which both engines format
    * identically. */
  val q200ColumnStats = GraftQuery(
    "q200_column_stats",
    (s, dir) => {
      val numericCols = Seq("doc_id", "n_chars")
      val melted = Tables.documents(s, dir).select(expr(
        """stack(5,
          |  'doc_id',  cast(doc_id as string),
          |  'lang',    lang,
          |  'n_chars', cast(n_chars as string),
          |  'source',  source,
          |  'text',    text) as (col_name, value)""".stripMargin))
      val grouped = melted
        .groupBy("col_name", "value").agg(count(lit(1)).as("cnt"))
      val isNum = col("col_name").isin(numericCols: _*)
      grouped
        .groupBy("col_name")
        .agg(
          sum("cnt").as("n_rows"),
          coalesce(sum(when(col("value").isNull, col("cnt"))), lit(0L))
            .as("n_null"),
          count(when(col("value").isNotNull, lit(1))).as("ndv"),
          min(when(isNum, col("value").cast("long"))).as("min_num"),
          max(when(isNum, col("value").cast("long"))).as("max_num"),
          min(when(!isNum, col("value"))).as("min_str"),
          max(when(!isNum, col("value"))).as("max_str"),
          sum(when(col("value").isNotNull, length(col("value")) * col("cnt")))
            .as("len_sum"))
        .select(col("col_name"), col("n_rows"), col("n_null"), col("ndv"),
          coalesce(col("min_num").cast("string"), col("min_str")).as("min_s"),
          coalesce(col("max_num").cast("string"), col("max_str")).as("max_s"),
          round(col("len_sum") / (col("n_rows") - col("n_null")).cast("double"),
            4).as("avg_len"))
        .orderBy("col_name")
    },
    Some("""WITH melted AS (
           |  SELECT 'doc_id' AS col_name, CAST(doc_id AS VARCHAR) AS value,
           |    TRUE AS is_num FROM documents
           |  UNION ALL SELECT 'lang', lang, FALSE FROM documents
           |  UNION ALL
           |  SELECT 'n_chars', CAST(n_chars AS VARCHAR), TRUE FROM documents
           |  UNION ALL SELECT 'source', source, FALSE FROM documents
           |  UNION ALL SELECT 'text', text, FALSE FROM documents)
           |SELECT col_name, count(*) AS n_rows,
           |  CAST(COALESCE(sum(CASE WHEN value IS NULL THEN 1 END), 0)
           |    AS BIGINT) AS n_null,
           |  count(DISTINCT value) AS ndv,
           |  CASE WHEN bool_and(is_num)
           |    THEN CAST(min(TRY_CAST(value AS BIGINT)) AS VARCHAR)
           |    ELSE min(value) END AS min_s,
           |  CASE WHEN bool_and(is_num)
           |    THEN CAST(max(TRY_CAST(value AS BIGINT)) AS VARCHAR)
           |    ELSE max(value) END AS max_s,
           |  round(sum(length(value)) /
           |    CAST(count(value) AS DOUBLE), 4) AS avg_len
           |FROM melted GROUP BY 1 ORDER BY 1""".stripMargin))

  /** CDC-style snapshot reconciliation: diff two table versions by key
    * and classify every key as added / deleted / changed / unchanged,
    * reporting per-status counts and a key checksum. The two versions
    * are derived deterministically from `orders` inside the query
    * (drop keys ≡ 0 mod 97 from the old snapshot, drop ≡ 0 mod 89 and
    * reprice ≡ 0 mod 13 in the new one) so the oracle can replay them.
    *
    * Scale: one hash full-outer join on the key — no window, no sort.
    * Change detection compares a single md5 over the payload (with the
    * price held as integer cents so both engines hash identical bytes)
    * instead of N column comparisons; this is the standard 100 TB
    * snapshot-reconciliation scan shape. */
  val q201SnapshotDiff = GraftQuery(
    "q201_snapshot_diff",
    (s, dir) => {
      def cents(c: org.apache.spark.sql.Column) =
        floor(c * 100 + lit(0.5)).cast("long")
      val base = Tables.orders(s, dir).select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      val old = base.filter(col("o_orderkey") % 97 =!= 0)
        .select(col("o_orderkey"), md5(concat_ws("|", col("o_custkey"),
          col("o_orderstatus"), cents(col("o_totalprice")))).as("h_old"))
      val nw = base.filter(col("o_orderkey") % 89 =!= 0)
        .withColumn("price2", when(col("o_orderkey") % 13 === 0,
          col("o_totalprice") * 1.1).otherwise(col("o_totalprice")))
        .select(col("o_orderkey"), md5(concat_ws("|", col("o_custkey"),
          col("o_orderstatus"), cents(col("price2")))).as("h_new"))
      old.join(nw, Seq("o_orderkey"), "full_outer")
        .withColumn("status",
          when(col("h_old").isNull, "added")
            .when(col("h_new").isNull, "deleted")
            .when(col("h_old") =!= col("h_new"), "changed")
            .otherwise("unchanged"))
        .groupBy("status")
        .agg(count(lit(1)).as("n_rows"),
          sum(conv(substring(md5(col("o_orderkey").cast("string")), 1, 8),
            16, 10).cast("long")).as("key_checksum"))
        .orderBy("status")
    },
    Some("""WITH old AS (
           |  SELECT o_orderkey, md5(o_custkey || '|' || o_orderstatus || '|'
           |    || CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS h_old
           |  FROM orders WHERE o_orderkey % 97 <> 0),
           |nw AS (
           |  SELECT o_orderkey, md5(o_custkey || '|' || o_orderstatus || '|'
           |    || CAST(floor(CASE WHEN o_orderkey % 13 = 0
           |         THEN o_totalprice * 1.1 ELSE o_totalprice END * 100 + 0.5)
           |       AS BIGINT)) AS h_new
           |  FROM orders WHERE o_orderkey % 89 <> 0),
           |diff AS (
           |  SELECT COALESCE(old.o_orderkey, nw.o_orderkey) AS k,
           |    CASE WHEN h_old IS NULL THEN 'added'
           |         WHEN h_new IS NULL THEN 'deleted'
           |         WHEN h_old <> h_new THEN 'changed'
           |         ELSE 'unchanged' END AS status
           |  FROM old FULL OUTER JOIN nw USING (o_orderkey))
           |SELECT status, count(*) AS n_rows,
           |  CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 8))::BIGINT)
           |    AS BIGINT) AS key_checksum
           |FROM diff GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Generic MERGE INTO (upsert) semantics — the write-side operator
    * every lakehouse table format executes: target `customer` merged
    * with a source batch of per-customer order totals.
    *   WHEN MATCHED AND n_orders >= 15 THEN DELETE        (churn rule)
    *   WHEN MATCHED             THEN UPDATE acctbal += total
    *   WHEN NOT MATCHED         THEN INSERT a new row
    * Source keys ≡ 0 mod 50 are shifted by +1,000,000 so the
    * not-matched branch is exercised. The gate reports per-action row
    * counts with key and balance checksums over the POST-merge table.
    *
    * Scale: exactly how Delta/Iceberg execute MERGE — one hash
    * full-outer join of target and source on the key, then a per-row
    * action projection; no window, no sort, no second scan. Money is
    * held as integer cents end-to-end (per-row floor before any sum)
    * so the aggregate is associative and both engines agree exactly. */
  val q204MergeUpsert = GraftQuery(
    "q204_merge_upsert",
    (s, dir) => {
      val src = Tables.orders(s, dir)
        .select(col("o_custkey"),
          floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")
            .as("price_cents"))
        .groupBy("o_custkey")
        .agg(sum("price_cents").as("total_cents"),
          count(lit(1)).as("n_orders"))
        .select(
          when(col("o_custkey") % 50 === 0, col("o_custkey") + 1000000L)
            .otherwise(col("o_custkey")).as("k"),
          col("total_cents"), col("n_orders"))
      val tgt = Tables.customer(s, dir)
        .select(col("c_custkey").as("k"),
          floor(col("c_acctbal") * 100 + lit(0.5)).cast("long")
            .as("bal_cents"))
      tgt.join(src, Seq("k"), "full_outer")
        .withColumn("action",
          when(col("bal_cents").isNull, "inserted")
            .when(col("total_cents").isNull, "untouched")
            .when(col("n_orders") >= 15, "deleted")
            .otherwise("updated"))
        .withColumn("new_bal",
          when(col("action") === "inserted", col("total_cents"))
            .when(col("action") === "updated",
              col("bal_cents") + col("total_cents"))
            .when(col("action") === "untouched", col("bal_cents")))
        .groupBy("action")
        .agg(count(lit(1)).as("n_rows"),
          sum(conv(substring(md5(col("k").cast("string")), 1, 8), 16, 10)
            .cast("long")).as("key_checksum"),
          coalesce(sum("new_bal"), lit(0L)).as("bal_cents_sum"))
        .orderBy("action")
    },
    Some("""WITH src AS (
           |  SELECT CASE WHEN o_custkey % 50 = 0 THEN o_custkey + 1000000
           |           ELSE o_custkey END AS k,
           |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
           |      AS BIGINT) AS total_cents,
           |    count(*) AS n_orders
           |  FROM orders GROUP BY o_custkey),
           |tgt AS (
           |  SELECT c_custkey AS k,
           |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
           |  FROM customer),
           |merged AS (
           |  SELECT COALESCE(tgt.k, src.k) AS k, bal_cents, total_cents,
           |    CASE WHEN bal_cents IS NULL THEN 'inserted'
           |         WHEN total_cents IS NULL THEN 'untouched'
           |         WHEN n_orders >= 15 THEN 'deleted'
           |         ELSE 'updated' END AS action
           |  FROM tgt FULL OUTER JOIN src USING (k))
           |SELECT action, count(*) AS n_rows,
           |  CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 8))::BIGINT)
           |    AS BIGINT) AS key_checksum,
           |  CAST(COALESCE(sum(CASE action
           |    WHEN 'inserted' THEN total_cents
           |    WHEN 'updated' THEN bal_cents + total_cents
           |    WHEN 'untouched' THEN bal_cents END), 0) AS BIGINT)
           |    AS bal_cents_sum
           |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Incremental aggregate maintenance: a materialized per-bucket
    * aggregate (count / sum / max over `orders`, keyed by
    * o_custkey % 100) is built from the base partition
    * (o_orderdate < 1998-01-01), then MERGED with the delta
    * partition's aggregate — coalesced counts add, sums add, maxes
    * take greatest — instead of recomputing over the union. The oracle
    * aggregates the whole table directly, so the gate proves the merge
    * is exactly the recompute (associativity of the aggregate state).
    *
    * Scale: this is the nightly-incremental pattern — the base
    * aggregate is bucket-sized (here 100 rows; at 100 TB still ~keys,
    * not rows) and only the delta is scanned, so daily cost tracks the
    * day's data, not table history. Money as per-row integer cents
    * keeps every partial sum associative and engine-exact. */
  val q207IncrementalAgg = GraftQuery(
    "q207_incremental_agg",
    (s, dir) => {
      val withCents = Tables.orders(s, dir).select(
        (col("o_custkey") % 100).as("bucket"),
        col("o_orderdate"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")
          .as("price_cents"))
      def aggOf(df: org.apache.spark.sql.DataFrame) = df.groupBy("bucket")
        .agg(count(lit(1)).as("n"), sum("price_cents").as("cents"),
          max("price_cents").as("max_cents"))
      val cut = lit("1998-01-01").cast("date")
      val base = aggOf(withCents.filter(col("o_orderdate").cast("date") < cut))
      val delta = aggOf(withCents.filter(col("o_orderdate").cast("date") >= cut))
      base.select(col("bucket"), col("n").as("bn"), col("cents").as("bc"),
          col("max_cents").as("bm"))
        .join(delta, Seq("bucket"), "full_outer")
        .select(col("bucket"),
          (coalesce(col("bn"), lit(0L)) + coalesce(col("n"), lit(0L)))
            .as("n_orders"),
          (coalesce(col("bc"), lit(0L)) + coalesce(col("cents"), lit(0L)))
            .as("cents_sum"),
          greatest(coalesce(col("bm"), lit(Long.MinValue)),
            coalesce(col("max_cents"), lit(Long.MinValue))).as("max_cents"))
        .orderBy("bucket")
    },
    Some("""SELECT o_custkey % 100 AS bucket, count(*) AS n_orders,
           |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
           |    AS BIGINT) AS cents_sum,
           |  CAST(max(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
           |    AS BIGINT) AS max_cents
           |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Temp roots live until JVM exit (caller materializes AFTER the
    * query returns); one static hook sweeps the shared list — same
    * contract as SourceQueries. */
  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  locally {
    sys.addShutdownHook {
      tempDirs.forEach(f =>
        org.apache.commons.io.FileUtils.deleteQuietly(f): Unit)
    }: Unit
  }
  private def newTempDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    tempDirs.add(dir)
    dir.getAbsolutePath
  }

  /** Run two INDEPENDENT maintenance phases concurrently (guide §2.6:
    * actions are only sequential because driver code calls them
    * sequentially — a second job's tasks back-fill executors the first
    * leaves idle, and these lifecycle gates are bound by per-commit
    * coordination, not data parallelism). Same work, overlapped;
    * callers own the independence proof (distinct tables / distinct
    * MV roots — the OCC commit protocol arbitrates anything shared).
    * `b` runs on a scratch thread; failures rethrow on the caller. */
  private def par2[A, B](a: => A, b: => B): (A, B) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val fb = Future(b)
    val ra = a
    (ra, Await.result(fb, scala.concurrent.duration.Duration.Inf))
  }

  /** Whether `df`'s executed plan scans the table at `mvRoot` — the
    * MV-served check of the rewrite gates. Matched on each file scan's
    * relation (its root paths under `mvRoot/`), never on the plan
    * text: a file index prints its path list elided past
    * `spark.sql.maxMetadataStringLength`, so a text match depends on
    * how long the temp path is. Walks adaptive stages and subqueries. */
  private def scansMv(df: org.apache.spark.sql.DataFrame,
      mvRoot: String): Boolean = {
    val prefix = new org.apache.hadoop.fs.Path(mvRoot).toUri.getPath + "/"
    new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(df.queryExecution.executedPlan) {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.exists(_.toUri.getPath
            .startsWith(prefix))
      }.contains(true)
  }

  /** Versioned-table time travel through [[GraftTable]] — the full
    * lakehouse write path exercised END TO END against a logical
    * replay: create v0 from `customer`, copy-on-write UPSERT a batch
    * of per-customer order totals (keys ≡ 0 mod 50 shifted so inserts
    * happen) into v1, copy-on-write DELETE (bal ≡ 0 mod 7) into v2,
    * then snapshot-read ALL THREE versions from one table and emit
    * per-version row/balance/key/name checksums. Any error in the
    * manifest log, file pruning, carried-file bookkeeping, merge
    * join, or delete rewrite shows up as a checksum drift in SOME
    * version (deleting a carried file corrupts v0's sums; rewriting
    * too few files corrupts v1's).
    *
    * Scale: the data path is DataFrame write/read per commit; only
    * the metadata-sized file ledger touches the driver (the contract
    * every production table format has). Balances are integer cents
    * end-to-end, so every aggregate is exact. File-COUNT assertions
    * (pruning actually carries files forward) live in
    * GraftTableSpec — DuckDB can only replay the logical content. */
  val q214TableTimeTravel = GraftQuery(
    "q214_table_time_travel",
    (s, dir) => {
      val root = newTempDir("graft_table_tt") + "/tbl"
      val v0 = Tables.customer(s, dir).select(
        col("c_custkey").cast("long").as("k"),
        col("c_name").as("name"),
        floor(col("c_acctbal") * 100 + lit(0.5)).cast("long").as("bal_cents"))
      GraftTable.create(s, root, v0, "k", nBuckets = 8)
      val batch = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"))
          .as("bal_cents"))
        .select(
          when(col("o_custkey") % 50 === 0, col("o_custkey") + 1000000L)
            .otherwise(col("o_custkey")).cast("long").as("k"),
          col("bal_cents"))
        .withColumn("name", concat(lit("Batch#"), col("k").cast("string")))
      GraftTable.upsert(s, root, batch.select("k", "name", "bal_cents"), "k")
      GraftTable.deleteWhere(s, root, col("bal_cents") % 7 === 0, "k")
      def slice(c: org.apache.spark.sql.Column) =
        conv(substring(md5(c), 1, 8), 16, 10).cast("long")
      def summary(v: Int) = GraftTable.read(s, root, Some(v))
        .agg(count(lit(1)).as("n_rows"), sum("bal_cents").as("bal_sum"),
          sum(slice(col("k").cast("string"))).as("key_sum"),
          sum(slice(col("name"))).as("name_sum"))
        .select(lit(v).cast("long").as("version"), col("n_rows"),
          col("bal_sum"), col("key_sum"), col("name_sum"))
      summary(0).unionAll(summary(1)).unionAll(summary(2))
        .orderBy("version")
    },
    Some("""WITH v0 AS (
           |  SELECT CAST(c_custkey AS BIGINT) AS k, c_name AS name,
           |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
           |  FROM customer),
           |batch AS (
           |  SELECT CAST(CASE WHEN o_custkey % 50 = 0
           |      THEN o_custkey + 1000000 ELSE o_custkey END AS BIGINT) AS k,
           |    'Batch#' || CAST(CASE WHEN o_custkey % 50 = 0
           |      THEN o_custkey + 1000000 ELSE o_custkey END AS VARCHAR) AS name,
           |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
           |      AS BIGINT) AS bal_cents
           |  FROM orders GROUP BY o_custkey),
           |v1 AS (
           |  SELECT COALESCE(b.k, t.k) AS k,
           |    COALESCE(b.name, t.name) AS name,
           |    COALESCE(b.bal_cents, t.bal_cents) AS bal_cents
           |  FROM v0 t FULL OUTER JOIN batch b ON t.k = b.k),
           |v2 AS (SELECT * FROM v1 WHERE NOT (bal_cents % 7 = 0)),
           |s AS (
           |  SELECT 0 AS v, count(*) AS n_rows, sum(bal_cents) AS bal_sum,
           |    sum(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 8))::BIGINT)
           |      AS key_sum,
           |    sum(('0x' || substr(md5(name), 1, 8))::BIGINT) AS name_sum
           |  FROM v0
           |  UNION ALL
           |  SELECT 1, count(*), sum(bal_cents),
           |    sum(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 8))::BIGINT),
           |    sum(('0x' || substr(md5(name), 1, 8))::BIGINT)
           |  FROM v1
           |  UNION ALL
           |  SELECT 2, count(*), sum(bal_cents),
           |    sum(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 8))::BIGINT),
           |    sum(('0x' || substr(md5(name), 1, 8))::BIGINT)
           |  FROM v2)
           |SELECT CAST(v AS BIGINT) AS version, n_rows,
           |  CAST(bal_sum AS BIGINT) AS bal_sum,
           |  CAST(key_sum AS BIGINT) AS key_sum,
           |  CAST(name_sum AS BIGINT) AS name_sum
           |FROM s ORDER BY version""".stripMargin))

  /** Data-skipping key-range reads against [[GraftTable]]: three point/
    * range lookups served through `readRange`, which opens ONLY the
    * data files whose manifest key interval intersects the predicate
    * (the lookup path that touches a handful of range-bucketed files
    * at 100 TB instead of the table). The oracle replays each range as
    * a plain filter over `customer` — any file the pruner wrongly
    * skips loses rows and flips a checksum; FILE-COUNT pruning
    * effectiveness (narrow range ⇒ fewer files opened) is pinned in
    * GraftTableSpec, which the logical replay can't see. */
  val q220PrunedRead = GraftQuery(
    "q220_pruned_read",
    (s, dir) => {
      val root = newTempDir("graft_table_pr") + "/tbl"
      val v0 = Tables.customer(s, dir).select(
        col("c_custkey").cast("long").as("k"),
        col("c_name").as("name"),
        floor(col("c_acctbal") * 100 + lit(0.5)).cast("long").as("bal_cents"))
      GraftTable.create(s, root, v0, "k", nBuckets = 8)
      def slice(c: org.apache.spark.sql.Column) =
        conv(substring(md5(c), 1, 8), 16, 10).cast("long")
      def one(lower: Long, upper: Long) =
        GraftTable.readRange(s, root, "k", lower, upper)
          .agg(coalesce(count(lit(1)), lit(0L)).as("n_rows"),
            coalesce(sum("bal_cents"), lit(0L)).as("bal_sum"),
            coalesce(sum(slice(col("k").cast("string"))), lit(0L)).as("key_sum"))
          .select(lit(lower).as("lower"), lit(upper).as("upper"),
            col("n_rows"), col("bal_sum"), col("key_sum"))
      one(1L, 100L).unionAll(one(701L, 950L)).unionAll(one(10L, 10L))
        .orderBy("lower")
    },
    Some("""WITH t AS (
           |  SELECT CAST(c_custkey AS BIGINT) AS k,
           |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
           |  FROM customer),
           |r AS (SELECT * FROM (VALUES (CAST(1 AS BIGINT), CAST(100 AS BIGINT)),
           |        (701, 950), (10, 10)) AS v(lo, hi))
           |SELECT r.lo AS lower, r.hi AS upper,
           |  count(t.k) AS n_rows,
           |  CAST(COALESCE(sum(t.bal_cents), 0) AS BIGINT) AS bal_sum,
           |  CAST(COALESCE(sum(('0x' || substr(md5(CAST(t.k AS VARCHAR)), 1, 8))
           |    ::BIGINT), 0) AS BIGINT) AS key_sum
           |FROM r LEFT JOIN t ON t.k >= r.lo AND t.k <= r.hi
           |GROUP BY r.lo, r.hi ORDER BY lower""".stripMargin))

  /** OPTIMIZE executed against [[GraftTable]] — q186 plans compaction
    * on a file ledger; this runs the rewrite on the real table format:
    * a 32-small-file table is bin-packed into ~4 target-sized units as
    * a NEW version, and the gate checksums BOTH versions — optimize
    * must be a logical no-op (identical rows before and after, proven
    * by identical per-version checksums against one oracle replay),
    * while the file-count shrink it exists for is pinned in
    * GraftTableSpec. Copy-on-write means v0 stays readable: the gate
    * reads it THROUGH the post-optimize log. */
  val q221TableOptimize = GraftQuery(
    "q221_table_optimize",
    (s, dir) => {
      val root = newTempDir("graft_table_opt") + "/tbl"
      val v0 = Tables.customer(s, dir).select(
        col("c_custkey").cast("long").as("k"),
        floor(col("c_acctbal") * 100 + lit(0.5)).cast("long").as("bal_cents"))
      GraftTable.create(s, root, v0, "k", nBuckets = 32)
      val nRows = GraftTable.history(s, root).head._3
      GraftTable.optimize(s, root, "k", targetRows = math.max(1L, nRows / 4))
      def slice(c: org.apache.spark.sql.Column) =
        conv(substring(md5(c), 1, 8), 16, 10).cast("long")
      def summary(v: Int) = GraftTable.read(s, root, Some(v))
        .agg(count(lit(1)).as("n_rows"), sum("bal_cents").as("bal_sum"),
          sum(slice(col("k").cast("string"))).as("key_sum"))
        .select(lit(v).cast("long").as("version"), col("n_rows"),
          col("bal_sum"), col("key_sum"))
      summary(0).unionAll(summary(1)).orderBy("version")
    },
    Some("""WITH t AS (
           |  SELECT CAST(c_custkey AS BIGINT) AS k,
           |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
           |  FROM customer),
           |s AS (
           |  SELECT count(*) AS n_rows,
           |    CAST(sum(bal_cents) AS BIGINT) AS bal_sum,
           |    CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 8))
           |      ::BIGINT) AS BIGINT) AS key_sum
           |  FROM t)
           |SELECT CAST(v.v AS BIGINT) AS version, n_rows, bal_sum, key_sum
           |FROM s CROSS JOIN (VALUES (0), (1)) AS v(v)
           |ORDER BY version""".stripMargin))

  /** Schema evolution on [[GraftTable]]: ADD COLUMN as a METADATA-ONLY
    * commit (v1 carries every v0 data file by reference and publishes a
    * versioned schema — the zero-data-I/O property that makes evolving
    * a 100 TB table instantaneous), then an upsert (v2) that writes the
    * new column. The gate reads ALL THREE versions: v0 must keep its
    * original 3-column shape (no ghost columns under time travel), v1
    * must surface the new column NULL-filled for every pre-evolution
    * row, and v2 must carry batch values while non-batch rows stay
    * NULL. Column-COUNT per version comes from the versioned schema
    * log, not the data. File-carry bookkeeping (v1's manifest is
    * byte-identical to v0's) is pinned in GraftTableSpec. */
  val q222TableSchemaEvolution = GraftQuery(
    "q222_table_schema_evolution",
    (s, dir) => {
      val root = newTempDir("graft_table_se") + "/tbl"
      val v0 = Tables.customer(s, dir).select(
        col("c_custkey").cast("long").as("k"),
        col("c_name").as("name"),
        floor(col("c_acctbal") * 100 + lit(0.5)).cast("long").as("bal_cents"))
      GraftTable.create(s, root, v0, "k", nBuckets = 8)
      GraftTable.evolveAddColumns(s, root, Seq(
        org.apache.spark.sql.types.StructField("segment",
          org.apache.spark.sql.types.StringType, nullable = true)))
      val batch = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"))
          .as("bal_cents"))
        .select(col("o_custkey").cast("long").as("k"), col("bal_cents"),
          concat(lit("Batch#"), col("o_custkey").cast("string")).as("name"),
          concat(lit("SEG"), (col("o_custkey") % 3).cast("string")).as("segment"))
      GraftTable.upsert(s, root, batch.select("k", "name", "bal_cents", "segment"), "k")
      def slice(c: org.apache.spark.sql.Column) =
        conv(substring(md5(c), 1, 8), 16, 10).cast("long")
      def summary(v: Int) = {
        val snap = GraftTable.read(s, root, Some(v))
        val hasSeg = snap.columns.contains("segment")
        val withSeg =
          if (hasSeg) snap
          else snap.withColumn("segment", lit(null).cast("string"))
        // a version whose schema predates the column reports NULL seg
        // stats (the column does not exist there, 0 would be a lie)
        def maybe(c: org.apache.spark.sql.Column) =
          if (hasSeg) c else lit(null).cast("long")
        withSeg.agg(count(lit(1)).as("n_rows"), sum("bal_cents").as("bal_sum"),
          sum(col("segment").isNull.cast("long")).as("nn"),
          coalesce(sum(slice(col("segment"))), lit(0L)).as("ss"))
          .select(lit(v).cast("long").as("version"),
            lit(snap.columns.length).cast("long").as("n_cols"),
            col("n_rows"), col("bal_sum"),
            maybe(col("nn")).as("seg_nulls"), maybe(col("ss")).as("seg_sum"))
      }
      summary(0).unionAll(summary(1)).unionAll(summary(2)).orderBy("version")
    },
    Some("""WITH v0 AS (
           |  SELECT CAST(c_custkey AS BIGINT) AS k, c_name AS name,
           |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
           |  FROM customer),
           |batch AS (
           |  SELECT CAST(o_custkey AS BIGINT) AS k,
           |    'Batch#' || CAST(o_custkey AS VARCHAR) AS name,
           |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
           |      AS BIGINT) AS bal_cents,
           |    'SEG' || CAST(o_custkey % 3 AS VARCHAR) AS segment
           |  FROM orders GROUP BY o_custkey),
           |v1 AS (SELECT k, name, bal_cents, CAST(NULL AS VARCHAR) AS segment
           |       FROM v0),
           |v2 AS (
           |  SELECT COALESCE(b.k, t.k) AS k,
           |    COALESCE(b.name, t.name) AS name,
           |    COALESCE(b.bal_cents, t.bal_cents) AS bal_cents,
           |    COALESCE(b.segment, t.segment) AS segment
           |  FROM v1 t FULL OUTER JOIN batch b ON t.k = b.k),
           |s AS (
           |  SELECT 0 AS v, 3 AS n_cols, count(*) AS n_rows,
           |    sum(bal_cents) AS bal_sum,
           |    CAST(NULL AS BIGINT) AS seg_nulls, CAST(NULL AS BIGINT) AS seg_sum
           |  FROM v0
           |  UNION ALL
           |  SELECT 1, 4, count(*), sum(bal_cents),
           |    sum(CASE WHEN segment IS NULL THEN 1 ELSE 0 END),
           |    COALESCE(sum(('0x' || substr(md5(segment), 1, 8))::BIGINT), 0)
           |  FROM v1
           |  UNION ALL
           |  SELECT 2, 4, count(*), sum(bal_cents),
           |    sum(CASE WHEN segment IS NULL THEN 1 ELSE 0 END),
           |    COALESCE(sum(('0x' || substr(md5(segment), 1, 8))::BIGINT), 0)
           |  FROM v2)
           |SELECT CAST(v AS BIGINT) AS version, CAST(n_cols AS BIGINT) AS n_cols,
           |  n_rows, CAST(bal_sum AS BIGINT) AS bal_sum,
           |  CAST(seg_nulls AS BIGINT) AS seg_nulls,
           |  CAST(seg_sum AS BIGINT) AS seg_sum
           |FROM s ORDER BY version""".stripMargin))

  /** Bloom-filter point-lookup file skipping on [[GraftTable]]: the
    * table declares a bloom column at create (`c_name` — a unique
    * high-cardinality string UNCORRELATED with the key layout, the axis
    * min/max range stats can never prune), and three point lookups —
    * two hits and a guaranteed miss — are served through `readPoint`,
    * which opens only the files whose per-file bloom sidecar may
    * contain the probe and completes with an exact residual filter
    * (false positives removed, false negatives impossible). The oracle
    * replays each probe as a plain filter; that the bloom actually
    * SKIPS files (and that probes run executor-side) is pinned in
    * GraftTableSpec, which a logical replay can't see. */
  val q223BloomPrunedRead = GraftQuery(
    "q223_bloom_pruned_read",
    (s, dir) => {
      val root = newTempDir("graft_table_bl") + "/tbl"
      val v0 = Tables.customer(s, dir).select(
        col("c_custkey").cast("long").as("k"),
        col("c_name").as("name"),
        floor(col("c_acctbal") * 100 + lit(0.5)).cast("long").as("bal_cents"))
      GraftTable.create(s, root, v0, "k", nBuckets = 8, bloomCol = Some("name"))
      def slice(c: org.apache.spark.sql.Column) =
        conv(substring(md5(c), 1, 8), 16, 10).cast("long")
      def one(probe: String) =
        GraftTable.readPoint(s, root, "name", probe)
          .agg(count(lit(1)).as("n_rows"),
            coalesce(sum("bal_cents"), lit(0L)).as("bal_sum"),
            coalesce(sum(slice(col("k").cast("string"))), lit(0L)).as("key_sum"))
          .select(lit(probe).as("probe"), col("n_rows"), col("bal_sum"),
            col("key_sum"))
      one("Customer#000000007")
        .unionAll(one("Customer#000000321"))
        .unionAll(one("No#Such#Customer"))
        .orderBy("probe")
    },
    Some("""WITH t AS (
           |  SELECT CAST(c_custkey AS BIGINT) AS k, c_name AS name,
           |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
           |  FROM customer),
           |p AS (SELECT * FROM (VALUES ('Customer#000000007'),
           |        ('Customer#000000321'), ('No#Such#Customer')) AS v(probe))
           |SELECT p.probe, count(t.k) AS n_rows,
           |  CAST(COALESCE(sum(t.bal_cents), 0) AS BIGINT) AS bal_sum,
           |  CAST(COALESCE(sum(('0x' || substr(md5(CAST(t.k AS VARCHAR)), 1, 8))
           |    ::BIGINT), 0) AS BIGINT) AS key_sum
           |FROM p LEFT JOIN t ON t.name = p.probe
           |GROUP BY p.probe ORDER BY probe""".stripMargin))

  /** CHANGE DATA FEED between [[GraftTable]] versions: after the q214
    * write sequence (create → copy-on-write upsert → copy-on-write
    * delete), `changes(v, v+1)` emits row-level inserts, updates
    * (postimage), and deletes (preimage) computed from ONLY the data
    * files the two manifests DISAGREE on — carried files never
    * participate, and rewritten-but-unchanged rows cancel by row hash,
    * so the feed costs what changed, not what the table holds (the
    * property that makes incremental downstream consumption viable at
    * 100 TB). The gate aggregates both feeds per change type; the
    * oracle replays the logical version diff — identical results prove
    * the file-diff shortcut loses nothing. */
  val q224TableChanges = GraftQuery(
    "q224_table_changes",
    (s, dir) => {
      val root = newTempDir("graft_table_cdf") + "/tbl"
      val v0 = Tables.customer(s, dir).select(
        col("c_custkey").cast("long").as("k"),
        col("c_name").as("name"),
        floor(col("c_acctbal") * 100 + lit(0.5)).cast("long").as("bal_cents"))
      GraftTable.create(s, root, v0, "k", nBuckets = 8)
      val batch = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"))
          .as("bal_cents"))
        .select(
          when(col("o_custkey") % 50 === 0, col("o_custkey") + 1000000L)
            .otherwise(col("o_custkey")).cast("long").as("k"),
          col("bal_cents"))
        .withColumn("name", concat(lit("Batch#"), col("k").cast("string")))
      GraftTable.upsert(s, root, batch.select("k", "name", "bal_cents"), "k")
      GraftTable.deleteWhere(s, root, col("bal_cents") % 7 === 0, "k")
      def slice(c: org.apache.spark.sql.Column) =
        conv(substring(md5(c), 1, 8), 16, 10).cast("long")
      def feed(a: Int, b: Int) =
        GraftTable.changes(s, root, a, b, "k")
          .groupBy(col("_change").as("change"))
          .agg(count(lit(1)).as("n_rows"), sum("bal_cents").as("bal_sum"),
            sum(slice(col("k").cast("string"))).as("key_sum"),
            sum(slice(col("name"))).as("name_sum"))
          .select(lit(a).cast("long").as("from_v"), lit(b).cast("long").as("to_v"),
            col("change"), col("n_rows"), col("bal_sum"), col("key_sum"),
            col("name_sum"))
      feed(0, 1).unionAll(feed(1, 2)).orderBy("from_v", "change")
    },
    Some("""WITH v0 AS (
           |  SELECT CAST(c_custkey AS BIGINT) AS k, c_name AS name,
           |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
           |  FROM customer),
           |batch AS (
           |  SELECT CAST(CASE WHEN o_custkey % 50 = 0
           |      THEN o_custkey + 1000000 ELSE o_custkey END AS BIGINT) AS k,
           |    'Batch#' || CAST(CASE WHEN o_custkey % 50 = 0
           |      THEN o_custkey + 1000000 ELSE o_custkey END AS VARCHAR) AS name,
           |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
           |      AS BIGINT) AS bal_cents
           |  FROM orders GROUP BY o_custkey),
           |v1 AS (
           |  SELECT COALESCE(b.k, t.k) AS k,
           |    COALESCE(b.name, t.name) AS name,
           |    COALESCE(b.bal_cents, t.bal_cents) AS bal_cents
           |  FROM v0 t FULL OUTER JOIN batch b ON t.k = b.k),
           |v2 AS (SELECT * FROM v1 WHERE NOT (bal_cents % 7 = 0)),
           |f01 AS (
           |  SELECT CASE WHEN o.k IS NULL THEN 'insert'
           |           WHEN n.k IS NULL THEN 'delete'
           |           WHEN o.name <> n.name OR o.bal_cents <> n.bal_cents
           |             THEN 'update' END AS change,
           |    COALESCE(CASE WHEN o.k IS NULL OR n.k IS NOT NULL
           |      THEN n.k END, o.k) AS k,
           |    CASE WHEN n.k IS NULL THEN o.name ELSE n.name END AS name,
           |    CASE WHEN n.k IS NULL THEN o.bal_cents ELSE n.bal_cents END
           |      AS bal_cents
           |  FROM v0 o FULL OUTER JOIN v1 n ON o.k = n.k),
           |f12 AS (
           |  SELECT CASE WHEN o.k IS NULL THEN 'insert'
           |           WHEN n.k IS NULL THEN 'delete'
           |           WHEN o.name <> n.name OR o.bal_cents <> n.bal_cents
           |             THEN 'update' END AS change,
           |    COALESCE(CASE WHEN o.k IS NULL OR n.k IS NOT NULL
           |      THEN n.k END, o.k) AS k,
           |    CASE WHEN n.k IS NULL THEN o.name ELSE n.name END AS name,
           |    CASE WHEN n.k IS NULL THEN o.bal_cents ELSE n.bal_cents END
           |      AS bal_cents
           |  FROM v1 o FULL OUTER JOIN v2 n ON o.k = n.k),
           |u AS (
           |  SELECT 0 AS from_v, 1 AS to_v, change, k, name, bal_cents FROM f01
           |  WHERE change IS NOT NULL
           |  UNION ALL
           |  SELECT 1, 2, change, k, name, bal_cents FROM f12
           |  WHERE change IS NOT NULL)
           |SELECT CAST(from_v AS BIGINT) AS from_v, CAST(to_v AS BIGINT) AS to_v,
           |  change, count(*) AS n_rows, CAST(sum(bal_cents) AS BIGINT) AS bal_sum,
           |  CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 8))::BIGINT)
           |    AS BIGINT) AS key_sum,
           |  CAST(sum(('0x' || substr(md5(name), 1, 8))::BIGINT) AS BIGINT)
           |    AS name_sum
           |FROM u GROUP BY from_v, to_v, change ORDER BY from_v, change""".stripMargin))

  /** Incremental view maintenance DRIVEN BY the table's change data
    * feed — the composition the two halves exist for: q224's feed (in
    * its retraction form: updates emit BOTH images) is folded into a
    * materialized per-bucket aggregate as `+post / −pre / +insert /
    * −delete` deltas, and the gate emits the incrementally-maintained
    * aggregate NEXT TO a direct recompute over the final snapshot —
    * equal columns prove a downstream view can follow a 100 TB table
    * by consuming file-diff-sized deltas instead of rescanning it
    * (q207 maintains an append-only rollup; this one handles the
    * retractions updates and deletes require). The oracle replays the
    * whole lattice — versions, logical deltas, both aggregates — in
    * SQL. */
  val q236CdfMaintenance = GraftQuery(
    "q236_cdf_maintenance",
    (s, dir) => {
      val root = newTempDir("graft_table_ivm") + "/tbl"
      val v0 = Tables.customer(s, dir).select(
        col("c_custkey").cast("long").as("k"),
        col("c_name").as("name"),
        floor(col("c_acctbal") * 100 + lit(0.5)).cast("long").as("bal_cents"))
      GraftTable.create(s, root, v0, "k", nBuckets = 8)
      val batch = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"))
          .as("bal_cents"))
        .select(
          when(col("o_custkey") % 50 === 0, col("o_custkey") + 1000000L)
            .otherwise(col("o_custkey")).cast("long").as("k"),
          col("bal_cents"))
        .withColumn("name", concat(lit("Batch#"), col("k").cast("string")))
      GraftTable.upsert(s, root, batch.select("k", "name", "bal_cents"), "k")
      GraftTable.deleteWhere(s, root, col("bal_cents") % 7 === 0, "k")
      def bucketed(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("bucket", col("k") % 10)
      val agg0 = bucketed(GraftTable.read(s, root, Some(0)))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), sum("bal_cents").as("bal"))
      val deltas = bucketed(
        GraftTable.changes(s, root, 0, 1, "k", withPreimages = true)
          .unionAll(GraftTable.changes(s, root, 1, 2, "k", withPreimages = true)))
        .withColumn("sgn",
          when(col("_change").isin("insert", "update_postimage"), 1L)
            .otherwise(-1L))
        .groupBy("bucket")
        .agg(sum(col("sgn")).as("dn"), sum(col("sgn") * col("bal_cents")).as("db"))
      val maintained = agg0.join(deltas, Seq("bucket"), "full_outer")
        .select(col("bucket"),
          (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_inc"),
          (coalesce(col("bal"), lit(0L)) + coalesce(col("db"), lit(0L)))
            .as("bal_inc"))
        .filter(col("n_inc") > 0)
      val direct = bucketed(GraftTable.read(s, root, Some(2)))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_direct"), sum("bal_cents").as("bal_direct"))
      maintained.join(direct, Seq("bucket"), "full_outer")
        .select(col("bucket"), col("n_inc"), col("bal_inc"),
          col("n_direct"), col("bal_direct"))
        .orderBy("bucket")
    },
    Some("""WITH v0 AS (
           |  SELECT CAST(c_custkey AS BIGINT) AS k, c_name AS name,
           |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
           |  FROM customer),
           |batch AS (
           |  SELECT CAST(CASE WHEN o_custkey % 50 = 0
           |      THEN o_custkey + 1000000 ELSE o_custkey END AS BIGINT) AS k,
           |    'Batch#' || CAST(CASE WHEN o_custkey % 50 = 0
           |      THEN o_custkey + 1000000 ELSE o_custkey END AS VARCHAR) AS name,
           |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
           |      AS BIGINT) AS bal_cents
           |  FROM orders GROUP BY o_custkey),
           |v1 AS (
           |  SELECT COALESCE(b.k, t.k) AS k, COALESCE(b.name, t.name) AS name,
           |    COALESCE(b.bal_cents, t.bal_cents) AS bal_cents
           |  FROM v0 t FULL OUTER JOIN batch b ON t.k = b.k),
           |v2 AS (SELECT * FROM v1 WHERE NOT (bal_cents % 7 = 0)),
           |agg0 AS (
           |  SELECT k % 10 AS bucket, count(*) AS n, sum(bal_cents) AS bal
           |  FROM v0 GROUP BY 1),
           |d01 AS (
           |  SELECT COALESCE(n.k, o.k) % 10 AS bucket,
           |    CASE WHEN o.k IS NULL THEN 1
           |         WHEN n.k IS NULL THEN -1 ELSE 0 END AS dn,
           |    COALESCE(CASE WHEN o.k IS NULL THEN n.bal_cents
           |         WHEN n.k IS NULL THEN -o.bal_cents
           |         WHEN o.name <> n.name OR o.bal_cents <> n.bal_cents
           |           THEN n.bal_cents - o.bal_cents END, 0) AS db
           |  FROM v0 o FULL OUTER JOIN v1 n ON o.k = n.k),
           |d12 AS (
           |  SELECT COALESCE(n.k, o.k) % 10 AS bucket,
           |    CASE WHEN o.k IS NULL THEN 1
           |         WHEN n.k IS NULL THEN -1 ELSE 0 END AS dn,
           |    COALESCE(CASE WHEN o.k IS NULL THEN n.bal_cents
           |         WHEN n.k IS NULL THEN -o.bal_cents
           |         WHEN o.name <> n.name OR o.bal_cents <> n.bal_cents
           |           THEN n.bal_cents - o.bal_cents END, 0) AS db
           |  FROM v1 o FULL OUTER JOIN v2 n ON o.k = n.k),
           |delta AS (
           |  SELECT bucket, sum(dn) AS dn, sum(db) AS db
           |  FROM (SELECT * FROM d01 UNION ALL SELECT * FROM d12)
           |  GROUP BY bucket),
           |maintained AS (
           |  SELECT COALESCE(a.bucket, d.bucket) AS bucket,
           |    COALESCE(a.n, 0) + COALESCE(d.dn, 0) AS n_inc,
           |    COALESCE(a.bal, 0) + COALESCE(d.db, 0) AS bal_inc
           |  FROM agg0 a FULL OUTER JOIN delta d ON a.bucket = d.bucket),
           |direct AS (
           |  SELECT k % 10 AS bucket, count(*) AS n_direct,
           |    sum(bal_cents) AS bal_direct
           |  FROM v2 GROUP BY 1)
           |SELECT COALESCE(m.bucket, dd.bucket) AS bucket,
           |  CAST(m.n_inc AS BIGINT) AS n_inc,
           |  CAST(m.bal_inc AS BIGINT) AS bal_inc,
           |  dd.n_direct, CAST(dd.bal_direct AS BIGINT) AS bal_direct
           |FROM maintained m FULL OUTER JOIN direct dd ON dd.bucket = m.bucket
           |WHERE m.n_inc > 0
           |ORDER BY bucket""".stripMargin))

  /** OPTIMIZE ZORDER executed against [[GraftTable]]: the orders table
    * is committed key-bucketed, rewritten as a Morton-curve layout
    * over (o_custkey, o_totalprice-cents) with per-file colstats, and
    * the gate proves the TWO contracts a Z-ORDER must honor at once —
    * the rewrite is a logical no-op (pre/post versions checksum
    * identically against one oracle replay), and every 2-D box read
    * through the stats-skipping path returns exactly the plain
    * filter's rows (replayed as WHERE clauses). That the skipping
    * actually SKIPS — few curve tiles survive a box after z-ordering,
    * everything survives before — is the file-count contract pinned in
    * GraftTableSpec, invisible to a logical replay. This is the
    * layout mechanism that serves multi-dimension slices of a 100 TB
    * fact table without a second copy sorted the other way. */
  val q237ZorderTable = GraftQuery(
    "q237_zorder_table",
    (s, dir) => {
      val root = newTempDir("graft_table_zo") + "/tbl"
      val v0 = Tables.orders(s, dir).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_custkey").cast("long").as("cust"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      GraftTable.create(s, root, v0, "k", nBuckets = 16)
      val nRows = GraftTable.history(s, root).head._3
      GraftTable.optimizeZOrder(s, root, "k", "cust", "cents",
        targetRows = math.max(1L, nRows / 16))
      def slice(c: org.apache.spark.sql.Column) =
        conv(substring(md5(c), 1, 8), 16, 10).cast("long")
      def versionSum(v: Int) = GraftTable.read(s, root, Some(v))
        .agg(count(lit(1)).as("n_rows"), sum("cents").as("cents_sum"),
          sum(slice(col("k").cast("string"))).as("key_sum"))
        .select(lit(s"v$v").as("probe"), col("n_rows"), col("cents_sum"),
          col("key_sum"))
      def box(tag: String, lo1: Long, hi1: Long, lo2: Long, hi2: Long) =
        GraftTable.readRange2D(s, root, "cust", lo1, hi1, "cents", lo2, hi2)
          .agg(coalesce(count(lit(1)), lit(0L)).as("n_rows"),
            coalesce(sum("cents"), lit(0L)).as("cents_sum"),
            coalesce(sum(slice(col("k").cast("string"))), lit(0L)).as("key_sum"))
          .select(lit(tag).as("probe"), col("n_rows"), col("cents_sum"),
            col("key_sum"))
      versionSum(0).unionAll(versionSum(1))
        .unionAll(box("box_low", 1L, 150L, 500000L, 5000000L))
        .unionAll(box("box_mid", 400L, 700L, 10000000L, 20000000L))
        .unionAll(box("box_empty", 999999L, 999999L, 1L, 2L))
        .orderBy("probe")
    },
    Some("""WITH t AS (
           |  SELECT CAST(o_orderkey AS BIGINT) AS k,
           |    CAST(o_custkey AS BIGINT) AS cust,
           |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
           |  FROM orders),
           |vs AS (
           |  SELECT 'v0' AS probe, count(*) AS n_rows,
           |    CAST(sum(cents) AS BIGINT) AS cents_sum,
           |    CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 8))
           |      ::BIGINT) AS BIGINT) AS key_sum
           |  FROM t
           |  UNION ALL
           |  SELECT 'v1', count(*), CAST(sum(cents) AS BIGINT),
           |    CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 8))
           |      ::BIGINT) AS BIGINT)
           |  FROM t),
           |boxes AS (
           |  SELECT * FROM (VALUES
           |    ('box_low', CAST(1 AS BIGINT), CAST(150 AS BIGINT),
           |     CAST(500000 AS BIGINT), CAST(5000000 AS BIGINT)),
           |    ('box_mid', 400, 700, 10000000, 20000000),
           |    ('box_empty', 999999, 999999, 1, 2))
           |    AS v(probe, lo1, hi1, lo2, hi2)),
           |bx AS (
           |  SELECT b.probe, count(t.k) AS n_rows,
           |    CAST(COALESCE(sum(t.cents), 0) AS BIGINT) AS cents_sum,
           |    CAST(COALESCE(sum(('0x' || substr(md5(CAST(t.k AS VARCHAR)),
           |      1, 8))::BIGINT), 0) AS BIGINT) AS key_sum
           |  FROM boxes b LEFT JOIN t
           |    ON t.cust BETWEEN b.lo1 AND b.hi1
           |    AND t.cents BETWEEN b.lo2 AND b.hi2
           |  GROUP BY b.probe)
           |SELECT probe, n_rows, cents_sum, key_sum FROM vs
           |UNION ALL
           |SELECT probe, n_rows, cents_sum, key_sum FROM bx
           |ORDER BY probe""".stripMargin))

  /** Table replication DRIVEN BY the change feed — the loop-closing
    * composition of [[GraftTable.changes]] (producer) and
    * [[GraftTable.applyCdcBatch]] (consumer, the full MERGE shape with
    * matched-delete): a source table evolves through the q214 write
    * sequence, a replica created from the v0 snapshot is maintained
    * ONLY by applying the source's per-version feed (insert/update →
    * upsert op, delete → delete op), and the gate checksums source and
    * replica at EVERY version side by side — equal columns prove the
    * feed carries the complete information of each commit and the CDC
    * apply path reproduces it, i.e. a downstream replica can follow a
    * 100 TB table at changed-files cost through the same pruned write
    * path the source used. The oracle replays the logical versions
    * once and emits them for both sides. */
  val q239TableReplication = GraftQuery(
    "q239_table_replication",
    (s, dir) => {
      val src = newTempDir("graft_table_src") + "/tbl"
      val rep = newTempDir("graft_table_rep") + "/tbl"
      val v0 = Tables.customer(s, dir).select(
        col("c_custkey").cast("long").as("k"),
        col("c_name").as("name"),
        floor(col("c_acctbal") * 100 + lit(0.5)).cast("long").as("bal_cents"))
      GraftTable.create(s, src, v0, "k", nBuckets = 8)
      val batch = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"))
          .as("bal_cents"))
        .select(
          when(col("o_custkey") % 50 === 0, col("o_custkey") + 1000000L)
            .otherwise(col("o_custkey")).cast("long").as("k"),
          col("bal_cents"))
        .withColumn("name", concat(lit("Batch#"), col("k").cast("string")))
      GraftTable.upsert(s, src, batch.select("k", "name", "bal_cents"), "k")
      GraftTable.deleteWhere(s, src, col("bal_cents") % 7 === 0, "k")
      // replica: seeded from the v0 snapshot, then FEED-ONLY
      GraftTable.create(s, rep, GraftTable.read(s, src, Some(0)), "k",
        nBuckets = 8)
      (1 to 2).foreach { v =>
        val feed = GraftTable.changes(s, src, v - 1, v, "k")
          .withColumn("_op",
            when(col("_change") === "delete", "delete").otherwise("upsert"))
          .drop("_change")
        GraftTable.applyCdcBatch(s, rep, feed, "k")
      }
      def slice(c: org.apache.spark.sql.Column) =
        conv(substring(md5(c), 1, 8), 16, 10).cast("long")
      def summary(root: String, side: String, v: Int) =
        GraftTable.read(s, root, Some(v))
          .agg(count(lit(1)).as("n_rows"), sum("bal_cents").as("bal_sum"),
            sum(slice(col("k").cast("string"))).as("key_sum"),
            sum(slice(col("name"))).as("name_sum"))
          .select(lit(v).cast("long").as("version"), lit(side).as("side"),
            col("n_rows"), col("bal_sum"), col("key_sum"), col("name_sum"))
      (0 to 2).map(v => summary(src, "source", v)
          .unionAll(summary(rep, "replica", v)))
        .reduce(_ unionAll _)
        .orderBy("version", "side")
    },
    Some("""WITH v0 AS (
           |  SELECT CAST(c_custkey AS BIGINT) AS k, c_name AS name,
           |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
           |  FROM customer),
           |batch AS (
           |  SELECT CAST(CASE WHEN o_custkey % 50 = 0
           |      THEN o_custkey + 1000000 ELSE o_custkey END AS BIGINT) AS k,
           |    'Batch#' || CAST(CASE WHEN o_custkey % 50 = 0
           |      THEN o_custkey + 1000000 ELSE o_custkey END AS VARCHAR) AS name,
           |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
           |      AS BIGINT) AS bal_cents
           |  FROM orders GROUP BY o_custkey),
           |v1 AS (
           |  SELECT COALESCE(b.k, t.k) AS k, COALESCE(b.name, t.name) AS name,
           |    COALESCE(b.bal_cents, t.bal_cents) AS bal_cents
           |  FROM v0 t FULL OUTER JOIN batch b ON t.k = b.k),
           |v2 AS (SELECT * FROM v1 WHERE NOT (bal_cents % 7 = 0)),
           |s AS (
           |  SELECT 0 AS v, count(*) AS n_rows, sum(bal_cents) AS bal_sum,
           |    sum(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 8))::BIGINT)
           |      AS key_sum,
           |    sum(('0x' || substr(md5(name), 1, 8))::BIGINT) AS name_sum
           |  FROM v0
           |  UNION ALL
           |  SELECT 1, count(*), sum(bal_cents),
           |    sum(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 8))::BIGINT),
           |    sum(('0x' || substr(md5(name), 1, 8))::BIGINT)
           |  FROM v1
           |  UNION ALL
           |  SELECT 2, count(*), sum(bal_cents),
           |    sum(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 8))::BIGINT),
           |    sum(('0x' || substr(md5(name), 1, 8))::BIGINT)
           |  FROM v2)
           |SELECT CAST(v AS BIGINT) AS version, side.side AS side,
           |  n_rows, CAST(bal_sum AS BIGINT) AS bal_sum,
           |  CAST(key_sum AS BIGINT) AS key_sum,
           |  CAST(name_sum AS BIGINT) AS name_sum
           |FROM s CROSS JOIN (VALUES ('source'), ('replica')) AS side(side)
           |ORDER BY version, side""".stripMargin))

  /** WRITE-AUDIT-PUBLISH against [[GraftTable]]: a clean batch passes
    * its expectations and publishes; a poisoned batch (every 13th key
    * carries a negative balance and a malformed name) is REJECTED at
    * the audit and the table provably stays at the published version —
    * readers never see a row of it. The gate emits the table state
    * after each attempt plus the rejected batch's per-check violation
    * counts, all replayed logically by the oracle; that a rejected
    * commit leaves no manifest and its staged orphans are swept by
    * vacuum is pinned in GraftTableSpec (invisible to a logical
    * replay). This is the quality gate production lakehouses run
    * between "the job ran" and "downstream reads it" — audit cost is
    * batch-sized (only the staged rows are scanned), which is what
    * keeps the write path viable at 100 TB. */
  val q242WriteAuditPublish = GraftQuery(
    "q242_write_audit_publish",
    (s, dir) => {
      val root = newTempDir("graft_table_wap") + "/tbl"
      val v0 = Tables.customer(s, dir).select(
        col("c_custkey").cast("long").as("k"),
        col("c_name").as("name"),
        floor(col("c_acctbal") * 100 + lit(0.5)).cast("long").as("bal_cents"))
      GraftTable.create(s, root, v0, "k", nBuckets = 8)
      val checks = Seq(
        "non_negative_balance" -> (col("bal_cents") >= -150000L),
        "well_formed_name" ->
          col("name").rlike("^(Customer#|Batch#)"))
      def batchOf(poison: Boolean) = {
        val base = Tables.orders(s, dir)
          .groupBy(col("o_custkey"))
          .agg(sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"))
            .as("bal_cents"))
          .select(col("o_custkey").cast("long").as("k"), col("bal_cents"))
          .withColumn("name", concat(lit("Batch#"), col("k").cast("string")))
        if (!poison) base.select("k", "name", "bal_cents")
        else base.select(col("k"),
          when(col("k") % 13 === 0, concat(lit("???"), col("name")))
            .otherwise(col("name")).as("name"),
          when(col("k") % 13 === 0, -col("bal_cents") - 1000000L)
            .otherwise(col("bal_cents")).as("bal_cents"))
      }
      val r1 = GraftTable.auditedUpsert(s, root, batchOf(poison = false), "k",
        checks)
      val r2 = GraftTable.auditedUpsert(s, root, batchOf(poison = true), "k",
        checks)
      val viol: Map[String, Long] = r2.swap.getOrElse(Map.empty)
      require(r1.isRight && r2.isLeft, "gate setup: clean publishes, poison rejects")
      def slice(c: org.apache.spark.sql.Column) =
        conv(substring(md5(c), 1, 8), 16, 10).cast("long")
      def state(stage: String) = GraftTable.read(s, root)
        .agg(count(lit(1)).as("n_rows"), sum("bal_cents").as("bal_sum"),
          sum(slice(col("name"))).as("name_sum"))
        .select(lit(stage).as("stage"),
          lit(GraftTable.latestVersion(s, root)).cast("long").as("version"),
          col("n_rows"), col("bal_sum"), col("name_sum"),
          lit(viol.getOrElse("non_negative_balance", 0L)).as("v_balance"),
          lit(viol.getOrElse("well_formed_name", 0L)).as("v_name"))
      // state after both attempts is identical — the rejection held
      state("after_clean").unionAll(state("after_poison")).orderBy("stage")
    },
    Some("""WITH v0 AS (
           |  SELECT CAST(c_custkey AS BIGINT) AS k, c_name AS name,
           |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
           |  FROM customer),
           |batch AS (
           |  SELECT CAST(o_custkey AS BIGINT) AS k,
           |    'Batch#' || CAST(o_custkey AS VARCHAR) AS name,
           |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
           |      AS BIGINT) AS bal_cents
           |  FROM orders GROUP BY o_custkey),
           |v1 AS (
           |  SELECT COALESCE(b.k, t.k) AS k, COALESCE(b.name, t.name) AS name,
           |    COALESCE(b.bal_cents, t.bal_cents) AS bal_cents
           |  FROM v0 t FULL OUTER JOIN batch b ON t.k = b.k),
           |-- the poisoned batch audits over its MERGED rows: batch rows
           |-- replace same-key table rows, so violations = poisoned keys
           |nviol AS (SELECT count(*) AS nv FROM batch WHERE k % 13 = 0),
           |s AS (
           |  SELECT count(*) AS n_rows, CAST(sum(bal_cents) AS BIGINT)
           |      AS bal_sum,
           |    CAST(sum(('0x' || substr(md5(name), 1, 8))::BIGINT) AS BIGINT)
           |      AS name_sum
           |  FROM v1)
           |SELECT st.stage, CAST(1 AS BIGINT) AS version, n_rows, bal_sum,
           |  name_sum,
           |  CAST(nv AS BIGINT) AS v_balance, CAST(nv AS BIGINT) AS v_name
           |FROM s CROSS JOIN nviol
           |CROSS JOIN (VALUES ('after_clean'), ('after_poison')) AS st(stage)
           |ORDER BY st.stage""".stripMargin))

  /** Right-to-erasure, END TO END with proof — the GDPR workflow a
    * lakehouse must actually be able to execute: targeted users are
    * deleted via the pruned copy-on-write path, the change feed AUDITS
    * exactly which rows were erased (the deletion record compliance
    * requires), and `vacuum(retainVersions = 1)` destroys every
    * pre-deletion version so time travel cannot resurrect the rows —
    * history() reports the single surviving snapshot. The gate then
    * proves the NEGATIVE from the data itself: a full scan of the
    * surviving table finds zero erased keys while every non-targeted
    * row's checksum is intact (erasure must not damage bystanders).
    * Cost shape at 100 TB: the delete rewrites only files CONTAINING
    * targets, the audit reads only the diff, and vacuum is a metadata
    * sweep + unreferenced-file deletes. */
  val q249ErasureProof = GraftQuery(
    "q249_erasure_proof",
    (s, dir) => {
      val root = newTempDir("graft_table_gdpr") + "/tbl"
      val v0 = Tables.customer(s, dir).select(
        col("c_custkey").cast("long").as("k"),
        col("c_name").as("name"),
        floor(col("c_acctbal") * 100 + lit(0.5)).cast("long").as("bal_cents"))
      GraftTable.create(s, root, v0, "k", nBuckets = 8)
      // the erasure request: every 19th customer
      GraftTable.deleteWhere(s, root, col("k") % 19 === 0, "k")
      // compliance audit BEFORE retention destroys the evidence: the
      // feed carries each erased row's preimage
      val audit = GraftTable.changes(s, root, 0, 1, "k")
        .filter(col("_change") === "delete")
        .agg(count(lit(1)).as("n_erased"),
          coalesce(sum(conv(substring(md5(col("k").cast("string")), 1, 8),
            16, 10).cast("long")), lit(0L)).as("erased_key_sum"))
        .collect()(0)
      GraftTable.vacuum(s, root, retainVersions = 1)
      val survivors = GraftTable.read(s, root)
      def slice(c: org.apache.spark.sql.Column) =
        conv(substring(md5(c), 1, 8), 16, 10).cast("long")
      survivors.agg(
          count(lit(1)).as("n_rows"),
          sum((col("k") % 19 === 0).cast("long")).as("erased_still_present"),
          sum("bal_cents").as("bal_sum"),
          sum(slice(col("name"))).as("name_sum"))
        .select(
          lit(GraftTable.history(s, root).size).cast("long")
            .as("versions_surviving"),
          lit(audit.getLong(0)).as("n_erased"),
          lit(audit.getLong(1)).as("erased_key_sum"),
          col("n_rows"), col("erased_still_present"),
          col("bal_sum"), col("name_sum"))
    },
    Some("""WITH v0 AS (
           |  SELECT CAST(c_custkey AS BIGINT) AS k, c_name AS name,
           |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
           |  FROM customer),
           |erased AS (SELECT * FROM v0 WHERE k % 19 = 0),
           |kept AS (SELECT * FROM v0 WHERE NOT (k % 19 = 0))
           |SELECT CAST(1 AS BIGINT) AS versions_surviving,
           |  (SELECT count(*) FROM erased) AS n_erased,
           |  (SELECT CAST(COALESCE(sum(('0x' || substr(md5(CAST(k AS VARCHAR)),
           |     1, 8))::BIGINT), 0) AS BIGINT) FROM erased) AS erased_key_sum,
           |  count(*) AS n_rows,
           |  CAST(0 AS BIGINT) AS erased_still_present,
           |  CAST(sum(bal_cents) AS BIGINT) AS bal_sum,
           |  CAST(sum(('0x' || substr(md5(name), 1, 8))::BIGINT) AS BIGINT)
           |    AS name_sum
           |FROM kept""".stripMargin))

  /** INVERTED-INDEX maintenance driven by the change feed — the
    * SET-VALUED maintenance algebra q236's signed numeric deltas can't
    * express: when a document's text changes, its old postings must be
    * RETRACTED WHOLESALE and its new postings inserted (a token count
    * can't be incrementally patched from images alone — the posting
    * set is keyed by content). The maintained index starts from the v0
    * build and then follows the table purely through
    * `changes(withPreimages = true)`: changed-doc ids (preimage ∪
    * delete) anti-join away their postings, postimage ∪ insert docs
    * re-tokenize — both steps sized by the DELTA, never the corpus,
    * which is what lets a search index track a 100 TB corpus without
    * rebuilds. The gate emits the maintained index's per-token-bucket
    * stats NEXT TO a from-scratch rebuild of the final snapshot; the
    * oracle replays the versions once and emits both sides. */
  val q251IndexMaintenance = GraftQuery(
    "q251_index_maintenance",
    (s, dir) => {
      val root = newTempDir("graft_table_inv") + "/tbl"
      val v0 = Tables.documents(s, dir)
        .select(col("doc_id").cast("long").as("k"),
          expr("substring(text, 1, 120)").as("body"))
      GraftTable.create(s, root, v0, "k", nBuckets = 8)
      // upsert: every 11th doc gets edited text, plus fresh inserts
      val edits = Tables.documents(s, dir)
        .filter(col("doc_id") % 11 === 0)
        .select(col("doc_id").cast("long").as("k"),
          concat(lit("edited revision "), expr("substring(text, 31, 90)"))
            .as("body"))
      val inserts = Tables.documents(s, dir)
        .filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 5000000L).as("k"),
          concat(lit("brand new doc "), expr("substring(text, 1, 60)"))
            .as("body"))
      GraftTable.upsert(s, root, edits.unionAll(inserts), "k")
      GraftTable.deleteWhere(s, root, col("k") % 17 === 0, "k")
      def postings(df: org.apache.spark.sql.DataFrame) =
        df.select(col("k"), explode(split(trim(col("body")), " +")).as("tok"))
          .filter(col("tok") =!= "").distinct()
      // feeds apply IN VERSION ORDER — a doc edited in v1 and deleted
      // in v2 must end absent; unioning the feeds into one batch would
      // re-add its v1 postings after the delete retracts them (found
      // the hard way: the order-insensitive form leaves ghost postings)
      var maintained = postings(GraftTable.read(s, root, Some(0)))
      (1 to 2).foreach { v =>
        val feed = GraftTable.changes(s, root, v - 1, v, "k",
          withPreimages = true)
        val gone = feed.filter(col("_change")
          .isin("delete", "update_preimage")).select("k").distinct()
        val fresh = postings(feed.filter(col("_change")
          .isin("insert", "update_postimage")).select("k", "body"))
        maintained = maintained.join(gone, Seq("k"), "left_anti")
          .unionAll(fresh)
      }
      val rebuilt = postings(GraftTable.read(s, root, Some(2)))
      def stats(df: org.apache.spark.sql.DataFrame, nCol: String, sCol: String) =
        df.groupBy((conv(substring(md5(col("tok")), 1, 6), 16, 10) % 8)
            .cast("long").as("bucket"))
          .agg(count(lit(1)).as(nCol),
            sum(conv(substring(md5(concat_ws("|", col("tok"), col("k"))),
              1, 8), 16, 10).cast("long")).as(sCol))
      stats(maintained, "n_maint", "sum_maint")
        .join(stats(rebuilt, "n_rebuilt", "sum_rebuilt"), Seq("bucket"),
          "full_outer")
        .orderBy("bucket")
    },
    Some("""WITH v0 AS (
           |  SELECT CAST(doc_id AS BIGINT) AS k, substr(text, 1, 120) AS body
           |  FROM documents),
           |edits AS (
           |  SELECT CAST(doc_id AS BIGINT) AS k,
           |    'edited revision ' || substr(text, 31, 90) AS body
           |  FROM documents WHERE doc_id % 11 = 0),
           |ins AS (
           |  SELECT CAST(doc_id + 5000000 AS BIGINT) AS k,
           |    'brand new doc ' || substr(text, 1, 60) AS body
           |  FROM documents WHERE doc_id % 13 = 0),
           |batch AS (SELECT * FROM edits UNION ALL SELECT * FROM ins),
           |v1 AS (
           |  SELECT COALESCE(b.k, t.k) AS k, COALESCE(b.body, t.body) AS body
           |  FROM v0 t FULL OUTER JOIN batch b ON t.k = b.k),
           |v2 AS (SELECT * FROM v1 WHERE NOT (k % 17 = 0)),
           |post AS (
           |  SELECT DISTINCT k, tok
           |  FROM (SELECT k, unnest(regexp_split_to_array(trim(body), ' +'))
           |          AS tok FROM v2)
           |  WHERE tok <> ''),
           |st AS (
           |  SELECT ('0x' || substr(md5(tok), 1, 6))::BIGINT % 8 AS bucket,
           |    count(*) AS n,
           |    CAST(sum(('0x' || substr(md5(tok || '|' || CAST(k AS VARCHAR)),
           |      1, 8))::BIGINT) AS BIGINT) AS s
           |  FROM post GROUP BY 1)
           |SELECT CAST(bucket AS BIGINT) AS bucket,
           |  n AS n_maint, s AS sum_maint, n AS n_rebuilt, s AS sum_rebuilt
           |FROM st ORDER BY bucket""".stripMargin))

  /** SQL surface for [[GraftTable]]: the q214 write sequence (create →
    * upsert) consumed entirely through SQL TEXT — a
    * [[graft.sources.GraftCatalog]] registration, `VERSION AS OF`
    * time travel, and a key-range WHERE — instead of the Scala API.
    * The DSv2 scan mines the pushed predicates for the key range and
    * routes through the SAME manifest file skipping as `readRange`
    * (GraftSqlSpec proves skipped files are never opened); the oracle
    * replays the logical content per (version, range), so a
    * hash-match proves the SQL path reads exactly what the Scala path
    * reads. Ranges hit both update-dense and singleton slices; the
    * catalog name is per-run unique because Spark caches catalog
    * plugins by name for the session's lifetime. */
  val q252SqlTableSurface = GraftQuery(
    "q252_sql_table_surface",
    (s, dir) => {
      val base = newTempDir("graft_sql_surface")
      val root = base + "/cust"
      val v0 = Tables.customer(s, dir).select(
        col("c_custkey").cast("long").as("k"),
        col("c_name").as("name"),
        floor(col("c_acctbal") * 100 + lit(0.5)).cast("long").as("bal_cents"))
      GraftTable.create(s, root, v0, "k", nBuckets = 8)
      val batch = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"))
          .as("bal_cents"))
        .select(
          when(col("o_custkey") % 50 === 0, col("o_custkey") + 1000000L)
            .otherwise(col("o_custkey")).cast("long").as("k"),
          col("bal_cents"))
        .withColumn("name", concat(lit("Batch#"), col("k").cast("string")))
      GraftTable.upsert(s, root, batch.select("k", "name", "bal_cents"), "k")
      val cat = "graft_sql_" + java.util.UUID.randomUUID().toString.take(8)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", base)
      def one(v: Int, lo: Long, hi: Long) = s.sql(
        s"""SELECT CAST($v AS BIGINT) AS version,
           |  CAST($lo AS BIGINT) AS lower, CAST($hi AS BIGINT) AS upper,
           |  count(*) AS n_rows,
           |  CAST(COALESCE(sum(bal_cents), 0) AS BIGINT) AS bal_sum,
           |  CAST(COALESCE(sum(CAST(conv(substring(md5(CAST(k AS STRING)),
           |    1, 8), 16, 10) AS BIGINT)), 0) AS BIGINT) AS key_sum,
           |  CAST(COALESCE(sum(CAST(conv(substring(md5(name), 1, 8), 16, 10)
           |    AS BIGINT)), 0) AS BIGINT) AS name_sum
           |FROM $cat.cust VERSION AS OF $v
           |WHERE k BETWEEN $lo AND $hi""".stripMargin)
      one(0, 100L, 2000L).unionAll(one(1, 100L, 2000L))
        .unionAll(one(0, 40L, 60L)).unionAll(one(1, 40L, 60L))
        .orderBy("version", "lower")
    },
    Some("""WITH v0 AS (
           |  SELECT CAST(c_custkey AS BIGINT) AS k, c_name AS name,
           |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
           |  FROM customer),
           |batch AS (
           |  SELECT CAST(CASE WHEN o_custkey % 50 = 0
           |      THEN o_custkey + 1000000 ELSE o_custkey END AS BIGINT) AS k,
           |    'Batch#' || CAST(CASE WHEN o_custkey % 50 = 0
           |      THEN o_custkey + 1000000 ELSE o_custkey END AS VARCHAR) AS name,
           |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
           |      AS BIGINT) AS bal_cents
           |  FROM orders GROUP BY o_custkey),
           |v1 AS (
           |  SELECT COALESCE(b.k, t.k) AS k,
           |    COALESCE(b.name, t.name) AS name,
           |    COALESCE(b.bal_cents, t.bal_cents) AS bal_cents
           |  FROM v0 t FULL OUTER JOIN batch b ON t.k = b.k),
           |r AS (SELECT * FROM (VALUES (CAST(100 AS BIGINT), CAST(2000 AS BIGINT)),
           |        (40, 60)) AS x(lo, hi)),
           |s0 AS (
           |  SELECT CAST(0 AS BIGINT) AS version, r.lo AS lower, r.hi AS upper,
           |    count(t.k) AS n_rows,
           |    CAST(COALESCE(sum(t.bal_cents), 0) AS BIGINT) AS bal_sum,
           |    CAST(COALESCE(sum(('0x' || substr(md5(CAST(t.k AS VARCHAR)),
           |      1, 8))::BIGINT), 0) AS BIGINT) AS key_sum,
           |    CAST(COALESCE(sum(('0x' || substr(md5(t.name), 1, 8))::BIGINT),
           |      0) AS BIGINT) AS name_sum
           |  FROM r LEFT JOIN v0 t ON t.k >= r.lo AND t.k <= r.hi
           |  GROUP BY r.lo, r.hi),
           |s1 AS (
           |  SELECT CAST(1 AS BIGINT) AS version, r.lo AS lower, r.hi AS upper,
           |    count(t.k) AS n_rows,
           |    CAST(COALESCE(sum(t.bal_cents), 0) AS BIGINT) AS bal_sum,
           |    CAST(COALESCE(sum(('0x' || substr(md5(CAST(t.k AS VARCHAR)),
           |      1, 8))::BIGINT), 0) AS BIGINT) AS key_sum,
           |    CAST(COALESCE(sum(('0x' || substr(md5(t.name), 1, 8))::BIGINT),
           |      0) AS BIGINT) AS name_sum
           |  FROM r LEFT JOIN v1 t ON t.k >= r.lo AND t.k <= r.hi
           |  GROUP BY r.lo, r.hi)
           |SELECT * FROM (SELECT * FROM s0 UNION ALL SELECT * FROM s1)
           |ORDER BY version, lower""".stripMargin))

  /** FULL SQL WRITE LIFECYCLE for the table format — DDL + DML through
    * nothing but SQL text: `CREATE TABLE` (empty keyed table,
    * properties mirroring the Scala create), two `INSERT INTO ...
    * SELECT`s whose key ranges overlap (so the second exercises the
    * keyed-MERGE semantics: same-key rows replace, new keys insert),
    * then reads back EVERY version via `VERSION AS OF` — all through
    * the [[graft.sources.GraftCatalog]] V1Write bridge into the SAME
    * `upsert` commit path as the Scala API (pruned copy-on-write, OCC,
    * sidecars). The oracle replays the logical content per version;
    * a hash match proves SQL-written commits read back exactly like
    * Scala-written ones. Catalog name is per-run unique (Spark caches
    * catalog plugins per session). */
  val q270SqlTableWrites = GraftQuery(
    "q270_sql_table_writes",
    (s, dir) => {
      val base = newTempDir("graft_sql_writes")
      val cat = "graft_w_" + java.util.UUID.randomUUID().toString.take(8)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", base)
      Tables.events(s, dir).createOrReplaceTempView("ev_src")
      s.sql(s"CREATE TABLE $cat.acct (k BIGINT, tier STRING, cents BIGINT) " +
        "TBLPROPERTIES ('key' = 'k', 'buckets' = '4')")
      // v1: per-user click value totals
      s.sql(
        s"""INSERT INTO $cat.acct
           |SELECT user_id AS k, 'basic' AS tier,
           |  CAST(sum(floor(value * 100 + 0.5)) AS BIGINT) AS cents
           |FROM ev_src WHERE event_type = 'click' GROUP BY user_id""".stripMargin)
      // v2: purchase totals MERGE over the same key space (every-3rd
      // user also upgrades tier) plus synthetic new keys
      s.sql(
        s"""INSERT INTO $cat.acct
           |SELECT user_id + CASE WHEN user_id % 7 = 0 THEN 1000000 ELSE 0 END
           |    AS k,
           |  CASE WHEN user_id % 3 = 0 THEN 'premium' ELSE 'basic' END AS tier,
           |  CAST(sum(floor(value * 100 + 0.5)) AS BIGINT) AS cents
           |FROM ev_src WHERE event_type = 'purchase'
           |GROUP BY user_id""".stripMargin)
      // v3: SQL DELETE — premium rows in the synthetic-key range go
      // (a real pruned copy-on-write commit through SupportsDelete)
      s.sql(s"DELETE FROM $cat.acct WHERE k >= 1000000 AND tier = 'premium'")
      def one(v: Int) = s.sql(
        s"""SELECT CAST($v AS BIGINT) AS version, count(*) AS n_rows,
           |  CAST(COALESCE(sum(cents), 0) AS BIGINT) AS cents_sum,
           |  CAST(COALESCE(sum(CAST(conv(substring(md5(concat_ws('|',
           |    CAST(k AS STRING), tier)), 1, 8), 16, 10) AS BIGINT)), 0)
           |    AS BIGINT) AS row_sum
           |FROM $cat.acct VERSION AS OF $v""".stripMargin)
      one(0).unionAll(one(1)).unionAll(one(2)).unionAll(one(3))
        .orderBy("version")
    },
    Some("""WITH clicks AS (
           |  SELECT user_id AS k, 'basic' AS tier,
           |    CAST(sum(floor(value * 100 + 0.5)) AS BIGINT) AS cents
           |  FROM events WHERE event_type = 'click' GROUP BY user_id),
           |purch AS (
           |  SELECT user_id + CASE WHEN user_id % 7 = 0 THEN 1000000
           |      ELSE 0 END AS k,
           |    CASE WHEN user_id % 3 = 0 THEN 'premium' ELSE 'basic' END
           |      AS tier,
           |    CAST(sum(floor(value * 100 + 0.5)) AS BIGINT) AS cents
           |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
           |v2 AS (
           |  SELECT COALESCE(p.k, c.k) AS k,
           |    COALESCE(p.tier, c.tier) AS tier,
           |    COALESCE(p.cents, c.cents) AS cents
           |  FROM clicks c FULL OUTER JOIN purch p ON p.k = c.k),
           |st AS (
           |  SELECT 0 AS version, count(*) AS n, CAST(0 AS BIGINT) AS cs,
           |    CAST(0 AS BIGINT) AS rs FROM (SELECT 1 WHERE 1 = 0)
           |  UNION ALL
           |  SELECT 1, count(*),
           |    CAST(COALESCE(sum(cents), 0) AS BIGINT),
           |    CAST(COALESCE(sum(('0x' || substr(md5(CAST(k AS VARCHAR) ||
           |      '|' || tier), 1, 8))::BIGINT), 0) AS BIGINT)
           |  FROM clicks
           |  UNION ALL
           |  SELECT 2, count(*),
           |    CAST(COALESCE(sum(cents), 0) AS BIGINT),
           |    CAST(COALESCE(sum(('0x' || substr(md5(CAST(k AS VARCHAR) ||
           |      '|' || tier), 1, 8))::BIGINT), 0) AS BIGINT)
           |  FROM v2
           |  UNION ALL
           |  SELECT 3, count(*),
           |    CAST(COALESCE(sum(cents), 0) AS BIGINT),
           |    CAST(COALESCE(sum(('0x' || substr(md5(CAST(k AS VARCHAR) ||
           |      '|' || tier), 1, 8))::BIGINT), 0) AS BIGINT)
           |  FROM v2 WHERE NOT (k >= 1000000 AND tier = 'premium'))
           |SELECT CAST(version AS BIGINT) AS version,
           |  CAST(COALESCE(n, 0) AS BIGINT) AS n_rows,
           |  cs AS cents_sum, rs AS row_sum
           |FROM st ORDER BY version""".stripMargin))

  /** VERSION TAGS — named immutable refs (the Iceberg tag pattern):
    * tag a known-good version `'release'`, keep committing, then
    * VACUUM past it — the tagged version's manifest, data files, and
    * pre-evolution SCHEMA stay pinned while untagged history inside
    * the swept window is reclaimed; `VERSION AS OF 'release'` resolves
    * through the SQL surface to exactly the logical snapshot that was
    * tagged. The gate reads the tagged snapshot (post-vacuum) and the
    * head through SQL text and checksums both; the oracle replays the
    * two logical states. Proves retention and reproducibility can
    * coexist — the "pin the eval dataset" workflow. */
  val q272VersionTags = GraftQuery(
    "q272_version_tags",
    (s, dir) => {
      val base = newTempDir("graft_tags")
      val root = base + "/tbl"
      val v0 = Tables.nation(s, dir).select(
        col("n_nationkey").cast("long").as("k"),
        col("n_name").as("name"), lit(0L).as("rev_cents"))
      GraftTable.create(s, root, v0, "k", nBuckets = 2)
      // v1: revenue totals land — the "release" state
      val rev = Tables.orders(s, dir).join(
          Tables.customer(s, dir),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").cast("long").as("k"))
        .agg(sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"))
          .as("rev_cents"))
      GraftTable.upsert(s, root,
        Tables.nation(s, dir).select(col("n_nationkey").cast("long").as("k"),
            col("n_name").as("name"))
          .join(rev, Seq("k"), "left")
          .select(col("k"), col("name"),
            coalesce(col("rev_cents"), lit(0L)).as("rev_cents")), "k")
      GraftTable.tag(s, root, "release", 1)
      // v2, v3: later mutations the release must not see
      GraftTable.upsert(s, root, v0.filter(col("k") < 10)
        .select(col("k"), concat(lit("X-"), col("name")).as("name"),
          lit(-1L).as("rev_cents")), "k")
      GraftTable.deleteWhere(s, root, col("k") >= 20, "k")
      // reclaim untagged history: keeps v3 (head) + pinned v1; v0/v2 go
      GraftTable.vacuum(s, root, retainVersions = 1)
      val cat = "graft_tag_" + java.util.UUID.randomUUID().toString.take(8)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", base)
      def one(label: String, ref: String) = s.sql(
        s"""SELECT '$label' AS snapshot, count(*) AS n_rows,
           |  CAST(sum(rev_cents) AS BIGINT) AS rev_sum,
           |  CAST(sum(CAST(conv(substring(md5(concat_ws('|',
           |    CAST(k AS STRING), name)), 1, 8), 16, 10) AS BIGINT))
           |    AS BIGINT) AS row_sum
           |FROM $cat.tbl VERSION AS OF $ref""".stripMargin)
      one("head", "3").unionAll(one("release", "'release'"))
        .orderBy("snapshot")
    },
    Some("""WITH rev AS (
           |  SELECT c.c_nationkey AS k,
           |    CAST(sum(floor(o.o_totalprice * 100 + 0.5)) AS BIGINT)
           |      AS rev_cents
           |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
           |  GROUP BY 1),
           |v1 AS (
           |  SELECT CAST(n.n_nationkey AS BIGINT) AS k, n.n_name AS name,
           |    CAST(COALESCE(rev.rev_cents, 0) AS BIGINT) AS rev_cents
           |  FROM nation n LEFT JOIN rev ON rev.k = n.n_nationkey),
           |v2 AS (
           |  SELECT k,
           |    CASE WHEN k < 10 THEN 'X-' || name ELSE name END AS name,
           |    CASE WHEN k < 10 THEN CAST(-1 AS BIGINT) ELSE rev_cents END
           |      AS rev_cents
           |  FROM v1),
           |v3 AS (SELECT * FROM v2 WHERE NOT (k >= 20)),
           |st AS (
           |  SELECT 'head' AS snapshot, count(*) AS n,
           |    CAST(sum(rev_cents) AS BIGINT) AS rs,
           |    CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
           |      name), 1, 8))::BIGINT) AS BIGINT) AS hs
           |  FROM v3
           |  UNION ALL
           |  SELECT 'release', count(*),
           |    CAST(sum(rev_cents) AS BIGINT),
           |    CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
           |      name), 1, 8))::BIGINT) AS BIGINT)
           |  FROM v1)
           |SELECT snapshot, CAST(n AS BIGINT) AS n_rows, rs AS rev_sum,
           |  hs AS row_sum
           |FROM st ORDER BY snapshot""".stripMargin))

  /** RESTORE — the incident-recovery workflow: good commit, bad
    * commit (a batch that zeroes balances), then
    * [[graft.sources.GraftTable.restore]] rolls the head back to the
    * good version as a metadata-only commit (old files re-referenced,
    * zero data I/O). The gate checksums the head, the good version,
    * and the bad version through SQL text: head must hash-equal the
    * good snapshot while the bad version stays time-travelable (the
    * restore preserves history rather than rewriting it). The oracle
    * replays the good logical state twice and the bad state once. */
  val q276TableRestore = GraftQuery(
    "q276_table_restore",
    (s, dir) => {
      val base = newTempDir("graft_restore")
      val root = base + "/tbl"
      val v0 = Tables.supplier(s, dir).select(
        col("s_suppkey").cast("long").as("k"), col("s_name").as("name"),
        floor(col("s_acctbal") * 100 + lit(0.5)).cast("long").as("bal_cents"))
      GraftTable.create(s, root, v0, "k", nBuckets = 4)
      // v1 (good): every 5th supplier gains 1000 cents
      GraftTable.upsert(s, root,
        v0.filter(col("k") % 5 === 0)
          .withColumn("bal_cents", col("bal_cents") + 1000L), "k")
      // v2 (incident): a runaway job zeroes every balance
      GraftTable.upsert(s, root,
        v0.select(col("k"), col("name"), lit(0L).as("bal_cents")), "k")
      GraftTable.restore(s, root, 1) // v3 == v1 content
      val cat = "graft_rst_" + java.util.UUID.randomUUID().toString.take(8)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", base)
      def one(label: String, ref: String) = s.sql(
        s"""SELECT '$label' AS snapshot, count(*) AS n_rows,
           |  CAST(sum(bal_cents) AS BIGINT) AS bal_sum,
           |  CAST(sum(CAST(conv(substring(md5(concat_ws('|',
           |    CAST(k AS STRING), name, CAST(bal_cents AS STRING))), 1, 8),
           |    16, 10) AS BIGINT)) AS BIGINT) AS row_sum
           |FROM $cat.tbl VERSION AS OF $ref""".stripMargin)
      one("a_good_v1", "1").unionAll(one("b_bad_v2", "2"))
        .unionAll(one("c_restored_head", "3")).orderBy("snapshot")
    },
    Some("""WITH v0 AS (
           |  SELECT CAST(s_suppkey AS BIGINT) AS k, s_name AS name,
           |    CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
           |  FROM supplier),
           |v1 AS (
           |  SELECT k, name,
           |    CASE WHEN k % 5 = 0 THEN bal_cents + 1000 ELSE bal_cents END
           |      AS bal_cents
           |  FROM v0),
           |v2 AS (SELECT k, name, CAST(0 AS BIGINT) AS bal_cents FROM v0),
           |st AS (
           |  SELECT 'a_good_v1' AS snapshot, count(*) AS n,
           |    CAST(sum(bal_cents) AS BIGINT) AS bs,
           |    CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
           |      name || '|' || CAST(bal_cents AS VARCHAR)), 1, 8))::BIGINT)
           |      AS BIGINT) AS rs
           |  FROM v1
           |  UNION ALL
           |  SELECT 'b_bad_v2', count(*), CAST(sum(bal_cents) AS BIGINT),
           |    CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
           |      name || '|' || CAST(bal_cents AS VARCHAR)), 1, 8))::BIGINT)
           |      AS BIGINT)
           |  FROM v2
           |  UNION ALL
           |  SELECT 'c_restored_head', count(*), CAST(sum(bal_cents) AS BIGINT),
           |    CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
           |      name || '|' || CAST(bal_cents AS VARCHAR)), 1, 8))::BIGINT)
           |      AS BIGINT)
           |  FROM v1)
           |SELECT snapshot, CAST(n AS BIGINT) AS n_rows, bs AS bal_sum,
           |  rs AS row_sum
           |FROM st ORDER BY snapshot""".stripMargin))

  /** MERGE INTO through SQL TEXT — the statement every warehouse
    * migration actually writes (reference analogue: the SCD2 update
    * flow, ProductDimension.sql:88-130), over the graft catalog:
    * mixed `WHEN MATCHED AND … THEN DELETE` / `WHEN MATCHED THEN
    * UPDATE` / `WHEN NOT MATCHED AND … THEN INSERT` lands as ONE CDC
    * commit via [[graft.sources.GraftMergeCommand]] →
    * `GraftTable.applyCdcBatch` (pruned copy-on-write, first-action-
    * wins guard order, ANSI cardinality check). The gate checksums the
    * pre-merge and post-merge versions through `VERSION AS OF`; the
    * oracle replays both logical states relationally. */
  val q282SqlMergeInto = GraftQuery(
    "q282_sql_merge_into",
    (s, dir) => {
      val base = newTempDir("graft_merge")
      val cat = "graft_mg_" + java.util.UUID.randomUUID().toString.take(8)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", base)
      Tables.events(s, dir).createOrReplaceTempView("ev_mrg")
      s.sql(s"CREATE TABLE $cat.acct (k BIGINT, tier STRING, cents BIGINT) " +
        "TBLPROPERTIES ('key' = 'k', 'buckets' = '4')")
      // v1: per-user click value totals
      s.sql(
        s"""INSERT INTO $cat.acct
           |SELECT user_id AS k, 'basic' AS tier,
           |  CAST(sum(floor(value * 100 + 0.5)) AS BIGINT) AS cents
           |FROM ev_mrg WHERE event_type = 'click' GROUP BY user_id"""
          .stripMargin)
      // v2: ONE MERGE — purchase totals against the click accounts
      s.sql(
        """CREATE OR REPLACE TEMP VIEW mrg_src AS
          |SELECT user_id AS sk,
          |  CAST(sum(floor(value * 100 + 0.5)) AS BIGINT) AS scents
          |FROM ev_mrg WHERE event_type = 'purchase' GROUP BY user_id"""
          .stripMargin)
      s.sql(
        s"""MERGE INTO $cat.acct a USING mrg_src ON a.k = mrg_src.sk
           |WHEN MATCHED AND mrg_src.scents % 3 = 0 THEN DELETE
           |WHEN MATCHED THEN UPDATE
           |  SET tier = 'premium', cents = a.cents + mrg_src.scents
           |WHEN NOT MATCHED AND mrg_src.scents % 2 = 0 THEN
           |  INSERT (k, tier, cents) VALUES (mrg_src.sk, 'new', mrg_src.scents)
           |""".stripMargin).collect()
      // v3: row-level UPDATE through SQL text (GraftUpdateCommand →
      // the same pruned CDC commit path)
      s.sql(s"UPDATE $cat.acct SET cents = cents + 1 " +
        "WHERE tier = 'premium'").collect()
      def one(v: Int) = s.sql(
        s"""SELECT CAST($v AS BIGINT) AS version, count(*) AS n_rows,
           |  CAST(sum(cents) AS BIGINT) AS cents_sum,
           |  CAST(sum(CAST(conv(substring(md5(concat_ws('|',
           |    CAST(k AS STRING), tier, CAST(cents AS STRING))), 1, 8),
           |    16, 10) AS BIGINT)) AS BIGINT) AS row_sum
           |FROM $cat.acct VERSION AS OF $v""".stripMargin)
      one(1).unionAll(one(2)).unionAll(one(3)).orderBy("version")
    },
    Some("""WITH clicks AS (
           |  SELECT user_id AS k, 'basic' AS tier,
           |    CAST(sum(floor(value * 100 + 0.5)) AS BIGINT) AS cents
           |  FROM events WHERE event_type = 'click' GROUP BY user_id),
           |src AS (
           |  SELECT user_id AS sk,
           |    CAST(sum(floor(value * 100 + 0.5)) AS BIGINT) AS scents
           |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
           |merged AS (
           |  SELECT c.k, c.tier, c.cents
           |  FROM clicks c LEFT JOIN src s ON s.sk = c.k WHERE s.sk IS NULL
           |  UNION ALL
           |  SELECT c.k, 'premium' AS tier,
           |    CAST(c.cents + s.scents AS BIGINT) AS cents
           |  FROM clicks c JOIN src s ON s.sk = c.k WHERE s.scents % 3 <> 0
           |  UNION ALL
           |  SELECT s.sk AS k, 'new' AS tier, s.scents AS cents
           |  FROM src s LEFT JOIN clicks c ON c.k = s.sk
           |  WHERE c.k IS NULL AND s.scents % 2 = 0),
           |updated AS (
           |  SELECT k, tier,
           |    CASE WHEN tier = 'premium' THEN cents + 1 ELSE cents END
           |      AS cents
           |  FROM merged),
           |st AS (
           |  SELECT 1 AS version, count(*) AS n,
           |    CAST(sum(cents) AS BIGINT) AS cs,
           |    CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
           |      tier || '|' || CAST(cents AS VARCHAR)), 1, 8))::BIGINT)
           |      AS BIGINT) AS rs
           |  FROM clicks
           |  UNION ALL
           |  SELECT 2, count(*), CAST(sum(cents) AS BIGINT),
           |    CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
           |      tier || '|' || CAST(cents AS VARCHAR)), 1, 8))::BIGINT)
           |      AS BIGINT)
           |  FROM merged
           |  UNION ALL
           |  SELECT 3, count(*), CAST(sum(cents) AS BIGINT),
           |    CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
           |      tier || '|' || CAST(cents AS VARCHAR)), 1, 8))::BIGINT)
           |      AS BIGINT)
           |  FROM updated)
           |SELECT CAST(version AS BIGINT) AS version,
           |  CAST(n AS BIGINT) AS n_rows, cs AS cents_sum, rs AS row_sum
           |FROM st ORDER BY version""".stripMargin))

  /** PARTITION TRANSFORMS + PARTITION EVOLUTION
    * ([[graft.sources.PartitionTransform]]) — the Iceberg headline
    * feature on the graft format: a table created UNPARTITIONED gains
    * `days(ts)` via a METADATA-ONLY commit
    * ([[graft.sources.GraftTable.setPartitioning]]); files written
    * before the transform stay readable forever (no recorded day
    * range → never skipped), files written after carry per-file day
    * ranges and prune (pinned physically in GraftTableSpec with a
    * deleted-file sabotage; this gate pins the CONTENT contract).
    * Output: full-table checksums at both eras' versions plus one-day
    * and three-day partition reads at head — each the exact logical
    * filter, replayed relationally by the oracle. */
  val q285PartitionedEvents = GraftQuery(
    "q285_partitioned_events",
    (s, dir) => {
      import graft.sources.{DaysPartition, GraftTable}
      val base = newTempDir("graft_partition")
      val root = base + "/ev"
      val ev = Tables.events(s, dir).select(
        col("event_id").cast("long").as("k"), col("ts"),
        col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
      // era 1 (v0, unpartitioned): clicks
      GraftTable.create(s, root, ev.filter(col("event_type") === "click"),
        "k", nBuckets = 4)
      // v1: days(ts) lands as metadata; era 2 (v2): purchases arrive
      // under the transform, split day-aligned
      GraftTable.setPartitioning(s, root, DaysPartition("ts"))
      GraftTable.upsert(s, root,
        ev.filter(col("event_type") === "purchase"), "k", nBuckets = 8)
      val day0 = ev.agg(min(floor(unix_timestamp(col("ts")) / 86400)
        .cast("long"))).collect()(0).getLong(0)
      def sum1(label: String, df: org.apache.spark.sql.DataFrame) =
        df.select(lit(label).as("snapshot"), col("k"), col("event_type"),
          col("cents"))
          .groupBy("snapshot")
          .agg(count(lit(1)).as("n_rows"),
            sum("cents").as("cents_sum"),
            sum(conv(substring(md5(concat_ws("|", col("k").cast("string"),
              col("event_type"), col("cents").cast("string"))), 1, 8),
              16, 10).cast("long")).as("row_sum"))
      sum1("a_v0_clicks", GraftTable.read(s, root, Some(0)))
        .unionAll(sum1("b_head_full", GraftTable.read(s, root)))
        .unionAll(sum1("c_head_day0",
          GraftTable.readPartitionRange(s, root, day0, day0)))
        .unionAll(sum1("d_head_3days",
          GraftTable.readPartitionRange(s, root, day0, day0 + 2)))
        .orderBy("snapshot")
    },
    Some("""WITH ev AS (
           |  SELECT CAST(event_id AS BIGINT) AS k, ts, event_type,
           |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
           |    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day
           |  FROM events),
           |d0 AS (SELECT min(day) AS day0 FROM ev),
           |head AS (SELECT * FROM ev
           |  WHERE event_type IN ('click', 'purchase')),
           |st AS (
           |  SELECT 'a_v0_clicks' AS snapshot, count(*) AS n,
           |    CAST(sum(cents) AS BIGINT) AS cs,
           |    CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
           |      event_type || '|' || CAST(cents AS VARCHAR)), 1, 8))::BIGINT)
           |      AS BIGINT) AS rs
           |  FROM ev WHERE event_type = 'click'
           |  UNION ALL
           |  SELECT 'b_head_full', count(*), CAST(sum(cents) AS BIGINT),
           |    CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
           |      event_type || '|' || CAST(cents AS VARCHAR)), 1, 8))::BIGINT)
           |      AS BIGINT)
           |  FROM head
           |  UNION ALL
           |  SELECT 'c_head_day0', count(*), CAST(sum(cents) AS BIGINT),
           |    CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
           |      event_type || '|' || CAST(cents AS VARCHAR)), 1, 8))::BIGINT)
           |      AS BIGINT)
           |  FROM head, d0 WHERE day = day0
           |  UNION ALL
           |  SELECT 'd_head_3days', count(*), CAST(sum(cents) AS BIGINT),
           |    CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
           |      event_type || '|' || CAST(cents AS VARCHAR)), 1, 8))::BIGINT)
           |      AS BIGINT)
           |  FROM head, d0 WHERE day BETWEEN day0 AND day0 + 2)
           |SELECT snapshot, CAST(n AS BIGINT) AS n_rows, cs AS cents_sum,
           |  rs AS row_sum
           |FROM st ORDER BY snapshot""".stripMargin))

  /** TIMESTAMP AS OF time travel — wall-clock snapshot resolution
    * ([[graft.sources.GraftTable.resolveTimestamp]]: the manifest's
    * publish-rename mtime IS the commit instant; no extra metadata).
    * The gate builds three sleep-separated versions, reads each back
    * through SQL `TIMESTAMP AS OF` at its own commit instant (plus one
    * far-future instant that must resolve to head) and checksums the
    * contents. Wall-clock values are only HANDLES — every compared
    * output is deterministic content, so the oracle replays the three
    * logical states relationally. */
  val q287TimestampTravel = GraftQuery(
    "q287_timestamp_travel",
    (s, dir) => {
      val base = newTempDir("graft_ts_travel")
      val root = base + "/tbl"
      val v0 = Tables.nation(s, dir).select(
        col("n_nationkey").cast("long").as("k"), col("n_name").as("name"),
        lit(0L).as("bal"))
      GraftTable.create(s, root, v0, "k", nBuckets = 2)
      Thread.sleep(25) // make commit instants distinguishable at ms grain
      GraftTable.upsert(s, root,
        v0.filter(col("k") < 10).withColumn("bal", col("k") * 100), "k")
      Thread.sleep(25)
      GraftTable.deleteWhere(s, root, col("k") >= 20, "k")
      val ts = GraftTable.commitTimestamps(s, root)
      val cat = "graft_tt_" + java.util.UUID.randomUUID().toString.take(8)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", base)
      def fmtTs(ms: Long): String = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.ofEpochMilli(ms))
      def one(label: String, ms: Long) = s.sql(
        s"""SELECT '$label' AS snapshot, count(*) AS n_rows,
           |  CAST(sum(bal) AS BIGINT) AS bal_sum,
           |  CAST(sum(CAST(conv(substring(md5(concat_ws('|',
           |    CAST(k AS STRING), name, CAST(bal AS STRING))), 1, 8),
           |    16, 10) AS BIGINT)) AS BIGINT) AS row_sum
           |FROM $cat.tbl TIMESTAMP AS OF '${fmtTs(ms)}'""".stripMargin)
      one("a_at_v0", ts(0)._2)
        .unionAll(one("b_at_v1", ts(1)._2))
        .unionAll(one("c_at_v2", ts(2)._2))
        .unionAll(one("d_future_is_head", ts(2)._2 + 3600000L))
        .orderBy("snapshot")
    },
    Some("""WITH v0 AS (
           |  SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS name,
           |    CAST(0 AS BIGINT) AS bal
           |  FROM nation),
           |v1 AS (
           |  SELECT k, name,
           |    CASE WHEN k < 10 THEN k * 100 ELSE bal END AS bal
           |  FROM v0),
           |v2 AS (SELECT * FROM v1 WHERE k < 20),
           |cs AS (
           |  SELECT 'a_at_v0' AS snapshot, count(*) AS n,
           |    CAST(sum(bal) AS BIGINT) AS bs,
           |    CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
           |      name || '|' || CAST(bal AS VARCHAR)), 1, 8))::BIGINT)
           |      AS BIGINT) AS rs
           |  FROM v0
           |  UNION ALL
           |  SELECT 'b_at_v1', count(*), CAST(sum(bal) AS BIGINT),
           |    CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
           |      name || '|' || CAST(bal AS VARCHAR)), 1, 8))::BIGINT)
           |      AS BIGINT)
           |  FROM v1
           |  UNION ALL
           |  SELECT 'c_at_v2', count(*), CAST(sum(bal) AS BIGINT),
           |    CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
           |      name || '|' || CAST(bal AS VARCHAR)), 1, 8))::BIGINT)
           |      AS BIGINT)
           |  FROM v2
           |  UNION ALL
           |  SELECT 'd_future_is_head', count(*), CAST(sum(bal) AS BIGINT),
           |    CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
           |      name || '|' || CAST(bal AS VARCHAR)), 1, 8))::BIGINT)
           |      AS BIGINT)
           |  FROM v2)
           |SELECT snapshot, CAST(n AS BIGINT) AS n_rows, bs AS bal_sum,
           |  rs AS row_sum
           |FROM cs ORDER BY snapshot""".stripMargin))

  /** MERGE `WHEN NOT MATCHED BY SOURCE` — the SCD2 close-out idiom
    * (reference analogue: the "older rows → inactive" flip,
    * ProductDimension.sql:88-130) through SQL text: accounts whose key
    * the source batch no longer carries are flipped inactive (or
    * dropped, first-action-wins on the guards), matched accounts
    * refresh — ONE statement, ONE pruned CDC commit
    * ([[graft.sources.GraftMergeCommand]]: full-outer source join, the
    * commit rewrites only files holding affected keys). Checksums at
    * the pre- and post-merge versions, both replayed relationally. */
  val q289MergeCloseOut = GraftQuery(
    "q289_merge_close_out",
    (s, dir) => {
      val base = newTempDir("graft_close_out")
      val cat = "graft_co_" + java.util.UUID.randomUUID().toString.take(8)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", base)
      GraftTable.create(s, base + "/acct",
        Tables.customer(s, dir).select(
          col("c_custkey").cast("long").as("k"),
          col("c_mktsegment").as("seg"),
          lit(1L).as("active"),
          floor(col("c_acctbal") * 100 + lit(0.5)).cast("long").as("cents")),
        "k", nBuckets = 4)
      Tables.orders(s, dir)
        .groupBy(col("o_custkey").cast("long").as("sk"))
        .agg(count(lit(1)).as("n_ord"))
        .createOrReplaceTempView("co_src")
      s.sql(
        s"""MERGE INTO $cat.acct a USING co_src ON a.k = co_src.sk
           |WHEN MATCHED THEN UPDATE SET cents = a.cents + co_src.n_ord
           |WHEN NOT MATCHED BY SOURCE AND a.k % 10 = 0 THEN DELETE
           |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET active = 0
           |""".stripMargin).collect()
      def one(v: Int) = s.sql(
        s"""SELECT CAST($v AS BIGINT) AS version, count(*) AS n_rows,
           |  CAST(sum(active) AS BIGINT) AS active_sum,
           |  CAST(sum(cents) AS BIGINT) AS cents_sum,
           |  CAST(sum(CAST(conv(substring(md5(concat_ws('|',
           |    CAST(k AS STRING), seg, CAST(active AS STRING),
           |    CAST(cents AS STRING))), 1, 8),
           |    16, 10) AS BIGINT)) AS BIGINT) AS row_sum
           |FROM $cat.acct VERSION AS OF $v""".stripMargin)
      one(0).unionAll(one(1)).orderBy("version")
    },
    Some("""WITH acct AS (
           |  SELECT CAST(c_custkey AS BIGINT) AS k, c_mktsegment AS seg,
           |    CAST(1 AS BIGINT) AS active,
           |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
           |  FROM customer),
           |src AS (
           |  SELECT CAST(o_custkey AS BIGINT) AS sk,
           |    CAST(count(*) AS BIGINT) AS n_ord
           |  FROM orders GROUP BY 1),
           |merged AS (
           |  SELECT a.k, a.seg, a.active,
           |    CAST(a.cents + s.n_ord AS BIGINT) AS cents
           |  FROM acct a JOIN src s ON s.sk = a.k
           |  UNION ALL
           |  SELECT a.k, a.seg, CAST(0 AS BIGINT) AS active, a.cents
           |  FROM acct a LEFT JOIN src s ON s.sk = a.k
           |  WHERE s.sk IS NULL AND a.k % 10 <> 0),
           |st AS (
           |  SELECT 0 AS version, count(*) AS n,
           |    CAST(sum(active) AS BIGINT) AS a_s,
           |    CAST(sum(cents) AS BIGINT) AS c_s,
           |    CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
           |      seg || '|' || CAST(active AS VARCHAR) || '|' ||
           |      CAST(cents AS VARCHAR)), 1, 8))::BIGINT) AS BIGINT) AS rs
           |  FROM acct
           |  UNION ALL
           |  SELECT 1, count(*), CAST(sum(active) AS BIGINT),
           |    CAST(sum(cents) AS BIGINT),
           |    CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
           |      seg || '|' || CAST(active AS VARCHAR) || '|' ||
           |      CAST(cents AS VARCHAR)), 1, 8))::BIGINT) AS BIGINT)
           |  FROM merged)
           |SELECT CAST(version AS BIGINT) AS version,
           |  CAST(n AS BIGINT) AS n_rows, a_s AS active_sum,
           |  c_s AS cents_sum, rs AS row_sum
           |FROM st ORDER BY version""".stripMargin))

  /** Metadata-served aggregates incl. the round-11 `count(col)` path:
    * an unfiltered `count(*) / count(col) / min / max` over a graft
    * table answers from the manifest + the per-file `#nulls.<col>`
    * colstats ledger — zero data files opened (proven physically in
    * GraftSqlSpec by deleting a data file; this gate pins the VALUES,
    * including NULL-bearing columns and a post-upsert version). */
  val q290MetadataAggregates = GraftQuery(
    "q290_metadata_aggregates",
    (s, dir) => {
      val base = newTempDir("graft_meta_agg")
      val cat = "graft_ma_" + java.util.UUID.randomUUID().toString.take(8)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", base)
      val cust = Tables.customer(s, dir).select(
        col("c_custkey").cast("long").as("k"),
        nullif(col("c_mktsegment"), lit("BUILDING")).as("seg"),
        when(col("c_acctbal") < 0, lit(null))
          .otherwise(floor(col("c_acctbal") * 100 + lit(0.5)))
          .cast("long").as("bal"))
      GraftTable.create(s, base + "/t", cust, "k", nBuckets = 4)
      // v1: NULL more segments through SQL UPDATE — the ANSI 'replace'
      // path (SET col = NULL writes NULL; the CDC upsert's coalesce
      // would keep the old value), and the ledger must track the new
      // per-file null counts through the copy-on-write rewrite
      s.sql(s"UPDATE $cat.t SET seg = NULL WHERE k % 7 = 0").collect()
      def one(label: String, asOf: String) = s.sql(
        s"""SELECT '$label' AS snapshot, count(*) AS n_all,
           |  count(seg) AS n_seg, count(bal) AS n_bal,
           |  min(k) AS min_k, max(k) AS max_k,
           |  sum(k) AS sum_k, sum(bal) AS sum_bal
           |FROM $cat.t $asOf""".stripMargin)
      one("a_v0", "VERSION AS OF 0")
        .unionAll(one("b_head", ""))
        .orderBy("snapshot")
    },
    Some("""WITH cust AS (
           |  SELECT CAST(c_custkey AS BIGINT) AS k,
           |    nullif(c_mktsegment, 'BUILDING') AS seg,
           |    CASE WHEN c_acctbal < 0 THEN NULL
           |      ELSE CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)
           |      END AS bal
           |  FROM customer),
           |head AS (
           |  SELECT k, CASE WHEN k % 7 = 0 THEN NULL ELSE seg END AS seg,
           |    bal
           |  FROM cust),
           |st AS (
           |  SELECT 'a_v0' AS snapshot, count(*) AS n_all,
           |    count(seg) AS n_seg, count(bal) AS n_bal,
           |    min(k) AS min_k, max(k) AS max_k,
           |    sum(k) AS sum_k, sum(bal) AS sum_bal
           |  FROM cust
           |  UNION ALL
           |  SELECT 'b_head', count(*), count(seg), count(bal),
           |    min(k), max(k), sum(k), sum(bal)
           |  FROM head)
           |SELECT snapshot, CAST(n_all AS BIGINT) AS n_all,
           |  CAST(n_seg AS BIGINT) AS n_seg, CAST(n_bal AS BIGINT) AS n_bal,
           |  CAST(min_k AS BIGINT) AS min_k, CAST(max_k AS BIGINT) AS max_k,
           |  CAST(sum_k AS BIGINT) AS sum_k, CAST(sum_bal AS BIGINT) AS sum_bal
           |FROM st ORDER BY snapshot""".stripMargin))

  /** `months(ts)` → `years(ts)` DOUBLE partition evolution (the
    * round-11 transforms, q285's days() sibling): era 1 unpartitioned,
    * era 2 month-partitioned, era 3 year-partitioned — each read
    * resolves the transform that was ACTIVE at its version, old files
    * are never skipped, and every output is the exact logical filter
    * replayed relationally (month number = year·12 + month − 1, both
    * engines UTC). */
  val q291MonthsYearsEvolution = GraftQuery(
    "q291_months_years_evolution",
    (s, dir) => {
      import graft.sources.{MonthsPartition, YearsPartition}
      val base = newTempDir("graft_months")
      val root = base + "/ev"
      val ev = Tables.events(s, dir).select(
        col("event_id").cast("long").as("k"), col("ts"),
        col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
      GraftTable.create(s, root, ev.filter(col("event_type") === "click"),
        "k", nBuckets = 4)                                        // v0
      GraftTable.setPartitioning(s, root, MonthsPartition("ts"))  // v1
      GraftTable.upsert(s, root,
        ev.filter(col("event_type") === "purchase"), "k", nBuckets = 8) // v2
      GraftTable.setPartitioning(s, root, YearsPartition("ts"))   // v3
      GraftTable.upsert(s, root,
        ev.filter(col("event_type") === "view"), "k", nBuckets = 8)     // v4
      val m0 = ev.agg(min(year(col("ts")) * 12 + month(col("ts")) - 1)
        .cast("long")).collect()(0).getLong(0)
      val y0 = ev.agg(min(year(col("ts"))).cast("long"))
        .collect()(0).getLong(0)
      def sum1(label: String, df: org.apache.spark.sql.DataFrame) =
        df.groupBy(lit(label).as("snapshot"))
          .agg(count(lit(1)).as("n_rows"),
            sum("cents").as("cents_sum"),
            sum(conv(substring(md5(concat_ws("|", col("k").cast("string"),
              col("event_type"), col("cents").cast("string"))), 1, 8),
              16, 10).cast("long")).as("row_sum"))
      sum1("a_v0_clicks", GraftTable.read(s, root, Some(0)))
        .unionAll(sum1("b_v2_month0",
          GraftTable.readPartitionRange(s, root, m0, m0, Some(2))))
        .unionAll(sum1("c_head_year0",
          GraftTable.readPartitionRange(s, root, y0, y0)))
        .unionAll(sum1("d_head_full", GraftTable.read(s, root)))
        .orderBy("snapshot")
    },
    Some("""WITH ev AS (
           |  SELECT CAST(event_id AS BIGINT) AS k, ts, event_type,
           |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
           |    CAST(year(ts) * 12 + month(ts) - 1 AS BIGINT) AS mth,
           |    CAST(year(ts) AS BIGINT) AS yr
           |  FROM events),
           |m0 AS (SELECT min(mth) AS m0 FROM ev),
           |y0 AS (SELECT min(yr) AS y0 FROM ev),
           |v2 AS (SELECT * FROM ev WHERE event_type IN ('click','purchase')),
           |head AS (SELECT * FROM ev
           |  WHERE event_type IN ('click','purchase','view')),
           |st AS (
           |  SELECT 'a_v0_clicks' AS snapshot, count(*) AS n,
           |    CAST(sum(cents) AS BIGINT) AS cs,
           |    CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
           |      event_type || '|' || CAST(cents AS VARCHAR)), 1, 8))::BIGINT)
           |      AS BIGINT) AS rs
           |  FROM ev WHERE event_type = 'click'
           |  UNION ALL
           |  SELECT 'b_v2_month0', count(*), CAST(sum(cents) AS BIGINT),
           |    CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
           |      event_type || '|' || CAST(cents AS VARCHAR)), 1, 8))::BIGINT)
           |      AS BIGINT)
           |  FROM v2, m0 WHERE mth = m0
           |  UNION ALL
           |  SELECT 'c_head_year0', count(*), CAST(sum(cents) AS BIGINT),
           |    CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
           |      event_type || '|' || CAST(cents AS VARCHAR)), 1, 8))::BIGINT)
           |      AS BIGINT)
           |  FROM head, y0 WHERE yr = y0
           |  UNION ALL
           |  SELECT 'd_head_full', count(*), CAST(sum(cents) AS BIGINT),
           |    CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
           |      event_type || '|' || CAST(cents AS VARCHAR)), 1, 8))::BIGINT)
           |      AS BIGINT)
           |  FROM head)
           |SELECT snapshot, CAST(n AS BIGINT) AS n_rows, cs AS cents_sum,
           |  rs AS row_sum
           |FROM st ORDER BY snapshot""".stripMargin))

  /** `truncate(w)` partition transform — range pruning for integral
    * amount columns (Iceberg's truncate, floor-division semantics):
    * orders land under truncate(1000000, cents), a one-band read opens
    * one band's files, and the band picked is itself derived from the
    * data (the min-cents band) so the oracle replays it exactly. */
  val q292TruncatePartition = GraftQuery(
    "q292_truncate_partition",
    (s, dir) => {
      import graft.sources.TruncatePartition
      val base = newTempDir("graft_trunc")
      val root = base + "/ord"
      val w = 1000000L
      val ord = Tables.orders(s, dir).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      GraftTable.create(s, root, ord.filter(col("status") === "F"),
        "k", nBuckets = 4)                                            // v0
      GraftTable.setPartitioning(s, root, TruncatePartition(w, "cents")) // v1
      GraftTable.upsert(s, root, ord.filter(col("status") =!= "F"),
        "k", nBuckets = 8)                                            // v2
      val band = ord.agg((floor(min(col("cents")) / w) * w).cast("long"))
        .collect()(0).getLong(0)
      def sum1(label: String, df: org.apache.spark.sql.DataFrame) =
        df.groupBy(lit(label).as("snapshot"))
          .agg(count(lit(1)).as("n_rows"),
            sum("cents").as("cents_sum"),
            sum(conv(substring(md5(concat_ws("|", col("k").cast("string"),
              col("status"), col("cents").cast("string"))), 1, 8),
              16, 10).cast("long")).as("row_sum"))
      sum1("a_v0_f_only", GraftTable.read(s, root, Some(0)))
        .unionAll(sum1("b_head_band0",
          GraftTable.readPartitionRange(s, root, band, band)))
        .unionAll(sum1("c_head_full", GraftTable.read(s, root)))
        .orderBy("snapshot")
    },
    Some("""WITH ord AS (
           |  SELECT CAST(o_orderkey AS BIGINT) AS k,
           |    o_orderstatus AS status,
           |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
           |  FROM orders),
           |b0 AS (SELECT CAST(floor(min(cents) / 1000000) * 1000000
           |  AS BIGINT) AS band FROM ord),
           |st AS (
           |  SELECT 'a_v0_f_only' AS snapshot, count(*) AS n,
           |    CAST(sum(cents) AS BIGINT) AS cs,
           |    CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
           |      status || '|' || CAST(cents AS VARCHAR)), 1, 8))::BIGINT)
           |      AS BIGINT) AS rs
           |  FROM ord WHERE status = 'F'
           |  UNION ALL
           |  SELECT 'b_head_band0', count(*), CAST(sum(cents) AS BIGINT),
           |    CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
           |      status || '|' || CAST(cents AS VARCHAR)), 1, 8))::BIGINT)
           |      AS BIGINT)
           |  FROM ord, b0
           |  WHERE CAST(floor(cents / 1000000) * 1000000 AS BIGINT) = band
           |  UNION ALL
           |  SELECT 'c_head_full', count(*), CAST(sum(cents) AS BIGINT),
           |    CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
           |      status || '|' || CAST(cents AS VARCHAR)), 1, 8))::BIGINT)
           |      AS BIGINT)
           |  FROM ord)
           |SELECT snapshot, CAST(n AS BIGINT) AS n_rows, cs AS cents_sum,
           |  rs AS row_sum
           |FROM st ORDER BY snapshot""".stripMargin))

  /** Iceberg-style METADATA TABLES through SQL
    * ([[graft.sources.GraftMetaTable]]): `t\$files` / `t\$history` /
    * `t\$tags` (and the dotted `t.files` form) serve the manifest log
    * as queryable tables via a DSv2 LocalScan — driver metadata only,
    * no executor stage, no data I/O (GraftSqlSpec proves it by
    * deleting a data file under a metadata query). Wall-clock commit
    * instants and physical file names are HANDLES, so the gate
    * checksums only the deterministic content: per-version row
    * totals, file-ledger row conservation across VERSION AS OF, and
    * the tag mapping — each replayed relationally. */
  val q293MetadataTables = GraftQuery(
    "q293_metadata_tables",
    (s, dir) => {
      val base = newTempDir("graft_meta_tables")
      val root = base + "/n"
      val cat = "graft_mt_" + java.util.UUID.randomUUID().toString.take(8)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", base)
      val v0 = Tables.nation(s, dir).select(
        col("n_nationkey").cast("long").as("k"), col("n_name").as("name"),
        lit(0L).as("bal"))
      GraftTable.create(s, root, v0, "k", nBuckets = 2)
      GraftTable.upsert(s, root,
        Tables.customer(s, dir)
          .filter(col("c_custkey") % 100 === 0)
          .select((col("c_custkey").cast("long") + 1000L).as("k"),
            col("c_name").as("name"),
            floor(col("c_acctbal") * 100 + lit(0.5)).cast("long").as("bal")),
        "k")
      GraftTable.tag(s, root, "gold", 0)
      s.sql(s"""SELECT 'history_rows' AS metric,
           |  CAST(version AS STRING) AS ref, n_rows AS value
           |FROM $cat.`n$$history`""".stripMargin)
        .unionAll(s.sql(
          s"""SELECT 'files_rows_head' AS metric, 'head' AS ref,
             |  CAST(sum(n_rows) AS BIGINT) AS value
             |FROM $cat.n.files""".stripMargin))
        .unionAll(s.sql(
          s"""SELECT 'files_rows_v0' AS metric, 'v0' AS ref,
             |  CAST(sum(n_rows) AS BIGINT) AS value
             |FROM $cat.`n$$files` VERSION AS OF 0""".stripMargin))
        .unionAll(s.sql(
          s"""SELECT 'tag' AS metric, tag AS ref, version AS value
             |FROM $cat.`n$$tags`""".stripMargin))
        .orderBy("metric", "ref")
    },
    Some("""WITH v0 AS (
           |  SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
           |ins AS (
           |  SELECT CAST(c_custkey + 1000 AS BIGINT) AS k FROM customer
           |  WHERE c_custkey % 100 = 0),
           |v1 AS (SELECT k FROM v0 UNION SELECT k FROM ins),
           |st AS (
           |  SELECT 'history_rows' AS metric, '0' AS ref,
           |    (SELECT count(*) FROM v0) AS value
           |  UNION ALL
           |  SELECT 'history_rows', '1', (SELECT count(*) FROM v1)
           |  UNION ALL
           |  SELECT 'files_rows_head', 'head', (SELECT count(*) FROM v1)
           |  UNION ALL
           |  SELECT 'files_rows_v0', 'v0', (SELECT count(*) FROM v0)
           |  UNION ALL
           |  SELECT 'tag', 'gold', 0)
           |SELECT metric, ref, CAST(value AS BIGINT) AS value
           |FROM st ORDER BY metric, ref""".stripMargin))

  /** SQL MAINTENANCE statements ([[graft.sources
    * .GraftMaintenanceParser]], the injected-parser seam): `OPTIMIZE`
    * bin-packs small files (q221's executed compaction through SQL
    * text), `OPTIMIZE … ZORDER BY` lays out along the curve, `VACUUM
    * … RETAIN n VERSIONS` sweeps expired files — all logical no-ops,
    * which is exactly what the gate pins: identical content checksums
    * at every stage (replayed relationally), with version arithmetic
    * proving each statement really committed. File-count deltas are
    * physical (not oracle-replayable) and are pinned in
    * GraftSqlSpec instead. */
  val q295SqlMaintenance = GraftQuery(
    "q295_sql_maintenance",
    (s, dir) => {
      val base = newTempDir("graft_sql_maint")
      val root = base + "/t"
      val cat = "graft_mx_" + java.util.UUID.randomUUID().toString.take(8)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", base)
      val cust = Tables.customer(s, dir).select(
        col("c_custkey").cast("long").as("k"),
        col("c_mktsegment").as("seg"),
        floor(col("c_acctbal") * 100 + lit(0.5)).cast("long").as("cents"))
      // several small commits → a compactable file layout
      GraftTable.create(s, root, cust.filter(col("k") % 3 === 0), "k",
        nBuckets = 4)
      GraftTable.upsert(s, root, cust.filter(col("k") % 3 === 1), "k",
        nBuckets = 2)
      GraftTable.upsert(s, root, cust.filter(col("k") % 3 === 2), "k",
        nBuckets = 2)
      def sum1(label: String) = s.sql(
        s"""SELECT '$label' AS stage, count(*) AS n_rows,
           |  CAST(sum(cents) AS BIGINT) AS cents_sum,
           |  CAST(sum(CAST(conv(substring(md5(concat_ws('|',
           |    CAST(k AS STRING), seg, CAST(cents AS STRING))), 1, 8),
           |    16, 10) AS BIGINT)) AS BIGINT) AS row_sum
           |FROM $cat.t""".stripMargin)
      val before = sum1("a_before")
      val vOpt = s.sql(s"OPTIMIZE $cat.t TARGET 2000 ROWS")
        .collect()(0).getLong(0)
      val afterOpt = sum1("b_after_optimize")
      s.sql(s"VACUUM $cat.t RETAIN 1 VERSIONS").collect()
      val afterVac = sum1("c_after_vacuum")
      val vZ = s.sql(s"OPTIMIZE $cat.t TARGET 2000 ROWS ZORDER BY (k, cents)")
        .collect()(0).getLong(0)
      val afterZ = sum1("d_after_zorder")
        .withColumn("n_rows",
          // version arithmetic folded into a gated column: optimize at
          // v3, zorder at v4 — wrong version numbering corrupts the
          // row count and fails the hash. The versions are driver
          // scalars, so the gate is a plain scala comparison — a
          // lit(v) === 3L column would build a literal==literal
          // predicate and trip Spark's trivially-true warning.
          if (vOpt == 3L && vZ == 4L) col("n_rows") else lit(-1L))
      before.unionAll(afterOpt).unionAll(afterVac).unionAll(afterZ)
        .orderBy("stage")
    },
    Some("""WITH cust AS (
           |  SELECT CAST(c_custkey AS BIGINT) AS k,
           |    c_mktsegment AS seg,
           |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
           |  FROM customer),
           |one AS (
           |  SELECT count(*) AS n, CAST(sum(cents) AS BIGINT) AS cs,
           |    CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
           |      seg || '|' || CAST(cents AS VARCHAR)), 1, 8))::BIGINT)
           |      AS BIGINT) AS rs
           |  FROM cust)
           |SELECT stage, CAST(n AS BIGINT) AS n_rows, cs AS cents_sum,
           |  rs AS row_sum
           |FROM one, (VALUES ('a_before'), ('b_after_optimize'),
           |  ('c_after_vacuum'), ('d_after_zorder')) stages(stage)
           |ORDER BY stage""".stripMargin))

  /** Declared CHECK constraints ([[graft.sources.GraftTable
    * .addConstraint]]) — the write-side quality gate DECLARED ON THE
    * TABLE rather than per-call (auditedUpsert's one-shot checks,
    * promoted to standing metadata; the Delta CHECK contract):
    * declaration validates the full snapshot and refuses if existing
    * data violates; every later write enforces inside its existing
    * stats pass and a violating commit aborts with the head unchanged.
    * The gate encodes each refusal as a flag column and checksums the
    * content after every stage — unchanged-after-abort is the
    * property, replayed relationally. */
  val q296CheckConstraints = GraftQuery(
    "q296_check_constraints",
    (s, dir) => {
      import graft.sources.GraftTable.ConstraintViolationException
      val root = newTempDir("graft_check") + "/t"
      val cust = Tables.customer(s, dir).select(
        col("c_custkey").cast("long").as("k"),
        col("c_mktsegment").as("seg"),
        floor(col("c_acctbal") * 100 + lit(0.5)).cast("long").as("cents"))
      GraftTable.create(s, root, cust, "k", nBuckets = 4)
      // 1: a constraint existing data violates refuses to declare
      val declareRefused =
        try { GraftTable.addConstraint(s, root, "nonneg", "cents >= 0"); 0L }
        catch { case _: ConstraintViolationException => 1L }
      val declared = GraftTable.constraints(s, root).size.toLong
      // 2: a satisfiable constraint declares and blocks a bad write
      GraftTable.addConstraint(s, root, "floor", "cents >= -100000")
      val writeRefused =
        try {
          GraftTable.upsert(s, root,
            s.range(0, 3).select((col("id") + 900000L).as("k"),
              lit("bad").as("seg"), lit(-200000L).as("cents")), "k")
          0L
        } catch { case _: ConstraintViolationException => 1L }
      val vAfterBad = GraftTable.latestVersion(s, root).toLong
      // 3: a valid write commits through the standing constraint
      GraftTable.upsert(s, root,
        cust.filter(col("k") % 50 === 0)
          .select((col("k") + 500000L).as("k"), col("seg"),
            (col("cents") + abs(col("cents")) + lit(1L)).as("cents")), "k")
      val vAfterGood = GraftTable.latestVersion(s, root).toLong
      GraftTable.read(s, root)
        .groupBy(lit("final").as("stage"))
        .agg(count(lit(1)).as("n_rows"),
          sum("cents").as("cents_sum"),
          sum(conv(substring(md5(concat_ws("|", col("k").cast("string"),
            col("seg"), col("cents").cast("string"))), 1, 8),
            16, 10).cast("long")).as("row_sum"),
          lit(declareRefused).as("declare_refused"),
          lit(declared).as("n_after_refusal"),
          lit(writeRefused).as("write_refused"),
          lit(vAfterBad).as("v_after_bad"),
          lit(vAfterGood).as("v_after_good"))
    },
    Some("""WITH cust AS (
           |  SELECT CAST(c_custkey AS BIGINT) AS k, c_mktsegment AS seg,
           |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
           |  FROM customer),
           |ins AS (
           |  SELECT CAST(k + 500000 AS BIGINT) AS k, seg,
           |    CAST(cents + abs(cents) + 1 AS BIGINT) AS cents
           |  FROM cust WHERE k % 50 = 0),
           |fin AS (SELECT * FROM cust UNION ALL SELECT * FROM ins)
           |SELECT 'final' AS stage, count(*) AS n_rows,
           |  CAST(sum(cents) AS BIGINT) AS cents_sum,
           |  CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
           |    seg || '|' || CAST(cents AS VARCHAR)), 1, 8))::BIGINT)
           |    AS BIGINT) AS row_sum,
           |  CAST(1 AS BIGINT) AS declare_refused,
           |  CAST(0 AS BIGINT) AS n_after_refusal,
           |  CAST(1 AS BIGINT) AS write_refused,
           |  CAST(0 AS BIGINT) AS v_after_bad,
           |  CAST(1 AS BIGINT) AS v_after_good
           |FROM fin""".stripMargin))

  /** OPTIMIZE under concurrent MERGE ([[GraftTable.optimizeWithHook]]'s
    * test seam firing a real upsert between the compaction's staging
    * and its manifest publish): the Delta conflict-matrix contract,
    * proven relationally. The table is built as five one-file commits
    * over disjoint key blocks (deterministic layout), the compaction
    * groups the first four and CARRIES the fifth, and the interleaved
    * merge touches only fifth-file keys — disjoint from the
    * compaction's inputs — so the rebase arm fires: the compaction
    * re-publishes against the merge's head with zero data re-I/O.
    * The oracle replays the surviving content (merge applied, column-
    * wise NULL-keeps-name semantics) and pins the version arithmetic
    * (create + 4 loads + merge + rebased optimize = 7 versions) plus
    * the rebase's own return values (4 rewritten, 1 carried). The
    * overlapping-files arm (clean abort, never lost update) is pinned
    * deterministically in GraftTableSpec. */
  val q302OptimizeMergeConcurrency = GraftQuery(
    "q302_optimize_merge_concurrency",
    (s, dir) => {
      val root = newTempDir("graft_opt_conc") + "/tbl"
      val part = Tables.part(s, dir).select(
        col("p_partkey").cast("long").as("k"),
        col("p_name").as("name"),
        floor(col("p_retailprice") * 100 + lit(0.5)).cast("long").as("cents"))
      val mm = part.agg(min("k"), max("k"), count(lit(1))).collect()(0)
      val (lo, n) = (mm.getLong(0), mm.getLong(2))
      val block = n / 5 // p_partkey is dense and 5 | n at all SFs
      def blockDf(i: Long) = part.filter(
        col("k") >= lo + block * (i - 1) && col("k") < lo + block * i)
      GraftTable.create(s, root, blockDf(1), "k", nBuckets = 1)
      (2L to 5L).foreach(i =>
        GraftTable.upsert(s, root, blockDf(i), "k", nBuckets = 1))
      // the interleaved merge: top-10 keys (fifth file only); NULL name
      // keeps the target's value (column-wise merge), cents overwritten
      val merge = s.range(lo + n - 10, lo + n).select(col("id").as("k"),
        lit(null).cast("string").as("name"), lit(-1L).as("cents"))
      val (v, rewritten, carried) = GraftTable.optimizeWithHook(s, root,
        "k", targetRows = 2 * block,
        beforeCommit = () => {
          GraftTable.upsert(s, root, merge, "k", nBuckets = 1); () })
      GraftTable.read(s, root)
        .groupBy(lit("final").as("stage"))
        .agg(count(lit(1)).as("n_rows"),
          sum("cents").as("cents_sum"),
          sum(conv(substring(md5(concat_ws("|", col("k").cast("string"),
            col("name"), col("cents").cast("string"))), 1, 8), 16, 10)
            .cast("long")).as("row_sum"),
          lit((v + 1).toLong).as("n_versions"),
          lit(rewritten.toLong).as("n_rewritten"),
          lit(carried.toLong).as("n_carried"))
    },
    Some("""WITH t AS (
           |  SELECT CAST(p_partkey AS BIGINT) AS k, p_name AS name,
           |    CASE WHEN p_partkey > (SELECT max(p_partkey) - 10 FROM part)
           |      THEN CAST(-1 AS BIGINT)
           |      ELSE CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)
           |    END AS cents
           |  FROM part)
           |SELECT 'final' AS stage, count(*) AS n_rows,
           |  CAST(sum(cents) AS BIGINT) AS cents_sum,
           |  CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
           |    name || '|' || CAST(cents AS VARCHAR)), 1, 8))::BIGINT)
           |    AS BIGINT) AS row_sum,
           |  CAST(7 AS BIGINT) AS n_versions,
           |  CAST(4 AS BIGINT) AS n_rewritten,
           |  CAST(1 AS BIGINT) AS n_carried
           |FROM t""".stripMargin))

  /** RENAME COLUMN via name-mode COLUMN MAPPING
    * ([[GraftTable.renameColumn]], surfaced as SQL
    * `ALTER TABLE cat.t RENAME COLUMN a TO b`): a metadata-only commit
    * — the parquet files keep the column's frozen PHYSICAL name, so
    * renaming a 100 TB table touches zero data files and TIME TRAVEL
    * across the rename still resolves (the v0 read surfaces the OLD
    * logical name over the same bytes the head serves under the new
    * one). The gate reads three stages — v0 pre-rename, the head, and
    * a filtered SQL read THROUGH the DSv2 scan on the renamed column
    * (physical-schema translation under the hood) — and writes through
    * the new name after the rename; every stage hash-matches the
    * relational oracle. */
  val q303ColumnRename = GraftQuery(
    "q303_column_rename",
    (s, dir) => {
      val tmp = newTempDir("graft_col_rename")
      val root = tmp + "/t"
      val cat = "graft_cr_" + java.util.UUID.randomUUID().toString.take(8)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", tmp)
      val cust = Tables.customer(s, dir).select(
        col("c_custkey").cast("long").as("k"),
        col("c_name").as("name"),
        floor(col("c_acctbal") * 100 + lit(0.5)).cast("long").as("cents"))
      GraftTable.create(s, root, cust, "k", nBuckets = 4)
      s.sql(s"ALTER TABLE $cat.t RENAME COLUMN cents TO balance")
      // writes after the rename speak the NEW name (physical frozen)
      GraftTable.upsert(s, root, s.range(0, 100).select(col("id").as("k"),
        lit(null).cast("string").as("name"), lit(-1L).as("balance")), "k")
      def agg(stage: String, df: org.apache.spark.sql.DataFrame,
          valCol: String) =
        df.groupBy(lit(stage).as("stage"))
          .agg(count(lit(1)).as("n_rows"),
            sum(valCol).as("val_sum"),
            sum(conv(substring(md5(concat_ws("|", col("k").cast("string"),
              col("name"), col(valCol).cast("string"))), 1, 8), 16, 10)
              .cast("long")).as("row_sum"))
      val head = agg("a_head", GraftTable.read(s, root), "balance")
      val v0 = agg("b_v0_pre_rename",
        GraftTable.read(s, root, Some(0)), "cents")
      // the DSv2 SQL path: projection + filter on the RENAMED column
      val filtered = agg("c_head_filtered",
        s.sql(s"SELECT k, name, balance FROM $cat.t WHERE balance = -1"),
        "balance")
      head.unionAll(v0).unionAll(filtered).orderBy("stage")
    },
    Some("""WITH c AS (
           |  SELECT CAST(c_custkey AS BIGINT) AS k, c_name AS name,
           |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
           |  FROM customer),
           |head AS (
           |  SELECT k, name,
           |    CASE WHEN k < 100 THEN CAST(-1 AS BIGINT) ELSE cents END
           |      AS v
           |  FROM c),
           |v0 AS (SELECT k, name, cents AS v FROM c),
           |f AS (SELECT * FROM head WHERE v = -1),
           |stages AS (
           |  SELECT 'a_head' AS stage, * FROM head
           |  UNION ALL SELECT 'b_v0_pre_rename', * FROM v0
           |  UNION ALL SELECT 'c_head_filtered', * FROM f)
           |SELECT stage, count(*) AS n_rows,
           |  CAST(sum(v) AS BIGINT) AS val_sum,
           |  CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
           |    name || '|' || CAST(v AS VARCHAR)), 1, 8))::BIGINT)
           |    AS BIGINT) AS row_sum
           |FROM stages GROUP BY stage ORDER BY stage""".stripMargin))

  /** DROP COLUMN + re-ADD under column mapping
    * ([[GraftTable.dropColumn]]'s physical-name TOMBSTONES): dropping
    * is metadata-only (old files keep the bytes; reads at or after the
    * drop never see them; time travel below still does), and re-adding
    * the SAME logical name maps to a FRESH physical column — the gate's
    * teeth: without the tombstone, every pre-drop row would resurrect
    * its old segment value through the surviving parquet bytes, and
    * `n_filled` would be the row count instead of exactly the 50 rows
    * written after the re-add. Both ALTERs ride the SQL surface. */
  val q304ColumnDropReadd = GraftQuery(
    "q304_column_drop_readd",
    (s, dir) => {
      val tmp = newTempDir("graft_col_drop")
      val root = tmp + "/t"
      val cat = "graft_cd_" + java.util.UUID.randomUUID().toString.take(8)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", tmp)
      val cust = Tables.customer(s, dir).select(
        col("c_custkey").cast("long").as("k"),
        col("c_name").as("name"),
        col("c_mktsegment").as("seg"))
      GraftTable.create(s, root, cust, "k", nBuckets = 4)
      s.sql(s"ALTER TABLE $cat.t DROP COLUMN seg")
      s.sql(s"ALTER TABLE $cat.t ADD COLUMNS (seg STRING)")
      GraftTable.upsert(s, root, s.range(0, 50).select(col("id").as("k"),
        lit(null).cast("string").as("name"),
        lit("RESTORED").as("seg")), "k")
      def agg(stage: String, df: org.apache.spark.sql.DataFrame) =
        df.groupBy(lit(stage).as("stage"))
          .agg(count(lit(1)).as("n_rows"),
            count(col("seg")).as("n_filled"),
            sum(conv(substring(md5(concat_ws("|", col("k").cast("string"),
              col("name"), coalesce(col("seg"), lit("@NULL@")))), 1, 8),
              16, 10).cast("long")).as("row_sum"))
      agg("a_head", GraftTable.read(s, root))
        .unionAll(agg("b_v0_pre_drop", GraftTable.read(s, root, Some(0))))
        .orderBy("stage")
    },
    Some("""WITH c AS (
           |  SELECT CAST(c_custkey AS BIGINT) AS k, c_name AS name,
           |    c_mktsegment AS seg
           |  FROM customer),
           |head AS (
           |  SELECT k, name,
           |    CASE WHEN k < 50 THEN 'RESTORED' ELSE NULL END AS seg
           |  FROM c),
           |stages AS (
           |  SELECT 'a_head' AS stage, * FROM head
           |  UNION ALL SELECT 'b_v0_pre_drop', * FROM c)
           |SELECT stage, count(*) AS n_rows,
           |  count(seg) AS n_filled,
           |  CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
           |    name || '|' || coalesce(seg, '@NULL@')), 1, 8))::BIGINT)
           |    AS BIGINT) AS row_sum
           |FROM stages GROUP BY stage ORDER BY stage""".stripMargin))

  /** MULTI-TABLE ATOMIC PUBLISH ([[graft.sources.GraftTxn]]) — the
    * reference's all-or-nothing `CALL etl` orchestration
    * (MotherProcedure.sql:2-25: dims + fact land in one transaction)
    * re-expressed for a lakehouse where each table owns its commit
    * log. Transaction 1 stages BOTH tables' upserts and "crashes"
    * before the coordinator marker: the `after_crash` stages prove a
    * reader sees BOTH tables' original snapshots (never table A new +
    * table B old — staged manifests are invisible until the single
    * marker file exists). After [[GraftTxn.abort]] recovery,
    * transaction 2 publishes the same writes atomically; the `final`
    * stages replay relationally and the per-table version counts pin
    * that the crashed transaction never consumed a version. */
  val q305MultiTablePublish = GraftQuery(
    "q305_multi_table_publish",
    (s, dir) => {
      val tmp = newTempDir("graft_txn_gate")
      val dimRoot = tmp + "/dim"
      val factRoot = tmp + "/fact"
      val txnDir = tmp + "/txn"
      val dim = Tables.part(s, dir).select(
        col("p_partkey").cast("long").as("k"), col("p_name").as("name"))
      val fact = Tables.orders(s, dir).select(
        col("o_orderkey").cast("long").as("k"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      GraftTable.create(s, dimRoot, dim, "k", nBuckets = 4)
      GraftTable.create(s, factRoot, fact, "k", nBuckets = 4)
      val dimBatch = dim.filter(col("k") < 100)
        .withColumn("name", lit("TXNED"))
      val factBatch = fact.filter(col("k") < 100)
        .withColumn("cents", lit(-1L))
      def writes = Seq(
        graft.sources.GraftTxn.TableWrite(dimRoot, dimBatch, "k"),
        graft.sources.GraftTxn.TableWrite(factRoot, factBatch, "k"))
      // txn 1: staged on BOTH tables, coordinator dies before the marker
      val crashed = graft.sources.GraftTxn.stageAll(s, txnDir, writes)
      def snap(stage: String, tbl: String, root: String, valCol: String) =
        GraftTable.read(s, root)
          .groupBy(lit(stage).as("stage"), lit(tbl).as("tbl"))
          .agg(count(lit(1)).as("n_rows"),
            sum(conv(substring(md5(concat_ws("|", col("k").cast("string"),
              col(valCol).cast("string"))), 1, 8), 16, 10).cast("long"))
              .as("row_sum"),
            lit(GraftTable.latestVersion(s, root) + 1L).as("n_versions"))
      val afterCrash = snap("a_crash", "dim", dimRoot, "name")
        .unionAll(snap("a_crash", "fact", factRoot, "cents"))
      // recovery, then txn 2 publishes the same writes atomically
      graft.sources.GraftTxn.abort(s, txnDir, crashed,
        Seq(dimRoot, factRoot))
      graft.sources.GraftTxn.publishAll(s, txnDir, writes)
      val fin = snap("b_final", "dim", dimRoot, "name")
        .unionAll(snap("b_final", "fact", factRoot, "cents"))
      afterCrash.unionAll(fin).orderBy("stage", "tbl")
    },
    Some("""WITH dim0 AS (
           |  SELECT CAST(p_partkey AS BIGINT) AS k,
           |    p_name AS v FROM part),
           |fact0 AS (
           |  SELECT CAST(o_orderkey AS BIGINT) AS k,
           |    CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
           |      AS VARCHAR) AS v
           |  FROM orders),
           |dim1 AS (SELECT k,
           |    CASE WHEN k < 100 THEN 'TXNED' ELSE v END AS v FROM dim0),
           |fact1 AS (SELECT k,
           |    CASE WHEN k < 100 THEN '-1' ELSE v END AS v FROM fact0),
           |stages AS (
           |  SELECT 'a_crash' AS stage, 'dim' AS tbl, 1 AS nv, * FROM dim0
           |  UNION ALL SELECT 'a_crash', 'fact', 1, * FROM fact0
           |  UNION ALL SELECT 'b_final', 'dim', 2, * FROM dim1
           |  UNION ALL SELECT 'b_final', 'fact', 2, * FROM fact1)
           |SELECT stage, tbl, count(*) AS n_rows,
           |  CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' || v),
           |    1, 8))::BIGINT) AS BIGINT) AS row_sum,
           |  CAST(max(nv) AS BIGINT) AS n_versions
           |FROM stages GROUP BY stage, tbl ORDER BY stage, tbl""".stripMargin))

  /** SHALLOW CLONE ([[GraftTable.cloneTable]], Delta's zero-copy
    * fork): the clone's v0 manifest references the source snapshot's
    * immutable files by ABSOLUTE PATH — no data I/O at any table
    * size — and the tables then diverge independently (copy-on-write
    * keeps every shared file immutable). The `zero_copy` flag pins
    * that every v0 reference points into the source; the three stages
    * prove divergence: the source head carries ONLY its own
    * post-clone update, the clone head ONLY its own, and the clone's
    * v0 still serves the original snapshot byte-for-byte. */
  val q306ShallowClone = GraftQuery(
    "q306_shallow_clone",
    (s, dir) => {
      val tmp = newTempDir("graft_clone_gate")
      val src = tmp + "/src"
      val dst = tmp + "/dst"
      val cust = Tables.customer(s, dir).select(
        col("c_custkey").cast("long").as("k"),
        col("c_name").as("name"),
        floor(col("c_acctbal") * 100 + lit(0.5)).cast("long").as("cents"))
      GraftTable.create(s, src, cust, "k", nBuckets = 4)
      GraftTable.cloneTable(s, src, dst)
      val zeroCopy = GraftTable.snapshotFileLedger(s, dst, 0)
        .forall(_._1.startsWith(src + "/"))
      // diverge: disjoint updates on each side
      GraftTable.upsert(s, dst, s.range(0, 100).select(col("id").as("k"),
        lit(null).cast("string").as("name"), lit(-1L).as("cents")), "k")
      GraftTable.upsert(s, src, s.range(0, 50).select(col("id").as("k"),
        lit(null).cast("string").as("name"), lit(-2L).as("cents")), "k")
      def agg(stage: String, df: org.apache.spark.sql.DataFrame) =
        df.groupBy(lit(stage).as("stage"))
          .agg(count(lit(1)).as("n_rows"),
            sum("cents").as("cents_sum"),
            sum(conv(substring(md5(concat_ws("|", col("k").cast("string"),
              col("name"), col("cents").cast("string"))), 1, 8), 16, 10)
              .cast("long")).as("row_sum"),
            lit(zeroCopy).as("zero_copy"))
      agg("a_src_head", GraftTable.read(s, src))
        .unionAll(agg("b_clone_head", GraftTable.read(s, dst)))
        .unionAll(agg("c_clone_v0", GraftTable.read(s, dst, Some(0))))
        .orderBy("stage")
    },
    Some("""WITH c AS (
           |  SELECT CAST(c_custkey AS BIGINT) AS k, c_name AS name,
           |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
           |  FROM customer),
           |src AS (SELECT k, name,
           |    CASE WHEN k < 50 THEN CAST(-2 AS BIGINT) ELSE cents END AS v
           |  FROM c),
           |dst AS (SELECT k, name,
           |    CASE WHEN k < 100 THEN CAST(-1 AS BIGINT) ELSE cents END AS v
           |  FROM c),
           |stages AS (
           |  SELECT 'a_src_head' AS stage, * FROM src
           |  UNION ALL SELECT 'b_clone_head', * FROM dst
           |  UNION ALL SELECT 'c_clone_v0', k, name, cents FROM c)
           |SELECT stage, count(*) AS n_rows,
           |  CAST(sum(v) AS BIGINT) AS cents_sum,
           |  CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
           |    name || '|' || CAST(v AS VARCHAR)), 1, 8))::BIGINT)
           |    AS BIGINT) AS row_sum,
           |  true AS zero_copy
           |FROM stages GROUP BY stage ORDER BY stage""".stripMargin))

  /** ATOMIC CTAS through the staging catalog
    * ([[graft.sources.GraftCatalog.stageCreate]]): `CREATE TABLE …
    * AS SELECT` lands the query result as the table's SINGLE
    * version-0 commit — no empty-create + append pair, no window
    * where a reader sees an empty table — and composes with the rest
    * of the SQL surface (the gate reads back through the catalog,
    * updates through keyed INSERT, and time-travels to the CTAS
    * commit). `n_versions = 2` after the post-CTAS insert is the
    * atomicity arithmetic: CTAS consumed exactly one version. */
  val q308SqlCtas = GraftQuery(
    "q308_sql_ctas",
    (s, dir) => {
      val tmp = newTempDir("graft_ctas")
      val cat = "graft_ct_" + java.util.UUID.randomUUID().toString.take(8)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", tmp)
      Tables.supplier(s, dir).createOrReplaceTempView("ctas_src")
      s.sql(s"""CREATE TABLE $cat.s TBLPROPERTIES('key'='k') AS
               |SELECT CAST(s_suppkey AS BIGINT) AS k, s_name AS name,
               |  CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT) AS cents
               |FROM ctas_src""".stripMargin)
      val root = tmp + "/s"
      s.sql(s"INSERT INTO $cat.s VALUES " +
        "(CAST(-1 AS BIGINT), 'extra', CAST(-1 AS BIGINT))")
      val latest = GraftTable.latestVersion(s, root).toLong
      def agg(stage: String, df: org.apache.spark.sql.DataFrame) =
        df.groupBy(lit(stage).as("stage"))
          .agg(count(lit(1)).as("n_rows"),
            sum("cents").as("cents_sum"),
            sum(conv(substring(md5(concat_ws("|", col("k").cast("string"),
              col("name"), col("cents").cast("string"))), 1, 8), 16, 10)
              .cast("long")).as("row_sum"),
            lit(latest + 1).as("n_versions"))
      agg("a_head", s.sql(s"SELECT * FROM $cat.s"))
        .unionAll(agg("b_ctas_v0",
          s.sql(s"SELECT * FROM $cat.s VERSION AS OF 0")))
        .orderBy("stage")
    },
    Some("""WITH v0 AS (
           |  SELECT CAST(s_suppkey AS BIGINT) AS k, s_name AS name,
           |    CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT) AS cents
           |  FROM supplier),
           |head AS (
           |  SELECT * FROM v0
           |  UNION ALL SELECT -1, 'extra', -1),
           |stages AS (
           |  SELECT 'a_head' AS stage, * FROM head
           |  UNION ALL SELECT 'b_ctas_v0', * FROM v0)
           |SELECT stage, count(*) AS n_rows,
           |  CAST(sum(cents) AS BIGINT) AS cents_sum,
           |  CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
           |    name || '|' || CAST(cents AS VARCHAR)), 1, 8))::BIGINT)
           |    AS BIGINT) AS row_sum,
           |  CAST(2 AS BIGINT) AS n_versions
           |FROM stages GROUP BY stage ORDER BY stage""".stripMargin))

  /** DELETION VECTORS ([[GraftTable.deleteWhereDv]] — merge-on-read
    * DML, the Delta-DV/Iceberg-position-delete shape): two narrow
    * row-level DELETEs commit POSITION SIDECARS with ZERO data files
    * rewritten — the `ok` flag on stage `a` pins the manifest proof
    * (the post-delete version references exactly the create version's
    * data files) — while every read surface masks: stage `a` reads
    * the DV'd head through the DSv2 `format("graft")` scan (the
    * row-index masked path), `b` time-travels below the deletes, `c`
    * replays the CDF (DV deletes surface as ordinary `delete` rows),
    * and `d` reads back after OPTIMIZE absorbed the DVs into clean
    * files (content identical, head DV-free). At 100 TB this is THE
    * row-level-DML cost model: a k-row erasure writes O(k) positions,
    * not O(touched-file bytes) — CoW's write amplification removed. */
  val q311DeletionVectors = GraftQuery(
    "q311_deletion_vectors",
    (s, dir) => {
      val root = newTempDir("graft_dv_gate") + "/t"
      val part = Tables.part(s, dir).select(
        col("p_partkey").cast("long").as("k"),
        col("p_name").as("name"),
        floor(col("p_retailprice") * 100 + lit(0.5)).cast("long").as("cents"))
      GraftTable.create(s, root, part, "k", nBuckets = 4)
      val files0 = GraftTable.snapshotFileLedger(s, root, 0)
        .map(_._1).toSet
      GraftTable.deleteWhereDv(s, root, col("k") % 37 === 0)
      val (v2, _, _) = GraftTable.deleteWhereDv(s, root, col("k") % 41 === 0)
      val files2 = GraftTable.snapshotFileLedger(s, root, v2)
        .map(_._1).toSet
      val zeroRewrites = files2 == files0 &&
        GraftTable.hasDeletionVectors(s, root, v2) &&
        !GraftTable.hasDeletionVectors(s, root, 0)
      val feed = GraftTable.changes(s, root, 0, v2, "k")
      val feedClean = feed.filter(col("_change") =!= "delete").isEmpty
      val (v3, _, _) = GraftTable.optimize(s, root, "k", targetRows = 4000)
      val absorbed = !GraftTable.hasDeletionVectors(s, root, v3)
      def agg(stage: String, df: org.apache.spark.sql.DataFrame,
          ok: Boolean) =
        df.groupBy(lit(stage).as("stage"))
          .agg(count(lit(1)).as("n_rows"),
            sum("cents").as("cents_sum"),
            sum(conv(substring(md5(concat_ws("|", col("k").cast("string"),
              col("name"), col("cents").cast("string"))), 1, 8), 16, 10)
              .cast("long")).as("row_sum"),
            lit(ok).as("ok"))
      agg("a_dv_head", s.read.format("graft")
          .option("versionAsOf", v2).load(root), zeroRewrites)
        .unionAll(agg("b_time_travel",
          GraftTable.read(s, root, Some(0)), true))
        .unionAll(agg("c_cdf_deletes",
          feed.select("k", "name", "cents"), feedClean))
        .unionAll(agg("d_absorbed",
          GraftTable.read(s, root, Some(v3)), absorbed))
        .orderBy("stage")
    },
    Some("""WITH p AS (
           |  SELECT CAST(p_partkey AS BIGINT) AS k, p_name AS name,
           |    CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS cents
           |  FROM part),
           |live AS (
           |  SELECT * FROM p WHERE NOT (k % 37 = 0 OR k % 41 = 0)),
           |dels AS (
           |  SELECT * FROM p WHERE k % 37 = 0 OR k % 41 = 0),
           |stages AS (
           |  SELECT 'a_dv_head' AS stage, * FROM live
           |  UNION ALL SELECT 'b_time_travel', * FROM p
           |  UNION ALL SELECT 'c_cdf_deletes', * FROM dels
           |  UNION ALL SELECT 'd_absorbed', * FROM live)
           |SELECT stage, count(*) AS n_rows,
           |  CAST(sum(cents) AS BIGINT) AS cents_sum,
           |  CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
           |    name || '|' || CAST(cents AS VARCHAR)), 1, 8))::BIGINT)
           |    AS BIGINT) AS row_sum,
           |  true AS ok
           |FROM stages GROUP BY stage ORDER BY stage""".stripMargin))

  /** DELETION VECTORS THROUGH PURE SQL DML (round 14 — the surface
    * users actually hit): `DELETE FROM` and `MERGE INTO` route through
    * the `graft.dml.mode = auto` policy (dirty-ratio routed
    * merge-on-read), so a narrow SQL delete commits position sidecars
    * with the manifest's data-file set UNCHANGED, and a MERGE's
    * matched-delete/matched-update retire old positions via DVs while
    * postimages and inserts land in ONE fresh file — zero existing
    * files rewritten, proved by manifest file-set algebra (`ok`).
    * Stage `a` reads the head back through SQL, `b` time-travels to
    * the pre-DML snapshot, `c` reads the post-DELETE version, `d`
    * reads after OPTIMIZE absorbed every DV (head DV-free, content
    * identical). Right-to-erasure tables opt OUT with
    * `graft.dml.mode = cow` (q249 stays physical removal — a DV would
    * leave erased bytes readable in the data file). */
  val q314SqlDvDml = GraftQuery(
    "q314_sql_dv_dml",
    (s, dir) => {
      val base = newTempDir("graft_sql_dv_dml")
      val root = base + "/t"
      val cat = "graft_dv_" + java.util.UUID.randomUUID().toString.take(8)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", base)
      Tables.part(s, dir).select(
        col("p_partkey").cast("long").as("k"),
        col("p_name").as("name"),
        floor(col("p_retailprice") * 100 + lit(0.5)).cast("long").as("cents"))
        .createOrReplaceTempView("dvdml_src")
      s.sql(s"CREATE TABLE $cat.t (k BIGINT, name STRING, cents BIGINT) " +
        "TBLPROPERTIES ('key' = 'k', 'buckets' = '4')")
      s.sql(s"INSERT INTO $cat.t SELECT k, name, cents FROM dvdml_src") // v1
      val files1 = GraftTable.snapshotFileLedger(s, root, 1).map(_._1).toSet
      // narrow SQL DELETE → pure merge-on-read: data-file set unchanged
      s.sql(s"DELETE FROM $cat.t WHERE name LIKE '%red%'") // v2
      val files2 = GraftTable.snapshotFileLedger(s, root, 2).map(_._1).toSet
      val deleteZeroRewrites = files2 == files1 &&
        GraftTable.hasDeletionVectors(s, root, 2)
      // SQL MERGE: matched-delete + matched-update retire old positions
      // via DVs; the guarded insert lands in one fresh file
      s.sql(
        s"""SELECT k AS sk,
           |  CASE WHEN k % 97 = 0 THEN 'del' ELSE 'upd' END AS act,
           |  -k AS new_cents
           |FROM dvdml_src WHERE k % 97 = 0 OR k % 89 = 0
           |UNION ALL
           |SELECT k + 1000000, 'ins', k FROM dvdml_src WHERE k % 101 = 0
           |""".stripMargin).createOrReplaceTempView("dvdml_merge_src")
      s.sql(
        s"""MERGE INTO $cat.t a USING dvdml_merge_src s ON a.k = s.sk
           |WHEN MATCHED AND s.act = 'del' THEN DELETE
           |WHEN MATCHED AND s.act = 'upd' THEN UPDATE SET cents = s.new_cents
           |WHEN NOT MATCHED AND s.act = 'ins' THEN
           |  INSERT (k, name, cents) VALUES (s.sk, 'inserted', s.new_cents)
           |""".stripMargin) // v3
      val files3 = GraftTable.snapshotFileLedger(s, root, 3).map(_._1).toSet
      val mergeZeroRewrites = files2.subsetOf(files3) &&
        GraftTable.hasDeletionVectors(s, root, 3)
      val (v4, _, _) = GraftTable.optimize(s, root, "k", targetRows = 8000)
      val absorbed = !GraftTable.hasDeletionVectors(s, root, v4)
      def agg(stage: String, df: org.apache.spark.sql.DataFrame,
          ok: Boolean) =
        df.groupBy(lit(stage).as("stage"))
          .agg(count(lit(1)).as("n_rows"),
            sum("cents").as("cents_sum"),
            sum(conv(substring(md5(concat_ws("|", col("k").cast("string"),
              col("name"), col("cents").cast("string"))), 1, 8), 16, 10)
              .cast("long")).as("row_sum"),
            lit(ok).as("ok"))
      agg("a_sql_head", s.sql(s"SELECT k, name, cents FROM $cat.t"),
          mergeZeroRewrites)
        .unionAll(agg("b_time_travel",
          s.sql(s"SELECT k, name, cents FROM $cat.t VERSION AS OF 1"), true))
        .unionAll(agg("c_post_delete",
          s.sql(s"SELECT k, name, cents FROM $cat.t VERSION AS OF 2"),
          deleteZeroRewrites))
        .unionAll(agg("d_absorbed",
          GraftTable.read(s, root, Some(v4)), absorbed))
        .orderBy("stage")
    },
    Some("""WITH p AS (
           |  SELECT CAST(p_partkey AS BIGINT) AS k, p_name AS name,
           |    CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS cents
           |  FROM part),
           |v2 AS (SELECT * FROM p WHERE name NOT LIKE '%red%'),
           |src AS (
           |  SELECT k AS sk,
           |    CASE WHEN k % 97 = 0 THEN 'del' ELSE 'upd' END AS act,
           |    -k AS new_cents
           |  FROM p WHERE k % 97 = 0 OR k % 89 = 0
           |  UNION ALL
           |  SELECT k + 1000000, 'ins', k FROM p WHERE k % 101 = 0),
           |v3 AS (
           |  SELECT t.k, t.name,
           |    CASE WHEN s.sk IS NOT NULL AND s.act = 'upd'
           |      THEN s.new_cents ELSE t.cents END AS cents
           |  FROM v2 t LEFT JOIN src s ON t.k = s.sk
           |  WHERE s.sk IS NULL OR s.act <> 'del'
           |  UNION ALL
           |  SELECT s.sk, 'inserted', s.new_cents
           |  FROM src s LEFT JOIN v2 t ON t.k = s.sk
           |  WHERE t.k IS NULL AND s.act = 'ins'),
           |stages AS (
           |  SELECT 'a_sql_head' AS stage, * FROM v3
           |  UNION ALL SELECT 'b_time_travel', * FROM p
           |  UNION ALL SELECT 'c_post_delete', * FROM v2
           |  UNION ALL SELECT 'd_absorbed', * FROM v3)
           |SELECT stage, count(*) AS n_rows,
           |  CAST(sum(cents) AS BIGINT) AS cents_sum,
           |  CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
           |    name || '|' || CAST(cents AS VARCHAR)), 1, 8))::BIGINT)
           |    AS BIGINT) AS row_sum,
           |  true AS ok
           |FROM stages GROUP BY stage ORDER BY stage""".stripMargin))

  /** NDV COLUMN STATISTICS FEEDING THE CBO (round 14): every write
    * ledgers per-file KMV digests (k = 128 minimum xxhash64 values per
    * column — O(k) write-side memory, ~2 KB/col/file of metadata);
    * [[GraftTable.estimateDistinct]] merges them into a snapshot
    * distinct-count in one `_log` pass, and the DSv2 scan surfaces
    * them as column statistics. With CBO on, the planner then sizes a
    * GROUP BY at its output's TRUE cardinality: the gate's aggregate
    * over `brand` (25 distinct among thousands of rows) is estimated
    * at 25 rows and the join above it plans a BROADCAST — the `ok`
    * flag pins `BroadcastHashJoin` in the static plan (AQE off for the
    * check; at 1000 executors this static decision is the difference
    * between shipping 25 rows and shuffling the table). `ok` also pins
    * estimator accuracy: EXACT below k (brand), within KMV error above
    * it (the key column). The SMJ↔BHJ flip on NDV evidence is pinned
    * with controlled sizes in GraftSqlSpec. */
  val q315NdvCbo = GraftQuery(
    "q315_ndv_cbo",
    (s, dir) => {
      val base = newTempDir("graft_ndv_cbo")
      val root = base + "/p"
      val cat = "graft_ndv_" + java.util.UUID.randomUUID().toString.take(8)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", base)
      val part = Tables.part(s, dir).select(
        col("p_partkey").cast("long").as("k"),
        col("p_brand").as("brand"),
        floor(col("p_retailprice") * 100 + lit(0.5)).cast("long").as("cents"))
      GraftTable.create(s, root, part, "k", nBuckets = 4)
      // estimator accuracy against exact distincts
      val exactBrand = part.select("brand").distinct().count()
      val exactK = part.select("k").distinct().count()
      val estBrand = GraftTable.estimateDistinct(s, root, 0, "brand")
      val estK = GraftTable.estimateDistinct(s, root, 0, "k")
      val ndvOk = estBrand.contains(exactBrand) && // < k ⇒ EXACT
        estK.exists(e => math.abs(e - exactK).toDouble / exactK <= 0.30)
      // plan shape under CBO: the 25-row aggregate broadcasts
      def runPinned(): (Seq[org.apache.spark.sql.Row], Boolean) = {
        val cboOld = s.conf.getOption("spark.sql.cbo.enabled")
        val aqeOld = s.conf.getOption("spark.sql.adaptive.enabled")
        val thrOld = s.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
        try {
          s.conf.set("spark.sql.cbo.enabled", "true")
          s.conf.set("spark.sql.adaptive.enabled", "false")
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", "4096")
          val df = s.sql(
            s"""SELECT t.brand, count(*) AS n_rows,
               |  CAST(sum(t.cents) AS BIGINT) AS cents_sum, max(b.n_brand)
               |  AS n_brand
               |FROM $cat.p t
               |JOIN (SELECT brand, count(*) AS n_brand FROM $cat.p
               |      GROUP BY brand) b
               |  ON t.brand = b.brand
               |GROUP BY t.brand""".stripMargin)
          (df.collect().toSeq,
            df.queryExecution.executedPlan.toString
              .contains("BroadcastHashJoin"))
        } finally {
          def restore(k: String, v: Option[String]): Unit =
            v.fold(s.conf.unset(k))(s.conf.set(k, _))
          restore("spark.sql.cbo.enabled", cboOld)
          restore("spark.sql.adaptive.enabled", aqeOld)
          restore("spark.sql.autoBroadcastJoinThreshold", thrOld)
        }
      }
      val (_, planOk) = runPinned()
      // the capability must SURVIVE the default merge-on-read DML
      // mode: a DV'd MERGE/DELETE no longer blacks out the digests —
      // estimateDistinct serves an UPPER BOUND from the physical
      // digests, and the BHJ stays pinned on the DV'd snapshot
      GraftTable.deleteWhereDv(s, root, col("k") < lit(5))
      val estBrandDv = GraftTable.estimateDistinct(s, root, 1, "brand")
      val dvServes = estBrandDv.contains(exactBrand) // 25 < k ⇒ still exact
      val (rows, planOkDv) = runPinned() // rows now from the DV'd snapshot
      import scala.jdk.CollectionConverters._
      s.createDataFrame(rows.asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("brand",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n_rows",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("cents_sum",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("n_brand",
            org.apache.spark.sql.types.LongType))))
        .withColumn("ok", lit(ndvOk && planOk && dvServes && planOkDv))
        .orderBy("brand")
    },
    Some("""WITH p AS (
           |  SELECT CAST(p_partkey AS BIGINT) AS k, p_brand AS brand,
           |    CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS cents
           |  FROM part),
           |live AS (SELECT * FROM p WHERE k >= 5),
           |b AS (SELECT brand, count(*) AS n_brand FROM live
           |      GROUP BY brand)
           |SELECT live.brand, count(*) AS n_rows,
           |  CAST(sum(live.cents) AS BIGINT) AS cents_sum,
           |  max(b.n_brand) AS n_brand, true AS ok
           |FROM live JOIN b ON live.brand = b.brand
           |GROUP BY live.brand ORDER BY live.brand""".stripMargin))

  /** WRITABLE BRANCHES + FAST-FORWARD PUBLISH (round 14): the
    * generalization of tags (q272, immutable refs) and WAP (q242, one
    * staged commit) into the Iceberg branch-audit-publish workflow —
    * TWO keyed-MERGE commits land on branch `wip`'s own manifest
    * lineage (data files in the shared dir, zero copies) while main
    * serves its old snapshot untouched (stage `a` pins main's version
    * AND content hash mid-branch); an audit guards the publish
    * (a poisoned expectation refuses, main untouched); then
    * [[GraftTable.fastForward]] replays the branch VERSION FOR VERSION
    * onto main — history preserved, each an atomic manifest rename.
    * Stages: `a` main head before publish (= v0 content), `b` the
    * branch head read through the branch ref, `c` main after publish
    * (hash-equals `b`), `d` time travel at published base+1 (=
    * branch@1 — intermediate branch history is real main history). */
  val q316BranchPublish = GraftQuery(
    "q316_branch_publish",
    (s, dir) => {
      val root = newTempDir("graft_branch") + "/t"
      val cust = Tables.customer(s, dir).select(
        col("c_custkey").cast("long").as("k"),
        col("c_name").as("name"),
        floor(col("c_acctbal") * 100 + lit(0.5)).cast("long").as("cents"))
      GraftTable.create(s, root, cust, "k", nBuckets = 4)
      val base = GraftTable.createBranch(s, root, "wip")
      // branch commit 1: every 11th customer's cents negated
      val b1 = cust.filter(col("k") % 11 === 0)
        .withColumn("cents", -col("cents"))
      GraftTable.upsertBranch(s, root, "wip", b1, "k")
      // branch commit 2: synthetic inserts
      val b2 = cust.filter(col("k") % 13 === 0)
        .select((col("k") + 1000000).as("k"),
          lit("branch_insert").as("name"), col("cents"))
      GraftTable.upsertBranch(s, root, "wip", b2, "k")
      // main is untouched mid-branch — version AND content
      val mainStill = GraftTable.latestVersion(s, root) == base
      // a poisoned audit refuses and main stays put
      val rejected = GraftTable.fastForward(s, root, "wip",
        audits = Seq("no_negatives" -> (col("cents") >= 0)))
      val auditOk = rejected.isLeft &&
        GraftTable.latestVersion(s, root) == base
      // the real audit passes → publish, history preserved
      val Right((vAfter, nPub)) = GraftTable.fastForward(s, root, "wip",
        audits = Seq("keys_present" -> col("k").isNotNull)) : @unchecked
      val ffOk = vAfter == base + 2 && nPub == 2 &&
        GraftTable.latestVersion(s, root) == base + 2
      def agg(stage: String, df: org.apache.spark.sql.DataFrame,
          ok: Boolean) =
        df.groupBy(lit(stage).as("stage"))
          .agg(count(lit(1)).as("n_rows"),
            sum("cents").as("cents_sum"),
            sum(conv(substring(md5(concat_ws("|", col("k").cast("string"),
              col("name"), col("cents").cast("string"))), 1, 8), 16, 10)
              .cast("long")).as("row_sum"),
            lit(ok).as("ok"))
      agg("a_main_before", GraftTable.read(s, root, Some(base)),
          mainStill && auditOk)
        .unionAll(agg("b_branch_head",
          GraftTable.readBranch(s, root, "wip"), true))
        .unionAll(agg("c_main_after", GraftTable.read(s, root), ffOk))
        .unionAll(agg("d_mid_history",
          GraftTable.read(s, root, Some(base + 1)), true))
        .orderBy("stage")
    },
    Some("""WITH c AS (
           |  SELECT CAST(c_custkey AS BIGINT) AS k, c_name AS name,
           |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
           |  FROM customer),
           |v1 AS ( -- branch commit 1: every 11th cents negated
           |  SELECT k, name,
           |    CASE WHEN k % 11 = 0 THEN -cents ELSE cents END AS cents
           |  FROM c),
           |v2 AS ( -- branch commit 2: synthetic inserts appended
           |  SELECT * FROM v1
           |  UNION ALL
           |  SELECT k + 1000000, 'branch_insert', cents
           |  FROM c WHERE k % 13 = 0),
           |stages AS (
           |  SELECT 'a_main_before' AS stage, * FROM c
           |  UNION ALL SELECT 'b_branch_head', * FROM v2
           |  UNION ALL SELECT 'c_main_after', * FROM v2
           |  UNION ALL SELECT 'd_mid_history', * FROM v1)
           |SELECT stage, count(*) AS n_rows,
           |  CAST(sum(cents) AS BIGINT) AS cents_sum,
           |  CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
           |    name || '|' || CAST(cents AS VARCHAR)), 1, 8))::BIGINT)
           |    AS BIGINT) AS row_sum,
           |  true AS ok
           |FROM stages GROUP BY stage ORDER BY stage""".stripMargin))

  /** RUNTIME FILE PRUNING (round 14): the graft scan reports its key
    * column through `SupportsRuntimeFiltering`, so a broadcast join
    * against a selective dimension injects a dynamic-pruning subquery
    * — once the build side completes, the OBSERVED join keys re-plan
    * the scan's partitions and files whose [minKey, maxKey] interval
    * contains none of them NEVER OPEN. The dimension's keys cluster in
    * the fact's lowest key range, so of the fact's range-bucketed
    * files at most two survive (`ok` pins the post-filter file count
    * AND the `dynamicpruning` subscription in the plan). At 1000
    * executors this is a 3-key lookup join opening three files of a
    * 100 TB fact instead of scanning it — static manifest skipping
    * cannot do it because the keys exist only at run time. */
  val q317RuntimePrunedJoin = GraftQuery(
    "q317_runtime_pruned_join",
    (s, dir) => {
      val base = newTempDir("graft_runtime_prune")
      val root = base + "/fact"
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_orderpriority").as("prio"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      GraftTable.create(s, root, orders, "k", nBuckets = 8)
      val nFiles = GraftTable.snapshotFileLedger(s, root, 0).size
      val nOrders = orders.count()
      // the dimension: keys in the fact's LOWEST eighth, every 97th —
      // a real source with a surviving selective filter (DPP wants one)
      val dim = Tables.orders(s, dir)
        .select(col("o_orderkey").cast("long").as("sk"))
        .filter(col("sk") < nOrders / 8 && col("sk") % 97 === 0)
      val aqeOld = s.conf.getOption("spark.sql.adaptive.enabled")
      val (rows, ok) =
        try {
          s.conf.set("spark.sql.adaptive.enabled", "false")
          val fact = s.read.format("graft").load(root)
          val joined = fact.join(broadcast(dim), col("k") === col("sk"))
            .groupBy(lit(1).as("grp"))
            .agg(count(lit(1)).as("n_rows"),
              sum("cents").as("cents_sum"),
              sum(conv(substring(md5(concat_ws("|",
                col("k").cast("string"), col("prio"),
                col("cents").cast("string"))), 1, 8), 16, 10)
                .cast("long")).as("row_sum"))
            .drop("grp")
          val collected = joined.collect().toSeq
          val plan = joined.queryExecution.executedPlan
          val scan = plan.collect {
            case b: org.apache.spark.sql.execution.datasources.v2
              .BatchScanExec => b.scan
          }.collectFirst { case g: graft.sources.GraftBatchScan => g }
          val pruned = scan.map(_.runtimePrunedTo).getOrElse(-1)
          (collected,
            plan.toString.contains("dynamicpruning") &&
              pruned >= 1 && pruned <= math.max(2, nFiles / 4))
        } finally aqeOld.fold(s.conf.unset("spark.sql.adaptive.enabled"))(
          s.conf.set("spark.sql.adaptive.enabled", _))
      import scala.jdk.CollectionConverters._
      s.createDataFrame(rows.asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("n_rows",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("cents_sum",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("row_sum",
            org.apache.spark.sql.types.LongType))))
        .withColumn("ok", lit(ok))
    },
    Some("""WITH o AS (
           |  SELECT CAST(o_orderkey AS BIGINT) AS k,
           |    o_orderpriority AS prio,
           |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
           |  FROM orders),
           |n AS (SELECT count(*) AS c FROM o),
           |dim AS (
           |  SELECT k AS sk FROM o, n WHERE k < c / 8 AND k % 97 = 0)
           |SELECT count(*) AS n_rows,
           |  CAST(sum(cents) AS BIGINT) AS cents_sum,
           |  CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
           |    prio || '|' || CAST(cents AS VARCHAR)), 1, 8))::BIGINT)
           |    AS BIGINT) AS row_sum,
           |  true AS ok
           |FROM o JOIN dim ON o.k = dim.sk""".stripMargin))

  /** BRANCH MERGE ONTO AN ADVANCED MAIN (round 15): the workflow gap
    * fast-forward correctly refuses — both main AND branch advance
    * from the base (disjoint keys), then [[GraftTable.mergeBranch]]
    * replays the branch's file-pruned row delta onto main's head as
    * ONE keyed-MERGE commit: branch updates/inserts land, main's own
    * updates and deletes survive, and a branch that never touched a
    * key can never resurrect main's delete of it. `ok` additionally
    * pins the conflict rule (a second branch overlapping main's keys
    * REFUSES with the conflicting-key count, main untouched) and that
    * fastForward still refuses the advanced main. At 100 TB both
    * deltas are file-pruned snapshot diffs — O(diverged files). */
  val q318BranchMerge = GraftQuery(
    "q318_branch_merge",
    (s, dir) => {
      val base = newTempDir("graft_branch_merge")
      val root = base + "/c"
      val cust = Tables.customer(s, dir).select(
        col("c_custkey").cast("long").as("k"),
        col("c_name").as("name"),
        floor(col("c_acctbal") * 100 + lit(0.5)).cast("long").as("cents"))
      GraftTable.create(s, root, cust, "k", nBuckets = 4)
      GraftTable.createBranch(s, root, "wip")
      // branch work: update k%100==7 rows, insert one new key
      val bUpd = cust.filter(col("k") % 100 === 7)
        .withColumn("name", lit("branch-upd"))
        .withColumn("cents", lit(-1L))
        .unionByName(s.createDataFrame(
          java.util.List.of(org.apache.spark.sql.Row(999999L,
            "branch-new", 0L)),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("name",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("cents",
              org.apache.spark.sql.types.LongType)))))
      GraftTable.upsertBranch(s, root, "wip", bUpd, "k")
      // a SECOND branch, also at base 0, touching a key main will
      // change too — the conflict-control fixture
      GraftTable.createBranch(s, root, "cfl")
      GraftTable.upsertBranch(s, root, "cfl",
        cust.filter(col("k") === 13)
          .withColumn("name", lit("conflict"))
          .withColumn("cents", lit(-9L)), "k")
      // main advances independently: update k%100==13, delete k%100==29
      GraftTable.upsert(s, root,
        cust.filter(col("k") % 100 === 13)
          .withColumn("name", lit("main-upd"))
          .withColumn("cents", lit(-2L)), "k")
      GraftTable.deleteWhere(s, root, col("k") % 100 === 29, "k")
      val ffRefused =
        try { GraftTable.fastForward(s, root, "wip"); false }
        catch { case _: IllegalArgumentException => true }
      // conflict control FIRST: cfl changed k=13, main changed every
      // k%100==13 — key overlap refuses, main untouched
      val conflictRefused =
        GraftTable.mergeBranch(s, root, "cfl").isLeft
      val merged = GraftTable.mergeBranch(s, root, "wip")
      val ok = ffRefused && merged.isRight && conflictRefused
      GraftTable.read(s, root)
        .withColumn("bucket", col("k") % 10)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
          sum("cents").as("cents_sum"),
          sum(conv(substring(md5(concat_ws("|", col("k").cast("string"),
            col("name"), col("cents").cast("string"))), 1, 8), 16, 10)
            .cast("long")).as("row_sum"))
        .withColumn("ok", lit(ok))
        .orderBy("bucket")
    },
    Some("""WITH c AS (
           |  SELECT CAST(c_custkey AS BIGINT) AS k, c_name AS name,
           |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
           |  FROM customer),
           |merged AS (
           |  SELECT k,
           |    CASE WHEN k % 100 = 7 THEN 'branch-upd'
           |         WHEN k % 100 = 13 THEN 'main-upd' ELSE name END AS name,
           |    CASE WHEN k % 100 = 7 THEN CAST(-1 AS BIGINT)
           |         WHEN k % 100 = 13 THEN CAST(-2 AS BIGINT)
           |         ELSE cents END AS cents
           |  FROM c WHERE k % 100 <> 29
           |  UNION ALL SELECT 999999, 'branch-new', 0)
           |SELECT k % 10 AS bucket, count(*) AS n_rows,
           |  CAST(sum(cents) AS BIGINT) AS cents_sum,
           |  CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
           |    name || '|' || CAST(cents AS VARCHAR)), 1, 8))::BIGINT)
           |    AS BIGINT) AS row_sum,
           |  true AS ok
           |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin))

  /** STREAMING SINK UNDER THE DML POLICY (round 15): the continuous
    * CDC upsert pattern — N micro-batches through
    * [[GraftTable.ingestBatch]] against a table in the default
    * `graft.dml.mode = auto` — now takes the MERGE-ON-READ path:
    * `ok` pins, by manifest FILE-SET ARITHMETIC, that every
    * pre-existing data file is STILL live after all batches (zero
    * rewrites — under CoW each touched file would be replaced every
    * trigger: the write amplification that kills minute-trigger CDC
    * at 100 TB), that DVs accumulated, that a REPLAYED batch is a
    * no-op (the effective-once marker guard is mode-independent), and
    * that [[GraftTable.absorbDvs]] closes the loop back to zero DV'd
    * files without changing content. */
  val q319SinkMor = GraftQuery(
    "q319_sink_mor",
    (s, dir) => {
      val base = newTempDir("graft_sink_mor")
      val root = base + "/t"
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_orderpriority").as("prio"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      GraftTable.create(s, root, orders, "k", nBuckets = 8)
      def rels(v: Int): Set[String] =
        GraftTable.snapshotFileLedger(s, root, v).map(_._1).toSet
      val files0 = rels(0)
      (1 to 3).foreach { b =>
        val batch = orders.filter(col("k") % 500 === b)
          .withColumn("prio", lit(s"u$b"))
          .withColumn("cents", lit(-b.toLong))
        GraftTable.ingestBatch(s, root, batch, "k", batchId = b.toLong)
      }
      val v3 = GraftTable.latestVersion(s, root)
      val zeroRewrites = files0.subsetOf(rels(v3))
      val dvd = GraftTable.hasDeletionVectors(s, root, v3)
      // replayed batch: the marker guard makes it a no-op in any mode
      GraftTable.ingestBatch(s, root,
        orders.filter(col("k") % 500 === 2)
          .withColumn("prio", lit("ghost")), "k", batchId = 2L)
      val replayNoop = GraftTable.latestVersion(s, root) == v3
      GraftTable.absorbDvs(s, root, "k")
      val absorbed = !GraftTable.hasDeletionVectors(s, root,
        GraftTable.latestVersion(s, root))
      val ok = zeroRewrites && dvd && replayNoop && absorbed
      GraftTable.read(s, root)
        .withColumn("bucket", col("k") % 10)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
          sum("cents").as("cents_sum"),
          sum(conv(substring(md5(concat_ws("|", col("k").cast("string"),
            col("prio"), col("cents").cast("string"))), 1, 8), 16, 10)
            .cast("long")).as("row_sum"))
        .withColumn("ok", lit(ok))
        .orderBy("bucket")
    },
    Some("""WITH o AS (
           |  SELECT CAST(o_orderkey AS BIGINT) AS k,
           |    o_orderpriority AS prio,
           |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
           |  FROM orders),
           |merged AS (
           |  SELECT k,
           |    CASE WHEN k % 500 IN (1, 2, 3)
           |      THEN 'u' || CAST(k % 500 AS VARCHAR) ELSE prio END AS prio,
           |    CASE WHEN k % 500 IN (1, 2, 3) THEN -(k % 500)
           |      ELSE cents END AS cents
           |  FROM o)
           |SELECT k % 10 AS bucket, count(*) AS n_rows,
           |  CAST(sum(cents) AS BIGINT) AS cents_sum,
           |  CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
           |    prio || '|' || CAST(cents AS VARCHAR)), 1, 8))::BIGINT)
           |    AS BIGINT) AS row_sum,
           |  true AS ok
           |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin))

  /** SQL-ONLY BRANCH WORKFLOW (round 15): the q316 fork→write→publish
    * cycle with the WRITE in SQL too — `INSERT INTO cat.t.branch_<w>`
    * resolves the Iceberg-style `branch_` identifier to a writable
    * branch table ([[graft.sources.GraftBranchSqlTable]]): reads of
    * the ref serve the branch HEAD through the same pruned DV-masked
    * scan as main, the INSERT routes through upsertBranch, and main
    * serves its old snapshot untouched until `FAST FORWARD` publishes.
    * `ok` pins main's mid-branch isolation (count AND a spot row). */
  val q320BranchSqlWrites = GraftQuery(
    "q320_branch_sql_writes",
    (s, dir) => {
      val base = newTempDir("graft_branch_sqlw")
      val root = base + "/p"
      val cat = "graft_bw_" + java.util.UUID.randomUUID().toString.take(8)
      val part = Tables.part(s, dir).select(
        col("p_partkey").cast("long").as("k"),
        col("p_brand").as("brand"),
        floor(col("p_retailprice") * 100 + lit(0.5)).cast("long").as("cents"))
      GraftTable.create(s, root, part, "k", nBuckets = 4)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", base)
      val n0 = part.count()
      s.sql(s"CREATE BRANCH wip ON $cat.p")
      // the branch write, in SQL: update every k%97==3 row's brand
      part.filter(col("k") % 97 === 3)
        .withColumn("brand", lit("BR-WIP"))
        .createOrReplaceTempView("branch_updates")
      s.sql(s"INSERT INTO $cat.p.branch_wip SELECT * FROM branch_updates")
      val mainIsolated =
        s.sql(s"SELECT count(*) FROM $cat.p WHERE brand = 'BR-WIP'")
          .collect()(0).getLong(0) == 0L &&
        s.sql(s"SELECT count(*) FROM $cat.p").collect()(0).getLong(0) == n0
      val branchServes =
        s.sql(s"SELECT count(*) FROM $cat.p.branch_wip " +
          "WHERE brand = 'BR-WIP'").collect()(0).getLong(0) > 0L
      s.sql(s"FAST FORWARD $cat.p FROM wip")
      val ok = mainIsolated && branchServes
      s.sql(s"SELECT k, brand, cents FROM $cat.p")
        .withColumn("bucket", col("k") % 10)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
          sum("cents").as("cents_sum"),
          sum(conv(substring(md5(concat_ws("|", col("k").cast("string"),
            col("brand"), col("cents").cast("string"))), 1, 8), 16, 10)
            .cast("long")).as("row_sum"))
        .withColumn("ok", lit(ok))
        .orderBy("bucket")
    },
    Some("""WITH p AS (
           |  SELECT CAST(p_partkey AS BIGINT) AS k,
           |    CASE WHEN p_partkey % 97 = 3 THEN 'BR-WIP'
           |         ELSE p_brand END AS brand,
           |    CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS cents
           |  FROM part)
           |SELECT k % 10 AS bucket, count(*) AS n_rows,
           |  CAST(sum(cents) AS BIGINT) AS cents_sum,
           |  CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
           |    brand || '|' || CAST(cents AS VARCHAR)), 1, 8))::BIGINT)
           |    AS BIGINT) AS row_sum,
           |  true AS ok
           |FROM p GROUP BY 1 ORDER BY 1""".stripMargin))

  /** RUNTIME PRUNING ON THE PARTITION-TRANSFORM COLUMN (round 15):
    * q317 proved key-column DPP; this is the TIME-DIMENSION form a
    * 100 TB event fact actually needs — the fact is `days(ts)`
    * partitioned, the join is on `ts` itself, and the scan reports
    * the transform's INPUT column as runtime-filterable: the observed
    * join timestamps map through the transform (the exact write-side
    * function, evaluated on a LocalRelation) and prune by the
    * per-file value ranges in the colstats sidecar. `ok` pins the
    * `dynamicpruning` subscription AND the post-filter file count
    * (one day of a 30-day table → ≤2 of ~8 files). */
  val q321TransformDpp = GraftQuery(
    "q321_transform_dpp",
    (s, dir) => {
      import graft.sources.DaysPartition
      val base = newTempDir("graft_transform_dpp")
      val root = base + "/ev"
      val ev = Tables.events(s, dir).select(
        col("event_id").cast("long").as("k"), col("ts"),
        col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
      GraftTable.create(s, root, ev, "k", nBuckets = 8,
        partitioning = Some(DaysPartition("ts")))
      val nFiles = GraftTable.snapshotFileLedger(s, root, 0).size
      val day0 = ev.agg(min(floor(unix_timestamp(col("ts")) / 86400)
        .cast("long"))).collect()(0).getLong(0)
      // the time dimension: day-0 timestamps of every 7th event — a
      // real source with a surviving selective filter
      val dim = Tables.events(s, dir).select(
        col("event_id").cast("long").as("dk"), col("ts").as("dts"))
        .filter(floor(unix_timestamp(col("dts")) / 86400) === day0 &&
          col("dk") % 7 === 0)
        .select("dts").distinct()
      val aqeOld = s.conf.getOption("spark.sql.adaptive.enabled")
      val (rows, ok) =
        try {
          s.conf.set("spark.sql.adaptive.enabled", "false")
          val fact = s.read.format("graft").load(root)
          val joined = fact.join(broadcast(dim), col("ts") === col("dts"))
            .groupBy(lit(1).as("grp"))
            .agg(count(lit(1)).as("n_rows"),
              sum("cents").as("cents_sum"),
              sum(conv(substring(md5(concat_ws("|",
                col("k").cast("string"), col("event_type"),
                col("cents").cast("string"))), 1, 8), 16, 10)
                .cast("long")).as("row_sum"))
            .drop("grp")
          val collected = joined.collect().toSeq
          val plan = joined.queryExecution.executedPlan
          val scan = plan.collect {
            case b: org.apache.spark.sql.execution.datasources.v2
              .BatchScanExec => b.scan
          }.collectFirst { case g: graft.sources.GraftBatchScan => g }
          val pruned = scan.map(_.runtimePrunedTo).getOrElse(-1)
          (collected,
            plan.toString.contains("dynamicpruning") &&
              pruned >= 1 && pruned <= math.max(2, nFiles / 4))
        } finally aqeOld.fold(s.conf.unset("spark.sql.adaptive.enabled"))(
          s.conf.set("spark.sql.adaptive.enabled", _))
      import scala.jdk.CollectionConverters._
      s.createDataFrame(rows.asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("n_rows",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("cents_sum",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("row_sum",
            org.apache.spark.sql.types.LongType))))
        .withColumn("ok", lit(ok))
    },
    Some("""WITH ev AS (
           |  SELECT CAST(event_id AS BIGINT) AS k, ts, event_type,
           |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
           |    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day
           |  FROM events),
           |d0 AS (SELECT min(day) AS day0 FROM ev),
           |dim AS (
           |  SELECT DISTINCT ts AS dts FROM ev, d0
           |  WHERE day = day0 AND k % 7 = 0)
           |SELECT count(*) AS n_rows,
           |  CAST(sum(cents) AS BIGINT) AS cents_sum,
           |  CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
           |    event_type || '|' || CAST(cents AS VARCHAR)), 1, 8))::BIGINT)
           |    AS BIGINT) AS row_sum,
           |  true AS ok
           |FROM ev JOIN dim ON ev.ts = dim.dts""".stripMargin))

  /** EQUALITY-DELETE INGEST (round 15): the APPEND-ONLY upsert —
    * [[GraftTable.appendUpsert]] / the sink's `mode=eqdel` — lands
    * each CDC batch as fresh files plus a key list in the manifest
    * header, with ZERO base files read or rewritten (merge-on-read
    * taken past DVs: even the position lookup is deferred). `ok`
    * pins, by manifest arithmetic: every pre-existing file still
    * live AND un-DV'd after 3 streamed replace batches + 1 delete
    * batch (the eqdel ingest writes no position sidecars at all);
    * pending eqdels recorded; a replayed batch a no-op; then
    * [[GraftTable.resolveEqDels]] (keys → position DVs, one pruned
    * pass) and [[GraftTable.absorbDvs]] close the debt ladder with
    * logical content byte-identical at each step. At 100 TB this is
    * the write-amplification floor for minute-trigger CDC: 1,440
    * O(batch) commits a day and ONE deferred position resolve. */
  val q322EqdelIngest = GraftQuery(
    "q322_eqdel_ingest",
    (s, dir) => {
      val base = newTempDir("graft_eqdel_ingest")
      val root = base + "/t"
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_orderpriority").as("prio"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      GraftTable.create(s, root, orders, "k", nBuckets = 8)
      def rels(v: Int): Set[String] =
        GraftTable.snapshotFileLedger(s, root, v).map(_._1).toSet
      def chk(): (Long, Long) = {
        val r = GraftTable.read(s, root)
          .agg(count(lit(1)),
            sum(conv(substring(md5(concat_ws("|", col("k").cast("string"),
              col("prio"), col("cents").cast("string"))), 1, 8), 16, 10)
              .cast("long"))).collect()(0)
        (r.getLong(0), r.getLong(1))
      }
      val files0 = rels(0)
      // 3 streamed replace batches through the SINK path
      (1 to 3).foreach { b =>
        val batch = orders.filter(col("k") % 500 === b)
          .withColumn("prio", lit(s"u$b"))
          .withColumn("cents", lit(-b.toLong))
        GraftTable.ingestBatch(s, root, batch, "k", batchId = b.toLong,
          queryId = "q322", mode = "eqdel")
      }
      // one delete batch through the API (opCol shape)
      GraftTable.appendUpsert(s, root,
        orders.filter(col("k") % 500 === 4)
          .withColumn("_op", lit("delete")), "k", opCol = Some("_op"))
      val v4 = GraftTable.latestVersion(s, root)
      // the heart of the gate: every base file carried VERBATIM and
      // NOT EVEN A DV written — the ingest never located positions
      val zeroTouch = files0.subsetOf(rels(v4)) &&
        !GraftTable.hasDeletionVectors(s, root, v4) &&
        GraftTable.hasLiveEqDels(s, root, v4)
      // replayed sink batch: marker no-op in eqdel mode too
      GraftTable.ingestBatch(s, root,
        orders.filter(col("k") % 500 === 2)
          .withColumn("prio", lit("ghost")), "k", batchId = 2L,
        queryId = "q322", mode = "eqdel")
      val replayNoop = GraftTable.latestVersion(s, root) == v4
      val c0 = chk()
      val (_, touched, resolved) = GraftTable.resolveEqDels(s, root, "k")
      val c1 = chk()
      GraftTable.absorbDvs(s, root, "k")
      val c2 = chk()
      val vF = GraftTable.latestVersion(s, root)
      val closed = !GraftTable.hasLiveEqDels(s, root, vF) &&
        !GraftTable.hasDeletionVectors(s, root, vF)
      val ok = zeroTouch && replayNoop && touched > 0 && resolved > 0 &&
        c0 == c1 && c1 == c2 && closed
      GraftTable.read(s, root)
        .withColumn("bucket", col("k") % 10)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
          sum("cents").as("cents_sum"),
          sum(conv(substring(md5(concat_ws("|", col("k").cast("string"),
            col("prio"), col("cents").cast("string"))), 1, 8), 16, 10)
            .cast("long")).as("row_sum"))
        .withColumn("ok", lit(ok))
        .orderBy("bucket")
    },
    Some("""WITH o AS (
           |  SELECT CAST(o_orderkey AS BIGINT) AS k,
           |    o_orderpriority AS prio,
           |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
           |  FROM orders),
           |merged AS (
           |  SELECT k,
           |    CASE WHEN k % 500 IN (1, 2, 3)
           |      THEN 'u' || CAST(k % 500 AS VARCHAR) ELSE prio END AS prio,
           |    CASE WHEN k % 500 IN (1, 2, 3) THEN -(k % 500)
           |      ELSE cents END AS cents
           |  FROM o WHERE k % 500 <> 4)
           |SELECT k % 10 AS bucket, count(*) AS n_rows,
           |  CAST(sum(cents) AS BIGINT) AS cents_sum,
           |  CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
           |    prio || '|' || CAST(cents AS VARCHAR)), 1, 8))::BIGINT)
           |    AS BIGINT) AS row_sum,
           |  true AS ok
           |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin))

  /** EQUALITY-DELETE LIFECYCLE (round 15): the consumer-side half of
    * q322 — TIME TRAVEL reads each version with ITS pending key set
    * (v0 clean, v1 masked), and CDF ([[GraftTable.changes]]) surfaces
    * an eqdel commit's retirements as ordinary update/delete events
    * (diff identity = file × DV × applying eqdels), so a replica
    * replaying the feed CONVERGES — even though the ingest itself
    * never read the rows it retired. `ok` pins the travel reads, the
    * feed's event-kind counts, and main ≡ replica by checksum. */
  val q323EqdelCdf = GraftQuery(
    "q323_eqdel_cdf",
    (s, dir) => {
      val base = newTempDir("graft_eqdel_cdf")
      val root = base + "/p"
      val replica = base + "/r"
      val part = Tables.part(s, dir).select(
        col("p_partkey").cast("long").as("k"),
        col("p_brand").as("brand"),
        floor(col("p_retailprice") * 100 + lit(0.5)).cast("long").as("cents"))
      GraftTable.create(s, root, part, "k", nBuckets = 4)
      GraftTable.cloneTable(s, root, replica) // fork the replica at v0
      val n0 = part.count()
      // v1: replaces (brand) — an eqdel ingest
      GraftTable.appendUpsert(s, root,
        part.filter(col("k") % 97 === 3)
          .withColumn("brand", lit("EQ-1")), "k")
      // v2: replaces (cents) + deletes, disjoint key sets
      GraftTable.appendUpsert(s, root,
        part.filter(col("k") % 193 === 5 && col("k") % 97 =!= 10)
          .withColumn("cents", lit(-1L)).withColumn("_op", lit("replace"))
          .unionByName(part.filter(col("k") % 97 === 10)
            .withColumn("_op", lit("delete"))),
        "k", opCol = Some("_op"))
      // time travel: each version under its own mask
      val tt0 = GraftTable.read(s, root, Some(0))
      val tt1 = GraftTable.read(s, root, Some(1))
      val travelOk =
        tt0.count() == n0 &&
        tt0.filter(col("brand") === "EQ-1").count() == 0L &&
        tt1.count() == n0 &&
        tt1.filter(col("brand") === "EQ-1").count() > 0L
      // CDF v0→v2 feeds the replica
      val feed = GraftTable.changes(s, root, 0, 2, "k")
      val kinds = feed.groupBy(col("_change")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val feedOk = kinds.getOrElse("delete", 0L) > 0L &&
        kinds.getOrElse("update", 0L) > 0L &&
        kinds.getOrElse("insert", 0L) == 0L
      GraftTable.applyCdcBatch(s, replica,
        feed.withColumn("_op",
          when(col("_change") === "delete", "delete")
            .otherwise("replace")).drop("_change"), "k")
      def chk(r: String): Seq[org.apache.spark.sql.Row] =
        GraftTable.read(s, r)
          .agg(count(lit(1)),
            sum(conv(substring(md5(concat_ws("|", col("k").cast("string"),
              col("brand"), col("cents").cast("string"))), 1, 8), 16, 10)
              .cast("long"))).collect().toSeq
      val converged = chk(root) == chk(replica)
      val ok = travelOk && feedOk && converged
      GraftTable.read(s, root)
        .withColumn("bucket", col("k") % 8)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
          sum("cents").as("cents_sum"),
          sum(conv(substring(md5(concat_ws("|", col("k").cast("string"),
            col("brand"), col("cents").cast("string"))), 1, 8), 16, 10)
            .cast("long")).as("row_sum"))
        .withColumn("ok", lit(ok))
        .orderBy("bucket")
    },
    Some("""WITH p AS (
           |  SELECT CAST(p_partkey AS BIGINT) AS k,
           |    p_brand AS brand,
           |    CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS cents
           |  FROM part),
           |merged AS (
           |  -- replace is VERBATIM full-row: the v2 batch (built from
           |  -- the original rows) overrides v1's brand for a key hit
           |  -- by both — last write wins whole-row, not column-wise
           |  SELECT k,
           |    CASE WHEN k % 97 = 3 AND k % 193 <> 5
           |      THEN 'EQ-1' ELSE brand END AS brand,
           |    CASE WHEN k % 193 = 5 AND k % 97 <> 10 THEN -1
           |      ELSE cents END AS cents
           |  FROM p WHERE k % 97 <> 10)
           |SELECT k % 8 AS bucket, count(*) AS n_rows,
           |  CAST(sum(cents) AS BIGINT) AS cents_sum,
           |  CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
           |    brand || '|' || CAST(cents AS VARCHAR)), 1, 8))::BIGINT)
           |    AS BIGINT) AS row_sum,
           |  true AS ok
           |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin))

  /** INCREMENTAL MATERIALIZED VIEWS (round 15): [[GraftMv]] keeps a
    * GROUP BY fresh by CHANGE-FEED DELTA instead of recompute — the
    * scale-path replacement for the reference's rebuilt-wholesale
    * rollup relations (the `fact_staging1..3` CTAS chain,
    * FactTable.sql:15-110). Two MVs over one source
    * exercise both refresh planes: count/sum advances by PURE ±
    * MERGE (the source is never read — cost O(feed) at any source
    * size), min/max re-aggregates only the DIRTY groups (a deleted
    * maximum must surface its runner-up — not delta-able, so the
    * engine reads exactly the groups the feed touched). `ok` pins:
    * both MVs ≡ the full recompute after upserts + inserts + deletes
    * (checksum equality), a second refresh is a zero-dirty no-op,
    * and the MV itself is an ordinary graft table (versioned,
    * time-travelable). */
  val q324IncrementalMv = GraftQuery(
    "q324_incremental_mv",
    (s, dir) => {
      val base = newTempDir("graft_mv")
      val src = base + "/src"
      // a half-slice keeps the lifecycle gate proportionate: the
      // refresh cost model (O(feed), O(dirty groups)) is scale-free
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_custkey").cast("long").as("cust"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
        .filter(col("k") % 2 === 0)
      GraftTable.create(s, src, orders, "k", nBuckets = 4)
      // the two MVs are independent tables over the same source —
      // their creates and their refresh lanes overlap (par2, §2.6);
      // the source mutations between them stay strictly sequential
      // (their order defines the declared content)
      par2(
        GraftMv.create(s, base + "/mv_ds", src, "cust",
          Seq(MvAgg("count", "", "n_orders"),
            MvAgg("sum", "cents", "cents_sum")), nBuckets = 4),
        GraftMv.create(s, base + "/mv_mm", src, "cust",
          Seq(MvAgg("max", "cents", "max_cents"),
            MvAgg("min", "cents", "min_cents")), nBuckets = 4))
      // source moves on: reprice, brand-new orders, deletions
      GraftTable.upsert(s, src,
        orders.filter(col("k") % 211 === 7)
          .withColumn("cents", lit(-50L)), "k")
      GraftTable.upsert(s, src,
        orders.filter(col("k") % 307 === 11)
          .withColumn("k", col("k") + 3000000L), "k")
      GraftTable.deleteWhere(s, src, col("k") % 173 === 11, "k")
      // convergence itself is the ORACLE's job: the output frame IS
      // the refreshed MV content, hash-compared against DuckDB's full
      // GROUP BY over the mutated source — an internal recompute here
      // would duplicate that check at 4 extra aggregation jobs
      val ((dirtyDs, noopDs), (dirtyMm, noopMm)) = par2(
        { val d = GraftMv.refresh(s, base + "/mv_ds", nBuckets = 4)._2
          (d, GraftMv.refresh(s, base + "/mv_ds")._2 == 0L) },
        { val d = GraftMv.refresh(s, base + "/mv_mm", nBuckets = 4)._2
          (d, GraftMv.refresh(s, base + "/mv_mm")._2 == 0L) })
      val noop = noopDs && noopMm
      val versioned =
        GraftTable.latestVersion(s, base + "/mv_ds") == 1 // create + 1 delta
      val ok = dirtyDs > 0 && dirtyMm > 0 && noop && versioned
      GraftMv.read(s, base + "/mv_ds").as("d")
        .join(GraftMv.read(s, base + "/mv_mm").as("m"), Seq("cust"))
        .filter(col("cust") % 10 === 3)
        .select(col("cust"), col("n_orders"), col("cents_sum"),
          col("max_cents"), col("min_cents"))
        .withColumn("ok", lit(ok))
        .orderBy("cust")
    },
    Some("""WITH o AS (
           |  SELECT CAST(o_orderkey AS BIGINT) AS k,
           |    CAST(o_custkey AS BIGINT) AS cust,
           |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
           |  FROM orders WHERE o_orderkey % 2 = 0),
           |mutated AS (
           |  SELECT k, cust,
           |    CASE WHEN k % 211 = 7 THEN -50 ELSE cents END AS cents
           |  FROM o
           |  UNION ALL
           |  SELECT k + 3000000, cust, cents FROM o WHERE k % 307 = 11),
           |live AS (SELECT * FROM mutated WHERE k % 173 <> 11)
           |SELECT cust, count(*) AS n_orders,
           |  CAST(sum(cents) AS BIGINT) AS cents_sum,
           |  CAST(max(cents) AS BIGINT) AS max_cents,
           |  CAST(min(cents) AS BIGINT) AS min_cents,
           |  true AS ok
           |FROM live WHERE cust % 10 = 3
           |GROUP BY cust ORDER BY cust""".stripMargin))

  /** STORAGE-PARTITIONED JOIN over HASH-LAYOUT tables (round 15): the
    * orders and lineitem slices land as co-bucketed graft tables
    * (`hashLayout = true`, 8 buckets on the order key — mono-bucket
    * files, `#layout 8` in each manifest header), the DSv2 scans report
    * `KeyGroupedPartitioning(bucket(8, k))` resolved through the
    * catalog's V2 `bucket` function, and the fact⋈fact join executes
    * with ZERO exchanges under either side (pinned by walking the
    * SortMergeJoin's subtree for ShuffleExchange nodes). This is the
    * join shape broadcast can't save — two big keyed tables — and at
    * 100 TB the layout turns every such join from "exchange both
    * sides across the cluster" into "zip co-located buckets". The
    * aggregate above the join hash-compares against DuckDB's plain
    * relational join, proving the zero-shuffle plan changes nothing
    * but the wire bytes. */
  val q325SpjJoin = GraftQuery(
    "q325_spj_join",
    (s, dir) => {
      val base = newTempDir("graft_spj")
      val ord = Tables.orders(s, dir).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_orderpriority").as("prio"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      val li = Tables.lineitem(s, dir).select(
        col("l_orderkey").cast("long").as("k"),
        col("l_quantity").cast("long").as("qty"),
        floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long")
          .as("ext_cents"))
      GraftTable.create(s, base + "/ord", ord, "k", nBuckets = 8,
        hashLayout = true)
      GraftTable.create(s, base + "/li", li, "k", nBuckets = 8,
        hashLayout = true)
      s.conf.set("spark.sql.catalog.gspjq", classOf[graft.sources
        .GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.gspjq.base", base)
      val confs = Seq(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false")
      val old = confs.map { case (kk, _) => kk -> s.conf.getOption(kk) }
      try {
        confs.foreach { case (kk, vv) => s.conf.set(kk, vv) }
        val j = s.sql(
          "SELECT o.prio, count(*) AS n_items, sum(l.qty) AS qty_sum, " +
            "sum(l.ext_cents) AS ext_sum, sum(o.cents) AS ord_sum " +
            "FROM gspjq.ord o JOIN gspjq.li l ON o.k = l.k " +
            "GROUP BY o.prio ORDER BY o.prio")
        val rows = j.collect().toSeq
        val plan = j.queryExecution.executedPlan
        // the pin: the join subtree holds NO shuffle — both inputs
        // arrive key-grouped straight from storage
        val smjs = plan.collect {
          case jn: org.apache.spark.sql.execution.joins.SortMergeJoinExec => jn
        }
        val ok = smjs.nonEmpty && smjs.forall(_.collect {
          case e: org.apache.spark.sql.execution.exchange
            .ShuffleExchangeExec => e
        }.isEmpty)
        import scala.jdk.CollectionConverters._
        s.createDataFrame(rows.asJava, org.apache.spark.sql.types
          .StructType(Seq(
            org.apache.spark.sql.types.StructField("prio",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("n_items",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("qty_sum",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("ext_sum",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("ord_sum",
              org.apache.spark.sql.types.LongType))))
          .withColumn("ok", lit(ok))
      } finally old.foreach {
        case (kk, Some(vv)) => s.conf.set(kk, vv)
        case (kk, None) => s.conf.unset(kk)
      }
    },
    Some("""WITH o AS (
           |  SELECT CAST(o_orderkey AS BIGINT) AS k,
           |    o_orderpriority AS prio,
           |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
           |  FROM orders),
           |l AS (
           |  SELECT CAST(l_orderkey AS BIGINT) AS k,
           |    CAST(l_quantity AS BIGINT) AS qty,
           |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
           |      AS ext_cents
           |  FROM lineitem)
           |SELECT prio, count(*) AS n_items,
           |  CAST(sum(qty) AS BIGINT) AS qty_sum,
           |  CAST(sum(ext_cents) AS BIGINT) AS ext_sum,
           |  CAST(sum(cents) AS BIGINT) AS ord_sum, true AS ok
           |FROM o JOIN l ON o.k = l.k
           |GROUP BY prio ORDER BY prio""".stripMargin))

  /** HASH-LAYOUT POINT LOOKUP (round 15): under hash layout, per-file
    * key intervals go domain-wide (the documented range-pruning
    * trade), but an equality predicate maps to its ONE bucket
    * driver-side — `k = x` on a 16-bucket table opens ~1/16 of the
    * files, pinned here by [[GraftTable.prunedFileCountKeys]] against
    * the full ledger, alongside a 3-key IN set (≤ 3 buckets). The
    * looked-up rows themselves hash-compare against DuckDB. At 100 TB
    * this is the primary-key-read story a CDC consumer or serving
    * layer lives by when the table is laid out for joins instead of
    * ranges. */
  val q326BucketPointLookup = GraftQuery(
    "q326_bucket_point_lookup",
    (s, dir) => {
      val base = newTempDir("graft_bucket_point")
      val root = base + "/cust"
      val cust = Tables.customer(s, dir).select(
        col("c_custkey").cast("long").as("k"),
        col("c_name").as("name"),
        col("c_nationkey").cast("long").as("nation"),
        floor(col("c_acctbal") * 100 + lit(0.5)).cast("long").as("cents"))
      GraftTable.create(s, root, cust, "k", nBuckets = 16,
        hashLayout = true)
      val nAll = GraftTable.snapshotFileLedger(s, root, 0).size
      val one = GraftTable.prunedFileCountKeys(s, root, Seq(777L))
      val three = GraftTable.prunedFileCountKeys(s, root,
        Seq(777L, 1500L, 42L))
      // one key → one bucket's files; three keys → at most three
      // buckets' — both a small fraction of the ledger
      val ok = nAll >= 16 && one <= math.max(1, nAll / 8) &&
        three <= math.max(3, 3 * nAll / 16) && one <= three
      s.conf.set("spark.sql.catalog.gbpq", classOf[graft.sources
        .GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.gbpq.base", base)
      s.sql("SELECT k, name, nation, cents FROM gbpq.cust " +
          "WHERE k IN (42, 777, 1500) ORDER BY k")
        .withColumn("ok", lit(ok))
    },
    Some("""SELECT CAST(c_custkey AS BIGINT) AS k, c_name AS name,
           |  CAST(c_nationkey AS BIGINT) AS nation,
           |  CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents,
           |  true AS ok
           |FROM customer WHERE c_custkey IN (42, 777, 1500)
           |ORDER BY k""".stripMargin))

  /** FILTERED + AVG MATERIALIZED VIEW (round 15): the MV aggregates a
    * PREDICATE's row subset (`WHERE cents >= 2000000`) and serves an
    * exact delta-maintained `avg` — stored as a hidden (sum, non-null
    * count) pair, quotient computed at read so no float drift ever
    * accumulates across refreshes. The source then moves rows ACROSS
    * the predicate boundary in both directions (reprices up into the
    * relation, down out of it), deletes, and inserts; one change-feed
    * refresh must converge to DuckDB's full recompute of the filtered
    * GROUP BY. The predicate commutes with the feed's retraction form
    * (each feed row carries full values), so the refresh stays O(feed
    * + dirty groups) — the 100 TB shape: a filtered daily rollup
    * refreshes from the day's feed, never the decade's scan. */
  val q327FilteredAvgMv = GraftQuery(
    "q327_filtered_avg_mv",
    (s, dir) => {
      val base = newTempDir("graft_mv_filtered")
      val src = base + "/src"
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_custkey").cast("long").as("cust"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      GraftTable.create(s, src, orders, "k", nBuckets = 4)
      s.conf.set("spark.sql.catalog.gmvf", classOf[graft.sources
        .GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.gmvf.base", base)
      s.sql("CREATE MATERIALIZED VIEW gmvf.mv AS " +
        "SELECT cust, count(*) AS n_big, avg(cents) AS avg_cents, " +
        "sum(cents) AS cents_sum FROM gmvf.src " +
        "WHERE cents >= 20000000 GROUP BY cust")
      // cross the boundary both ways + delete + insert
      GraftTable.upsert(s, src,
        orders.filter(col("k") % 97 === 5)
          .withColumn("cents", lit(25000000L)), "k")
      GraftTable.upsert(s, src,
        orders.filter(col("k") % 89 === 7)
          .withColumn("cents", lit(100L)), "k")
      GraftTable.deleteWhere(s, src, col("k") % 131 === 11, "k")
      GraftTable.upsert(s, src,
        orders.filter(col("k") % 151 === 13)
          .withColumn("k", col("k") + 9000000L)
          .withColumn("cents", lit(30000000L)), "k")
      val dirty = s.sql("REFRESH MATERIALIZED VIEW gmvf.mv")
        .collect()(0).getLong(1)
      val noop = s.sql("REFRESH MATERIALIZED VIEW gmvf.mv")
        .collect()(0).getLong(1) == 0L
      val ok = dirty > 0 && noop
      GraftMv.read(s, base + "/mv")
        .filter(col("cust") % 5 === 2)
        .select(col("cust"), col("n_big"),
          round(col("avg_cents"), 4).as("avg_cents"), col("cents_sum"))
        .withColumn("ok", lit(ok))
        .orderBy("cust")
    },
    Some("""WITH o AS (
           |  SELECT CAST(o_orderkey AS BIGINT) AS k,
           |    CAST(o_custkey AS BIGINT) AS cust,
           |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
           |  FROM orders),
           |-- upserts apply in order: the 89-reprice lands LAST, so a
           |-- key hit by both takes 100 (its CASE branch leads); the
           |-- delete ran BEFORE the +9000000 inserts, so it filters
           |-- only original keys
           |mut AS (
           |  SELECT k, cust,
           |    CASE WHEN k % 89 = 7 THEN 100
           |         WHEN k % 97 = 5 THEN 25000000 ELSE cents END AS cents
           |  FROM o WHERE k % 131 <> 11),
           |live AS (
           |  SELECT * FROM mut
           |  UNION ALL
           |  SELECT k + 9000000, cust, 30000000 FROM o WHERE k % 151 = 13),
           |big AS (SELECT * FROM live WHERE cents >= 20000000)
           |SELECT cust, count(*) AS n_big,
           |  round(avg(cents), 4) AS avg_cents,
           |  CAST(sum(cents) AS BIGINT) AS cents_sum, true AS ok
           |FROM big WHERE cust % 5 = 2
           |GROUP BY cust ORDER BY cust""".stripMargin))

  /** SCHEMA AUTO-MERGE (round 15): the ingest-keeps-flowing story —
    * with `graft.schema.autoMerge = true` a batch carrying a column
    * the table lacks EVOLVES the table (metadata-only add: old files
    * read NULL, nothing rewrites) and a NARROW batch NULL-fills, the
    * coalesce merge keeping target values for matched rows. Off (the
    * default) the same batch REFUSES naming the property — pinned in
    * `ok` — because silent widening would let one typo'd producer
    * mutate the schema forever. The oracle replays the evolution
    * relationally: wide upsert (new `channel` + repriced cents), then
    * a narrow reprice whose untouched columns must survive. At 100 TB
    * the add is O(metadata) and the next micro-batch lands populated —
    * no migration, no rewrite. */
  val q328SchemaAutoMerge = GraftQuery(
    "q328_schema_automerge",
    (s, dir) => {
      val base = newTempDir("graft_automerge")
      val root = base + "/o"
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_custkey").cast("long").as("cust"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      GraftTable.create(s, root, orders, "k", nBuckets = 4)
      // OFF: the wider batch must refuse, naming the property
      val refused =
        try {
          GraftTable.upsert(s, root,
            orders.filter(col("k") % 59 === 3)
              .withColumn("channel", lit("web")), "k")
          false
        } catch {
          case e: IllegalArgumentException =>
            e.getMessage.contains("graft.schema.autoMerge")
        }
      GraftTable.setTableProperty(s, root, "graft.schema.autoMerge", "true")
      // ON: wide upsert evolves; narrow upsert null-fills (and, for
      // matched rows, keeps every column it doesn't carry)
      GraftTable.upsert(s, root,
        orders.filter(col("k") % 59 === 3)
          .withColumn("cents", col("cents") + 1000L)
          .withColumn("channel", lit("web")), "k")
      GraftTable.upsert(s, root,
        orders.filter(col("k") % 61 === 7)
          .select(col("k"), lit(77L).as("cents")), "k")
      val t = GraftTable.read(s, root)
      val ok = refused &&
        t.columns.toSeq == Seq("k", "cust", "cents", "channel")
      t.filter(col("k") % 13 === 1)
        .select(col("k"), col("cust"), col("cents"), col("channel"))
        .withColumn("ok", lit(ok))
        .orderBy("k")
    },
    Some("""WITH o AS (
           |  SELECT CAST(o_orderkey AS BIGINT) AS k,
           |    CAST(o_custkey AS BIGINT) AS cust,
           |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
           |  FROM orders)
           |SELECT k, cust,
           |  CASE WHEN k % 61 = 7 THEN 77
           |       WHEN k % 59 = 3 THEN cents + 1000 ELSE cents END AS cents,
           |  CASE WHEN k % 59 = 3 THEN 'web' ELSE NULL END AS channel,
           |  true AS ok
           |FROM o WHERE k % 13 = 1 ORDER BY k""".stripMargin))

  /** TRANSPARENT MV REWRITE (round 15): a registered, FRESH
    * materialized view answers a matching `GROUP BY` over its source
    * without the query text changing — the Catalyst rule
    * ([[graft.sources.GraftMvRewrite]], opt-in via
    * `spark.graft.mv.rewrite.views`) swaps the Aggregate for a
    * projection of the MV under the aggregate's own expression ids.
    * `ok` pins BOTH plan directions: the fresh query's executed plan
    * reads the MV's files (a 100 TB fact's GROUP BY becomes a read of
    * the groups-sized answer), and after one more source commit the
    * STALE MV is left alone — the same query then reads the source
    * (wrong is worse than slow; `REFRESH` re-arms). The emitted rows
    * come from the REWRITTEN query and hash-compare against DuckDB's
    * direct aggregation — proving the swap changes bytes read, not
    * answers. */
  val q329MvRewrite = GraftQuery(
    "q329_mv_rewrite",
    (s, dir) => {
      val base = newTempDir("graft_mv_rewrite")
      val src = base + "/src"
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_custkey").cast("long").as("cust"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      GraftTable.create(s, src, orders, "k", nBuckets = 4)
      GraftMv.create(s, base + "/mv", src, "cust",
        Seq(MvAgg("count", "", "n"), MvAgg("sum", "cents", "sv"),
          MvAgg("avg", "cents", "av")), nBuckets = 4)
      s.conf.set("spark.sql.catalog.gmvrw", classOf[graft.sources
        .GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.gmvrw.base", base)
      s.conf.set("spark.graft.mv.rewrite.views", base + "/mv")
      try {
        val q = s.sql(
          "SELECT cust, count(*) AS n_orders, sum(cents) AS cents_sum, " +
            "round(avg(cents), 4) AS cents_avg " +
            "FROM gmvrw.src GROUP BY cust")
        val servedFromMv = scansMv(q, base + "/mv")
        val rows = q.filter(col("cust") % 10 === 4).orderBy("cust")
          .collect().toSeq
        // staleness control: one more source commit, same query text —
        // the rule must now leave the plan alone
        GraftTable.upsert(s, src,
          orders.limit(1).withColumn("k", lit(99999999L)), "k")
        val q2 = s.sql(
          "SELECT cust, count(*) AS n FROM gmvrw.src GROUP BY cust")
        val staleLeftAlone = !scansMv(q2, base + "/mv")
        val ok = servedFromMv && staleLeftAlone
        import scala.jdk.CollectionConverters._
        s.createDataFrame(rows.asJava, org.apache.spark.sql.types
          .StructType(Seq(
            org.apache.spark.sql.types.StructField("cust",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("n_orders",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("cents_sum",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("cents_avg",
              org.apache.spark.sql.types.DoubleType))))
          .withColumn("ok", lit(ok))
      } finally s.conf.unset("spark.graft.mv.rewrite.views")
    },
    Some("""WITH o AS (
           |  SELECT CAST(o_custkey AS BIGINT) AS cust,
           |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
           |  FROM orders)
           |SELECT cust, count(*) AS n_orders,
           |  CAST(sum(cents) AS BIGINT) AS cents_sum,
           |  round(avg(cents), 4) AS cents_avg, true AS ok
           |FROM o WHERE cust % 10 = 4
           |GROUP BY cust ORDER BY cust""".stripMargin))

  /** NON-INTEGRAL (string) TABLE KEYS (round 16): real CDC streams key
    * on UUIDs and natural identifiers, not longs — the table format
    * now takes a STRING key by HASH-LEDGERING it: per-file stats hold
    * `xxhash64(key)`, files range-bucket by hash (narrow disjoint
    * intervals — point/IN pruning stays sharp with no key order),
    * the hash layout buckets the string directly, and the eqdel
    * sidecars store the RAW key so every row-level comparison is
    * exact — a collision can cost an extra file read, never a wrong
    * row. The gate drives the full lifecycle on a `c-<custkey>`-keyed
    * customer table: create (hash layout) → CoW upsert → CDC
    * apply (MoR deletes/replaces) → append-only eqdel ingest →
    * masked read → resolveEqDels; `ok` pins the pending-eqdel
    * transitions, read-equality across the resolve, the ~1/bucket
    * point-probe fraction, a catalog point lookup, and that
    * [[GraftTable.readRange]] refuses (ranges over hashes are
    * meaningless — the documented degradation). DuckDB replays the
    * mutations relationally over the raw keys. */
  val q330StringKeys = GraftQuery(
    "q330_string_keys",
    (s, dir) => {
      val base = newTempDir("graft_strkey")
      val root = base + "/cust"
      val cust = Tables.customer(s, dir).select(
        concat(lit("c-"), lpad(col("c_custkey").cast("string"), 9, "0"))
          .as("k"),
        col("c_name").as("name"),
        col("c_nationkey").cast("long").as("nation"),
        floor(col("c_acctbal") * 100 + lit(0.5)).cast("long").as("cents"))
      GraftTable.create(s, root, cust, "k", nBuckets = 16,
        hashLayout = true)
      // CoW upsert: reprice nations {3,10,17,24}
      GraftTable.upsert(s, root,
        cust.filter(col("nation") % 7 === 3)
          .withColumn("cents", col("cents") + 1000L), "k")
      // CDC apply (auto MoR policy): delete nations {5,16}, replace
      // {7,20} verbatim at cents = −77
      GraftTable.applyCdcBatch(s, root,
        cust.filter(col("nation") % 11 === 5)
          .withColumn("_op", lit("delete"))
          .unionByName(cust.filter(col("nation") % 13 === 7)
            .withColumn("cents", lit(-77L))
            .withColumn("_op", lit("replace"))), "k")
      // append-only EQDEL ingest: replace nation 15, delete nation 12
      // — zero base files read, raw keys in the sidecar
      GraftTable.appendUpsert(s, root,
        cust.filter(col("nation") === 15)
          .withColumn("cents", lit(123456L))
          .withColumn("_op", lit("replace"))
          .unionByName(cust.filter(col("nation") === 12)
            .withColumn("_op", lit("delete"))), "k",
        opCol = Some("_op"))
      def chk(): Long = GraftTable.read(s, root)
        .agg(sum(xxhash64(col("k"), col("name"), col("nation"),
          col("cents")))).first().getLong(0)
      val eqPending = GraftTable.hasLiveEqDels(s, root,
        GraftTable.latestVersion(s, root))
      val preResolve = chk()
      GraftTable.resolveEqDels(s, root, "k")
      val eqGone = !GraftTable.hasLiveEqDels(s, root,
        GraftTable.latestVersion(s, root))
      val postResolve = chk()
      // hash-range bucketing + bucket layout: one key opens a small
      // fraction of the 16-bucket ledger
      val all0 = GraftTable.snapshotFileLedger(s, root, 0).size
      // probe a key that survives every mutation (nation ≡ 0 mod 5 is
      // untouched by the delete sets) — deterministic: smallest such
      val probe = GraftTable.read(s, root)
        .filter(col("nation") === 0).select(col("k"))
        .orderBy(col("k")).limit(1).collect()(0).getString(0)
      val opened = GraftTable.prunedFileCountKeysAny(s, root, Seq(probe))
      val pointPruned = all0 >= 16 && opened <= math.max(1, all0 / 4)
      // catalog point lookup by the raw string key
      s.conf.set("spark.sql.catalog.gq330", classOf[graft.sources
        .GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.gq330.base", base)
      val pointRow = s.sql(
        s"SELECT cents FROM gq330.cust WHERE k = '$probe'")
        .collect().map(_.getLong(0)).toSeq
      val rangeRefused =
        try { GraftTable.readRange(s, root, "k", 0L, 10L); false }
        catch { case e: IllegalArgumentException =>
          e.getMessage.contains("hash-ledgered") }
      val ok = eqPending && eqGone && preResolve == postResolve &&
        pointPruned && pointRow.length == 1 && rangeRefused
      GraftTable.read(s, root)
        .filter(col("nation") % 5 === 0 || col("nation") === 12)
        .select(col("k"), col("name"), col("nation"), col("cents"))
        .withColumn("ok", lit(ok))
        .orderBy("k")
    },
    Some("""WITH c AS (
           |  SELECT 'c-' || lpad(CAST(c_custkey AS VARCHAR), 9, '0') AS k,
           |    c_name AS name, CAST(c_nationkey AS BIGINT) AS nation,
           |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
           |  FROM customer),
           |m AS (
           |  SELECT k, name, nation,
           |    CASE WHEN nation = 15 THEN 123456
           |         WHEN nation % 13 = 7 THEN -77
           |         WHEN nation % 7 = 3 THEN cents + 1000
           |         ELSE cents END AS cents
           |  FROM c WHERE nation % 11 <> 5 AND nation <> 12)
           |SELECT k, name, nation, cents, true AS ok
           |FROM m WHERE nation % 5 = 0 OR nation = 12
           |ORDER BY k""".stripMargin))

  /** MULTI-COLUMN + GRAIN MATERIALIZED VIEWS (round 16): the MV group
    * key generalizes past one bare column — `GROUP BY cust, days(ts)`
    * is the first MV any warehouse user writes, and the reference's
    * own fact cube is three-dimensional (time×product×location,
    * FactTable.sql:78-110). The group tuple keys the MV table through
    * a hidden composite STRING key (unit-separator join of the group
    * values — exact tuple identity on the hash-ledgered string-key
    * machinery, no collision merging), and both refresh planes stay
    * tuple-keyed: count/sum advances by pure ± delta (source never
    * read), min/max re-aggregates only the dirty (cust, day) tuples.
    * Created through SQL (`GROUP BY cust, days(ts)` with the grain
    * aliased in the select list), mutated, refreshed — DuckDB replays
    * the mutations and the full two-dimensional GROUP BY. */
  val q331MultiGroupMv = GraftQuery(
    "q331_multi_group_mv",
    (s, dir) => {
      val base = newTempDir("graft_mv_multi")
      val src = base + "/src"
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_custkey").cast("long").as("cust"),
        col("o_orderdate").as("ts"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
        .filter(col("k") % 3 === 0)
      GraftTable.create(s, src, orders, "k", nBuckets = 4)
      s.conf.set("spark.sql.catalog.gmvmg", classOf[graft.sources
        .GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.gmvmg.base", base)
      // two independent MVs: creates and refresh lanes overlap (par2,
      // §2.6); source mutations stay sequential (order is the content)
      par2(
        s.sql("CREATE MATERIALIZED VIEW gmvmg.mv AS " +
          "SELECT cust, months(ts) AS mon, count(*) AS n_orders, " +
          "sum(cents) AS cents_sum FROM gmvmg.src GROUP BY cust, months(ts)"),
        GraftMv.createGrouped(s, base + "/mvm", src,
          Seq(MvGroup("cust", "cust"), MvGroup("mon", "months(ts)")),
          Seq(MvAgg("max", "cents", "max_cents"),
            MvAgg("min", "cents", "min_cents")), nBuckets = 4))
      // reprice, insert shifted keys, delete a slice — dirty tuples
      // span months and customers
      GraftTable.upsert(s, src,
        orders.filter(col("k") % 131 === 9)
          .withColumn("cents", lit(-200L)), "k")
      GraftTable.upsert(s, src,
        orders.filter(col("k") % 151 === 6)
          .withColumn("k", col("k") + 7000000L), "k")
      GraftTable.deleteWhere(s, src, col("k") % 113 === 21, "k")
      val ((dirty, noopSql), (dirtyMm, noopMm)) = par2(
        { val d = s.sql("REFRESH MATERIALIZED VIEW gmvmg.mv")
            .collect()(0).getLong(1)
          (d, s.sql("REFRESH MATERIALIZED VIEW gmvmg.mv")
            .collect()(0).getLong(1) == 0L) },
        { val d = GraftMv.refresh(s, base + "/mvm", nBuckets = 4)._2
          (d, GraftMv.refresh(s, base + "/mvm")._2 == 0L) })
      val noop = noopSql && noopMm
      val ok = dirty > 0 && dirtyMm > 0 && noop
      GraftMv.read(s, base + "/mv").as("d")
        .join(GraftMv.read(s, base + "/mvm").as("m"), Seq("cust", "mon"))
        .filter(col("cust") % 7 === 2)
        .select(col("cust"), col("mon"), col("n_orders"),
          col("cents_sum"), col("max_cents"), col("min_cents"))
        .withColumn("ok", lit(ok))
        .orderBy("cust", "mon")
    },
    Some("""WITH o AS (
           |  SELECT CAST(o_orderkey AS BIGINT) AS k,
           |    CAST(o_custkey AS BIGINT) AS cust,
           |    o_orderdate AS ts,
           |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
           |  FROM orders WHERE o_orderkey % 3 = 0),
           |mutated AS (
           |  SELECT k, cust, ts,
           |    CASE WHEN k % 131 = 9 THEN -200 ELSE cents END AS cents
           |  FROM o
           |  UNION ALL
           |  SELECT k + 7000000, cust, ts, cents FROM o WHERE k % 151 = 6),
           |live AS (SELECT * FROM mutated WHERE k % 113 <> 21)
           |SELECT cust,
           |  CAST(year(ts) * 12 + month(ts) - 1 AS BIGINT) AS mon,
           |  count(*) AS n_orders,
           |  CAST(sum(cents) AS BIGINT) AS cents_sum,
           |  CAST(max(cents) AS BIGINT) AS max_cents,
           |  CAST(min(cents) AS BIGINT) AS min_cents,
           |  true AS ok
           |FROM live WHERE cust % 7 = 2
           |GROUP BY cust, mon ORDER BY cust, mon""".stripMargin))

  /** GRAIN-AWARE TRANSPARENT REWRITE + the provably-safe WIDENING
    * (round 16): a `GROUP BY cust, floor(unix_timestamp(ts)/86400.0D)`
    * over the source serves from a `(cust, days(ts))` MV — the rule
    * matches the grain by analyzing the transform against the
    * relation and comparing semantically (the analyzer's pulled-out
    * `_groupingexpression` aliases are inlined back first). EXTRA
    * WHERE conjuncts referencing only BARE group columns post-filter
    * the MV read (group predicates commute with GROUP BY — the one
    * safe subsumption step); `ok` pins served-from-MV for both the
    * exact and the widened query, refusal for a non-group residual,
    * and stale-left-alone after one more source commit. Rows come
    * from the REWRITTEN plans and hash-compare against DuckDB's
    * direct aggregation. */
  val q332MvRewriteGrain = GraftQuery(
    "q332_mv_rewrite_grain",
    (s, dir) => {
      val base = newTempDir("graft_mv_rwg")
      val src = base + "/src"
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_custkey").cast("long").as("cust"),
        col("o_orderdate").as("ts"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
        .filter(col("k") % 4 === 0)
      GraftTable.create(s, src, orders, "k", nBuckets = 4)
      GraftMv.createGrouped(s, base + "/mv", src,
        Seq(MvGroup("cust", "cust"), MvGroup("day", "days(ts)")),
        Seq(MvAgg("count", "", "n"), MvAgg("sum", "cents", "sv")),
        nBuckets = 4)
      s.conf.set("spark.sql.catalog.gmvrg", classOf[graft.sources
        .GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.gmvrg.base", base)
      s.conf.set("spark.graft.mv.rewrite.views", base + "/mv")
      try {
        val grain = "floor(unix_timestamp(ts) / 86400.0D)"
        val q = s.sql(s"SELECT cust, $grain AS day, count(*) AS n_ord, " +
          s"sum(cents) AS cents_sum FROM gmvrg.src " +
          s"WHERE cust % 9 = 4 GROUP BY cust, $grain")
        val servedWidened = scansMv(q, base + "/mv")
        val rows = q.orderBy("cust", "day").collect().toSeq
        // a residual on a NON-group column must leave the plan alone
        val q2 = s.sql(s"SELECT cust, count(*) AS n FROM gmvrg.src " +
          s"WHERE cents > 1000 GROUP BY cust, $grain")
        val refusedNonGroup = !scansMv(q2, base + "/mv")
        // stale: one more commit, same widened query — left alone
        GraftTable.upsert(s, src,
          orders.limit(1).withColumn("k", lit(88888888L)), "k")
        val q3 = s.sql(s"SELECT cust, count(*) AS n FROM gmvrg.src " +
          s"WHERE cust % 9 = 4 GROUP BY cust, $grain")
        val staleLeftAlone = !scansMv(q3, base + "/mv")
        val ok = servedWidened && refusedNonGroup && staleLeftAlone
        import scala.jdk.CollectionConverters._
        s.createDataFrame(rows.asJava, org.apache.spark.sql.types
          .StructType(Seq(
            org.apache.spark.sql.types.StructField("cust",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("day",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("n_ord",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("cents_sum",
              org.apache.spark.sql.types.LongType))))
          .withColumn("ok", lit(ok))
      } finally s.conf.unset("spark.graft.mv.rewrite.views")
    },
    Some("""WITH o AS (
           |  SELECT CAST(o_custkey AS BIGINT) AS cust,
           |    o_orderdate AS ts,
           |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
           |  FROM orders WHERE o_orderkey % 4 = 0)
           |SELECT cust,
           |  CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS day,
           |  count(*) AS n_ord,
           |  CAST(sum(cents) AS BIGINT) AS cents_sum, true AS ok
           |FROM o WHERE cust % 9 = 4
           |GROUP BY cust, day ORDER BY cust, day""".stripMargin))

  /** AUTO-MAINTENANCE ON THE STREAMING SINK (round 16): the probe
    * ladder gets its scheduler — with `graft.maintenance.auto = true`
    * (table property; `.option("maintenance", "auto")` on the stream
    * is the other spelling) every Nth committed version runs the
    * three FREE probes post-commit: pending equality deletes resolve
    * to DVs, dirty DVs absorb into rewrites, small files bin-pack.
    * Twelve eqdel-mode CDC batches land with NO manual verbs; `ok`
    * pins that maintenance commits interleaved (version count >
    * batch count), that the eqdel debt was actually retired along
    * the way (some recent version is pending-free), and that the
    * live file count stays BOUNDED (vs one-plus files per batch
    * forever without compaction). Content hash-compares against
    * DuckDB's replay of all twelve replace batches. This is the
    * difference between "the probes exist" and "a continuous 100 TB
    * CDC sink can run for a year unattended". */
  val q333AutoMaintenance = GraftQuery(
    "q333_auto_maintenance",
    (s, dir) => {
      val base = newTempDir("graft_auto_maint")
      val root = base + "/t"
      // a half-slice keeps the lifecycle gate proportionate (the q324
      // rule): the ladder's cost model is scale-free
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_orderpriority").as("prio"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
        .filter(col("k") % 2 === 0)
      GraftTable.create(s, root, orders, "k", nBuckets = 4)
      // gate-scale thresholds: fire the ladder at KB sizes the way the
      // defaults fire it at TB sizes
      GraftTable.setTableProperty(s, root, "graft.maintenance.auto", "true")
      GraftTable.setTableProperty(s, root,
        "graft.maintenance.everyBatches", "5")
      GraftTable.setTableProperty(s, root,
        "graft.eqdel.maxPendingRatio", "0.001")
      GraftTable.setTableProperty(s, root,
        "graft.dv.maxTableDirtyRatio", "0.001")
      (1 to 10).foreach { b =>
        val batch = orders.filter(col("k") % 997 === b)
          .withColumn("cents", lit(-b.toLong))
        GraftTable.ingestBatch(s, root, batch, "k", batchId = b.toLong,
          mode = "eqdel")
      }
      val head = GraftTable.latestVersion(s, root)
      // maintenance commits interleaved: more versions than batches
      val maintained = head > 10 + 2 // create is v0; props are metadata
      // the eqdel debt was retired at least once along the way
      val retired = (math.max(0, head - 6) to head)
        .exists(v => !GraftTable.hasLiveEqDels(s, root, v))
      // bounded layout: without compaction 10 batches leave ≥ 14 live
      // files and growing; the ladder keeps the ledger small
      val files = GraftTable.snapshotFileLedger(s, root, head).size
      val bounded = files <= 10
      val ok = maintained && retired && bounded
      GraftTable.read(s, root)
        .withColumn("bucket", col("k") % 10)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
          sum("cents").as("cents_sum"),
          sum(conv(substring(md5(concat_ws("|", col("k").cast("string"),
            col("prio"), col("cents").cast("string"))), 1, 8), 16, 10)
            .cast("long")).as("row_sum"))
        .withColumn("ok", lit(ok))
        .orderBy("bucket")
    },
    Some("""WITH o AS (
           |  SELECT CAST(o_orderkey AS BIGINT) AS k,
           |    o_orderpriority AS prio,
           |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
           |  FROM orders WHERE o_orderkey % 2 = 0),
           |merged AS (
           |  SELECT k, prio,
           |    CASE WHEN k % 997 BETWEEN 1 AND 10 THEN -(k % 997)
           |      ELSE cents END AS cents
           |  FROM o)
           |SELECT k % 10 AS bucket, count(*) AS n_rows,
           |  CAST(sum(cents) AS BIGINT) AS cents_sum,
           |  CAST(sum(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
           |    prio || '|' || CAST(cents AS VARCHAR)), 1, 8))::BIGINT)
           |    AS BIGINT) AS row_sum,
           |  true AS ok
           |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin))

  /** BUCKET-COUNT EVOLUTION (round 16): `ALTER TABLE … SET LAYOUT
    * HASH BUCKETS n` re-lays the table at a new bucket count in ONE
    * commit — the verb a 100×-grown table needs instead of a manual
    * copy. The new count publishes as a VERSIONED, token-named layout
    * sidecar atomic with the manifest: `ok` pins that the
    * pre-rebucket snapshot still resolves the OLD count (time travel
    * never sees a mixed layout), that the post-rebucket
    * fact⋈fact join runs with ZERO exchanges at the new count (both
    * sides re-bucketed — the SPJ contract survives evolution), and
    * that a point probe opens ~1/32 of the files. Rows hash-compare
    * against DuckDB through the whole lifecycle. */
  val q334BucketEvolution = GraftQuery(
    "q334_bucket_evolution",
    (s, dir) => {
      val base = newTempDir("graft_rebucket")
      val ord = Tables.orders(s, dir).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_orderpriority").as("prio"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      val li = Tables.lineitem(s, dir).select(
        col("l_orderkey").cast("long").as("k"),
        col("l_quantity").cast("long").as("qty"))
      GraftTable.create(s, base + "/ord", ord, "k", nBuckets = 8,
        hashLayout = true)
      GraftTable.create(s, base + "/li", li, "k", nBuckets = 8,
        hashLayout = true)
      // mutate before evolving: a DV and a reprice must fold in
      GraftTable.deleteWhereDv(s, base + "/ord", col("k") % 201 === 7)
      GraftTable.upsert(s, base + "/ord",
        ord.filter(col("k") % 301 === 5)
          .withColumn("cents", lit(-99L)), "k")
      val vOld = GraftTable.latestVersion(s, base + "/ord")
      s.conf.set("spark.sql.catalog.grbke", classOf[graft.sources
        .GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.grbke.base", base)
      s.sql("ALTER TABLE grbke.ord SET LAYOUT HASH BUCKETS 32")
      s.sql("ALTER TABLE grbke.li SET LAYOUT HASH BUCKETS 32")
      val vNew = GraftTable.latestVersion(s, base + "/ord")
      val layered =
        GraftTable.hashLayout(s, base + "/ord", vNew).contains(32) &&
        GraftTable.hashLayout(s, base + "/ord", vOld).contains(8)
      val all0 = GraftTable.snapshotFileLedger(s, base + "/ord", vNew).size
      val pruned = GraftTable.prunedFileCountKeys(s, base + "/ord",
        Seq(96L)) <= math.max(1, all0 / 16) && all0 >= 32
      val confs = Seq(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false")
      val old = confs.map { case (kk, _) => kk -> s.conf.getOption(kk) }
      try {
        confs.foreach { case (kk, vv) => s.conf.set(kk, vv) }
        val j = s.sql(
          "SELECT o.prio, count(*) AS n_items, sum(l.qty) AS qty_sum, " +
            "sum(o.cents) AS ord_sum " +
            "FROM grbke.ord o JOIN grbke.li l ON o.k = l.k " +
            "GROUP BY o.prio ORDER BY o.prio")
        val rows = j.collect().toSeq
        val smjs = j.queryExecution.executedPlan.collect {
          case jn: org.apache.spark.sql.execution.joins.SortMergeJoinExec =>
            jn
        }
        val spj = smjs.nonEmpty && smjs.forall(_.collect {
          case e: org.apache.spark.sql.execution.exchange
            .ShuffleExchangeExec => e
        }.isEmpty)
        val ok = layered && pruned && spj
        import scala.jdk.CollectionConverters._
        s.createDataFrame(rows.asJava, org.apache.spark.sql.types
          .StructType(Seq(
            org.apache.spark.sql.types.StructField("prio",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("n_items",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("qty_sum",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("ord_sum",
              org.apache.spark.sql.types.LongType))))
          .withColumn("ok", lit(ok))
      } finally old.foreach {
        case (kk, Some(vv)) => s.conf.set(kk, vv)
        case (kk, None) => s.conf.unset(kk)
      }
    },
    Some("""WITH o AS (
           |  SELECT CAST(o_orderkey AS BIGINT) AS k,
           |    o_orderpriority AS prio,
           |    CASE WHEN o_orderkey % 301 = 5 THEN -99
           |      ELSE CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
           |      END AS cents
           |  FROM orders WHERE o_orderkey % 201 <> 7),
           |l AS (
           |  SELECT CAST(l_orderkey AS BIGINT) AS k,
           |    CAST(l_quantity AS BIGINT) AS qty
           |  FROM lineitem)
           |SELECT prio, count(*) AS n_items,
           |  CAST(sum(qty) AS BIGINT) AS qty_sum,
           |  CAST(sum(cents) AS BIGINT) AS ord_sum, true AS ok
           |FROM o JOIN l ON o.k = l.k
           |GROUP BY prio ORDER BY prio""".stripMargin))

  /** CONFLICTED BRANCH MERGE — the OVERWRITE strategy (round 16):
    * [[GraftTable.mergeBranch]] rightly refuses when a key was
    * changed by BOTH main and the branch since the base, but the
    * workflow dead-ended there — the branch could never land without
    * recreating it. `MERGE BRANCH w INTO t OVERWRITE` is the
    * deliberate escape hatch (Iceberg cherry-pick semantics): branch
    * wins on every key it changed, main's updates to OTHER keys
    * survive. `ok` pins the default still refusing (naming the
    * OVERWRITE spelling) and the relational outcome hash-compares
    * against DuckDB's replay of branch-wins-over-main. */
  val q335BranchMergeOverwrite = GraftQuery(
    "q335_branch_merge_overwrite",
    (s, dir) => {
      val base = newTempDir("graft_merge_ow")
      val root = base + "/t"
      val cust = Tables.customer(s, dir).select(
        col("c_custkey").cast("long").as("k"),
        col("c_nationkey").cast("long").as("nation"),
        floor(col("c_acctbal") * 100 + lit(0.5)).cast("long").as("cents"))
      GraftTable.create(s, root, cust, "k", nBuckets = 4)
      GraftTable.createBranch(s, root, "wip")
      // branch: reprice k%7==1 (includes k%21==1 — the conflict set);
      // main: reprice k%21==1 and delete k%23==3
      GraftTable.upsertBranch(s, root, "wip",
        cust.filter(col("k") % 7 === 1)
          .withColumn("cents", lit(-111L)), "k")
      GraftTable.upsert(s, root,
        cust.filter(col("k") % 21 === 1)
          .withColumn("cents", lit(-222L)), "k")
      GraftTable.deleteWhere(s, root, col("k") % 23 === 3, "k")
      val refused = GraftTable.mergeBranch(s, root, "wip").isLeft
      s.conf.set("spark.sql.catalog.gmow", classOf[graft.sources
        .GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.gmow.base", base)
      val sqlRefused =
        try { s.sql("MERGE BRANCH wip INTO gmow.t").collect(); false }
        catch { case e: IllegalStateException =>
          e.getMessage.contains("OVERWRITE") }
      s.sql("MERGE BRANCH wip INTO gmow.t OVERWRITE").collect()
      val ok = refused && sqlRefused
      GraftTable.read(s, root)
        .filter(col("k") % 11 === 1)
        .select(col("k"), col("nation"), col("cents"))
        .withColumn("ok", lit(ok))
        .orderBy("k")
    },
    Some("""WITH c AS (
           |  SELECT CAST(c_custkey AS BIGINT) AS k,
           |    CAST(c_nationkey AS BIGINT) AS nation,
           |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
           |  FROM customer),
           |-- branch wins on every key it changed (k%7==1, including
           |-- the conflicted k%21==1); main's delete of k%23==3
           |-- survives UNLESS the branch re-upserted that key (the
           |-- branch's replace re-inserts it — branch wins)
           |merged AS (
           |  SELECT k, nation,
           |    CASE WHEN k % 7 = 1 THEN -111
           |         WHEN k % 21 = 1 THEN -222 ELSE cents END AS cents
           |  FROM c
           |  WHERE k % 23 <> 3 OR k % 7 = 1)
           |SELECT k, nation, cents, true AS ok
           |FROM merged WHERE k % 11 = 1 ORDER BY k""".stripMargin))

  /** PLUGGABLE COMMIT-LOG STORE (round 16): every manifest publish
    * reduces to one conditional-put, and the seam now makes that
    * explicit — [[LocalFsLogStore]] (link(2) / exists+rename, the
    * default) and [[InMemoryCasLogStore]] (the compare-and-swap
    * contract an OBJECT-STORE deployment must supply, the documented
    * Delta LogStore shape). The gate runs a full upsert/delete/read
    * lifecycle UNDER the CAS store — proving the whole commit
    * protocol needs nothing the CAS primitive doesn't give — and
    * races 4 publishers at one path under BOTH stores; `ok` pins
    * exactly-one-winner every round (a both-win was the round-14
    * corruption class). Content hash-compares against DuckDB. */
  val q336CasCommitLog = GraftQuery(
    "q336_cas_commit_log",
    (s, dir) => {
      val base = newTempDir("graft_cas")
      val root = base + "/t"
      val cust = Tables.customer(s, dir).select(
        col("c_custkey").cast("long").as("k"),
        col("c_nationkey").cast("long").as("nation"),
        floor(col("c_acctbal") * 100 + lit(0.5)).cast("long").as("cents"))
      val lifecycleOk = GraftTable.withLogStore(
        new graft.sources.InMemoryCasLogStore) {
        GraftTable.create(s, root, cust, "k", nBuckets = 4)
        GraftTable.upsert(s, root,
          cust.filter(col("k") % 31 === 2)
            .withColumn("cents", lit(-5L)), "k")
        GraftTable.deleteWhere(s, root, col("k") % 41 === 3, "k")
        GraftTable.latestVersion(s, root) == 2
      }
      // the publish primitive: 4 racers, one path, both stores
      val hconf = s.sparkContext.hadoopConfiguration
      val raceOk = Seq(graft.sources.LocalFsLogStore,
        new graft.sources.InMemoryCasLogStore).forall { store =>
        (1 to 10).forall { round =>
          val dest = new org.apache.hadoop.fs.Path(base,
            f"race-${store.getClass.getSimpleName}-$round%03d.pub")
          val fsys = dest.getFileSystem(hconf)
          val wins = new java.util.concurrent.atomic.AtomicInteger(0)
          val latch = new java.util.concurrent.CountDownLatch(1)
          val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
          (1 to 4).foreach { i =>
            pool.submit(new Runnable {
              override def run(): Unit = {
                latch.await()
                try { store.publish(fsys, dest, s"w$i")
                  wins.incrementAndGet(); () }
                catch {
                  case _: GraftTable.ConcurrentCommitException => ()
                }
              }
            })
          }
          latch.countDown()
          pool.shutdown()
          pool.awaitTermination(30,
            java.util.concurrent.TimeUnit.SECONDS) && wins.get() == 1
        }
      }
      val ok = lifecycleOk && raceOk
      GraftTable.read(s, root)
        .filter(col("k") % 9 === 4)
        .select(col("k"), col("nation"), col("cents"))
        .withColumn("ok", lit(ok))
        .orderBy("k")
    },
    Some("""WITH c AS (
           |  SELECT CAST(c_custkey AS BIGINT) AS k,
           |    CAST(c_nationkey AS BIGINT) AS nation,
           |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
           |  FROM customer),
           |merged AS (
           |  SELECT k, nation,
           |    CASE WHEN k % 31 = 2 THEN -5 ELSE cents END AS cents
           |  FROM c WHERE k % 41 <> 3)
           |SELECT k, nation, cents, true AS ok
           |FROM merged WHERE k % 9 = 4 ORDER BY k""".stripMargin))


  /** ROLLUP SUBSUMPTION (round 17): the single most common MV rewrite
    * in practice (Goldstein & Larson's rollup case, SIGMOD '01) — an
    * MV at (cust, months(ts)) transparently serves `GROUP BY cust`
    * (count/sum re-aggregate by SUM, avg from the hidden exact
    * (sum, count) pair — never avg-of-avgs) and the GLOBAL aggregate
    * (no GROUP BY at all). At 100 TB this turns every drill-up over a
    * maintained cube into a read of the cube, not the fact. `ok` pins
    *: both plans actually served from the MV, the global row equals a
    * direct source aggregation, and a post-rollup source commit
    * disables the rewrite (stale-left-alone). Rows come from the
    * REWRITTEN per-cust plan and hash-compare against DuckDB's direct
    * aggregation over the mutated source. */
  val q337MvRollup = GraftQuery(
    "q337_mv_rollup_rewrite",
    (s, dir) => {
      val base = newTempDir("graft_mv_rollup")
      val src = base + "/src"
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_custkey").cast("long").as("cust"),
        col("o_orderdate").as("ts"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
        .filter(col("k") % 5 === 0)
      GraftTable.create(s, src, orders, "k", nBuckets = 4)
      GraftMv.createGrouped(s, base + "/mv", src,
        Seq(MvGroup("cust", "cust"), MvGroup("mon", "months(ts)")),
        Seq(MvAgg("count", "", "n"), MvAgg("sum", "cents", "sv"),
          MvAgg("avg", "cents", "av")), nBuckets = 4)
      // mutate + refresh: the rollup must serve the REFRESHED state
      GraftTable.upsert(s, src, orders.filter(col("k") % 97 === 3)
        .withColumn("cents", lit(-150L)), "k")
      GraftTable.deleteWhere(s, src, col("k") % 89 === 11, "k")
      GraftMv.refresh(s, base + "/mv", nBuckets = 4)
      s.conf.set("spark.sql.catalog.gmvru", classOf[graft.sources
        .GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.gmvru.base", base)
      s.conf.set("spark.graft.mv.rewrite.views", base + "/mv")
      try {
        val q = s.sql("SELECT cust, count(*) AS n_ord, " +
          "sum(cents) AS cents_sum, round(avg(cents), 4) AS avg_cents " +
          "FROM gmvru.src GROUP BY cust")
        val servedRollup = scansMv(q, base + "/mv")
        val rows = q.filter(col("cust") % 6 === 1)
          .orderBy("cust").collect().toSeq
        val g = s.sql(
          "SELECT count(*) AS c, sum(cents) AS s FROM gmvru.src")
        val servedGlobal = scansMv(g, base + "/mv")
        val globalRow = g.collect()(0)
        val wantGlobal = GraftTable.read(s, src)
          .agg(count(lit(1)), sum("cents")).collect()(0)
        // staleness: one more commit, the rollup query refuses
        GraftTable.upsert(s, src,
          orders.limit(1).withColumn("k", lit(77777777L)), "k")
        val q3 = s.sql(
          "SELECT cust, count(*) AS n FROM gmvru.src GROUP BY cust")
        val staleLeftAlone = !scansMv(q3, base + "/mv")
        val ok = servedRollup && servedGlobal && staleLeftAlone &&
          globalRow.getLong(0) == wantGlobal.getLong(0) &&
          globalRow.getLong(1) == wantGlobal.getLong(1)
        import scala.jdk.CollectionConverters._
        s.createDataFrame(rows.asJava, org.apache.spark.sql.types
          .StructType(Seq(
            org.apache.spark.sql.types.StructField("cust",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("n_ord",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("cents_sum",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("avg_cents",
              org.apache.spark.sql.types.DoubleType))))
          .withColumn("ok", lit(ok))
      } finally s.conf.unset("spark.graft.mv.rewrite.views")
    },
    Some("""WITH o AS (
           |  SELECT CAST(o_orderkey AS BIGINT) AS k,
           |    CAST(o_custkey AS BIGINT) AS cust,
           |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
           |  FROM orders WHERE o_orderkey % 5 = 0),
           |mut AS (
           |  SELECT k, cust,
           |    CASE WHEN k % 97 = 3 THEN -150 ELSE cents END AS cents
           |  FROM o WHERE k % 89 <> 11)
           |SELECT cust, count(*) AS n_ord,
           |  CAST(sum(cents) AS BIGINT) AS cents_sum,
           |  round(avg(cents), 4) AS avg_cents, true AS ok
           |FROM mut WHERE cust % 6 = 1
           |GROUP BY cust ORDER BY cust""".stripMargin))


  /** STAR-JOIN MATERIALIZED VIEW (round 17): the denormalized
    * fact⋈dim MV every warehouse maintains — the reference's own
    * analytics are this shape (revenue by nation =
    * orders⋈customer⋈nation, FactTable.sql:15-110 / gate q02). The MV
    * aggregates orders⋈customer BY NATION; refresh folds BOTH change
    * feeds — order repricings/deletes against the new dim state, and
    * a customer switching nations (a DIM update that MOVES fact rows
    * between groups) against the old fact — via the telescoping
    * decomposition, cost O(affected rows) never O(fact⋈dims). The
    * transparent rewrite then serves the star query itself AND its
    * GLOBAL rollup from the MV; a dim commit makes it stale exactly
    * like a fact commit. Rows come from the REWRITTEN star plan and
    * hash-compare against DuckDB's direct join+aggregation replay. */
  val q338StarJoinMv = GraftQuery(
    "q338_star_join_mv",
    (s, dir) => {
      val base = newTempDir("graft_mv_star")
      val fact = base + "/fact"; val dim = base + "/cust"
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_custkey").cast("long").as("cust"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
        .filter(col("k") % 3 === 1)
      val customer = Tables.customer(s, dir).select(
        col("c_custkey").cast("long").as("ck"),
        col("c_nationkey").cast("long").as("nation"))
      // fact and dim are independent tables: creates overlap, and the
      // fact/dim mutation planes overlap too (per table the commits
      // stay sequential — order is the content; the refresh window
      // reads both heads only after both lanes land)
      par2(
        GraftTable.create(s, fact, orders, "k", nBuckets = 4),
        GraftTable.create(s, dim, customer, "ck", nBuckets = 2))
      GraftMv.createJoined(s, base + "/mv", fact, Seq(dim -> "cust"),
        Seq(MvGroup("nation", "nation")),
        Seq(MvAgg("count", "", "n_ord"), MvAgg("sum", "cents", "cents_sum")),
        nBuckets = 2)
      par2(
        { // FACT deltas: reprice + delete
          GraftTable.upsert(s, fact, orders.filter(col("k") % 101 === 7)
            .withColumn("cents", lit(-300L)), "k")
          GraftTable.deleteWhere(s, fact, col("k") % 127 === 9, "k") },
        // DIM delta: customers MOVE nations
        GraftTable.upsert(s, dim,
          customer.filter(col("ck") % 13 === 4)
            .withColumn("nation", (col("nation") + 5) % 25), "ck"))
      val (_, dirty) = GraftMv.refresh(s, base + "/mv", nBuckets = 2)
      val noop = GraftMv.refresh(s, base + "/mv")._2 == 0L
      s.conf.set("spark.sql.catalog.gmvsj", classOf[graft.sources
        .GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.gmvsj.base", base)
      s.conf.set("spark.graft.mv.rewrite.views", base + "/mv")
      try {
        val q = s.sql("SELECT nation, count(*) AS n_ord, " +
          "sum(cents) AS cents_sum FROM gmvsj.fact f " +
          "JOIN gmvsj.cust c ON f.cust = c.ck GROUP BY nation")
        val servedStar = scansMv(q, base + "/mv")
        val rows = q.orderBy("nation").collect().toSeq
        val g = s.sql("SELECT count(*) AS c, sum(cents) AS sc " +
          "FROM gmvsj.fact f JOIN gmvsj.cust c ON f.cust = c.ck")
        val servedGlobal = scansMv(g, base + "/mv")
        val globalRow = g.collect()(0)
        // a DIM commit alone must disable the rewrite
        GraftTable.upsert(s, dim,
          customer.limit(1).withColumn("ck", lit(99999999L)), "ck")
        val q2 = s.sql("SELECT nation, count(*) AS n FROM gmvsj.fact f " +
          "JOIN gmvsj.cust c ON f.cust = c.ck GROUP BY nation")
        val staleDim = !scansMv(q2, base + "/mv")
        val ok = dirty > 0 && noop && servedStar && servedGlobal &&
          staleDim &&
          globalRow.getLong(0) == rows.map(_.getLong(1)).sum &&
          globalRow.getLong(1) == rows.map(_.getLong(2)).sum
        import scala.jdk.CollectionConverters._
        s.createDataFrame(rows.asJava, org.apache.spark.sql.types
          .StructType(Seq(
            org.apache.spark.sql.types.StructField("nation",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("n_ord",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("cents_sum",
              org.apache.spark.sql.types.LongType))))
          .withColumn("ok", lit(ok))
      } finally s.conf.unset("spark.graft.mv.rewrite.views")
    },
    Some("""WITH o AS (
           |  SELECT CAST(o_orderkey AS BIGINT) AS k,
           |    CAST(o_custkey AS BIGINT) AS cust,
           |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
           |  FROM orders WHERE o_orderkey % 3 = 1),
           |c AS (
           |  SELECT CAST(c_custkey AS BIGINT) AS ck,
           |    CAST(c_nationkey AS BIGINT) AS nation
           |  FROM customer),
           |o2 AS (
           |  SELECT k, cust,
           |    CASE WHEN k % 101 = 7 THEN -300 ELSE cents END AS cents
           |  FROM o WHERE k % 127 <> 9),
           |c2 AS (
           |  SELECT ck,
           |    CASE WHEN ck % 13 = 4 THEN (nation + 5) % 25
           |         ELSE nation END AS nation
           |  FROM c)
           |SELECT nation, count(*) AS n_ord,
           |  CAST(sum(cents) AS BIGINT) AS cents_sum, true AS ok
           |FROM o2 JOIN c2 ON o2.cust = c2.ck
           |GROUP BY nation ORDER BY nation""".stripMargin))


  /** LEAF-COLUMN FILE SKIPPING (round 17, the Delta default): every
    * write ledgers per-file [min, max] for EVERY integral/date/
    * timestamp non-key column, and the scan prunes files on predicates
    * over any of them — before this, a predicate on an undeclared
    * column scanned every file at any table size. `ok` pins the
    * pruning actually bit (a cents-range probe opens a strict subset
    * of the snapshot's files; an IS NULL probe prunes null-free files)
    * while the returned rows prove exactness: the PRUNED scan's answer
    * hash-compares against DuckDB's full-scan answer. */
  val q339LeafStats = GraftQuery(
    "q339_leaf_stats_skipping",
    (s, dir) => {
      val base = newTempDir("graft_leaf_stats")
      val root = base + "/t"
      // `seq` is key-monotone (the created-at / autoincrement shape
      // real facts carry): key-ranged files then hold NARROW seq
      // intervals, which is exactly when a seq predicate should skip
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_custkey").cast("long").as("cust"),
        (col("o_orderkey").cast("long") * 3 +
          col("o_orderkey").cast("long") % 7).as("seq"),
        when(col("o_orderkey") % 7 === 0, lit(null).cast("long"))
          .otherwise(col("o_custkey").cast("long")).as("ref"))
      GraftTable.create(s, root, orders, "k", nBuckets = 8)
      val v = GraftTable.latestVersion(s, root)
      val all = GraftTable.prunedFileCountStats(s, root,
        version = Some(v))
      val few = GraftTable.prunedFileCountStats(s, root,
        colRanges = Map("seq" -> (3000L, 6000L)), version = Some(v))
      val nullFew = GraftTable.prunedFileCountStats(s, root,
        isNullCols = Set("ref"), version = Some(v))
      s.conf.set("spark.sql.catalog.glfs", classOf[graft.sources
        .GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.glfs.base", base)
      val rows = s.sql("SELECT k, cust, seq FROM glfs.t " +
        "WHERE seq >= 3000 AND seq <= 6000 AND ref IS NOT NULL")
        .orderBy("k").collect().toSeq
      val ok = all >= 8 && few < all && nullFew <= all
      import scala.jdk.CollectionConverters._
      s.createDataFrame(rows.asJava, org.apache.spark.sql.types
        .StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("cust",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("seq",
            org.apache.spark.sql.types.LongType))))
        .withColumn("ok", lit(ok))
    },
    Some("""WITH o AS (
           |  SELECT CAST(o_orderkey AS BIGINT) AS k,
           |    CAST(o_custkey AS BIGINT) AS cust,
           |    CAST(o_orderkey AS BIGINT) * 3 +
           |      CAST(o_orderkey AS BIGINT) % 7 AS seq,
           |    CASE WHEN o_orderkey % 7 = 0 THEN NULL
           |         ELSE CAST(o_custkey AS BIGINT) END AS ref
           |  FROM orders)
           |SELECT k, cust, seq, true AS ok FROM o
           |WHERE seq >= 3000 AND seq <= 6000
           |  AND ref IS NOT NULL
           |ORDER BY k""".stripMargin))

  /** COMPOSED partition transform ⊕ hash layout (round 17, Iceberg's
    * multi-field `[months(date), bucket(n, key)]` spec): previously
    * mutually exclusive — a 100 TB fact had to choose between
    * shuffle-free storage-partitioned key joins and time pruning. Now
    * one layout provides both: every file stays mono-bucket (the SPJ
    * naming contract) while each bucket splits into transform-
    * contiguous files with narrow recorded value ranges. `ok` pins:
    * all files mono-bucket, a point probe bucket-prunes, a one-month
    * pval probe opens a strict subset, and the composed content
    * checksums identically to the input. Rows: a month-slice
    * aggregation from the composed table vs DuckDB. */
  val q340ComposedLayout = GraftQuery(
    "q340_composed_layout",
    (s, dir) => {
      val base = newTempDir("graft_composed")
      val root = base + "/t"
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_orderdate").cast("timestamp").as("ts"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      GraftTable.create(s, root, orders, "k", nBuckets = 4,
        partitioning = Some(graft.sources.MonthsPartition("ts")),
        hashLayout = true)
      val v = GraftTable.latestVersion(s, root)
      val ledger = GraftTable.snapshotFileLedger(s, root, v)
      val monoBucket = ledger.forall(e =>
        GraftTable.fileBucket(e._1).isDefined)
      val all = GraftTable.prunedFileCountStats(s, root,
        version = Some(v))
      // months-since-epoch of 1995-06: 25*12 + 5
      val oneMonth = GraftTable.prunedFileCountStats(s, root,
        pvals = Some(Seq(25L * 12 + 5)), version = Some(v))
      val point = GraftTable.prunedFileCountKeys(s, root, Seq(7L))
      s.conf.set("spark.sql.catalog.gcmp", classOf[graft.sources
        .GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.gcmp.base", base)
      val rows = s.sql("SELECT count(*) AS n, sum(cents) AS sc " +
        "FROM gcmp.t WHERE ts >= timestamp'1995-06-01 00:00:00' " +
        "AND ts < timestamp'1995-07-01 00:00:00'").collect().toSeq
      val ok = monoBucket && all > 4 && oneMonth < all && point < all
      import scala.jdk.CollectionConverters._
      s.createDataFrame(rows.asJava, org.apache.spark.sql.types
        .StructType(Seq(
          org.apache.spark.sql.types.StructField("n",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("sc",
            org.apache.spark.sql.types.LongType))))
        .withColumn("ok", lit(ok))
    },
    Some("""SELECT count(*) AS n,
           |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
           |    AS BIGINT) AS sc, true AS ok
           |FROM orders
           |WHERE o_orderdate >= DATE '1995-06-01'
           |  AND o_orderdate < DATE '1995-07-01'""".stripMargin))


  /** CONCURRENT MV REFRESH: a refresh is one commit on the MV table
    * that publishes the window's rows together with the advanced
    * cursor (the `#cursor` manifest header) — racing refreshers each
    * plan the window; one publish lands and the losers find the cursor
    * at the heads, and a FOREIGN commit on the MV table carries the
    * old cursor forward, so a later refresh applies the window once
    * instead of losing or doubling the delta. No leases, no clocks.
    * The gate races 4 refresher threads over 2 mutation rounds, then
    * lands a restore-to-head on the MV between a source upsert and the
    * refresh, and hash-compares the MV's final content against
    * DuckDB's direct replay — a double-apply would double the counts. */
  val q341ConcurrentMvRefresh = GraftQuery(
    "q341_concurrent_mv_refresh",
    (s, dir) => {
      val base = newTempDir("graft_mv_conc")
      val src = base + "/src"
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_custkey").cast("long").as("cust"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
        .filter(col("k") % 4 === 2)
      GraftTable.create(s, src, orders, "k", nBuckets = 4)
      GraftMv.create(s, base + "/mv", src, "cust",
        Seq(MvAgg("count", "", "n_ord"),
          MvAgg("sum", "cents", "cents_sum")), nBuckets = 2)
      var racersOk = true
      (1 to 2).foreach { round =>
        GraftTable.upsert(s, src,
          orders.filter(col("k") % (89 + round) === 7)
            .withColumn("cents", lit(-100L * round)), "k")
        GraftTable.deleteWhere(s, src, col("k") % (113 + round) === 9, "k")
        val errs =
          new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
        val latch = new java.util.concurrent.CountDownLatch(1)
        (1 to 4).foreach { _ =>
          pool.submit(new Runnable {
            override def run(): Unit = try {
              latch.await(); GraftMv.refresh(s, base + "/mv"); ()
            } catch { case e: Throwable => errs.add(e) }
          })
        }
        latch.countDown(); pool.shutdown()
        racersOk &&= pool.awaitTermination(180,
          java.util.concurrent.TimeUnit.SECONDS) && errs.isEmpty
      }
      // FOREIGN COMMIT: a restore-to-head on the MV lands between the
      // next source window and its refresh — the window must still
      // apply exactly once
      GraftTable.upsert(s, src,
        orders.limit(50).withColumn("cents", lit(12345L)), "k")
      GraftTable.restore(s, base + "/mv",
        GraftTable.latestVersion(s, base + "/mv"))
      val (_, stealDirty) = GraftMv.refresh(s, base + "/mv")
      val stealOk = stealDirty > 0
      val ok = racersOk && stealOk
      GraftMv.read(s, base + "/mv")
        .filter(col("cust") % 5 === 2)
        .select(col("cust"), col("n_ord"), col("cents_sum"))
        .withColumn("ok", lit(ok))
        .orderBy("cust")
    },
    Some("""WITH o AS (
           |  SELECT CAST(o_orderkey AS BIGINT) AS k,
           |    CAST(o_custkey AS BIGINT) AS cust,
           |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
           |  FROM orders WHERE o_orderkey % 4 = 2),
           |r1 AS (
           |  SELECT k, cust,
           |    CASE WHEN k % 90 = 7 THEN -100 ELSE cents END AS cents
           |  FROM o WHERE k % 114 <> 9),
           |r2 AS (
           |  SELECT k, cust,
           |    CASE WHEN k % 91 = 7 THEN -200 ELSE cents END AS cents
           |  FROM r1 WHERE k % 115 <> 9),
           |-- the final upsert repriced the first 50 orders BY KEY
           |-- ORDER of the ORIGINAL slice that are still live
           |first50 AS (
           |  SELECT k FROM o ORDER BY k LIMIT 50),
           |live AS (
           |  SELECT r2.k, r2.cust,
           |    CASE WHEN f.k IS NOT NULL THEN 12345 ELSE r2.cents END
           |      AS cents
           |  FROM r2 LEFT JOIN first50 f ON r2.k = f.k)
           |SELECT cust, count(*) AS n_ord,
           |  CAST(sum(cents) AS BIGINT) AS cents_sum, true AS ok
           |FROM live WHERE cust % 5 = 2
           |GROUP BY cust ORDER BY cust""".stripMargin))


  /** TIME-HIERARCHY MV ROLLUP (round 17): one MV at the FINEST grain
    * serves the whole calendar hierarchy — `(cust, days(ts))` answers
    * GROUP BY months(ts) and GROUP BY years(ts) by re-aggregation
    * (the derived month/year is an exact function of the stored UTC
    * day number; the rule guards on a UTC session). At 100 TB this
    * means ONE maintained daily cube replaces the
    * daily/monthly/yearly rollup chain the reference rebuilds
    * wholesale (fact_staging1..3). `ok` pins: the months query and
    * the years+global query both served from the MV AFTER a
    * delta refresh, and the years answer equals a direct
    * recomputation. Rows: the months rollup vs DuckDB. */
  val q342MvHierarchyRollup = GraftQuery(
    "q342_mv_hierarchy_rollup",
    (s, dir) => {
      val base = newTempDir("graft_mv_hier")
      val src = base + "/src"
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_custkey").cast("long").as("cust"),
        col("o_orderdate").as("ts"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
        .filter(col("k") % 6 === 3)
      GraftTable.create(s, src, orders, "k", nBuckets = 4)
      GraftMv.createGrouped(s, base + "/mv", src,
        Seq(MvGroup("cust", "cust"), MvGroup("day", "days(ts)")),
        Seq(MvAgg("count", "", "n"), MvAgg("sum", "cents", "sv")),
        nBuckets = 4)
      GraftTable.upsert(s, src, orders.filter(col("k") % 83 === 5)
        .withColumn("cents", lit(-250L)), "k")
      GraftTable.deleteWhere(s, src, col("k") % 97 === 13, "k")
      GraftMv.refresh(s, base + "/mv", nBuckets = 4)
      s.conf.set("spark.sql.catalog.gmvhr", classOf[graft.sources
        .GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.gmvhr.base", base)
      s.conf.set("spark.graft.mv.rewrite.views", base + "/mv")
      try {
        val t = s.table("gmvhr.src")
        val months = graft.sources.PartitionTransform
          .parse("months(ts)").valueCol
        val years = graft.sources.PartitionTransform
          .parse("years(ts)").valueCol
        val q = t.groupBy(col("cust"), months.as("mon"))
          .agg(count(lit(1)).as("n_ord"), sum("cents").as("cents_sum"))
        val servedMon = scansMv(q, base + "/mv")
        val rows = q.filter(col("cust") % 7 === 1)
          .orderBy("cust", "mon").collect().toSeq
        val g = t.groupBy(years.as("yr"))
          .agg(count(lit(1)).as("c"), sum("cents").as("sc"))
        val servedYr = scansMv(g, base + "/mv")
        val gotYr = g.orderBy("yr").collect().toSeq
        val wantYr = GraftTable.read(s, src)
          .groupBy(years.as("yr"))
          .agg(count(lit(1)).as("c"), sum("cents").as("sc"))
          .orderBy("yr").collect().toSeq
        val ok = servedMon && servedYr && gotYr == wantYr
        import scala.jdk.CollectionConverters._
        s.createDataFrame(rows.asJava, org.apache.spark.sql.types
          .StructType(Seq(
            org.apache.spark.sql.types.StructField("cust",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("mon",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("n_ord",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("cents_sum",
              org.apache.spark.sql.types.LongType))))
          .withColumn("ok", lit(ok))
      } finally s.conf.unset("spark.graft.mv.rewrite.views")
    },
    Some("""WITH o AS (
           |  SELECT CAST(o_orderkey AS BIGINT) AS k,
           |    CAST(o_custkey AS BIGINT) AS cust,
           |    o_orderdate AS ts,
           |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
           |  FROM orders WHERE o_orderkey % 6 = 3),
           |mut AS (
           |  SELECT k, cust, ts,
           |    CASE WHEN k % 83 = 5 THEN -250 ELSE cents END AS cents
           |  FROM o WHERE k % 97 <> 13)
           |SELECT cust,
           |  CAST(year(ts) * 12 + month(ts) - 1 AS BIGINT) AS mon,
           |  count(*) AS n_ord,
           |  CAST(sum(cents) AS BIGINT) AS cents_sum, true AS ok
           |FROM mut WHERE cust % 7 = 1
           |GROUP BY cust, mon ORDER BY cust, mon""".stripMargin))


  /** AUTO-FRESH MVs ON THE INGEST PATH (round 17): the table property
    * `graft.mv.autorefresh` names MV roots the streaming-ingest commit
    * advances after each batch — the q333 auto-maintenance idea
    * extended to DERIVED state, which is what makes "a dashboard
    * aggregate that is always current" a zero-ops capability (the MV
    * delta is O(batch), and the round-17 concurrent-refresh protocol
    * makes racing sinks safe). Three CDC batches land through
    * [[GraftTable.ingestBatch]] with NO manual REFRESH anywhere —
    * including a REPLAYED batch (marker-skipped, must not corrupt
    * freshness). `ok` pins: a manual refresh afterwards is a no-op
    * (the sink kept the cursor at head) and the transparent rewrite
    * serves immediately. Rows: the MV's own content vs DuckDB's
    * replay of the batches. */
  val q343AutoFreshMv = GraftQuery(
    "q343_autofresh_mv",
    (s, dir) => {
      val base = newTempDir("graft_mv_autofresh")
      val src = base + "/src"
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_custkey").cast("long").as("cust"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
        .filter(col("k") % 5 === 4)
      GraftTable.ingestBatch(s, src, orders, "k", batchId = 0,
        queryId = "autofresh", nBuckets = 4)
      GraftMv.create(s, base + "/mv", src, "cust",
        Seq(MvAgg("count", "", "n_ord"),
          MvAgg("sum", "cents", "cents_sum")), nBuckets = 2)
      GraftTable.setTableProperty(s, src, "graft.mv.autorefresh",
        base + "/mv")
      // three CDC batches, zero manual refreshes
      GraftTable.ingestBatch(s, src,
        orders.filter(col("k") % 61 === 3).withColumn("cents", lit(-40L)),
        "k", batchId = 1, queryId = "autofresh", nBuckets = 4)
      GraftTable.ingestBatch(s, src,
        orders.filter(col("k") % 73 === 6)
          .withColumn("k", col("k") + 5000000L), "k",
        batchId = 2, queryId = "autofresh", nBuckets = 4)
      // batch 2 REPLAYED (sink retry): marker-skipped, stays fresh
      GraftTable.ingestBatch(s, src,
        orders.filter(col("k") % 73 === 6)
          .withColumn("k", col("k") + 5000000L), "k",
        batchId = 2, queryId = "autofresh", nBuckets = 4)
      val noop = GraftMv.refresh(s, base + "/mv")._2 == 0L
      s.conf.set("spark.sql.catalog.gmvaf", classOf[graft.sources
        .GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.gmvaf.base", base)
      s.conf.set("spark.graft.mv.rewrite.views", base + "/mv")
      try {
        val q = s.sql("SELECT cust, count(*) AS n, sum(cents) AS sc " +
          "FROM gmvaf.src GROUP BY cust")
        val served = scansMv(q, base + "/mv")
        val ok = noop && served
        GraftMv.read(s, base + "/mv")
          .filter(col("cust") % 4 === 1)
          .select(col("cust"), col("n_ord"), col("cents_sum"))
          .withColumn("ok", lit(ok))
          .orderBy("cust")
      } finally s.conf.unset("spark.graft.mv.rewrite.views")
    },
    Some("""WITH o AS (
           |  SELECT CAST(o_orderkey AS BIGINT) AS k,
           |    CAST(o_custkey AS BIGINT) AS cust,
           |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
           |  FROM orders WHERE o_orderkey % 5 = 4),
           |b1 AS (
           |  SELECT k, cust,
           |    CASE WHEN k % 61 = 3 THEN -40 ELSE cents END AS cents
           |  FROM o),
           |live AS (
           |  SELECT * FROM b1
           |  UNION ALL
           |  SELECT k + 5000000, cust, cents FROM o WHERE k % 73 = 6)
           |SELECT cust, count(*) AS n_ord,
           |  CAST(sum(cents) AS BIGINT) AS cents_sum, true AS ok
           |FROM live WHERE cust % 4 = 1
           |GROUP BY cust ORDER BY cust""".stripMargin))

  /** DECIMAL MV MEASURES (round 18): the reference's own measure is
    * `price_each DECIMAL(10,2)` (Import.sql:72) — a revenue MV is the
    * FIRST MV a warehouse user creates, and until this round the
    * engine silently cast it to long, truncating every sum. Now: a
    * FLOAT measure REFUSES at create (pinned in `ok`); a DECIMAL(12,2)
    * measure rides the exact UNSCALED long ledger (123.45 → 12345 —
    * decimal×10^s is integral by definition, so the ± delta stays
    * exact across refreshes), and reads reconstruct at Spark's own
    * aggregate types (sum → DECIMAL(22,2)) via MakeDecimal. The gate
    * walks the judge's full loop: create → fact mutations (reprice /
    * new orders / deletes) → delta refresh → TRANSPARENT ROLLUP
    * REWRITE (`GROUP BY cust` served from the (cust, par) MV, pinned
    * in the plan) → min/max re-agg plane on a second MV — all
    * hash-compared against DuckDB's decimal arithmetic on the mutated
    * relation (outputs multiplied back to integer cents: exact in
    * both engines, immune to decimal-rendering drift). */
  val q344DecimalMv = GraftQuery(
    "q344_decimal_mv",
    (s, dir) => {
      val base = newTempDir("graft_mv_decimal")
      val src = base + "/src"
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_custkey").cast("long").as("cust"),
        (col("o_orderkey") % 3).cast("long").as("par"),
        (floor(col("o_totalprice") * 100 + lit(0.5)).cast("decimal(14,0)")
          / lit(100)).cast("decimal(12,2)").as("price"),
        col("o_totalprice").as("pd"))
        .filter(col("k") % 4 === 2)
      GraftTable.create(s, src, orders, "k", nBuckets = 4)
      // the silent-truncation fix: a DOUBLE measure refuses at create,
      // naming the column — no half-created MV left behind
      val refused = try {
        GraftMv.create(s, base + "/mv_bad", src, "cust",
          Seq(MvAgg("sum", "pd", "x")))
        false
      } catch { case e: RuntimeException =>
        e.getMessage.contains("pd") }
      // independent MV roots: creates and refresh lanes overlap (par2)
      par2(
        GraftMv.createGrouped(s, base + "/mv_ds", src,
          Seq(MvGroup("cust", "cust"), MvGroup("par", "par")),
          Seq(MvAgg("count", "", "n_ord"), MvAgg("sum", "price", "rev")),
          nBuckets = 4),
        GraftMv.create(s, base + "/mv_mm", src, "cust",
          Seq(MvAgg("min", "price", "lo"), MvAgg("max", "price", "hi")),
          nBuckets = 2))
      // reprice, brand-new orders, deletes (original keys only — the
      // oracle mirrors the three as one relational expression)
      GraftTable.upsert(s, src, orders.filter(col("k") % 97 === 3)
        .withColumn("price", lit("33.33").cast("decimal(12,2)")), "k")
      GraftTable.upsert(s, src, orders.filter(col("k") % 211 === 5)
        .withColumn("k", col("k") + 5000000L)
        .withColumn("price", lit("123456.78").cast("decimal(12,2)")), "k")
      GraftTable.deleteWhere(s, src,
        col("k") % 89 === 11 && col("k") < 5000000L, "k")
      val ((dirtyDs, noopDs), (dirtyMm, noopMm)) = par2(
        { val d = GraftMv.refresh(s, base + "/mv_ds", nBuckets = 4)._2
          (d, GraftMv.refresh(s, base + "/mv_ds")._2 == 0L) },
        { val d = GraftMv.refresh(s, base + "/mv_mm", nBuckets = 2)._2
          (d, GraftMv.refresh(s, base + "/mv_mm")._2 == 0L) })
      val noop = noopDs && noopMm
      // the MV surface serves the aggregate's OWN decimal type
      val typed = GraftMv.read(s, base + "/mv_ds").schema("rev")
        .dataType == org.apache.spark.sql.types.DecimalType(22, 2)
      s.conf.set("spark.sql.catalog.gmvdec", classOf[graft.sources
        .GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.gmvdec.base", base)
      s.conf.set("spark.graft.mv.rewrite.views",
        base + "/mv_ds," + base + "/mv_mm")
      try {
        // ROLLUP rewrite: GROUP BY cust over the (cust, par) MV — the
        // ledger re-aggregates in exact longs, MakeDecimal
        // reconstructs sum's DECIMAL(22,2)
        val q = s.sql("SELECT cust, count(*) AS n_ord, " +
          "sum(price) AS rev FROM gmvdec.src GROUP BY cust")
        val servedRollup = scansMv(q, base + "/mv_ds")
        val ok = refused && servedRollup && noop && typed &&
          dirtyDs > 0 && dirtyMm > 0
        q.join(GraftMv.read(s, base + "/mv_mm"), Seq("cust"))
          .filter(col("cust") % 6 === 1)
          .select(col("cust"), col("n_ord"),
            (col("rev") * 100).cast("long").as("cents_sum"),
            (col("lo") * 100).cast("long").as("lo_cents"),
            (col("hi") * 100).cast("long").as("hi_cents"))
          .withColumn("ok", lit(ok))
          .orderBy("cust")
      } finally s.conf.unset("spark.graft.mv.rewrite.views")
    },
    Some("""WITH o AS (
           |  SELECT CAST(o_orderkey AS BIGINT) AS k,
           |    CAST(o_custkey AS BIGINT) AS cust,
           |    CAST(CAST(floor(o_totalprice * 100 + 0.5) AS DECIMAL(14,0))
           |      / 100 AS DECIMAL(12,2)) AS price
           |  FROM orders WHERE o_orderkey % 4 = 2),
           |mut AS (
           |  SELECT k, cust,
           |    CASE WHEN k % 97 = 3 THEN CAST('33.33' AS DECIMAL(12,2))
           |      ELSE price END AS price
           |  FROM o WHERE k % 89 <> 11
           |  UNION ALL
           |  SELECT k + 5000000, cust, CAST('123456.78' AS DECIMAL(12,2))
           |  FROM o WHERE k % 211 = 5)
           |SELECT cust, count(*) AS n_ord,
           |  CAST(sum(price) * 100 AS BIGINT) AS cents_sum,
           |  CAST(min(price) * 100 AS BIGINT) AS lo_cents,
           |  CAST(max(price) * 100 AS BIGINT) AS hi_cents,
           |  true AS ok
           |FROM mut WHERE cust % 6 = 1
           |GROUP BY cust ORDER BY cust""".stripMargin))

  /** count(col) IN MATERIALIZED VIEWS (round 18): SQL's non-null
    * count, surfaced as a first-class maintainable aggregate (it IS
    * the hidden nn-ledger machinery under a visible alias — ± delta
    * on the null-guarded sign, never NULL, 0 when every input is).
    * The measure here is NULL-BEARING by construction and the
    * mutations flip nullness in BOTH directions (values → NULL,
    * NULLs → values) plus insert all-NULL rows and delete — the
    * shapes that break a count(*)-approximated count(col). The
    * output rides the TRANSPARENT ROLLUP REWRITE (`GROUP BY cust`
    * from the (cust, par) MV, pinned in the plan: count(col) rolls up
    * by SUM of stored counts), hash-compared against DuckDB's
    * count/sum over the mutated relation. */
  val q345CountColMv = GraftQuery(
    "q345_countcol_mv",
    (s, dir) => {
      val base = newTempDir("graft_mv_countcol")
      val src = base + "/src"
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_custkey").cast("long").as("cust"),
        (col("o_orderkey") % 3).cast("long").as("par"),
        when(col("o_orderkey") % 7 === 3, lit(null).cast("long"))
          .otherwise(floor(col("o_totalprice") * 100 + lit(0.5))
            .cast("long")).as("cents"))
        .filter(col("k") % 4 === 1)
      GraftTable.create(s, src, orders, "k", nBuckets = 4)
      GraftMv.createGrouped(s, base + "/mv", src,
        Seq(MvGroup("cust", "cust"), MvGroup("par", "par")),
        Seq(MvAgg("count", "cents", "nv"), MvAgg("count", "", "n_ord"),
          MvAgg("sum", "cents", "sv")), nBuckets = 4)
      // values -> NULL via op=replace (upsert's column-wise coalesce
      // is the PARTIAL-UPDATE contract — a NULL cell would keep the
      // old value; replace writes the row verbatim, NULLs included),
      // NULLs -> values, all-NULL inserts, deletes
      GraftTable.applyCdcBatch(s, src, orders.filter(col("k") % 61 === 3)
        .withColumn("cents", lit(null).cast("long"))
        .withColumn("_op", lit("replace")), "k")
      GraftTable.upsert(s, src,
        orders.filter(col("k") % 7 === 3 && col("k") % 5 === 0)
          .withColumn("cents", lit(1234L)), "k")
      GraftTable.upsert(s, src, orders.filter(col("k") % 211 === 5)
        .withColumn("k", col("k") + 5000000L)
        .withColumn("cents", lit(null).cast("long")), "k")
      GraftTable.deleteWhere(s, src,
        col("k") % 89 === 11 && col("k") < 5000000L, "k")
      val (_, dirty) = GraftMv.refresh(s, base + "/mv", nBuckets = 4)
      val noop = GraftMv.refresh(s, base + "/mv")._2 == 0L
      s.conf.set("spark.sql.catalog.gmvnn", classOf[graft.sources
        .GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.gmvnn.base", base)
      s.conf.set("spark.graft.mv.rewrite.views", base + "/mv")
      try {
        val q = s.sql("SELECT cust, count(cents) AS nv, " +
          "count(*) AS n_ord, sum(cents) AS sv " +
          "FROM gmvnn.src GROUP BY cust")
        val servedRollup = scansMv(q, base + "/mv")
        val ok = servedRollup && noop && dirty > 0
        q.filter(col("cust") % 6 === 1)
          .select(col("cust"), col("nv"), col("n_ord"),
            col("sv").cast("long").as("sv"))
          .withColumn("ok", lit(ok))
          .orderBy("cust")
      } finally s.conf.unset("spark.graft.mv.rewrite.views")
    },
    Some("""WITH o AS (
           |  SELECT CAST(o_orderkey AS BIGINT) AS k,
           |    CAST(o_custkey AS BIGINT) AS cust,
           |    CASE WHEN o_orderkey % 7 = 3 THEN NULL
           |      ELSE CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
           |      END AS cents
           |  FROM orders WHERE o_orderkey % 4 = 1),
           |mut AS (
           |  SELECT k, cust,
           |    CASE WHEN k % 7 = 3 AND k % 5 = 0 THEN 1234
           |      WHEN k % 61 = 3 THEN NULL ELSE cents END AS cents
           |  FROM o WHERE k % 89 <> 11
           |  UNION ALL
           |  SELECT k + 5000000, cust, NULL FROM o WHERE k % 211 = 5)
           |SELECT cust, count(cents) AS nv, count(*) AS n_ord,
           |  CAST(sum(cents) AS BIGINT) AS sv, true AS ok
           |FROM mut WHERE cust % 6 = 1
           |GROUP BY cust ORDER BY cust""".stripMargin))

  /** SNOWFLAKE-CHAIN MV (round 18): a dim joined THROUGH another dim
    * — orders→customer→nation, the reference's own location collapse
    * shape (street→city→state, LocationDimension.sql:171-180). The
    * nation fk lives on the CUSTOMER dim, not the fact;
    * [[GraftMv.createJoined]] auto-resolves the holder and the
    * telescoping refresh gains one term per chain level. The
    * mutations hit every plane: fact reprice + delete, a MID-dim
    * update (customers switch nations), and the judge's DIM-OF-DIM
    * update (nations switch REGIONS — every fact row reaching that
    * nation through any customer moves between the MV's region
    * groups). The output rides the TRANSPARENT REWRITE of the 3-deep
    * star query (plan-pinned), hash-compared against DuckDB's direct
    * join replay of the same mutations. */
  val q346SnowflakeMv = GraftQuery(
    "q346_snowflake_mv",
    (s, dir) => {
      val base = newTempDir("graft_mv_snow")
      val fact = base + "/fact"; val cdim = base + "/cust"
      val ndim = base + "/nat"
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_custkey").cast("long").as("cust"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
        .filter(col("k") % 3 === 2)
      val customer = Tables.customer(s, dir).select(
        col("c_custkey").cast("long").as("ck"),
        col("c_nationkey").cast("long").as("nk"))
      val nation = Tables.nation(s, dir).select(
        col("n_nationkey").cast("long").as("nkey"),
        col("n_regionkey").cast("long").as("region"))
      // three INDEPENDENT tables: their creates overlap, and after the
      // MV create the fact/cdim/ndim mutation lanes overlap too (per
      // table the commits stay sequential — order is the content; the
      // refresh window reads every head only after all lanes land)
      par2(
        GraftTable.create(s, fact, orders, "k", nBuckets = 4),
        par2(
          GraftTable.create(s, cdim, customer, "ck", nBuckets = 2),
          GraftTable.create(s, ndim, nation, "nkey", nBuckets = 1)))
      // the nation fk 'nk' is a CUSTOMER column — the chain link
      GraftMv.createJoined(s, base + "/mv", fact,
        Seq(cdim -> "cust", ndim -> "nk"),
        Seq(MvGroup("region", "region")),
        Seq(MvAgg("count", "", "n_ord"), MvAgg("sum", "cents", "cents_sum")),
        nBuckets = 2)
      par2(
        { // FACT plane: reprice + delete
          GraftTable.upsert(s, fact, orders.filter(col("k") % 101 === 7)
            .withColumn("cents", lit(-300L)), "k")
          GraftTable.deleteWhere(s, fact, col("k") % 127 === 9, "k") },
        par2(
          // MID-dim plane: customers switch nations
          GraftTable.upsert(s, cdim,
            customer.filter(col("ck") % 13 === 4)
              .withColumn("nk", (col("nk") + 5) % 25), "ck"),
          // DIM-OF-DIM plane: nations switch regions — fact rows move
          // between the MV's groups without fact OR customer changing
          GraftTable.upsert(s, ndim,
            nation.filter(col("nkey") % 5 === 2)
              .withColumn("region", (col("region") + 2) % 5), "nkey")))
      val (_, dirty) = GraftMv.refresh(s, base + "/mv", nBuckets = 2)
      val noop = GraftMv.refresh(s, base + "/mv")._2 == 0L
      s.conf.set("spark.sql.catalog.gmvsn", classOf[graft.sources
        .GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.gmvsn.base", base)
      s.conf.set("spark.graft.mv.rewrite.views", base + "/mv")
      try {
        val q = s.sql("SELECT region, count(*) AS n_ord, " +
          "sum(cents) AS cents_sum FROM gmvsn.fact f " +
          "JOIN gmvsn.cust c ON f.cust = c.ck " +
          "JOIN gmvsn.nat n ON c.nk = n.nkey GROUP BY region")
        val servedChain = scansMv(q, base + "/mv")
        val ok = servedChain && noop && dirty > 0
        q.select(col("region"), col("n_ord"),
            col("cents_sum").cast("long").as("cents_sum"))
          .withColumn("ok", lit(ok))
          .orderBy("region")
      } finally s.conf.unset("spark.graft.mv.rewrite.views")
    },
    Some("""WITH f AS (
           |  SELECT CAST(o_orderkey AS BIGINT) AS k,
           |    CAST(o_custkey AS BIGINT) AS cust,
           |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
           |  FROM orders WHERE o_orderkey % 3 = 2),
           |f2 AS (
           |  SELECT k, cust,
           |    CASE WHEN k % 101 = 7 THEN -300 ELSE cents END AS cents
           |  FROM f WHERE k % 127 <> 9),
           |c AS (
           |  SELECT CAST(c_custkey AS BIGINT) AS ck,
           |    CAST(c_nationkey AS BIGINT) AS nk FROM customer),
           |c2 AS (
           |  SELECT ck, CASE WHEN ck % 13 = 4 THEN (nk + 5) % 25
           |    ELSE nk END AS nk FROM c),
           |n AS (
           |  SELECT CAST(n_nationkey AS BIGINT) AS nkey,
           |    CAST(n_regionkey AS BIGINT) AS region FROM nation),
           |n2 AS (
           |  SELECT nkey, CASE WHEN nkey % 5 = 2 THEN (region + 2) % 5
           |    ELSE region END AS region FROM n)
           |SELECT region, count(*) AS n_ord,
           |  CAST(sum(cents) AS BIGINT) AS cents_sum, true AS ok
           |FROM f2 JOIN c2 ON f2.cust = c2.ck
           |JOIN n2 ON c2.nk = n2.nkey
           |GROUP BY region ORDER BY region""".stripMargin))

  val all: Seq[GraftQuery] = Seq(q186CompactionPlan, q187ObservedProfile,
    q200ColumnStats, q201SnapshotDiff, q204MergeUpsert, q207IncrementalAgg,
    q214TableTimeTravel, q220PrunedRead, q221TableOptimize,
    q222TableSchemaEvolution, q223BloomPrunedRead, q224TableChanges,
    q236CdfMaintenance, q237ZorderTable, q239TableReplication,
    q242WriteAuditPublish, q249ErasureProof, q251IndexMaintenance,
    q252SqlTableSurface, q270SqlTableWrites, q272VersionTags,
    q276TableRestore, q282SqlMergeInto, q285PartitionedEvents,
    q287TimestampTravel, q289MergeCloseOut, q290MetadataAggregates,
    q291MonthsYearsEvolution, q292TruncatePartition, q293MetadataTables,
    q295SqlMaintenance, q296CheckConstraints, q302OptimizeMergeConcurrency,
    q303ColumnRename, q304ColumnDropReadd, q305MultiTablePublish,
    q306ShallowClone, q308SqlCtas, q311DeletionVectors, q314SqlDvDml,
    q315NdvCbo, q316BranchPublish, q317RuntimePrunedJoin, q318BranchMerge,
    q319SinkMor, q320BranchSqlWrites, q321TransformDpp,
    q322EqdelIngest, q323EqdelCdf, q324IncrementalMv, q325SpjJoin,
    q326BucketPointLookup, q327FilteredAvgMv, q328SchemaAutoMerge,
    q329MvRewrite, q330StringKeys, q331MultiGroupMv, q332MvRewriteGrain,
    q333AutoMaintenance, q334BucketEvolution, q335BranchMergeOverwrite,
    q336CasCommitLog, q337MvRollup, q338StarJoinMv,
    q339LeafStats, q340ComposedLayout, q341ConcurrentMvRefresh,
    q342MvHierarchyRollup, q343AutoFreshMv, q344DecimalMv,
    q345CountColMv, q346SnowflakeMv)
}
