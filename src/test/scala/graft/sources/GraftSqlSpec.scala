package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The DSv2 SQL surface must resolve to the SAME pruned snapshot reads
  * as the Scala API: format reads, versionAsOf, catalog resolution,
  * VERSION AS OF time travel, and — the part that matters at 100 TB —
  * manifest file skipping biting through SQL text. */
class GraftSqlSpec extends SparkSpec {
  import spark.implicits._

  private def freshBase(): String =
    Files.createTempDirectory("graft_sql_spec").toString

  private def mk(root: String, n: Int = 1000, buckets: Int = 4): Unit =
    GraftTable.create(spark, root,
      spark.range(1, n + 1).select(
        $"id".as("k"), concat(lit("row"), $"id").as("name"),
        ($"id" * 10).as("v")),
      "k", nBuckets = buckets)

  test("format read matches the Scala API, including versionAsOf") {
    val root = freshBase() + "/t"
    mk(root)
    GraftTable.upsert(spark, root,
      spark.range(1, 11).select($"id".as("k"), lit("u").as("name"),
        lit(-1L).as("v")), "k")
    val sqlNow = spark.read.format("graft").load(root)
    assert(sqlNow.columns.toSeq === Seq("k", "name", "v"))
    assert(sqlNow.count() === 1000)
    assert(sqlNow.filter($"name" === "u").count() === 10)
    val sqlV0 = spark.read.format("graft").option("versionAsOf", 0).load(root)
    assert(sqlV0.filter($"name" === "u").count() === 0)
    assert(sqlV0.agg(sum("v")).as[Long].head() ===
      GraftTable.read(spark, root, Some(0)).agg(sum("v")).as[Long].head())
  }

  test("catalog: SQL text with VERSION AS OF and a key range matches readRange") {
    val base = freshBase()
    val root = base + "/events"
    mk(root)
    GraftTable.upsert(spark, root,
      spark.range(100, 121).select($"id".as("k"), lit("upd").as("name"),
        lit(0L).as("v")), "k")
    spark.conf.set("spark.sql.catalog.gtest", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gtest.base", base)
    val viaSql = spark.sql(
      "SELECT k, name, v FROM gtest.events VERSION AS OF 1 " +
        "WHERE k BETWEEN 100 AND 200 ORDER BY k")
    val viaApi = GraftTable.readRange(spark, root, "k", 100, 200, Some(1))
      .orderBy("k")
    assert(viaSql.collect().toSeq === viaApi.collect().toSeq)
    // time travel below the upsert
    val v0 = spark.sql(
      "SELECT count(*) AS n FROM gtest.events VERSION AS OF 0 " +
        "WHERE name = 'upd'").as[Long].head()
    assert(v0 === 0)
    // latest resolution without AS OF
    assert(spark.sql("SELECT count(*) FROM gtest.events").as[Long].head() === 1000)
  }

  test("file skipping bites through SQL: an out-of-range file is never opened") {
    val base = freshBase()
    val root = base + "/skip"
    mk(root, n = 2000, buckets = 8)
    // the range [1, 50] lives in the lowest bucket(s); every other data
    // file is outside it
    val full = GraftTable.prunedFileCount(spark, root, Long.MinValue, Long.MaxValue)
    val pruned = GraftTable.prunedFileCount(spark, root, 1, 50)
    assert(pruned < full, s"fixture broken: $pruned vs $full")
    // sabotage: physically delete a data file whose key interval is
    // DISJOINT from [1, 50]; a scan that opens it would throw, so a
    // surviving query proves the manifest skipped it
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lines = scala.io.Source.fromFile(s"$root/_log/v00000.manifest")
      .getLines().filter(l => l.nonEmpty && !l.startsWith("#")).toList
    val victim = lines.map(_.split('\t')).filter(_(1).toLong > 1000).head
    fs.delete(new org.apache.hadoop.fs.Path(root, victim(0)), false)
    // NB: catalog plugins are cached by NAME on first use — every test
    // needs its own catalog name or it inherits another test's base
    spark.conf.set("spark.sql.catalog.gskip", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gskip.base", base)
    val got = spark.sql(
      "SELECT sum(v) AS s, count(*) AS n FROM gskip.skip " +
        "WHERE k >= 1 AND k <= 50").collect()(0)
    assert(got.getLong(1) === 50)
    assert(got.getLong(0) === 10L * 50 * 51 / 2)
    // sanity: an unpruned FULL-ROW read DOES hit the missing file (a
    // plain `SELECT *` can never be served from metadata, so this stays
    // a data scan however much aggregate pushdown grows)
    intercept[Exception] {
      spark.sql("SELECT * FROM gskip.skip").collect()
    }
    // and the metadata-served count(*) contract: the unfiltered count
    // answers EXACTLY from the manifest — zero data files opened, which
    // the deleted file proves (a data scan would throw, as above)
    assert(spark.sql("SELECT count(*) FROM gskip.skip").as[Long].head()
      === 2000L)
    // time travel resolves through the same metadata path
    assert(spark.sql("SELECT count(*) FROM gskip.skip VERSION AS OF 0")
      .as[Long].head() === 2000L)
    // count(col) rides the #nulls colstats ledger (rows − nulls) — the
    // deleted file proves zero data files were opened here too
    assert(spark.sql("SELECT count(name) FROM gskip.skip")
      .as[Long].head() === 2000L)
    // sum(col) rides the #sum ledger (Σ per-file sums, exact mod 2⁶⁴)
    assert(spark.sql("SELECT sum(v) FROM gskip.skip")
      .as[Long].head() === 10L * 2000 * 2001 / 2)
    // a filtered count is NOT metadata-servable: it must scan, and the
    // pruned file set keeps it correct despite the sabotage
    assert(spark.sql(
      "SELECT count(*) FROM gskip.skip WHERE k BETWEEN 1 AND 50")
      .as[Long].head() === 50L)
  }

  test("metadata tables: $files/$history/$tags serve the log through " +
    "SQL with zero data I/O, and VERSION AS OF composes") {
    val base = freshBase()
    val root = base + "/mt"
    mk(root, n = 1000, buckets = 4)
    GraftTable.upsert(spark, root,
      spark.range(1, 21).select($"id".as("k"), lit("u").as("name"),
        lit(-1L).as("v")), "k")
    GraftTable.tag(spark, root, "gold", 0)
    spark.conf.set("spark.sql.catalog.gmeta", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gmeta.base", base)
    // $files agrees with the manifest ledger, rows and bytes included
    val files = spark.sql(
      "SELECT file, min_key, max_key, n_rows, n_bytes FROM gmeta.`mt$files` " +
        "ORDER BY file").collect()
    val ledger = GraftTable.snapshotFileLedger(spark, root,
      GraftTable.latestVersion(spark, root)).sortBy(_._1)
    assert(files.length === ledger.length)
    files.zip(ledger).foreach { case (r, (p, mn, mx, n, b)) =>
      assert(r.getString(0) === p && r.getLong(1) === mn &&
        r.getLong(2) === mx && r.getLong(3) === n && r.getLong(4) === b)
    }
    assert(files.map(_.getLong(3)).sum === 1000L)
    // Iceberg-style dotted form resolves to the same table
    assert(spark.sql("SELECT sum(n_rows) FROM gmeta.mt.files")
      .as[Long].head() === 1000L)
    // VERSION AS OF composes: v0's ledger, not head's
    assert(spark.sql(
      "SELECT sum(n_rows) FROM gmeta.`mt$files` VERSION AS OF 0")
      .as[Long].head() === 1000L)
    // $history: both commits, instants monotone, from the durable header
    val hist = spark.sql(
      "SELECT version, committed_at, n_files, n_rows FROM " +
        "gmeta.`mt$history` ORDER BY version").collect()
    assert(hist.map(_.getLong(0)).toSeq === Seq(0L, 1L))
    assert(hist(0).getLong(1) <= hist(1).getLong(1))
    assert(hist.map(r => r.getLong(0) -> r.getLong(1)).toSeq ===
      GraftTable.commitTimestamps(spark, root)
        .map(t => t._1.toLong -> t._2))
    // $tags
    assert(spark.sql("SELECT tag, version FROM gmeta.`mt$tags`")
      .as[(String, Long)].collect().toSeq === Seq(("gold", 0L)))
    // unknown kind refuses; meta over a missing table refuses
    intercept[Exception] {
      spark.sql("SELECT * FROM gmeta.`mt$nope`").collect()
    }
    intercept[Exception] {
      spark.sql("SELECT * FROM gmeta.`ghost$files`").collect()
    }
    // the LocalScan means no executor stage: a deleted data file
    // cannot break a metadata query
    val victim = ledger.head._1
    val fsys = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(s"$root/$victim"), false)
    assert(spark.sql("SELECT count(*) FROM gmeta.`mt$files`")
      .as[Long].head() === ledger.length.toLong)
  }

  test("native streaming sink: writeStream.format(\"graft\") creates " +
    "the table on first batch, commits one keyed-MERGE version per " +
    "micro-batch, and replayed batch ids are skipped") {
    implicit val sqlCtx = spark.sqlContext
    val root = freshBase() + "/sink"
    val ckpt = Files.createTempDirectory("graft_sink_ckpt").toString
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Long)]
    val q = in.toDF().toDF("k", "name", "v").writeStream.format("graft")
      .option("path", root).option("key", "k").option("buckets", "2")
      .option("checkpointLocation", ckpt).start()
    in.addData((1L, "a", 10L), (2L, "b", 20L))
    q.processAllAvailable()
    in.addData((2L, "b2", 21L), (3L, "c", 30L))
    q.processAllAvailable()
    q.stop()
    assert(GraftTable.latestVersion(spark, root) === 1)
    val now = GraftTable.read(spark, root).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(now === Array((1L, "a", 10L), (2L, "b2", 21L), (3L, "c", 30L)))
    assert(GraftTable.read(spark, root, Some(0)).count() === 2)
    // effective-once: the SAME stream identity re-delivering batch 1
    // is a marker no-op (markers key on (queryId, batchId))
    GraftTable.ingestBatch(spark, root,
      spark.range(1).select(lit(9L).as("k"), lit("dup").as("name"),
        lit(0L).as("v")), "k", batchId = 1L, queryId = q.id.toString)
    assert(GraftTable.latestVersion(spark, root) === 1)
    // but a DIFFERENT writer reusing batch id 1 is NOT silently
    // skipped — the pre-round-12 data-loss bug: a second query (or a
    // fresh checkpoint) restarts batch ids at 0 and its batches
    // vanished under batchId-only markers
    GraftTable.ingestBatch(spark, root,
      spark.range(1).select(lit(9L).as("k"), lit("other").as("name"),
        lit(90L).as("v")), "k", batchId = 1L, queryId = "other-query")
    assert(GraftTable.latestVersion(spark, root) === 2)
    assert(GraftTable.read(spark, root).filter($"k" === 9L).count() === 1)
    // and a RESUMED stream continues committing past the replay guard
    val q2 = in.toDF().toDF("k", "name", "v").writeStream.format("graft")
      .option("path", root).option("key", "k")
      .option("checkpointLocation", ckpt).start()
    in.addData((4L, "d", 40L))
    q2.processAllAvailable()
    q2.stop()
    assert(GraftTable.latestVersion(spark, root) === 3)
    assert(GraftTable.read(spark, root).count() === 5)
    // missing key option refuses with guidance
    val e = intercept[Exception] {
      in.toDF().toDF("k", "name", "v").writeStream.format("graft")
        .option("path", freshBase() + "/nope")
        .option("checkpointLocation",
          Files.createTempDirectory("graft_sink_bad").toString)
        .start()
    }
    assert(e.getMessage.contains("key"), e.getMessage)
  }

  test("atomic CTAS: the query result IS version 0; a failed staging " +
    "tears down whole; REPLACE refuses") {
    val base = freshBase()
    spark.conf.set("spark.sql.catalog.gctas", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gctas.base", base)
    spark.range(1, 101).selectExpr("id AS k", "CAST(id * 2 AS BIGINT) AS v")
      .createOrReplaceTempView("ctas_spec_src")
    spark.sql("CREATE TABLE gctas.t TBLPROPERTIES('key'='k') AS " +
      "SELECT * FROM ctas_spec_src")
    // one commit: the data landed AS v0, never an empty table
    assert(GraftTable.latestVersion(spark, s"$base/t") === 0)
    assert(spark.sql("SELECT sum(v) FROM gctas.t").as[Long].head()
      === 2L * 100 * 101 / 2)
    // CTAS onto an existing table refuses
    intercept[Exception] {
      spark.sql("CREATE TABLE gctas.t AS SELECT * FROM ctas_spec_src") }
    // an aborted staging removes everything it wrote
    val cat = spark.sessionState.catalogManager.catalog("gctas")
      .asInstanceOf[GraftCatalog]
    val staged = cat.stageCreate(
      org.apache.spark.sql.connector.catalog.Identifier.of(
        Array.empty[String], "doomed"),
      spark.table("ctas_spec_src").schema,
      Array.empty, new java.util.HashMap[String, String]())
    staged.asInstanceOf[StagedGraftTable].abortStagedChanges()
    assert(GraftTable.latestVersion(spark, s"$base/doomed") === -1)
    // REPLACE TABLE refuses: versions are immutable history
    val e = intercept[Exception] {
      spark.sql("REPLACE TABLE gctas.t AS SELECT * FROM ctas_spec_src") }
    assert(e.getMessage.contains("RESTORE"), e.getMessage)
  }

  test("SQL OPTIMIZE/VACUUM: injected-parser maintenance statements " +
    "route onto the Scala maintenance paths; normal SQL is untouched") {
    val base = freshBase()
    val root = base + "/mx"
    // many tiny commits → many small files worth compacting
    mk(root, n = 200, buckets = 4)
    for (i <- 1 to 3)
      GraftTable.upsert(spark, root,
        spark.range(i * 1000, i * 1000 + 50).select($"id".as("k"),
          lit(s"b$i").as("name"), lit(0L).as("v")), "k", nBuckets = 2)
    spark.conf.set("spark.sql.catalog.gmx", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gmx.base", base)
    val filesBefore = GraftTable.prunedFileCount(spark, root,
      Long.MinValue, Long.MaxValue)
    val contentBefore = spark.sql(
      "SELECT sum(v), sum(k), count(*) FROM gmx.mx").collect()(0)
    // analyzed now (pinning v3), executed after the VACUUM below has
    // removed v3's manifest
    val planned = spark.sql("SELECT sum(v), sum(k), count(*) FROM gmx.mx")
    // OPTIMIZE compacts: fewer files, identical content, one version
    val opt = spark.sql("OPTIMIZE gmx.mx TARGET 1000 ROWS").collect()(0)
    assert(opt.getLong(0) === 4L) // v4 after create + 3 upserts
    assert(opt.getInt(1) > 0, s"nothing rewritten: $opt")
    val filesAfter = GraftTable.prunedFileCount(spark, root,
      Long.MinValue, Long.MaxValue)
    assert(filesAfter < filesBefore, s"$filesBefore -> $filesAfter")
    assert(spark.sql("SELECT sum(v), sum(k), count(*) FROM gmx.mx")
      .collect()(0) === contentBefore)
    // VACUUM sweeps pre-optimize files beyond the horizon
    val removed = spark.sql("VACUUM gmx.mx RETAIN 1 VERSIONS")
      .collect()(0).getInt(0)
    assert(removed > 0, "vacuum swept nothing")
    assert(spark.sql("SELECT count(*) FROM gmx.mx").as[Long].head()
      === contentBefore.getLong(2))
    assert(planned.collect()(0) === contentBefore)
    // ZORDER form parses and commits
    val z = spark.sql("OPTIMIZE gmx.mx TARGET 1000 ROWS ZORDER BY (k, v)")
      .collect()(0)
    assert(z.getLong(0) === 5L && z.getInt(1) > 0)
    assert(spark.sql("SELECT sum(v), sum(k), count(*) FROM gmx.mx")
      .collect()(0) === contentBefore)
    // time-based retention parses and (fresh commits) sweeps only the
    // pre-optimize orphans already gone — content intact either way
    spark.sql("VACUUM gmx.mx RETAIN 1000 DAYS").collect()
    assert(spark.sql("SELECT sum(v), sum(k), count(*) FROM gmx.mx")
      .collect()(0) === contentBefore)
    // non-graft targets refuse with guidance
    val e = intercept[Exception] {
      spark.sql("OPTIMIZE nosuch.t").collect()
    }
    assert(e.getMessage.contains("graft catalog"), e.getMessage)
    // ordinary SQL still parses through the delegate (keyword inside
    // a query is not intercepted)
    assert(spark.sql("SELECT 'OPTIMIZE gmx.mx' AS s").as[String].head()
      === "OPTIMIZE gmx.mx")
  }

  test("scan plan shape: a native DSv2 BatchScan with vectorized " +
    "columnar parquet reads; metadata-served aggregates show in the scan") {
    val base = freshBase()
    val root = base + "/ps"
    mk(root, n = 100000, buckets = 8)
    spark.conf.set("spark.sql.catalog.gps", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gps.base", base)
    val df = spark.sql(
      "SELECT k, v FROM gps.ps WHERE k BETWEEN 100 AND 500 AND v > 2000")
    assert(df.count() === 300) // v = k*10 > 2000 → k ∈ [201, 500]
    val plan = df.queryExecution.executedPlan.toString
    // native DSv2 (BatchScanExec), NOT the V1 bridge's RowDataSourceScan
    assert(plan.contains("BatchScan"), plan)
    assert(!plan.contains("RowDataSourceScan"), plan)
    // vectorized parquet: the scan is columnar, converted above it
    assert(plan.contains("ColumnarToRow"), plan)
    // a metadata-served aggregate names its served columns in the scan
    val agg = spark.sql("SELECT count(*), sum(v) FROM gps.ps")
    assert(agg.collect()(0) === org.apache.spark.sql.Row(
      100000L, 10L * 100000L * 100001L / 2))
    val aggPlan = agg.queryExecution.executedPlan.toString
    assert(aggPlan.contains("servedAggregates"), aggPlan)
    assert(!aggPlan.contains("ColumnarToRow"), aggPlan) // no data scan
  }

  test("ALTER TABLE ADD COLUMNS evolves through the catalog; other " +
    "changes refuse; SHOW TBLPROPERTIES surfaces key/partitioning/checks") {
    val base = freshBase()
    val root = base + "/alt"
    mk(root, n = 100, buckets = 2)
    GraftTable.addConstraint(spark, root, "pos_v", "v >= 0")
    spark.conf.set("spark.sql.catalog.galt", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.galt.base", base)
    spark.sql("ALTER TABLE galt.alt ADD COLUMNS (tag STRING, score BIGINT)")
    assert(GraftTable.latestVersion(spark, root) === 1)
    // evolved columns surface NULL-filled; v0 keeps the old column set
    assert(spark.sql("SELECT count(*) FROM galt.alt WHERE tag IS NULL")
      .as[Long].head() === 100L)
    assert(spark.sql("SELECT * FROM galt.alt VERSION AS OF 0").columns.toSeq
      === Seq("k", "name", "v"))
    // writes after the evolution carry the new columns
    spark.sql("INSERT INTO galt.alt VALUES (200L, 'x', 1L, 't', 9L)")
    assert(spark.sql("SELECT tag, score FROM galt.alt WHERE k = 200")
      .as[(String, Long)].head() === (("t", 9L)))
    // RENAME and DROP ride column mapping through the same catalog verb
    spark.sql("ALTER TABLE galt.alt RENAME COLUMN score TO points")
    assert(spark.sql("SELECT points FROM galt.alt WHERE k = 200")
      .as[Long].head() === 9L)
    spark.sql("ALTER TABLE galt.alt DROP COLUMN tag")
    assert(!spark.sql("SELECT * FROM galt.alt").columns.contains("tag"))
    // retype refuses with guidance (needs per-file read casts)
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE galt.alt ALTER COLUMN v TYPE STRING")
    }
    assert(e.getMessage.contains("retype"), e.getMessage)
    // properties surface through SQL
    val props = spark.sql("SHOW TBLPROPERTIES galt.alt").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("key") === Some("k"))
    assert(props.get("check.pos_v") === Some("v >= 0"))
  }

  test("key-range extraction handles conjunctions and rejects non-integral shapes") {
    import org.apache.spark.sql.sources._
    def r(fs: Filter*) = GraftScanBuilder.keyRange(fs.toArray, "k")
    assert(r(GreaterThanOrEqual("k", 10L), LessThanOrEqual("k", 20L))
      === Some((10L, 20L)))
    assert(r(GreaterThan("k", 10), LessThan("k", 20)) === Some((11L, 19L)))
    assert(r(EqualTo("k", 7)) === Some((7L, 7L)))
    assert(r(In("k", Array(3, 9, 5))) === Some((3L, 9L)))
    assert(r(And(GreaterThan("k", 1L), LessThan("k", 9L))) === Some((2L, 8L)))
    assert(r(EqualTo("other", 7)) === None)
    assert(r(EqualTo("k", "oops")) === None)
    assert(r(IsNotNull("k")) === None)
  }

  test("SQL DDL + DML: CREATE TABLE and INSERT INTO land as real versioned " +
    "commits with keyed-MERGE semantics") {
    val base = freshBase()
    spark.conf.set("spark.sql.catalog.gw", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gw.base", base)
    spark.sql("CREATE TABLE gw.t (k BIGINT, name STRING, v BIGINT) " +
      "TBLPROPERTIES ('key' = 'k', 'buckets' = '4')")
    // version 0 exists and is empty
    assert(GraftTable.latestVersion(spark, base + "/t") === 0)
    assert(spark.sql("SELECT count(*) FROM gw.t").as[Long].head() === 0L)
    assert(GraftTable.keyColumn(spark, base + "/t") === Some("k"))
    spark.sql("INSERT INTO gw.t SELECT id AS k, concat('r', id) AS name, " +
      "id * 2 AS v FROM range(1, 101)")
    assert(GraftTable.latestVersion(spark, base + "/t") === 1)
    assert(spark.sql("SELECT count(*) FROM gw.t").as[Long].head() === 100L)
    // keyed MERGE: overlapping keys replace, new keys insert
    spark.sql("INSERT INTO gw.t SELECT id AS k, 'upd' AS name, -1L AS v " +
      "FROM range(90, 111)")
    assert(GraftTable.latestVersion(spark, base + "/t") === 2)
    assert(spark.sql("SELECT count(*) FROM gw.t").as[Long].head() === 110L)
    assert(spark.sql("SELECT count(*) FROM gw.t WHERE name = 'upd'")
      .as[Long].head() === 21L)
    // the SQL write is the SAME commit path as the Scala API: time
    // travel sees every version, and the Scala read agrees
    assert(spark.sql("SELECT count(*) FROM gw.t VERSION AS OF 1")
      .as[Long].head() === 100L)
    assert(GraftTable.read(spark, base + "/t").count() === 110L)
    // writing into the past is refused
    val e = intercept[Exception] {
      spark.sql("INSERT INTO gw.t VERSION AS OF 1 VALUES (1L, 'x', 0L)")
    }
    assert(e.getMessage.toLowerCase.contains("version")
      || e.getMessage.contains("syntax"), e.getMessage)
    // INSERT OVERWRITE is refused with guidance
    val e2 = intercept[Exception] {
      spark.sql("INSERT OVERWRITE gw.t SELECT 1L, 'x', 0L")
    }
    assert(e2.getMessage.contains("INSERT OVERWRITE") ||
      e2.getMessage.contains("not supported"), e2.getMessage)
    // DELETE FROM with convertible filters is a real pruned commit
    spark.sql("DELETE FROM gw.t WHERE k <= 95 AND name = 'upd'")
    assert(GraftTable.latestVersion(spark, base + "/t") === 3)
    assert(spark.sql("SELECT count(*) FROM gw.t").as[Long].head() === 104L)
    assert(spark.sql("SELECT count(*) FROM gw.t WHERE name = 'upd'")
      .as[Long].head() === 15L)
    // time travel still sees the pre-delete version
    assert(spark.sql("SELECT count(*) FROM gw.t VERSION AS OF 2")
      .as[Long].head() === 110L)
    // an unconvertible predicate refuses rather than approximating
    val e3 = intercept[Exception] {
      spark.sql("DELETE FROM gw.t WHERE k % 2 = 0")
    }
    assert(e3.getMessage.toLowerCase.contains("cannot translate") ||
      e3.getMessage.toLowerCase.contains("delete"), e3.getMessage)
    // and the failed attempt committed nothing
    assert(GraftTable.latestVersion(spark, base + "/t") === 3)
  }

  test("CREATE TABLE validates key and duplicates; CTAS-style insert " +
    "round-trips by name not position") {
    val base = freshBase()
    spark.conf.set("spark.sql.catalog.gw2", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gw2.base", base)
    val bad = intercept[Exception] {
      spark.sql("CREATE TABLE gw2.bad (a BIGINT) TBLPROPERTIES ('key'='zz')")
    }
    assert(bad.getMessage.contains("key column"), bad.getMessage)
    spark.sql("CREATE TABLE gw2.t (k BIGINT, v BIGINT)")
    val dup = intercept[Exception] {
      spark.sql("CREATE TABLE gw2.t (k BIGINT, v BIGINT)")
    }
    assert(dup.getMessage.toLowerCase.contains("exists"), dup.getMessage)
    // key defaults to the first column
    assert(GraftTable.keyColumn(spark, base + "/t") === Some("k"))
    // INSERT by explicit column list (reordered) still merges correctly
    spark.sql("INSERT INTO gw2.t (v, k) VALUES (10L, 1L), (20L, 2L)")
    val rows = spark.sql("SELECT k, v FROM gw2.t ORDER BY k")
      .as[(Long, Long)].collect().toSeq
    assert(rows === Seq((1L, 10L), (2L, 20L)))
  }

  test("scan reports manifest statistics to Catalyst: a pruned read " +
    "broadcasts where the unpruned read does not") {
    val base = freshBase()
    val root = base + "/stats"
    mk(root, n = 20000, buckets = 16)
    spark.conf.set("spark.sql.catalog.gstats", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gstats.base", base)
    val full = spark.sql("SELECT k, name, v FROM gstats.stats")
    val pruned = spark.sql(
      "SELECT k, name, v FROM gstats.stats WHERE k BETWEEN 1 AND 500")
    // the manifest's byte ledger: pruned reads cover only the
    // surviving files' rows and bytes
    val (fullRows, fullBytes) = GraftTable.snapshotStats(spark, root, 0)
    val (pRows, pBytes) =
      GraftTable.snapshotStats(spark, root, 0, Some((1L, 500L)))
    assert(fullRows === 20000L)
    assert(pRows >= 500L && pRows < fullRows, s"pruned rows $pRows")
    assert(pBytes > 0 && pBytes < fullBytes / 4,
      s"pruned bytes $pBytes vs full $fullBytes")
    // broadcast decision: pick a threshold BETWEEN the two sizes, join
    // each against a deliberately large probe side — only the pruned
    // read may broadcast. (GraftBatchScan is a native DSv2 Batch, so
    // DataSourceV2ScanRelation.computeStats consumes its
    // SupportsReportStatistics directly; the observable contract is
    // the join strategy JoinSelection actually picks.)
    val threshold = math.min(pBytes * 3, (pBytes + fullBytes) / 2)
    assert(threshold > pBytes && threshold < fullBytes,
      s"fixture broken: $pBytes / $threshold / $fullBytes")
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        threshold.toString)
      val probe = spark.range(1, 200001).select($"id".as("k"),
        ($"id" % 7).as("grp"))
      def planOf(df: org.apache.spark.sql.DataFrame): String = {
        df.collect(); df.queryExecution.executedPlan.toString
      }
      val pPruned = planOf(probe.join(pruned, "k"))
      val pFull = planOf(probe.join(full, "k"))
      assert(pPruned.contains("BroadcastHashJoin"),
        s"pruned graft read ($pBytes bytes < $threshold) should " +
          s"broadcast:\n$pPruned")
      assert(!pFull.contains("BroadcastHashJoin"),
        s"unpruned graft read ($fullBytes bytes > $threshold) must not " +
          s"broadcast:\n$pFull")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("MERGE INTO: mixed matched-update / matched-delete / not-matched-" +
    "insert lands as ONE CDC commit with ANSI cardinality checks") {
    val base = freshBase()
    val root = base + "/m"
    mk(root, n = 100, buckets = 4) // k, name=rowK, v=k*10
    spark.conf.set("spark.sql.catalog.gm", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gm.base", base)
    spark.range(0, 30).select(
      ($"id" + 90).as("sk"), concat(lit("src"), $"id" + 90).as("sname"),
      lit(7L).as("sv"))
      .createOrReplaceTempView("msrc")
    val v0 = GraftTable.latestVersion(spark, root)
    val res = spark.sql(
      """MERGE INTO gm.m USING msrc ON m.k = msrc.sk
        |WHEN MATCHED AND msrc.sk <= 95 THEN UPDATE SET name = msrc.sname, v = m.v + msrc.sv
        |WHEN MATCHED THEN DELETE
        |WHEN NOT MATCHED AND msrc.sk <= 115 THEN INSERT (k, name, v) VALUES (msrc.sk, msrc.sname, msrc.sv)
        |""".stripMargin).collect()
    // one commit, exactly one version advanced
    assert(res.length === 1)
    assert(res(0).getLong(0) === v0 + 1)
    assert(GraftTable.latestVersion(spark, root) === v0 + 1)
    val now = GraftTable.read(spark, root).orderBy("k")
    // matched & sk<=95 → updated (k 90..95)
    assert(now.filter($"k" === 92).select("name", "v")
      .as[(String, Long)].head() === (("src92", 92 * 10 + 7)))
    // matched & sk>95 → deleted (k 96..100)
    assert(now.filter($"k" >= 96 && $"k" <= 100).count() === 0)
    // not matched & sk<=115 → inserted (k 101..115)
    assert(now.filter($"k" === 110).select("name", "v")
      .as[(String, Long)].head() === (("src110", 7L)))
    // not matched & sk>115 → no action (k 116..119)
    assert(now.filter($"k" > 115).count() === 0)
    assert(now.count() === 89 + 6 + 15) // 1..89 untouched, 90..95, 101..115
    // untouched rows really untouched
    assert(now.filter($"k" === 50).select("name").as[String].head() === "row50")
    // cardinality violation: two source rows hitting one target key
    spark.range(0, 2).select(lit(5L).as("sk"),
      concat(lit("dup"), $"id").as("sname"), lit(1L).as("sv"))
      .createOrReplaceTempView("mdup")
    val dup = intercept[Exception] {
      spark.sql("MERGE INTO gm.m USING mdup ON m.k = mdup.sk " +
        "WHEN MATCHED THEN UPDATE SET name = mdup.sname").collect()
    }
    assert(dup.getMessage.contains("more than one merge row"),
      dup.getMessage)
    // no partial commit from the failed statement
    assert(GraftTable.latestVersion(spark, root) === v0 + 1)
    // NOT MATCHED BY SOURCE: the SCD2 close-out idiom — target-only
    // rows get first-action-wins update-or-delete; matched rows are
    // untouched (no MATCHED action); guards that all fail leave the
    // row alone. Table here: k 1..89 original, 90..95 updated,
    // 101..115 inserted; msrc covers sk 90..119 → target-only = 1..89.
    val nbs = spark.sql(
      """MERGE INTO gm.m USING msrc ON m.k = msrc.sk
        |WHEN NOT MATCHED BY SOURCE AND m.k > 85 THEN UPDATE SET name = 'closed'
        |WHEN NOT MATCHED BY SOURCE AND m.k <= 3 THEN DELETE
        |""".stripMargin).collect()
    assert(nbs.length === 1 && nbs(0).getLong(0) === v0 + 2)
    val after = GraftTable.read(spark, root)
    assert(after.count() === (89 - 3) + 6 + 15)
    assert(after.filter($"k" === 87).select("name", "v")
      .as[(String, Long)].head() === (("closed", 870L)))
    assert(after.filter($"k" <= 3).count() === 0)
    assert(after.filter($"k" === 50).select("name").as[String].head()
      === "row50") // guard failed → untouched
    assert(after.filter($"k" === 92).select("name").as[String].head()
      === "src92") // matched → untouched (no MATCHED branch)
    // ANSI assignment semantics: SET col = NULL writes NULL (the CDC
    // 'upsert' coalesce must NOT resurrect the old value)
    spark.sql("MERGE INTO gm.m USING msrc ON m.k = msrc.sk " +
      "WHEN MATCHED AND m.k = 95 THEN UPDATE SET name = NULL").collect()
    assert(GraftTable.read(spark, root).filter($"k" === 95)
      .select("name").collect()(0).isNullAt(0))
    // key reassignment refuses
    val keyUpd = intercept[Exception] {
      spark.sql("MERGE INTO gm.m USING msrc ON m.k = msrc.sk " +
        "WHEN MATCHED THEN UPDATE SET k = msrc.sk + 1000").collect()
    }
    assert(keyUpd.getMessage.contains("reassign the key"), keyUpd.getMessage)
  }

  test("UPDATE through SQL text: one pruned CDC commit, key " +
    "reassignment refuses, condition-less UPDATE touches every row") {
    val base = freshBase()
    val root = base + "/u"
    mk(root, n = 1000, buckets = 4)
    spark.conf.set("spark.sql.catalog.gu", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gu.base", base)
    val res = spark.sql(
      "UPDATE gu.u SET name = concat('upd', k), v = v + 1 " +
        "WHERE k BETWEEN 10 AND 20").collect()
    assert(res.length === 1 && res(0).getLong(0) === 1L)
    val now = GraftTable.read(spark, root)
    assert(now.filter($"name".startsWith("upd")).count() === 11)
    assert(now.filter($"k" === 15).select("name", "v")
      .as[(String, Long)].head() === (("upd15", 151L)))
    assert(now.filter($"k" === 100).select("name").as[String].head()
      === "row100")
    // merge-on-read (the auto-mode default since round 14): the narrow
    // update retires old positions via DVs — ZERO files rewritten
    val Array(_, rewritten, carried) = res(0).toSeq.toArray
    assert(rewritten.asInstanceOf[Int] === 0,
      s"narrow UPDATE must be merge-on-read, rewrote $rewritten")
    assert(carried.asInstanceOf[Int] >= 1, s"no files carried: $carried")
    // ANSI: SET col = NULL actually writes NULL
    spark.sql("UPDATE gu.u SET name = NULL WHERE k = 30").collect()
    assert(GraftTable.read(spark, root).filter($"k" === 30)
      .select("name").collect()(0).isNullAt(0))
    // key reassignment refuses
    val e = intercept[Exception] {
      spark.sql("UPDATE gu.u SET k = k + 1000 WHERE k = 1").collect()
    }
    assert(e.getMessage.contains("reassign the key"), e.getMessage)
    // condition-less UPDATE = every row
    spark.sql("UPDATE gu.u SET v = 0").collect()
    assert(GraftTable.read(spark, root).agg(sum("v")).as[Long].head() === 0L)
    assert(GraftTable.latestVersion(spark, root) === 3)
  }

  test("TIMESTAMP AS OF: commit instants resolve to the snapshot a " +
    "reader at that wall-clock moment saw; too-early errors; writes refuse") {
    val base = freshBase()
    val root = base + "/tt"
    mk(root, n = 100, buckets = 2)
    Thread.sleep(25) // commit instants must be distinguishable at ms grain
    GraftTable.upsert(spark, root,
      spark.range(1, 11).select($"id".as("k"), lit("u1").as("name"),
        lit(-1L).as("v")), "k")
    Thread.sleep(25)
    GraftTable.deleteWhere(spark, root, $"k" > 50, "k")
    val ts = GraftTable.commitTimestamps(spark, root)
    assert(ts.map(_._1) === Seq(0, 1, 2))
    assert(ts.map(_._2) === ts.map(_._2).sorted, s"non-monotone: $ts")
    assert(GraftTable.resolveTimestamp(spark, root, ts(1)._2) === Some(1))
    assert(GraftTable.resolveTimestamp(spark, root, ts(2)._2 + 3600000)
      === Some(2))
    assert(GraftTable.resolveTimestamp(spark, root, ts(0)._2 - 1) === None)
    // SQL surface: the catalog's loadTable(ident, micros) overload
    spark.conf.set("spark.sql.catalog.gtt", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gtt.base", base)
    def fmt(ms: Long): String = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(ms))
    val atV1 = spark.sql("SELECT count(*) AS n, sum(CASE WHEN name = 'u1' " +
      s"THEN 1 ELSE 0 END) AS u FROM gtt.tt TIMESTAMP AS OF '${fmt(ts(1)._2)}'")
      .as[(Long, Long)].head()
    assert(atV1 === ((100L, 10L)))
    val atV0 = spark.sql("SELECT count(*) AS n, sum(CASE WHEN name = 'u1' " +
      s"THEN 1 ELSE 0 END) AS u FROM gtt.tt TIMESTAMP AS OF '${fmt(ts(0)._2)}'")
      .as[(Long, Long)].head()
    assert(atV0 === ((100L, 0L)))
    val early = intercept[Exception] {
      spark.sql("SELECT count(*) FROM gtt.tt TIMESTAMP AS OF " +
        s"'${fmt(ts(0)._2 - 1000)}'").collect()
    }
    assert(early.getMessage.contains("earliest retained"), early.getMessage)
    val w = intercept[Exception] {
      spark.sql(s"DELETE FROM gtt.tt TIMESTAMP AS OF '${fmt(ts(1)._2)}' " +
        "WHERE k = 1")
    }
    assert(w.getMessage.nonEmpty) // any refusal shape; must not commit
    assert(GraftTable.latestVersion(spark, root) === 2)
  }

  test("catalog lists tables and refuses writes with a clear message") {
    val base = freshBase()
    mk(base + "/t1"); mk(base + "/t2", n = 10, buckets = 1)
    Files.createDirectory(java.nio.file.Paths.get(base, "not_a_table"))
    spark.conf.set("spark.sql.catalog.glist", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.glist.base", base)
    assert(spark.sql("SHOW TABLES IN glist").select("tableName")
      .as[String].collect().sorted.toSeq === Seq("t1", "t2"))
    val e = intercept[Exception] {
      spark.sql("DROP TABLE glist.t2")
    }
    assert(e.getMessage.contains("deleting the table root"))
  }

  test("graft.dml.mode: auto's PER-FILE dirty-ratio flip point — one " +
    "DELETE statement DVs the barely-touched file and rewrites the " +
    "mostly-dead one; dv and cow modes force each path") {
    val base = freshBase()
    val root = base + "/dml"
    mk(root, n = 100, buckets = 2) // two ~50-row files, dense keys 1..100
    spark.conf.set("spark.sql.catalog.gdml", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gdml.base", base)
    val led0 = GraftTable.snapshotFileLedger(spark, root, 0).sortBy(_._2)
    assert(led0.size === 2)
    val (fA, fB) = (led0.head, led0(1)) // (rel, minKey, maxKey, nRows, bytes)
    // ONE statement, hybrid commit: 60% of file A (past the default
    // 0.5 ratio → rewrite outright) plus ~10% of file B (→ sidecar).
    // Dense keys make the per-file counts exact.
    val aHi = fA._2 + (fA._4 * 6) / 10 - 1
    val bHi = fB._2 + math.max(1L, fB._4 / 10) - 1
    spark.sql(s"DELETE FROM gdml.dml WHERE (k >= ${fA._2} AND k <= $aHi)" +
      s" OR (k >= ${fB._2} AND k <= $bHi)")
    val rels1 = GraftTable.snapshotFileLedger(spark, root, 1).map(_._1).toSet
    assert(!rels1.contains(fA._1),
      "a file past maxDirtyRatio must rewrite, not defer behind a DV")
    assert(rels1.contains(fB._1),
      "a barely-touched file must keep its bytes (deletion vector)")
    assert(GraftTable.hasDeletionVectors(spark, root, 1))
    val deleted = (aHi - fA._2 + 1) + (bHi - fB._2 + 1)
    assert(spark.sql("SELECT count(*) FROM gdml.dml").as[Long].head() ===
      100L - deleted)
    // dv mode: even a MOSTLY-DEAD file takes a sidecar (never rewrites)
    spark.sql(
      "ALTER TABLE gdml.dml SET TBLPROPERTIES ('graft.dml.mode' = 'dv')")
    assert(GraftTable.tableProperties(spark, root)
      .get("graft.dml.mode") === Some("dv"))
    val rels1b = GraftTable.snapshotFileLedger(spark, root, 1).map(_._1).toSet
    spark.sql(s"DELETE FROM gdml.dml WHERE k >= ${fB._2} AND k <= ${fB._3}")
    val rels2 = GraftTable.snapshotFileLedger(spark, root, 2).map(_._1).toSet
    // fB is now FULLY dead → drops; every other file keeps its bytes
    assert(rels2 === rels1b - fB._1)
    // cow mode — the right-to-erasure setting: physical rewrite only
    spark.sql(
      "ALTER TABLE gdml.dml SET TBLPROPERTIES ('graft.dml.mode' = 'cow')")
    val survivorRel = GraftTable.snapshotFileLedger(spark, root, 2)
      .sortBy(_._2).head
    spark.sql(s"DELETE FROM gdml.dml WHERE k = ${survivorRel._3}")
    val rels3 = GraftTable.snapshotFileLedger(spark, root, 3).map(_._1).toSet
    assert(!rels3.contains(survivorRel._1),
      "cow mode must physically rewrite the touched file")
    // UNSET restores the default (auto)
    spark.sql(
      "ALTER TABLE gdml.dml UNSET TBLPROPERTIES ('graft.dml.mode')")
    assert(!GraftTable.tableProperties(spark, root).contains("graft.dml.mode"))
    // logical content stayed exact through every mode
    assert(spark.sql("SELECT count(*) FROM gdml.dml").as[Long].head() ===
      100L - deleted - (fB._3 - fB._2 + 1 - (bHi - fB._2 + 1)) - 1)
  }

  test("hybrid delete ACCUMULATES prior DVs: a second narrow SQL " +
    "DELETE on an already-DV'd file folds old + new positions into " +
    "one fresh sidecar, and metadata count(*) stays exact throughout") {
    val base = freshBase()
    val root = base + "/acc"
    mk(root, n = 100, buckets = 1) // one file — both deletes hit it
    spark.conf.set("spark.sql.catalog.gacc", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gacc.base", base)
    val rel0 = GraftTable.snapshotFileLedger(spark, root, 0).map(_._1).toSet
    spark.sql("DELETE FROM gacc.acc WHERE k <= 5")  // 5% → DV
    spark.sql("DELETE FROM gacc.acc WHERE k >= 96") // 5% more, same file
    val rel2 = GraftTable.snapshotFileLedger(spark, root, 2).map(_._1).toSet
    assert(rel2 === rel0, "both deletes must keep the data file's bytes")
    assert(GraftTable.hasDeletionVectors(spark, root, 2))
    // metadata-served count(*) = nRows − dvRows: exact iff the second
    // commit's ledger carried the FIRST delete's positions forward
    assert(spark.sql("SELECT count(*) FROM gacc.acc").as[Long].head()
      === 90L)
    assert(spark.sql("SELECT count(*) FROM gacc.acc WHERE k <= 5 " +
      "OR k >= 96").as[Long].head() === 0L)
    // intermediate version still serves its own mask
    assert(spark.sql("SELECT count(*) FROM gacc.acc VERSION AS OF 1")
      .as[Long].head() === 95L)
  }

  test("SQL UPDATE and MERGE under auto mode are merge-on-read: zero " +
    "existing data files rewritten, DVs + one fresh file per commit") {
    val base = freshBase()
    val root = base + "/mor"
    mk(root, n = 100, buckets = 2)
    spark.conf.set("spark.sql.catalog.gmor", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gmor.base", base)
    val files0 = GraftTable.snapshotFileLedger(spark, root, 0).map(_._1).toSet
    // narrow UPDATE: old images retire via DV, postimages land fresh
    spark.sql("UPDATE gmor.mor SET v = -5 WHERE k >= 3 AND k <= 7")
    val files1 = GraftTable.snapshotFileLedger(spark, root, 1).map(_._1).toSet
    assert(files0.subsetOf(files1), "UPDATE must not rewrite existing files")
    assert(GraftTable.hasDeletionVectors(spark, root, 1))
    assert(spark.sql("SELECT count(*) FROM gmor.mor").as[Long].head() === 100L)
    assert(spark.sql("SELECT sum(v) FROM gmor.mor WHERE k >= 3 AND k <= 7")
      .as[Long].head() === -25L)
    // MERGE: matched-delete + matched-update via DVs, guarded insert
    Seq((10L, "del"), (20L, "upd"), (500L, "ins"))
      .toDF("sk", "act").createOrReplaceTempView("mor_src")
    spark.sql(
      """MERGE INTO gmor.mor a USING mor_src s ON a.k = s.sk
        |WHEN MATCHED AND s.act = 'del' THEN DELETE
        |WHEN MATCHED AND s.act = 'upd' THEN UPDATE SET v = -99
        |WHEN NOT MATCHED AND s.act = 'ins' THEN
        |  INSERT (k, name, v) VALUES (s.sk, 'fresh', 0)
        |""".stripMargin)
    val files2 = GraftTable.snapshotFileLedger(spark, root, 2).map(_._1).toSet
    assert(files1.subsetOf(files2), "MERGE must not rewrite existing files")
    assert(spark.sql("SELECT count(*) FROM gmor.mor").as[Long].head() === 100L)
    assert(spark.sql("SELECT v FROM gmor.mor WHERE k = 20")
      .as[Long].head() === -99L)
    assert(spark.sql("SELECT count(*) FROM gmor.mor WHERE k = 10")
      .as[Long].head() === 0L)
    assert(spark.sql("SELECT name FROM gmor.mor WHERE k = 500")
      .as[String].head() === "fresh")
    // OPTIMIZE absorbs every DV; content identical
    val (v3, _, _) = GraftTable.optimize(spark, root, "k", targetRows = 1000)
    assert(!GraftTable.hasDeletionVectors(spark, root, v3))
    assert(spark.sql("SELECT count(*) FROM gmor.mor").as[Long].head() === 100L)
  }

  test("branch SQL verbs: CREATE BRANCH / FAST FORWARD / DROP BRANCH " +
    "drive the whole workflow through the maintenance parser") {
    val base = freshBase()
    mk(base + "/t", n = 100, buckets = 1)
    spark.conf.set("spark.sql.catalog.gbr", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gbr.base", base)
    val created = spark.sql("CREATE BRANCH wip ON gbr.t").collect()(0)
    assert(created.getLong(0) === 0L)
    GraftTable.upsertBranch(spark, base + "/t",
      "wip", Seq((7L, "branched", -7L)).toDF("k", "name", "v"), "k")
    assert(spark.sql("SELECT count(*) FROM gbr.t WHERE name = 'branched'")
      .as[Long].head() === 0L) // invisible on main
    val ff = spark.sql("FAST FORWARD gbr.t FROM wip").collect()(0)
    assert(ff.getLong(0) === 1L && ff.getInt(1) === 1)
    assert(spark.sql("SELECT v FROM gbr.t WHERE k = 7")
      .as[Long].head() === -7L)
    spark.sql("DROP BRANCH wip ON gbr.t").collect()
    assert(GraftTable.listBranches(spark, base + "/t").isEmpty)
    // normal SQL still flows through the delegate untouched
    assert(spark.sql("SELECT 1 + 1").as[Int].head() === 2)
  }

  test("$branches and $properties metadata tables serve the ref and " +
    "policy state through SQL, zero data I/O") {
    val base = freshBase()
    val root = base + "/m"
    mk(root, n = 20, buckets = 1)
    spark.conf.set("spark.sql.catalog.gmt", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gmt.base", base)
    spark.sql("CREATE BRANCH exp ON gmt.m").collect()
    GraftTable.upsertBranch(spark, root, "exp",
      Seq((1L, "b", 0L)).toDF("k", "name", "v"), "k")
    spark.sql(
      "ALTER TABLE gmt.m SET TBLPROPERTIES ('graft.dml.mode' = 'dv')")
    val br = spark.sql("SELECT * FROM gmt.`m$branches`").collect()
    assert(br.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      === Seq(("exp", 0L, 1L)))
    val props = spark.sql(
      "SELECT value FROM gmt.`m$properties` WHERE property = 'graft.dml.mode'")
      .as[String].collect().toSeq
    assert(props === Seq("dv"))
    // dotted Iceberg-style form resolves too
    assert(spark.sql("SELECT count(*) FROM gmt.m.branches")
      .as[Long].head() === 1L)
  }

  test("OPTIMIZE ... WHERE k BETWEEN: scoped compaction rewrites only " +
    "the range's files; out-of-scope files carry untouched") {
    val base = freshBase()
    val root = base + "/opt"
    GraftTable.create(spark, root,
      spark.range(1, 1001).select($"id".as("k"),
        concat(lit("row"), $"id").as("name"), ($"id" * 2).as("v")),
      "k", nBuckets = 4) // four range files over 1..1000
    // fragment the HIGH key range: three singleton-file inserts
    (1 to 3).foreach { i =>
      GraftTable.upsert(spark, root,
        Seq((1100L + i, s"hi$i", 0L)).toDF("k", "name", "v"), "k",
        nBuckets = 1)
    }
    val led3 = GraftTable.snapshotFileLedger(spark, root, 3)
    assert(led3.size === 7) // 4 originals + 3 singletons
    val lowFiles = led3.filter(_._3 <= 1000).map(_._1).toSet
    spark.conf.set("spark.sql.catalog.gopt", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gopt.base", base)
    val r = spark.sql("OPTIMIZE gopt.opt TARGET 100000 ROWS " +
      "WHERE k BETWEEN 1050 AND 1300").collect()(0)
    assert(r.getInt(1) === 3 && r.getInt(2) === 4,
      s"expected the 3 fragments rewritten, 4 originals carried: $r")
    val led4 = GraftTable.snapshotFileLedger(spark, root, 4)
    assert(lowFiles.subsetOf(led4.map(_._1).toSet),
      "out-of-scope files must carry byte-identically")
    assert(led4.size === 5) // 4 carried + 1 packed
    assert(spark.sql("SELECT count(*) FROM gopt.opt").as[Long].head()
      === 1003L)
    // refusals: non-key range column; ZORDER + WHERE
    val e1 = intercept[Exception] {
      spark.sql("OPTIMIZE gopt.opt WHERE v BETWEEN 0 AND 10").collect() }
    assert(e1.getMessage.contains("key column"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("OPTIMIZE gopt.opt WHERE k BETWEEN 0 AND 10 " +
        "ZORDER BY (k, v)").collect() }
    assert(e2.getMessage.contains("whole-table layout"), e2.getMessage)
  }

  test("RESTORE through SQL: an old snapshot (by number or tag) " +
    "republishes as the new head; history preserved") {
    val base = freshBase()
    val root = base + "/r"
    mk(root, n = 50, buckets = 1)
    GraftTable.tag(spark, root, "golden", 0)
    spark.conf.set("spark.sql.catalog.grs", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.grs.base", base)
    spark.sql("DELETE FROM grs.r WHERE k <= 40") // v1
    assert(spark.sql("SELECT count(*) FROM grs.r").as[Long].head() === 10L)
    val v = spark.sql("RESTORE grs.r TO VERSION golden").collect()(0)
    assert(v.getLong(0) === 2L)
    assert(spark.sql("SELECT count(*) FROM grs.r").as[Long].head() === 50L)
    // history preserved: the delete's snapshot is still addressable
    assert(spark.sql("SELECT count(*) FROM grs.r VERSION AS OF 1")
      .as[Long].head() === 10L)
    // numeric form + unknown-ref refusal
    assert(spark.sql("RESTORE grs.r TO VERSION 1").collect()(0)
      .getLong(0) === 3L)
    val e = intercept[Exception] {
      spark.sql("RESTORE grs.r TO VERSION nope").collect() }
    assert(e.getMessage.contains("neither a version number nor a tag"))
  }

  test("runtime file pruning: a broadcast join's observed keys prune " +
    "manifest files at execution — files outside the key set never open") {
    val base = freshBase()
    val root = base + "/rf"
    mk(root, n = 100000, buckets = 8) // 8 range-bucketed files
    val fact = spark.read.format("graft").load(root)
    // a selective dimension: 3 keys landing in at most 3 of 8 files.
    // (A Range source, not a LocalRelation — ConvertToLocalRelation
    // would fold the selective filter away before the DPP rule looks
    // for one.)
    val dim = spark.range(0, 200000)
      .select($"id".as("k"), ($"id" % 97).as("tag"))
      .filter($"k".isin(5L, 50000L, 99999L))
    val olds = Seq("spark.sql.adaptive.enabled")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val joined = fact.join(broadcast(dim), "k")
      val rows = joined.collect()
      assert(rows.length === 3)
      val plan = joined.queryExecution.executedPlan
      // the scan subscribed to the join's runtime filter...
      assert(plan.toString.contains("RuntimeFilters: [dynamicpruning"),
        plan.toString.take(1200))
      // ...and actually pruned: of 8 files, at most 3 survived
      val scan = plan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2
          .BatchScanExec => b.scan
      }.collectFirst { case g: GraftBatchScan => g }.get
      assert(scan.runtimePrunedTo >= 1 && scan.runtimePrunedTo <= 3,
        s"expected ≤3 of 8 files after runtime pruning, " +
          s"got ${scan.runtimePrunedTo}")
    } finally olds.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("SQL-only branch workflow: CREATE BRANCH → INSERT INTO the " +
    "branch_ ref → branch reads serve the branch head, main untouched " +
    "→ FAST FORWARD publishes; MERGE BRANCH covers the advanced-main " +
    "case") {
    val base = freshBase()
    mk(base + "/bt", n = 100, buckets = 2)
    spark.conf.set("spark.sql.catalog.gbw", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gbw.base", base)
    spark.sql("CREATE BRANCH wip ON gbw.bt")
    // pure-SQL branch write through the Iceberg-style branch_ ref:
    // one keyed UPDATE of k=50 and one INSERT of k=101
    spark.sql("INSERT INTO gbw.bt.branch_wip VALUES " +
      "(50, 'b-upd', -1), (101, 'b-new', -2)")
    // main untouched; the branch ref serves the branch HEAD
    assert(spark.sql("SELECT count(*) FROM gbw.bt").as[Long].head() === 100)
    assert(spark.sql("SELECT count(*) FROM gbw.bt.branch_wip")
      .as[Long].head() === 101)
    assert(spark.sql(
      "SELECT name FROM gbw.bt.branch_wip WHERE k = 50")
      .as[String].head() === "b-upd")
    assert(spark.sql("SELECT name FROM gbw.bt WHERE k = 50")
      .as[String].head() === "row50")
    // publish: clean fast-forward in SQL
    val ff = spark.sql("FAST FORWARD gbw.bt FROM wip").collect()(0)
    assert(ff.getInt(1) === 1)
    assert(spark.sql("SELECT count(*) FROM gbw.bt").as[Long].head() === 101)
    assert(spark.sql("SELECT name FROM gbw.bt WHERE k = 50")
      .as[String].head() === "b-upd")
    // advanced-main case: new branch, main moves, MERGE BRANCH lands it
    spark.sql("CREATE BRANCH wip2 ON gbw.bt")
    spark.sql("INSERT INTO gbw.bt.branch_wip2 VALUES (500, 'merge-me', -3)")
    spark.sql("INSERT INTO gbw.bt VALUES (600, 'main-side', -4)")
    val mg = spark.sql("MERGE BRANCH wip2 INTO gbw.bt").collect()(0)
    assert(mg.getInt(1) === 1)
    val head = spark.sql("SELECT name FROM gbw.bt WHERE k IN (500, 600) " +
      "ORDER BY k").as[String].collect().toSeq
    assert(head === Seq("merge-me", "main-side"))
  }

  test("RESOLVE DELETES SQL verb: pending eqdel keys convert to DVs; " +
    "the PENDING RATIO form is a free probe below threshold") {
    val base = freshBase()
    mk(base + "/rq", n = 1000, buckets = 4)
    spark.conf.set("spark.sql.catalog.grq", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.grq.base", base)
    GraftTable.appendUpsert(spark, base + "/rq",
      spark.range(1, 6).select($"id".as("k"), lit("eq").as("name"),
        lit(0L).as("v")), "k")
    // 5 / 1000 = 0.5% < 2% default: the probe no-ops
    val r0 = spark.sql("RESOLVE DELETES grq.rq PENDING RATIO 0.02")
      .collect()(0)
    assert(r0.getInt(1) === 0)
    assert(GraftTable.hasLiveEqDels(spark, base + "/rq", 1))
    // unconditional form resolves
    val r1 = spark.sql("RESOLVE DELETES grq.rq").collect()(0)
    assert(r1.getInt(1) === 1 && r1.getLong(3) === 5L)
    assert(!GraftTable.hasLiveEqDels(spark, base + "/rq",
      r1.getLong(0).toInt))
    assert(spark.sql("SELECT count(*) FROM grq.rq").as[Long].head() === 1000)
    assert(spark.sql("SELECT name FROM grq.rq WHERE k = 3").as[String]
      .head() === "eq")
  }

  test("CREATE/REFRESH MATERIALIZED VIEW SQL verbs: the MV is a " +
    "queryable catalog table that a refresh advances by delta") {
    val base = freshBase()
    GraftTable.create(spark, base + "/msrc",
      spark.range(1, 501).select($"id".as("k"),
        ($"id" % 20).as("g"), ($"id" * 3).as("v")),
      "k", nBuckets = 4)
    spark.conf.set("spark.sql.catalog.gmv", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gmv.base", base)
    val created = spark.sql("CREATE MATERIALIZED VIEW gmv.mv AS " +
      "SELECT g, count(*) AS n, sum(v) AS sv FROM gmv.msrc GROUP BY g")
      .collect()(0)
    assert(created.getLong(0) === 0L)
    // the MV is an ordinary catalog table immediately
    assert(spark.sql("SELECT count(*) FROM gmv.mv").as[Long].head() === 20L)
    val sv7 = spark.sql("SELECT sv FROM gmv.mv WHERE g = 7").as[Long].head()
    assert(sv7 === (1 to 500).filter(_ % 20 == 7).map(_ * 3L).sum)
    // source advances; refresh catches up by delta (range predicate:
    // modulo filters don't translate to DSv2 DELETE source filters)
    spark.sql("DELETE FROM gmv.msrc WHERE k >= 7 AND k <= 10")
    val r = spark.sql("REFRESH MATERIALIZED VIEW gmv.mv").collect()(0)
    assert(r.getLong(1) === 4L) // groups 7, 8, 9, 10 dirty
    val sv7b = spark.sql("SELECT sv FROM gmv.mv WHERE g = 7").as[Long].head()
    assert(sv7b === (1 to 500).filter(i => i % 20 == 7 && i != 7)
      .map(_ * 3L).sum)
    // avg is a supported MV aggregate since round 15 (hidden exact
    // sum/count pair); a genuinely unsupported item still refuses loudly
    val e = intercept[IllegalArgumentException] {
      spark.sql("CREATE MATERIALIZED VIEW gmv.mv2 AS " +
        "SELECT g, median(v) AS a FROM gmv.msrc GROUP BY g")
    }
    assert(e.getMessage.contains("unsupported select item"))
  }

  test("ABSORB DELETES SQL verb: under-ratio no-ops for free; past " +
    "the ratio only DV'd files rewrite and the table returns to zero " +
    "deletion vectors") {
    val base = freshBase()
    mk(base + "/ab", n = 1000, buckets = 4)
    spark.conf.set("spark.sql.catalog.gab", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gab.base", base)
    spark.sql("DELETE FROM gab.ab WHERE k <= 100")
    assert(GraftTable.hasDeletionVectors(spark, base + "/ab", 1))
    // 10% dirty < default 0.2: free no-op
    val r0 = spark.sql("ABSORB DELETES gab.ab").collect()(0)
    assert(r0.getInt(1) === 0 && r0.getLong(0) === 1L)
    // explicit ratio fires it
    val r1 = spark.sql("ABSORB DELETES gab.ab DIRTY RATIO 0.05").collect()(0)
    assert(r1.getInt(1) === 1 && r1.getInt(2) >= 1)
    assert(!GraftTable.hasDeletionVectors(spark, base + "/ab",
      r1.getLong(0).toInt))
    assert(spark.sql("SELECT count(*) FROM gab.ab").as[Long].head() === 900)
  }

  test("runtime file pruning on the PARTITION-TRANSFORM column: a " +
    "broadcast join on the days() input column prunes to that day's " +
    "files via the colstats value ranges") {
    val base = freshBase()
    val root = base + "/rfp"
    // 8 calendar days × 1000 rows, partitioned days(ts) — built ONE
    // COMMIT PER DAY with nBuckets=1 so each data file covers exactly
    // one day BY CONSTRUCTION (a single bulk create's range sampler
    // can split a day across files under load, which made the
    // tightness bound below flaky — the per-file value ranges are now
    // structural, not sampling-dependent)
    def dayRows(day: Int) = spark.range(0, 8000)
      .filter($"id" % 8 === day.toLong).select(
        $"id".as("k"),
        timestamp_seconds(lit(86400L * 19000) + ($"id" % 8) * 86400L +
          floor($"id" / 8)).as("ts"),
        ($"id" * 3).as("v"))
    GraftTable.create(spark, root, dayRows(0), "k", nBuckets = 1,
      partitioning = Some(DaysPartition("ts")))
    (1 to 7).foreach(d =>
      GraftTable.appendUpsert(spark, root, dayRows(d), "k", nBuckets = 1))
    val fact = spark.read.format("graft").load(root)
    // a selective time dimension: 3 timestamps, ALL inside day
    // 19002 (ids ≡ 2 mod 8). Range-derived so the selective filter
    // survives to the DPP rule.
    val dim = spark.range(0, 8000)
      .filter($"id".isin(2L, 10L, 18L))
      .select(timestamp_seconds(lit(86400L * 19000) + ($"id" % 8) * 86400L +
        floor($"id" / 8)).as("ts"), lit("d").as("tag"))
    val olds = Seq("spark.sql.adaptive.enabled")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val joined = fact.join(broadcast(dim), "ts")
      val rows = joined.collect()
      assert(rows.length === 3)
      val plan = joined.queryExecution.executedPlan
      assert(plan.toString.contains("RuntimeFilters: [dynamicpruning"),
        plan.toString.take(1200))
      val scan = plan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2
          .BatchScanExec => b.scan
      }.collectFirst { case g: GraftBatchScan => g }.get
      assert(scan.runtimePrunedTo >= 1 && scan.runtimePrunedTo <= 2,
        s"expected ~1 of ~8 day-files after transform-value pruning, " +
          s"got ${scan.runtimePrunedTo}")
    } finally olds.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("columnar reads survive deletion vectors: one DV'd file among " +
    "clean ones keeps the whole scan vectorized (ColumnarToRow), " +
    "masked rows exact") {
    val base = freshBase()
    val root = base + "/cdv"
    mk(root, n = 1000, buckets = 4) // four ~250-row files
    // one narrow merge-on-read delete: a single file carries a DV
    GraftTable.deleteWhereDv(spark, root, $"k" >= 10 && $"k" <= 19)
    assert(GraftTable.hasDeletionVectors(spark, root, 1))
    val df = spark.read.format("graft").load(root)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"),
      s"DV'd snapshot must stay vectorized; got:\n${plan.take(1500)}")
    // the masked scan is exact through the columnar path: row count,
    // per-range absence, and a string column survive the copy
    assert(df.count() === 990)
    assert(df.filter($"k" >= 10 && $"k" <= 19).count() === 0)
    assert(df.agg(sum("v")).as[Long].head() ===
      (1 to 1000).map(_ * 10L).sum - (10 to 19).map(_ * 10L).sum)
    assert(df.filter($"k" === 20L).select("name").as[String].head()
      === "row20")
    // SQL surface too (the catalog resolves the same scan)
    spark.conf.set("spark.sql.catalog.gcdv", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcdv.base", base)
    assert(spark.sql("SELECT count(*) FROM gcdv.cdv WHERE k <= 100")
      .as[Long].head() === 90L)
  }

  test("KMV NDV stats flip a join's build side: the low-NDV aggregate " +
    "BROADCASTS exactly when digest evidence exists (CBO on), " +
    "sort-merges without it; estimates exact below k, bounded above") {
    val base = freshBase()
    val root = base + "/ndv"
    // 20k rows, 50-distinct category: the aggregate's TRUE output is
    // 50 rows — tiny with NDV evidence, input-sized without
    GraftTable.create(spark, root,
      spark.range(1, 20001).select($"id".as("k"),
        concat(lit("cat"), $"id" % 50).as("cat"), ($"id" * 3).as("v")),
      "k", nBuckets = 4)
    spark.conf.set("spark.sql.catalog.gndv", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gndv.base", base)
    // estimator contract: EXACT below k=128; within KMV error above
    assert(GraftTable.estimateDistinct(spark, root, 0, "cat") === Some(50L))
    val estK = GraftTable.estimateDistinct(spark, root, 0, "k").get
    assert(math.abs(estK - 20000L).toDouble / 20000 <= 0.30, s"estK=$estK")
    def q(t: String) =
      s"""SELECT t.cat, count(*) AS n FROM gndv.$t t
         |JOIN (SELECT cat, count(*) AS nc FROM gndv.$t GROUP BY cat) b
         |  ON t.cat = b.cat
         |GROUP BY t.cat""".stripMargin
    def planOf(table: String, cbo: Boolean): String = {
      val olds = Seq("spark.sql.cbo.enabled", "spark.sql.adaptive.enabled",
        "spark.sql.autoBroadcastJoinThreshold")
        .map(k => k -> spark.conf.getOption(k))
      try {
        spark.conf.set("spark.sql.cbo.enabled", cbo.toString)
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        // between the NDV-sized aggregate (50 rows ≈ 1.8 KB) and the
        // stats-free estimate (input-sized, tens of KB)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "4096")
        spark.sql(q(table)).queryExecution.executedPlan.toString
      } finally olds.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
    assert(planOf("ndv", cbo = true).contains("BroadcastHashJoin"),
      "NDV evidence must size the 50-row aggregate below the threshold")
    assert(planOf("ndv", cbo = false).contains("SortMergeJoin"),
      "without column stats the aggregate is input-sized: no broadcast")
    // the evidence control: a shallow CLONE shares the data but not
    // the digests — same query, same CBO confs, SMJ (refused estimate)
    GraftTable.cloneTable(spark, root, base + "/ndv2")
    assert(GraftTable.estimateDistinct(spark, base + "/ndv2", 0, "cat")
      === None)
    assert(planOf("ndv2", cbo = true).contains("SortMergeJoin"),
      "no digest coverage must refuse the estimate, not guess")
    // DV'd snapshots KEEP serving: a digest describes physical content,
    // a superset of the live rows, so the estimate is a valid UPPER
    // BOUND — one narrow MoR delete must not black out the table's CBO
    GraftTable.deleteWhereDv(spark, root, $"k" <= 5)
    assert(GraftTable.estimateDistinct(spark, root, 1, "cat") === Some(50L),
      "DV'd file digests still serve (upper bound on live NDV)")
    val estKdv = GraftTable.estimateDistinct(spark, root, 1, "k").get
    // upper-bound contract: the estimate covers the physical 20000 keys
    // (live = 19995) within KMV error — never below the live count by
    // more than sketch error, never refused
    assert(math.abs(estKdv - 20000L).toDouble / 20000 <= 0.30,
      s"estKdv=$estKdv")
    // and the BHJ flip stays pinned on the DV'd snapshot — the q315
    // capability survives the default merge-on-read DML mode
    assert(planOf("ndv", cbo = true).contains("BroadcastHashJoin"),
      "NDV evidence must keep sizing the aggregate after a MoR delete")
  }
}
