package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import java.nio.file.Files

/** Contracts of the write verbs' shared commit core: who owns a batch
  * cache; that every delete verb (and every DML mode), and every other
  * verb on the core, lands the same content and reports the same
  * counts it always has; and how the rewrite and merge verbs resolve a
  * commit that lands after their snapshot. */
class CommitCoreSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft_commit_core_spec").toString + "/tbl"

  private def rows(lo: Int, hi: Int) = spark.range(lo, hi + 1).select(
    $"id".as("k"), concat(lit("row"), $"id").as("name"),
    ($"id" * 10).as("v"))

  test("a batch the caller cached stays cached after upsert and " +
    "applyCdcBatch; a batch the verb cached itself is released") {
    val root = freshRoot()
    GraftTable.create(spark, root, rows(1, 100), "k", nBuckets = 2)
    val up = rows(1, 5).withColumn("name", lit("up")).cache()
    up.count()
    GraftTable.upsert(spark, root, up, "k")
    assert(up.storageLevel != StorageLevel.NONE)
    val cdc = rows(6, 10).withColumn("name", lit("cdc"))
      .withColumn("_op", lit("upsert")).cache()
    cdc.count()
    GraftTable.applyCdcBatch(spark, root, cdc, "k")
    assert(cdc.storageLevel != StorageLevel.NONE)
    val own = rows(11, 15).withColumn("name", lit("own"))
    GraftTable.upsert(spark, root, own, "k")
    assert(own.storageLevel === StorageLevel.NONE)
    assert(GraftTable.read(spark, root).groupBy("name").count()
      .filter($"name".isin("up", "cdc", "own")).as[(String, Long)]
      .collect().toMap === Map("up" -> 5L, "cdc" -> 5L, "own" -> 5L))
    up.unpersist(); cdc.unpersist()
  }

  // four single-file key ranges: [1,100] [101,200] [201,300] [301,400]
  private def fourFiles(mode: Option[String]): String = {
    val root = freshRoot()
    GraftTable.create(spark, root, rows(1, 100), "k", nBuckets = 1)
    Seq(101, 201, 301).foreach(lo =>
      GraftTable.upsert(spark, root, rows(lo, lo + 99), "k", nBuckets = 1))
    mode.foreach(GraftTable.setTableProperty(spark, root, "graft.dml.mode", _))
    assert(GraftTable.history(spark, root).last === ((3, 4, 400L)))
    root
  }

  // empties file 1, touches file 2 lightly (1 %), dirties file 3 (70 %)
  private val pred = $"k" <= 100 || $"k" === 150 || ($"k" > 200 && $"k" <= 270)

  private def sorted(df: org.apache.spark.sql.DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  test("delete parity: deleteWhere, deleteWhereDv and deleteWhereAuto " +
    "under every graft.dml.mode land the same content and change feed") {
    val runs: Seq[(String, String => Product)] = Seq(
      "deleteWhere" -> (r => GraftTable.deleteWhere(spark, r, pred, "k")),
      "deleteWhereDv" -> (r => GraftTable.deleteWhereDv(spark, r, pred)),
      "auto@cow" -> (r => GraftTable.deleteWhereAuto(spark, r, pred, "k")),
      "auto@dv" -> (r => GraftTable.deleteWhereAuto(spark, r, pred, "k")),
      "auto@auto" -> (r => GraftTable.deleteWhereAuto(spark, r, pred, "k")))
    val modes = Map("auto@cow" -> "cow", "auto@dv" -> "dv",
      "auto@auto" -> "auto")
    // a fully emptied file counts as rewritten under copy-on-write and
    // as DV'd under deleteWhereDv; the hybrid counts it in neither
    val expected = Map(
      "deleteWhere" -> ((4, 3, 1)),
      "deleteWhereDv" -> ((4, 3, 1)),
      "auto@cow" -> ((4, 0, 3, 1)),
      "auto@dv" -> ((4, 3, 0, 1)),
      "auto@auto" -> ((4, 1, 1, 1)))
    val want = sorted(rows(1, 400).filter(!pred))
    assert(want.size === 229)
    val feeds = runs.map { case (name, verb) =>
      val root = fourFiles(modes.get(name))
      assert(verb(root) === expected(name), name)
      assert(sorted(GraftTable.read(spark, root)) === want, name)
      assert(GraftTable.history(spark, root).last._3 === 229L, name)
      val feed = sorted(GraftTable.changes(spark, root, 3, 4, "k"))
      assert(feed.size === 171, name)
      name -> feed
    }
    feeds.tail.foreach { case (name, feed) =>
      assert(feed === feeds.head._2, s"$name vs ${feeds.head._1}")
    }
  }

  // ---- the rest of the write verbs on the core --------------------

  // the parity table: fourFiles plus a v4 deletion vector over every
  // tenth key of file 1
  private val dvPred = $"k" <= 100 && $"k" % 10 === 0

  private def parityTable(): String = {
    val root = fourFiles(None)
    GraftTable.deleteWhereDv(spark, root, dvPred)
    root
  }

  private def live = rows(1, 400).filter(!dvPred)

  /** (minKey, maxKey, nRows, dvRows) per manifest line, in file order. */
  private def ledger(manifest: String): Seq[(Long, Long, Long, Long)] = {
    val src = scala.io.Source.fromFile(manifest)
    try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val p = l.split('\t')
        (p(1).toLong, p(2).toLong, p(3).toLong,
          if (p.length > 6) p(6).toLong else 0L)
      }.toList
    finally src.close()
  }

  /** Kinds of the token-named sidecars staged with version `v` in `dir`. */
  private def sidecarKinds(dir: String, v: Int): Set[String] = {
    val rx = f"([a-z]+)-v$v%05d-[0-9a-f]{8}\\.(json|tsv)".r
    new java.io.File(dir).list().toSeq.collect { case rx(kind, _) => kind }
      .toSet
  }

  /** The definition in a manifest's header: the schema's field names,
    * the `#partition` transform and the `#layout` bucket count. */
  private def definition(manifest: String)
      : (Seq[String], Option[String], Option[String]) = {
    val src = scala.io.Source.fromFile(manifest)
    val header = try src.getLines().takeWhile(_.startsWith("#")).map { l =>
        val (k, v) = l.span(_ != '\t'); k -> v.drop(1) }.toMap
      finally src.close()
    (org.apache.spark.sql.types.DataType.fromJson(header("#schema"))
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq,
      header.get("#partition"), header.get("#layout"))
  }

  private val parityDefinition: (Seq[String], Option[String],
    Option[String]) = (Seq("k", "name", "v"), None, None)

  /** Run `verb` on a fresh parity table and pin what it returns, the
    * manifest ledger and header definition of version `v` in the
    * table's `dir`, the sidecar kinds staged with that version, and the
    * rows `read` reads back. */
  private def pin(name: String, verb: String => Any, result: Any,
      ledger0: Seq[(Long, Long, Long, Long)], sidecars: Set[String],
      want: org.apache.spark.sql.DataFrame, v: Int = 5, dir: String = "_log",
      read: String => org.apache.spark.sql.DataFrame =
        GraftTable.read(spark, _),
      definition0: (Seq[String], Option[String], Option[String]) =
        parityDefinition): Unit = {
    val root = parityTable()
    assert(verb(root) === result, name)
    assert(ledger(f"$root/$dir/v$v%05d.manifest") === ledger0, name)
    assert(definition(f"$root/$dir/v$v%05d.manifest") === definition0, name)
    assert(sidecarKinds(s"$root/$dir", v) === sidecars, name)
    assert(sorted(read(root)) === sorted(want), name)
  }

  test("parity: every verb on the commit core returns, lays out, stages " +
    "and reads back what it always has") {
    val four = Seq((1L, 100L, 100L, 10L), (101L, 200L, 100L, 0L),
      (201L, 300L, 100L, 0L), (301L, 400L, 100L, 0L))
    val stats = Set("colstats", "kmv")
    pin("optimize", GraftTable.optimize(spark, _, "k", targetRows = 250),
      (5, 3, 1), Seq((301L, 400L, 100L, 0L), (1L, 300L, 290L, 0L)), stats,
      live)
    pin("absorbDvs", GraftTable.absorbDvs(spark, _, "k"), (5, 1, 3),
      four.tail :+ ((1L, 99L, 90L, 0L)), stats, live)
    pin("optimizeZOrder", GraftTable.optimizeZOrder(spark, _, "k", "k", "v",
      targetRows = 200), (5, 2),
      Seq((1L, 205L, 195L, 0L), (206L, 400L, 195L, 0L)), stats, live)
    pin("restore", GraftTable.restore(spark, _, 1), 5,
      Seq((1L, 100L, 100L, 0L), (101L, 200L, 100L, 0L)), Set.empty,
      rows(1, 200))
    pin("setPartitioning", GraftTable.setPartitioning(spark, _,
      TruncatePartition(100, "k")), 5, four, Set.empty, live,
      definition0 = (Seq("k", "name", "v"), Some("truncate(100,k)"), None))
    pin("setHashBuckets", GraftTable.setHashBuckets(spark, _, "k", 3), 5,
      Seq((2L, 399L, 139L, 0L), (1L, 388L, 118L, 0L), (5L, 400L, 133L, 0L)),
      stats, live, definition0 = (Seq("k", "name", "v"), None, Some("3")))
    pin("evolveAddColumns", GraftTable.evolveAddColumns(spark, _,
      Seq(org.apache.spark.sql.types.StructField("extra",
        org.apache.spark.sql.types.StringType))), 5, four, Set.empty,
      live.withColumn("extra", lit(null).cast("string")),
      definition0 = (Seq("k", "name", "v", "extra"), None, None))
    pin("renameColumn", GraftTable.renameColumn(spark, _, "name", "label"),
      5, four, Set.empty, live,
      definition0 = (Seq("k", "label", "v"), None, None))
    pin("dropColumn", GraftTable.dropColumn(spark, _, "name"), 5, four,
      Set.empty, live.drop("name"), definition0 = (Seq("k", "v"), None, None))
    val branched = live.filter($"k" =!= 5).unionByName(branchBatch)
    def branch(root: String): Int = {
      GraftTable.createBranch(spark, root, "wip")
      GraftTable.upsertBranch(spark, root, "wip", branchBatch, "k")
    }
    pin("upsertBranch", branch, 1,
      four.tail ++ Seq((1L, 51L, 46L, 0L), (52L, 405L, 45L, 0L)), stats,
      branched, v = 1, dir = "_log/branch-wip",
      read = GraftTable.readBranch(spark, _, "wip"))
    pin("mergeBranch", { root =>
      branch(root)
      GraftTable.upsert(spark, root, rows(305, 305)
        .withColumn("name", lit("main")), "k", nBuckets = 1)
      GraftTable.mergeBranch(spark, root, "wip")
    }, Right((6, 2L)), four.updated(0, (1L, 100L, 100L, 11L)) :+
      ((5L, 405L, 2L, 0L)), stats, branched.filter($"k" =!= 305)
      .unionByName(rows(305, 305).withColumn("name", lit("main"))), v = 6)
  }

  // the branch change of the parity spec: update key 5, insert key 405
  private def branchBatch = rows(5, 5).withColumn("name", lit("branch"))
    .unionByName(rows(405, 405))

  /** Run `verb` with a copy-on-write upsert of `racer` rows committed
    * just before its first manifest publish. */
  private def racedBy[T](root: String, racer: org.apache.spark.sql.DataFrame)(
      verb: => T): T =
    GraftTable.withLogStore(new RaceOnceLogStore(() => {
      GraftTable.upsert(spark, root, racer, "k", nBuckets = 1); ()
    }))(verb)

  test("absorbDvs rebases over a disjoint copy-on-write upsert that " +
    "landed after its snapshot") {
    val root = parityTable()
    // rewrites file 4; the absorb's only input is file 1
    val racer = rows(305, 305).withColumn("name", lit("racer"))
    assert(racedBy(root, racer)(GraftTable.absorbDvs(spark, root, "k")) ===
      ((6, 1, 3)))
    assert(!GraftTable.hasDeletionVectors(spark, root, 6))
    assert(sorted(GraftTable.read(spark, root)) === sorted(
      live.filter($"k" =!= 305).unionByName(racer)))
  }

  test("optimizeZOrder rebases over a disjoint copy-on-write upsert " +
    "that landed after its snapshot") {
    val root = parityTable()
    // inserts key 500: a new file, every z-order input stays live
    val racer = rows(500, 500)
    assert(racedBy(root, racer)(GraftTable.optimizeZOrder(spark, root, "k",
      "k", "v", targetRows = 200)) === ((6, 2)))
    // the racer's and the rewrite's files share one version directory
    // prefix, so their manifest order is random: compare as a set
    assert(ledger(s"$root/_log/v00006.manifest").toSet === Set(
      (500L, 500L, 1L, 0L), (1L, 205L, 195L, 0L), (206L, 400L, 195L, 0L)))
    assert(sorted(GraftTable.read(spark, root)) ===
      sorted(live.unionByName(racer)))
  }

  test("mergeBranch: a conflicting main commit that lands after the " +
    "merge's snapshot refuses the merge and keeps main's value") {
    val root = freshRoot()
    GraftTable.create(spark, root, rows(1, 50), "k", nBuckets = 2)
    GraftTable.createBranch(spark, root, "b")
    GraftTable.upsertBranch(spark, root, "b",
      rows(5, 5).withColumn("name", lit("branch")), "k")
    val main = rows(5, 5).withColumn("name", lit("main"))
    assert(racedBy(root, main)(GraftTable.mergeBranch(spark, root, "b")) ===
      Left(1L))
    assert(GraftTable.latestVersion(spark, root) === 1)
    assert(GraftTable.read(spark, root).filter($"k" === 5)
      .select("name").as[String].collect().toSeq === Seq("main"))
  }
}
