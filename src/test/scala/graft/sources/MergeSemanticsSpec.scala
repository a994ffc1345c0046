package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import java.nio.file.Files

/** The keyed merge's semantics over generated batches: under every
  * `graft.dml.mode`, `applyCdcBatch` reads back what an in-memory model
  * of the documented contract computes, and its change feed does not
  * depend on the mode; an all-`upsert` batch reads back the same
  * through `upsert` and `insertBatch`. Fixed seeds and 12 cases: each
  * case runs a few dozen small Spark jobs. */
class MergeSemanticsSpec extends SparkSpec {
  import spark.implicits._

  private final case class Change(k: Long, name: Option[String],
    v: Option[Long], op: String)

  private type Table = Map[Long, (Option[String], Option[Long])]

  // keys 1..40 in four files of ten keys; 41..50 are never in the table
  private val base: Table =
    (1L to 40L).map(k => k -> (Some(s"n$k"), Some(k))).toMap

  /** Upsert merges column-wise (a NULL cell keeps the table's value),
    * replace writes the row as it is, delete drops the key; a key both
    * upserted and deleted in one batch is deleted. */
  private def model(t: Table, batch: Seq[Change]): Table =
    batch.filter(_.op != "delete").foldLeft(t) { (m, c) =>
      val row = m.get(c.k) match {
        case Some((n, v)) if c.op == "upsert" => (c.name.orElse(n), c.v.orElse(v))
        case _ => (c.name, c.v)
      }
      m.updated(c.k, row)
    } -- batch.filter(_.op == "delete").map(_.k)

  /** A mixed batch of matched and unmatched keys with NULL cells:
    * every op at least once, and one key both upserted and deleted. */
  private val batchGen: Gen[Seq[Change]] = for {
    nMatched <- Gen.choose(4, 12)
    matched <- Gen.pick(nMatched, 1L to 40L)
    nUnmatched <- Gen.choose(1, 3)
    unmatched <- Gen.pick(nUnmatched, 41L to 50L)
    keys <- Gen.const((matched ++ unmatched).toSeq)
    extraOps <- Gen.listOfN(keys.size,
      Gen.oneOf("upsert", "replace", "delete"))
    names <- Gen.listOfN(keys.size, Gen.option(Gen.oneOf("a", "b", "c")))
    vs <- Gen.listOfN(keys.size, Gen.option(Gen.choose(-5L, 5L)))
    tie <- Gen.oneOf(keys)
  } yield {
    val others = keys.filter(_ != tie)
    val ops = Seq("upsert", "replace", "delete") ++ extraOps
    others.zip(ops).zip(names.zip(vs)).map { case ((k, op), (n, v)) =>
      Change(k, n, v, op) } ++
      Seq(Change(tie, Some("tie"), Some(0L), "upsert"),
        Change(tie, None, None, "delete"))
  }

  private def cases(n: Int): Seq[Seq[Change]] = (1 to n).flatMap { i =>
    batchGen(Gen.Parameters.default, org.scalacheck.rng.Seed(i * 7919L))
  }

  private def toDf(batch: Seq[Change]): DataFrame =
    batch.map(c => (c.k, c.name, c.v, c.op)).toDF("k", "name", "v", "_op")

  private def readBack(root: String): Table =
    GraftTable.read(spark, root).as[(Long, Option[String], Option[Long])]
      .collect().map { case (k, n, v) => k -> ((n, v)) }.toMap

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString).sorted

  test("merge semantics: applyCdcBatch under cow, dv and auto reads back " +
    "the model with one change feed; upsert and insertBatch agree on " +
    "all-upsert batches") {
    val dir = Files.createTempDirectory("graft_merge_semantics").toString
    val start = base.toSeq.sortBy(_._1).map { case (k, (n, v)) =>
      (k, n, v) }.toDF("k", "name", "v")
    val roots = Seq("cow", "dv", "auto", "upsert", "insert").map { name =>
      val root = s"$dir/$name"
      GraftTable.create(spark, root, start, "k", nBuckets = 4)
      if (Set("cow", "dv", "auto")(name))
        GraftTable.setTableProperty(spark, root, "graft.dml.mode", name)
      name -> root
    }.toMap
    val picked = cases(12)
    assert(picked.size === 12)
    picked.zipWithIndex.foreach { case (batch, i) =>
      val want = model(base, batch)
      // every case starts from the created table
      val from = roots.map { case (name, root) =>
        name -> GraftTable.restore(spark, root, 0) }
      val feeds = Seq("cow", "dv", "auto").map { mode =>
        val root = roots(mode)
        val (v, _, _) = GraftTable.applyCdcBatch(spark, root, toDf(batch), "k")
        assert(readBack(root) === want, s"case $i, $mode: $batch")
        sortedRows(GraftTable.changes(spark, root, from(mode), v, "k"))
      }
      assert(feeds.distinct.size === 1, s"case $i: $batch")
      val ups = batch.filter(_.op != "delete").map(_.copy(op = "upsert"))
      val upsDf = toDf(ups).drop("_op")
      GraftTable.upsert(spark, roots("upsert"), upsDf, "k")
      GraftTable.insertBatch(spark, roots("insert"), upsDf, "k")
      assert(readBack(roots("upsert")) === model(base, ups), s"case $i")
      assert(readBack(roots("insert")) === readBack(roots("upsert")),
        s"case $i")
    }
  }
}
