package whbench

import scala.util.Random

import org.apache.spark.sql.Row

/** One analyst query: its kind (the `read.<kind>` span), the SQL text
  * through the `graft` catalog, the answer the in-memory replay gives
  * (canonical rows), and the table version whose files it may open
  * with their pruned count, for the trace's files-scanned ratio. */
final case class Query(kind: String, sql: String, expected: Seq[String],
    prune: Option[(Long, Long)] = None, version: Option[Int] = None)

/** The analyst mix asked after every load: a point lookup, a key range,
  * a GROUP BY the MV serves, the same aggregate with a predicate the MV
  * cannot serve (so it scans), and a `VERSION AS OF` read of the
  * snapshot before the load. Expected answers come from the replay, not
  * from Spark. */
object Analyst {
  val table = "graft.sales"

  /** Canonical form of result rows: sorted, numbers without trailing zeros. */
  def canon(rows: Seq[Seq[Any]]): Seq[String] = rows.map(_.map {
    case null => "null"
    case n: java.lang.Number => BigDecimal(n.toString).bigDecimal.stripTrailingZeros.toPlainString
    case x => x.toString
  }.mkString("|")).sorted

  def canonRows(rows: Array[Row]): Seq[String] = canon(rows.toSeq.map(_.toSeq))

  private def sumOrNull(xs: Iterable[Long]): Any = if (xs.isEmpty) null else xs.sum

  /** The served aggregate shapes (the MV groups by product × day); each
    * takes an extra predicate, which is empty for the served form. */
  private val shapes: Seq[(String, Seq[Sale] => Seq[Seq[Any]])] = Seq(
    ("SELECT product, day, count(*) AS n, sum(amount) AS rev FROM %s %s GROUP BY product, day",
      rows => rows.groupBy(s => (s.product, s.day)).toSeq.map { case ((p, d), ss) =>
        Seq(p, d, ss.size.toLong, ss.map(_.amount).sum) }),
    ("SELECT product, sum(qty) AS units, sum(amount) AS rev FROM %s %s GROUP BY product",
      rows => rows.groupBy(_.product).toSeq.map { case (p, ss) =>
        Seq(p, ss.map(_.qty.toLong).sum, ss.map(_.amount).sum) }),
    ("SELECT day, count(*) AS n, sum(amount) AS rev FROM %s %s GROUP BY day",
      rows => rows.groupBy(_.day).toSeq.map { case (d, ss) =>
        Seq(d, ss.size.toLong, ss.map(_.amount).sum) }),
    ("SELECT count(*) AS n, sum(amount) AS rev FROM %s %s",
      rows => Seq(Seq(rows.size.toLong, sumOrNull(rows.map(_.amount))))))

  /** The mix after one load: `now` is the replay after the load, `before`
    * the replay at version `vBefore`, `nextKey` the first unused key;
    * `absent` makes the point lookup ask for a key that was never written. */
  def mix(rnd: Random, absent: Boolean, now: Iterable[Sale], before: Iterable[Sale],
      vBefore: Int, nextKey: Long, corrupt: Boolean): Seq[Query] = {
    val live = now.toIndexedSeq
    val k = if (absent) nextKey + 17 else live(rnd.nextInt(live.size)).k
    val point = Query("point", s"SELECT k, product, day, qty, amount FROM $table WHERE k = $k",
      canon(live.filter(_.k == k).map(s => Seq(s.k, s.product, s.day, s.qty, s.amount))),
      prune = Some((k, k)))

    val width = (nextKey / 16) max 1
    val lo = rnd.nextLong(nextKey)
    val inRange = live.filter(s => s.k >= lo && s.k <= lo + width)
    val range = Query("range",
      s"SELECT count(*) AS n, sum(amount) AS rev FROM $table WHERE k BETWEEN $lo AND ${lo + width}",
      canon(Seq(Seq(inRange.size.toLong, sumOrNull(inRange.map(_.amount))))),
      prune = Some((lo, lo + width)))

    // the served shape is drawn from the seed, independently of the load
    // kind; the product slice rides as a residual on an MV group column,
    // which the MV still serves
    val shapeIdx = rnd.nextInt(shapes.size)
    val (shape, eval) = shapes(shapeIdx)
    val p = rnd.nextInt(SalesGen.nProducts)
    val (slice, sliced) =
      if (shapeIdx == 2) (s"WHERE product = $p", live.filter(_.product == p))
      else ("", live)
    val twinPred = if (slice.isEmpty) "WHERE qty >= 2" else s"$slice AND qty >= 2"
    val servedQ = Query("mv_agg", shape.format(table, slice), canon(eval(sliced)))
    val scanQ = Query("scan_agg", shape.format(table, twinPred),
      canon(eval(sliced.filter(_.qty >= 2))), prune = Some((Long.MinValue, Long.MaxValue)))

    val old = before.toIndexedSeq
    val tlo = rnd.nextLong(nextKey)
    val tInRange = old.filter(s => s.k >= tlo && s.k <= tlo + width * 4)
    val travel = Query("time_travel",
      s"SELECT product, count(*) AS n, sum(amount) AS rev FROM $table VERSION AS OF $vBefore " +
        s"WHERE k BETWEEN $tlo AND ${tlo + width * 4} GROUP BY product",
      canon(tInRange.groupBy(_.product).toSeq.map { case (pr, ss) =>
        Seq(pr, ss.size.toLong, ss.map(_.amount).sum) }),
      prune = Some((tlo, tlo + width * 4)), version = Some(vBefore))

    val qs = Seq(point, range, servedQ, scanQ, travel)
    if (corrupt) qs.head.copy(expected = Seq("corrupted")) +: qs.tail else qs
  }
}
