package whbench

import scala.collection.mutable
import scala.util.Random

/** What the ETL generator knows it injected — the expected shape of
  * every `Pipeline.runAndSave` output. Revenues are in cents. */
final case class EtlExpect(landing: Long, invalid: Long, cleansed: Long,
    locations: Long, days: Long, productVersions: Long, fact: Long,
    cleansedRevenueCents: Long, factRevenueCents: Long)

final case class EtlInput(lines: Seq[String], expect: EtlExpect)

/** Seeded dirty sales CSV in the reference's January shape: one header,
  * `Order ID,Product,Quantity Ordered,Price Each,Order Date,Purchase
  * Address` rows over 01/01/19..02/01/19 (32 days), 19 products of which
  * a few change price mid-month (SCD2 versions), 10 (city, state) pairs
  * including both Portlands, and three dirt classes: repeated header
  * lines, `,,,,,` lines and exact duplicate lines. */
object EtlGen {

  val header = "Order ID,Product,Quantity Ordered,Price Each,Order Date,Purchase Address"

  /** (name, base price in cents, popularity weight) */
  private val products: Seq[(String, Long, Int)] = Seq(
    ("USB-C Charging Cable", 1195L, 22), ("Lightning Charging Cable", 1495L, 22),
    ("AAA Batteries (4-pack)", 299L, 21), ("AA Batteries (4-pack)", 384L, 21),
    ("Wired Headphones", 1199L, 19), ("Apple Airpods Headphones", 15000L, 16),
    ("Bose SoundSport Headphones", 9999L, 13), ("27in FHD Monitor", 14999L, 8),
    ("iPhone", 70000L, 7), ("27in 4K Gaming Monitor", 38999L, 6),
    ("34in Ultrawide Monitor", 37999L, 6), ("Google Phone", 60000L, 5),
    ("Flatscreen TV", 30000L, 5), ("Macbook Pro Laptop", 170000L, 5),
    ("ThinkPad Laptop", 99999L, 4), ("20in Monitor", 10999L, 4),
    ("Vareebadd Phone", 40000L, 2), ("LG Washing Machine", 60000L, 1),
    ("LG Dryer", 60000L, 1))

  private val cities: Seq[(String, String, String)] = Seq(
    ("San Francisco", "CA", "94016"), ("Los Angeles", "CA", "90001"),
    ("New York City", "NY", "10001"), ("Boston", "MA", "02215"),
    ("Atlanta", "GA", "30301"), ("Dallas", "TX", "75001"),
    ("Seattle", "WA", "98101"), ("Portland", "OR", "97035"),
    ("Portland", "ME", "04101"), ("Austin", "TX", "73301"))

  private val streetNames = Seq("Main", "Park", "Oak", "Pine", "Maple", "Cedar",
    "Elm", "Washington", "Lake", "Hill", "Walnut", "Spruce", "Ridge", "Church",
    "Willow", "Meadow", "Forest", "Sunset", "Jackson", "Lincoln", "River",
    "Highland", "Cherry", "Adams", "Madison", "Jefferson", "Chestnut", "Hickory",
    "North", "South", "West", "Center", "Dogwood", "Johnson", "Wilson", "Lakeview")
  private val streetSuffixes = Seq("St", "Ave", "Rd", "Dr", "Ln", "Blvd")

  private val days = 32 // 01/01/19 .. 02/01/19

  private def dateText(day: Int, minuteOfDay: Int): String = {
    val d = java.time.LocalDate.of(2019, 1, 1).plusDays(day.toLong)
    f"${d.getMonthValue}%02d/${d.getDayOfMonth}%02d/${d.getYear % 100}%02d " +
      f"${minuteOfDay / 60}%02d:${minuteOfDay % 60}%02d"
  }

  private def priceText(cents: Long): String =
    if (cents % 100 == 0) (cents / 100).toString
    else f"${cents / 100}.${cents % 100}%02d"

  /** @param validLines distinct valid order lines before the dirt; the
    *   location dimension gets 15/16 as many distinct addresses. */
  def generate(seed: Long, validLines: Int = 160, repeatedHeaders: Int = 4,
      blankLines: Int = 6, duplicates: Int = 5, priceChanges: Int = 3): EtlInput = {
    val rnd = new Random(seed)
    val weights = products.map(_._3)
    val totalW = weights.sum
    def pickProduct(): Int = {
      var r = rnd.nextInt(totalW)
      var i = 0
      while (r >= weights(i)) { r -= weights(i); i += 1 }
      i
    }
    // SCD2: a few products switch price on a mid-month day; which ones is
    // fixed, so the dense fact's shape does not depend on the seed
    val changed: Map[Int, (Int, Long)] = Seq(0, 8, 13).take(priceChanges).map { p =>
        val base = products(p)._2
        p -> (8 + rnd.nextInt(16), base + (if (rnd.nextBoolean()) 1 else -1) * (base / 10 max 1))
      }.toMap
    def priceOn(p: Int, day: Int): Long = changed.get(p) match {
      case Some((changeDay, newPrice)) if day >= changeDay => newPrice
      case _ => products(p)._2
    }

    final case class Line(orderId: Int, product: Int, qty: Int, day: Int,
        minute: Int, street: String, city: Int)
    // a fixed number of distinct addresses (the location dimension's
    // size, which the dense fact multiplies by), each used once before
    // any repeats
    val nAddresses = validLines * 15 / 16
    val pool = mutable.LinkedHashSet.empty[(String, Int)]
    while (pool.size < nAddresses)
      pool += ((s"${1 + rnd.nextInt(999)} ${streetNames(rnd.nextInt(streetNames.size))} " +
        streetSuffixes(rnd.nextInt(streetSuffixes.size)), rnd.nextInt(cities.size)))
    val addresses = pool.toIndexedSeq
    var used = 0
    def address(): (String, Int) = {
      used += 1
      if (used <= addresses.size) addresses(used - 1) else addresses(rnd.nextInt(addresses.size))
    }
    def qty(p: Int): Int = {
      val r = rnd.nextInt(100)
      if (r < 85) 1 else if (r < 95) 2 else if (products(p)._2 < 2000) 3 + rnd.nextInt(2) else 2
    }
    // forced lines first: both calendar ends, and every price version
    val forced: Seq[(Int, Int)] = Seq((0, 0), (0, days - 1)) ++
      products.indices.flatMap { p =>
        changed.get(p) match {
          case Some((cd, _)) => Seq((p, rnd.nextInt(cd)), (p, cd + rnd.nextInt(days - 1 - cd)))
          case None => Seq((p, rnd.nextInt(days - 1)))
        }
      }
    val lines = mutable.ArrayBuffer.empty[Line]
    var orderId = 141234
    def emit(p: Int, day: Int): Unit = {
      val (street, city) = address()
      lines += Line(orderId, p, qty(p), day, rnd.nextInt(24 * 60), street, city)
      // one order in ten carries a second, different product
      if (lines.size < validLines && rnd.nextInt(10) == 0) {
        val p2 = (p + 1 + rnd.nextInt(products.size - 1)) % products.size
        lines += Line(orderId, p2, qty(p2), day, rnd.nextInt(24 * 60), street, city)
      }
      orderId += 1
    }
    forced.foreach { case (p, d) => emit(p, d) }
    while (lines.size < validLines) {
      // Feb 1 only sees a trickle, as in the reference's January file
      val day = if (rnd.nextInt(200) == 0) days - 1 else rnd.nextInt(days - 1)
      emit(pickProduct(), day)
    }

    def render(l: Line): String = {
      val (city, state, postal) = cities(l.city)
      val name = products(l.product)._1
      s"${l.orderId},$name,${l.qty},${priceText(priceOn(l.product, l.day))}," +
        s"""${dateText(l.day, l.minute)},"${l.street}, $city, $state $postal""""
    }
    val body = mutable.ArrayBuffer.empty[String]
    body ++= lines.map(render)
    for (_ <- 0 until duplicates) body.insert(rnd.nextInt(body.size + 1),
      render(lines(rnd.nextInt(lines.size))))
    for (_ <- 0 until repeatedHeaders) body.insert(rnd.nextInt(body.size + 1), header)
    for (_ <- 0 until blankLines) body.insert(rnd.nextInt(body.size + 1), ",,,,,")

    // expectations, from the generator's own records
    val versions: Map[Int, Seq[Long]] = products.indices.map(p =>
      p -> (changed.get(p) match {
        case Some((_, np)) => Seq(products(p)._2, np)
        case None => Seq(products(p)._2)
      })).toMap
    val distinct = lines.map(l => (l.orderId, l.product, l.qty, l.day, l.street, l.city)).distinct
    val locations = distinct.map(l => (l._5, l._6)).distinct.size.toLong
    val nVersions = versions.values.map(_.size.toLong).sum
    // dense cube: one row per (day, product version, location), except
    // that a cell with n stage-3 matches contributes n rows; each order
    // line yields k stage-3 rows for a k-version product (the reference's
    // join-by-name), and each of the k version cells matches all of them
    val cellLines = distinct.groupBy(l => (l._4, l._2, l._5, l._6)).toSeq.map {
      case ((_, p, _, _), ls) => (p, ls.size.toLong)
    }
    val extraRows = cellLines.map { case (p, n) =>
      val k = versions(p).size.toLong
      k * (n * k - 1)
    }.sum
    val cleansedRevenue = distinct.map(l => l._3 * priceOn(l._2, l._4)).sum
    val factRevenue = distinct.map { l =>
      val vs = versions(l._2)
      l._3.toLong * vs.size * vs.sum
    }.sum
    val expect = EtlExpect(
      landing = body.size.toLong,
      invalid = (repeatedHeaders + blankLines).toLong,
      cleansed = distinct.size.toLong,
      locations = locations,
      days = days.toLong,
      productVersions = nVersions,
      fact = days.toLong * nVersions * locations + extraRows,
      cleansedRevenueCents = cleansedRevenue,
      factRevenueCents = factRevenue)
    EtlInput(header +: body.toSeq, expect)
  }
}

/** One row of the keyed sales-line table the commit and read workloads
  * run on; `amount` is in cents. */
final case class Sale(k: Long, product: Int, day: Int, qty: Int, amount: Long)

/** Seeded sales lines: product × day × quantity with a per-product
  * price, keys dense from 0. */
object SalesGen {
  val nProducts = 19
  val nDays = 32
  private val unitCents: Array[Long] = Array(1195L, 1495L, 299L, 384L, 1199L,
    15000L, 9999L, 14999L, 70000L, 38999L, 37999L, 60000L, 30000L, 170000L,
    99999L, 10999L, 40000L, 60000L, 60000L)

  def sale(rnd: Random, k: Long, day: Int): Sale = {
    val p = rnd.nextInt(nProducts)
    val q = 1 + rnd.nextInt(4)
    Sale(k, p, day, q, q * unitCents(p))
  }

  def initial(rnd: Random, n: Int): Seq[Sale] =
    (0 until n).map(i => sale(rnd, i.toLong, rnd.nextInt(nDays)))

  /** A restatement of an existing line: same key, product and day, new
    * quantity. */
  def restate(rnd: Random, s: Sale): Sale = {
    val q = 1 + (s.qty + rnd.nextInt(3)) % 4
    s.copy(qty = q, amount = q * unitCents(s.product))
  }
}
