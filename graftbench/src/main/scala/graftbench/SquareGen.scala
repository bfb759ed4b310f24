package graftbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.time.{LocalDate, LocalDateTime, ZoneId, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable

/** Seeded Square-orders JSONL for one year at the three builtin
  * locations, plus the counts and aggregates the ETL must produce from
  * it. One file per month; the same (seed, month) always gives the same
  * bytes. The kinds of edge case follow the reference's ETL rules:
  * orders without `closed_at` (rejected), orders outside the month
  * (window filter), an unknown location (dropped and counted), empty
  * orders, ignored line items ("Dine In", "To Go", "Free Water"), zero
  * prices, non-numeric or zero quantities, and priced and free
  * modifiers.
  *
  * Rates. Line items per order (one or two, 1.5 on average) come from
  * the reference's published monthly load: 3,000-10,000 sales rows from
  * 4,500-6,000 orders, about 1.24 rows per order at the midpoints; after
  * the dropped items below this gives about 1.25. The edge-case rates
  * are unverified choices of this generator, not measured from the
  * reference, which publishes none: 4% of orders at an unknown
  * location, 2% without `closed_at`, 1% from the previous month, 1%
  * empty; 8% of items ignored, 1.5% with a zero price, 1.5% with a
  * non-numeric or zero quantity; 30% of items with modifiers. */
object SquareGen {
  val year = 2025
  private val chicago = ZoneId.of("America/Chicago")
  private val iso = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")

  /** square_id -> internal id, as `EtlPipeline.builtinLocations`. */
  val locations: Seq[(String, Int)] = Seq(
    "LWRIG000000001" -> 1, "L5WST6KFZBT10" -> 2, "LSOUT000000003" -> 3)
  val unknownLocation = "LUNKN000000009"

  private final case class Item(name: String, variation: String, cents: Long)
  private val menu: IndexedSeq[Item] = (for {
    (n, base) <- Seq("Latte" -> 450L, "Cappuccino" -> 425L,
      "Iced Lavender Latte" -> 565L, "Americano" -> 350L, "Mocha" -> 495L,
      "Chai Latte" -> 475L, "Cold Brew" -> 425L, "Drip Coffee" -> 275L,
      "Matcha Latte" -> 525L, "Hot Chocolate" -> 375L)
    (v, up) <- Seq("12 oz" -> 0L, "16 oz" -> 50L, "20 oz" -> 100L)
  } yield Item(n, v, base + up)).toIndexedSeq ++ Seq(
    Item("Croissant", "Regular", 395L), Item("Almond Croissant", "Regular", 475L),
    Item("Blueberry Muffin", "Regular", 350L), Item("Cinnamon Roll", "Regular", 425L),
    Item("Bagel", "Plain", 300L), Item("Bagel", "Everything", 325L),
    Item("Quiche", "Slice", 650L), Item("Cookie", "Chocolate Chip", 250L))
  private val ignored = IndexedSeq(Item("Dine In", "N/A", 0L),
    Item("To Go Bag", "N/A", 25L), Item("Free Water", "Cup", 0L))
  private val modifiers = IndexedSeq("Almond Milk" -> 100L, "Oat Milk" -> 75L,
    "Extra Shot" -> 90L, "Vanilla Syrup" -> 60L, "Whipped Cream" -> 0L)

  /** What the ETL must report for one month's file. */
  final case class Expected(orders: Long, rejected: Long, unknownRows: Long,
      quarantined: Long, written: Long, rowsByLocation: Map[Int, Long],
      revenueCentsByLocation: Map[Int, Long], topItems: Seq[(String, Long)])

  def monthFile(dir: String, month: Int): String = f"$dir/$year-$month%02d.jsonl"

  /** The RNG stream for one month: a pure function of (seed, month). */
  private def rng(seed: Long, month: Int) =
    new java.util.SplittableRandom(seed * 1000003L + month)

  /** Write one month's orders and return what the ETL must produce. */
  def writeMonth(dir: String, seed: Long, month: Int, orders: Int): Expected = {
    val r = rng(seed, month)
    val first = LocalDate.of(year, month, 1)
    val days = first.lengthOfMonth()
    val out = new BufferedOutputStream(new FileOutputStream(monthFile(dir, month)), 1 << 20)
    val sb = new java.lang.StringBuilder(1024)
    var inWindow, rejected, unknownRows, written = 0L
    val rowsBy = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    val revBy = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    val qtyByItem = mutable.Map.empty[String, Long].withDefaultValue(0L)
    def money(c: Long, currency: Boolean) =
      if (currency) s"""{"amount":$c,"currency":"USD"}""" else s"""{"amount":$c}"""
    var o = 0
    while (o < orders) {
      sb.setLength(0)
      val u = r.nextInt(1000)
      val loc =
        if (u < 40) unknownLocation
        else locations(r.nextInt(locations.size))._1
      val closed: Option[LocalDateTime] =
        if (u >= 980) None // no closed_at: rejected
        else {
          val day = if (u >= 970) first.minusDays(1) // previous month
            else first.plusDays(r.nextInt(days).toLong)
          Some(day.atTime(6, 0).plusSeconds(r.nextInt(14 * 3600).toLong)
            .plusNanos(r.nextInt(1000) * 1000000L))
        }
      val inMonth = closed.exists(_.getMonthValue == month)
      sb.append("{\"id\":\"o").append(month).append('-').append(o)
        .append("\",\"location_id\":\"").append(loc).append('"')
      closed.foreach { t =>
        val utc = t.atZone(chicago).withZoneSameInstant(ZoneOffset.UTC)
        sb.append(",\"closed_at\":\"").append(iso.format(utc)).append('"')
      }
      sb.append(",\"state\":\"COMPLETED\",\"line_items\":[")
      val nItems = if (r.nextInt(100) == 0) 0 else 1 + r.nextInt(2)
      var li = 0
      while (li < nItems) {
        if (li > 0) sb.append(',')
        val v = r.nextInt(1000)
        val item =
          if (v < 80) ignored(r.nextInt(ignored.size))
          else menu(r.nextInt(menu.size))
        val base = if (v >= 80 && v < 95) 0L else item.cents
        val qtyN = 1 + r.nextInt(3)
        val qty = if (v >= 95 && v < 105) "two" else if (v >= 105 && v < 110) "0"
          else qtyN.toString
        val mods = if (r.nextInt(10) < 3)
          (1 to 1 + r.nextInt(2)).map(_ => modifiers(r.nextInt(modifiers.size))).distinct
          else Nil
        val unit = base + mods.map(_._2).sum
        val qtyValue = scala.util.Try(qty.toInt).getOrElse(0)
        val gross = unit * qtyValue
        sb.append("{\"name\":\"").append(item.name)
          .append("\",\"variation_name\":\"").append(item.variation)
          .append("\",\"quantity\":\"").append(qty)
          .append("\",\"base_price_money\":").append(money(base, currency = true))
          .append(",\"gross_sales_money\":").append(money(gross, currency = true))
        if (mods.nonEmpty) {
          sb.append(",\"modifiers\":[")
          sb.append(mods.map { case (n, c) =>
            s"""{"name":"$n","base_price_money":${money(c, currency = false)}}"""
          }.mkString(","))
          sb.append(']')
        }
        sb.append('}')
        // the SalesEtl row rules: positive price, no ignored name, a
        // positive integer quantity, a non-negative gross
        val kept = inMonth && base > 0 && !ignoredName(item.name) && qtyValue > 0
        if (kept) {
          locations.find(_._1 == loc) match {
            case Some((_, id)) =>
              written += 1; rowsBy(id) += 1; revBy(id) += gross
              qtyByItem(item.name) += qtyValue
            case None => unknownRows += 1
          }
        }
        li += 1
      }
      sb.append("]}\n")
      if (closed.isEmpty) rejected += 1
      if (inMonth) inWindow += 1
      out.write(sb.toString.getBytes(StandardCharsets.UTF_8))
      o += 1
    }
    out.close()
    val top = qtyByItem.toSeq.sortBy { case (n, q) => (-q, n) }.take(10)
    Expected(inWindow, rejected, unknownRows, 0L, written, rowsBy.toMap,
      revBy.toMap, top)
  }

  private def ignoredName(n: String): Boolean = {
    val l = n.toLowerCase
    Seq("dine in", "to go", "free water").exists(l.contains)
  }
}
