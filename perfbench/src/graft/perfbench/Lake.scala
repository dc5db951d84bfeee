package graft.perfbench

import java.sql.Date
import java.time.LocalDate
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions.{col, round, sum}
import org.apache.spark.sql.types._
import scala.util.Random

/** One generated lineitem row; the benchmark's own copy of the table is a
  * collection of these, so expected answers never come from graft.
  */
final case class Line(key: Long, line: Int, part: Long, qty: Int,
    cents: Long, disc: Int, flag: String, ship: LocalDate) {
  def month: Int = Lake.monthOf(ship)
  def price: Double = cents / 100.0
  def row: Row = Row(key, line, part, qty.toDouble, price, disc / 100.0,
    flag, Date.valueOf(ship))
}

/** TPC-H-shaped lineitem, generated from a seed, with the shape of the
  * sf0.1 table (perfbench/README.md, "Input shape"): 1 to 7 lines an
  * order, and ship dates spread evenly over `Months` months, independent
  * of the order. Row counts are small on purpose: what drives graft's
  * cost here is the number of files and commits, not bytes.
  */
object Lake {
  val Months = 83
  val Start: LocalDate = LocalDate.of(1995, 1, 1)
  val Flags = Seq("A", "N", "R")

  val lineSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_partkey", LongType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_shipdate", DateType)))

  /** Sum of l_extendedprice in whole cents: an exact integer, so a check
    * catches a single cent wrong where a floating-point sum would not.
    */
  def centsSum: Column =
    sum(round(col("l_extendedprice") * 100).cast("long")).as("cents")

  def monthOf(d: LocalDate): Int =
    (d.getYear - Start.getYear) * 12 + d.getMonthValue - 1

  def monthStart(m: Int): LocalDate = Start.plusMonths(m.toLong)

  private def days(months: Int): Int = java.time.temporal.ChronoUnit.DAYS
    .between(Start, monthStart(months)).toInt

  /** An order's lines: 1 to 7 of them, each shipped on any day of the
    * table's range.
    */
  def lines(rnd: Random, key: Long): Seq[Line] =
    (1 to 1 + rnd.nextInt(7)).map { ln =>
      Line(key, ln, rnd.nextInt(20000).toLong, 1 + rnd.nextInt(50),
        100000L + rnd.nextInt(9900000), rnd.nextInt(11),
        Flags(rnd.nextInt(3)), Start.plusDays(rnd.nextInt(days(Months)).toLong))
    }

  /** The lines of orders 1 to `n`. */
  def lineitem(rnd: Random, n: Int): Seq[Line] =
    (1 to n).flatMap(k => lines(rnd, k.toLong))

  /** Lines of new orders `firstKey` until about `rows` lines exist, each
    * shipped in one of `months` (chosen by `pickMonth`).
    */
  def recentLines(rnd: Random, firstKey: Long, rows: Int,
      pickMonth: Random => Int): Seq[Line] = {
    val out = Seq.newBuilder[Line]
    var key = firstKey
    var n = 0
    while (n < rows) {
      val m = pickMonth(rnd)
      val ls = lines(rnd, key).map(l => l.copy(
        ship = monthStart(m).plusDays(rnd.nextInt(28).toLong)))
      out ++= ls
      n += ls.size
      key += 1
    }
    out.result()
  }
}
