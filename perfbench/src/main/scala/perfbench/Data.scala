package perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The base tables every workload reads: a TPC-H-shaped star schema plus
  * documents, in the column layout `graft.sources.TpchBridge`
  * and the pipeline operators expect. They are generated from a fixed
  * seed, so every run and every checkout benchmarks the same data; the
  * run's `--seed` only drives the per-run inputs (see [[Inputs]]).
  *
  * The rows are kept in memory as well: the output checks compute their
  * expected answers from these arrays in plain Scala, independently of
  * Spark and of the engine. */
final case class Customer(key: Long, name: String, nation: Int, acctbal: Double, segment: String)
final case class Supplier(key: Long, name: String, nation: Int, acctbal: Double)
final case class Part(key: Long, name: String, brand: String, ptype: String, size: Int, price: Double)
final case class Order(key: Long, cust: Long, status: String, total: Double, date: Long, priority: String)
final case class LineItem(order: Long, part: Long, supp: Long, line: Int, qty: Double, price: Double,
                          discount: Double, tax: Double, flag: String, status: String, ship: Long)
final case class Document(id: Long, text: String)

final class Data private (
    val customers: Vector[Customer], val suppliers: Vector[Supplier], val parts: Vector[Part],
    val orders: Vector[Order], val lineitems: Vector[LineItem], val documents: Vector[Document]) {

  def nationName(n: Int): String = s"NATION_$n"
  def regionOf(n: Int): Int = n % Data.Regions.length
  def regionName(r: Int): String = Data.Regions(r)

  /** Write every table as `<dir>/<name>.parquet`; a `_COMPLETE` marker is
    * written last so a half-written directory is regenerated. */
  def writeParquet(spark: SparkSession, dir: Path): Unit = {
    def wr(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
        .write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)
    def f(n: String, t: DataType) = StructField(n, t)
    def ts(ms: Long) = new Timestamp(ms)
    wr("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Data.Regions.indices.map(r => Row(r, Data.Regions(r))))
    wr("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))),
      (0 until Data.Nations).map(n => Row(n, nationName(n), regionOf(n))))
    wr("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      customers.map(c => Row(c.key, c.name, c.nation, c.acctbal, c.segment)))
    wr("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      suppliers.map(s => Row(s.key, s.name, s.nation, s.acctbal)))
    wr("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      parts.map(p => Row(p.key, p.name, p.brand, p.ptype, p.size, p.price)))
    wr("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampType), f("o_orderpriority", StringType))),
      orders.map(o => Row(o.key, o.cust, o.status, o.total, ts(o.date), o.priority)))
    wr("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampType))),
      lineitems.map(l => Row(l.order, l.part, l.supp, l.line, l.qty, l.price, l.discount,
        l.tax, l.flag, l.status, ts(l.ship))))
    wr("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      documents.map(d => Row(d.id, d.text, "en", s"src${d.id % 7}", d.text.length.toLong)))
    Files.write(dir.resolve("_COMPLETE"), Array.emptyByteArray)
  }
}

object Data {
  val BaseSeed = 20261017L
  val Regions: Vector[String] = Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val Nations = 25
  val Segments: Vector[String] = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Colors = Vector("red", "green", "blue", "small", "large", "steel", "brass", "ivory")
  private val Things = Vector("ring", "widget", "bolt", "gear", "plate", "valve", "spring")
  private val Types = Vector("ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM")
  private val Day = 86400000L
  private val Epoch1992 = 694224000000L

  /** A vocabulary of pronounceable pseudo-words: large enough that two
    * independently generated documents share few character shingles, so
    * near-duplicates exist only where a workload plants them. */
  val Vocabulary: Vector[String] = {
    val r = new SplittableRandom(BaseSeed ^ 0x5eedL)
    val cons = "bcdfghklmnprstvz"; val vow = "aeiou"
    Vector.fill(600) {
      val syl = 1 + r.nextInt(3)
      (0 until syl).map(_ => s"${cons(r.nextInt(cons.length))}${vow(r.nextInt(vow.length))}")
        .mkString + cons(r.nextInt(cons.length))
    }.distinct
  }

  /** Deterministic base data at scale factor `sf` (TPC-H row ratios:
    * sf 0.01 = 1.5k customers, 15k orders, ~60k line items). */
  def generate(sf: Double): Data = {
    val r = new SplittableRandom(BaseSeed)
    def money(lo: Double, hi: Double) = math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
    val nCust = math.max(50, (150000 * sf).toInt)
    val nSupp = math.max(10, (10000 * sf).toInt)
    val nPart = math.max(50, (200000 * sf).toInt)
    val nOrd = math.max(200, (1500000 * sf).toInt)
    val nDoc = math.max(100, (50000 * sf).toInt)
    val customers = Vector.tabulate(nCust)(i => Customer(i, f"Customer#$i%09d", r.nextInt(Nations),
      money(-999, 9999), Segments(r.nextInt(Segments.length))))
    val suppliers = Vector.tabulate(nSupp)(i => Supplier(i, f"Supplier#$i%09d", r.nextInt(Nations),
      money(-999, 9999)))
    val parts = Vector.tabulate(nPart)(i => Part(i,
      s"${Colors(r.nextInt(Colors.length))} ${Things(r.nextInt(Things.length))}",
      s"Brand#${1 + r.nextInt(25)}", Types(r.nextInt(Types.length)), 1 + r.nextInt(50),
      900 + (i % 1000) / 10.0))
    val orders = Vector.newBuilder[Order]
    val items = Vector.newBuilder[LineItem]
    for (o <- 0 until nOrd) {
      val date = Epoch1992 + r.nextInt(2400) * Day
      orders += Order(o, r.nextInt(nCust), "OFP".charAt(r.nextInt(3)).toString,
        money(1000, 500000), date, Priorities(r.nextInt(Priorities.length)))
      for (line <- 1 to 1 + r.nextInt(7)) {
        val qty = (1 + r.nextInt(50)).toDouble
        items += LineItem(o, r.nextInt(nPart), r.nextInt(nSupp), line, qty,
          money(900, 100000), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          "ANR".charAt(r.nextInt(3)).toString, "OF".charAt(r.nextInt(2)).toString,
          date + (1 + r.nextInt(120)) * Day)
      }
    }
    val documents = Vector.tabulate(nDoc) { i =>
      Document(i, Vector.fill(20 + r.nextInt(60))(Vocabulary(r.nextInt(Vocabulary.length))).mkString(" "))
    }
    new Data(customers, suppliers, parts, orders.result(), items.result(), documents)
  }
}
