package perfbench

import java.time.LocalDateTime
import java.util.SplittableRandom
import org.apache.spark.sql.SparkSession

/** Seeded tables for the operator inventory, in the schemas its queries
  * read (`graft.Tables`): a TPC-H-like star (region, nation, customer,
  * supplier, part, orders, lineitem) plus `events`, `documents` and
  * `embeddings`. Value domains follow the inventory's own fixtures (the
  * same segments, flags, brands, word list, 64-dimension unit vectors),
  * so its filters and joins select rows. Row counts scale with `sf` as
  * TPC-H's do; the seed changes only the values. Timestamps are written
  * without a time zone, as the fixtures hold them. */
object QueryInputs {

  final case class Region(r_regionkey: Int, r_name: String)
  final case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)
  final case class Customer(c_custkey: Long, c_name: String,
      c_nationkey: Int, c_acctbal: Double, c_mktsegment: String)
  final case class Supplier(s_suppkey: Long, s_name: String,
      s_nationkey: Int, s_acctbal: Double)
  final case class Part(p_partkey: Long, p_name: String, p_brand: String,
      p_type: String, p_size: Int, p_retailprice: Double)
  final case class Order(o_orderkey: Long, o_custkey: Long,
      o_orderstatus: String, o_totalprice: Double, o_orderdate: LocalDateTime,
      o_orderpriority: String)
  final case class LineItem(l_orderkey: Long, l_partkey: Long,
      l_suppkey: Long, l_linenumber: Int, l_quantity: Double,
      l_extendedprice: Double, l_discount: Double, l_tax: Double,
      l_returnflag: String, l_linestatus: String, l_shipdate: LocalDateTime)
  final case class Event(event_id: Long, ts: LocalDateTime, user_id: Long,
      event_type: String, value: Double, props: String)
  final case class Document(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)
  final case class Embedding(vec_id: Long, embedding: Array[Float],
      label: Int)

  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
    "MIDDLE EAST")
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  private val partAdj = Seq("blue", "cold", "hot", "large", "new", "old",
    "red", "small")
  private val partNoun = Seq("anvil", "bolt", "gear", "gizmo", "plate",
    "ring", "rod", "widget")
  private val partTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
    "STANDARD")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")
  private val langs = Seq("de", "en", "es", "fr", "zh")
  private val words = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "dup", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window")

  private val day0 = LocalDateTime.of(1995, 1, 1, 0, 0)
  private val orderDays = 2404 // 1995-01-01 .. 2001-08-01
  private val events0 = LocalDateTime.of(2024, 1, 1, 0, 0)

  private def pick[T](r: SplittableRandom, xs: Seq[T]): T = xs(r.nextInt(xs.size))
  private def cents(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  /** Write every table under `dir` (one parquet directory per table, as
    * `<name>.parquet`); returns the bytes written. */
  def write(spark: SparkSession, seed: Long, sf: Double, dir: String): Long = {
    import spark.implicits._
    val nCust = (150000 * sf).toInt
    val nSupp = (10000 * sf).toInt
    val nPart = (200000 * sf).toInt
    val nOrders = (1500000 * sf).toInt
    val nEvents = (1000000 * sf).toInt
    val nDocs = 500
    val nVecs = 500
    val users = 150

    val r = Gen.rng(seed, 900L)
    val region = regions.indices.map(i => Region(i, regions(i)))
    val nation = (0 until 25).map(i => Nation(i, s"NATION_$i", i % 5))
    val customer = (0 until nCust).map(i => Customer(i, f"Customer#$i%09d",
      r.nextInt(25), cents(r, -999.99, 9999.99), pick(r, segments)))
    val supplier = (0 until nSupp).map(i => Supplier(i, f"Supplier#$i%09d",
      r.nextInt(25), cents(r, -999.99, 9999.99)))
    val part = (0 until nPart).map(i => Part(i,
      s"${pick(r, partAdj)} ${pick(r, partNoun)}", s"Brand#${1 + r.nextInt(25)}",
      pick(r, partTypes), 1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0))
    val lines = scala.collection.mutable.ArrayBuffer[LineItem]()
    val orders = (0 until nOrders).map { i =>
      val date = day0.plusDays(r.nextInt(orderDays).toLong)
      (1 to 1 + i % 7).foreach { ln => // 1 to 7 lines, 4 on average
        lines += LineItem(i, r.nextInt(nPart), r.nextInt(nSupp), ln,
          1 + r.nextInt(50), cents(r, 900, 105000), r.nextInt(11) / 100.0,
          r.nextInt(9) / 100.0, pick(r, Seq("A", "N", "R")),
          pick(r, Seq("F", "O")), date.plusDays(1L + r.nextInt(121)))
      }
      Order(i, r.nextInt(nCust), pick(r, Seq("F", "O", "P")),
        cents(r, 1000, 500000), date, pick(r, priorities))
    }
    // events in time order over January 2024, microsecond timestamps
    val eventTs = Array.fill(nEvents)(
      (r.nextDouble() * 30 * 86400e6).toLong).sorted
    val events = (0 until nEvents).map(i => Event(i,
      events0.plusNanos(eventTs(i) * 1000), r.nextInt(users),
      pick(r, eventTypes), cents(r, 0.01, 490.02),
      s"""{"k": ${r.nextInt(100)}}"""))
    val documents = (0 until nDocs).map { i =>
      val text = Seq.fill(8 + r.nextInt(93))(pick(r, words)).mkString(" ")
      Document(i, text, pick(r, langs), s"src${r.nextInt(20)}",
        text.length.toLong)
    }
    val embeddings = (0 until nVecs).map { i =>
      val v = Array.fill(64)(r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Embedding(i, v.map(x => (x / norm).toFloat), r.nextInt(10))
    }

    def out[T](name: String, ds: org.apache.spark.sql.Dataset[T]): Unit =
      ds.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    out("region", region.toDS())
    out("nation", nation.toDS())
    out("customer", customer.toDS())
    out("supplier", supplier.toDS())
    out("part", part.toDS())
    out("orders", orders.toDS())
    out("lineitem", lines.toSeq.toDS())
    out("events", events.toDS())
    out("documents", documents.toDS())
    out("embeddings", embeddings.toDS())
    tables.map(t => Pipeline.dirBytes(s"$dir/$t.parquet")).sum
  }
}
