package perfbench

import java.sql.Timestamp

import graft.corpus.Synth
import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}

final case class Region(r_regionkey: Int, r_name: String)
final case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)
final case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int,
                          c_acctbal: Double, c_mktsegment: String)
final case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
                       o_totalprice: Double, o_orderdate: Timestamp,
                       o_orderpriority: String)
final case class LineItem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
                          l_linenumber: Int, l_quantity: Double,
                          l_extendedprice: Double, l_discount: Double,
                          l_tax: Double, l_returnflag: String,
                          l_linestatus: String, l_shipdate: Timestamp)
final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                       event_type: String, value: Double, props: String)
final case class Document(doc_id: Long, text: String, lang: String,
                          source: String, n_chars: Long)
final case class Embedding(vec_id: Long, embedding: Seq[Float], label: Int)

/** Seeded stand-in for the analytics test tables the battery reads
  * (TPC-H-like region/nation/customer/orders/lineitem, an events stream,
  * documents with planted near-duplicates, unit-norm embeddings). Column
  * names, types and value distributions follow the tables the queries and
  * their DuckDB oracle were written against; every row is a pure function
  * of (seed, table, row id), so a seed always yields the same files
  * regardless of partitioning. No battery query reads part or supplier, so
  * neither is generated; lineitem's part and supplier keys are drawn from
  * fixed ranges. */
object DataGen {

  final case class Scale(customers: Long, orders: Long, events: Long,
                         documents: Long, embeddings: Long) {
    def lineitems: Long = orders * 4
  }

  private def rng(seed: Long, table: Int, id: Long): Synth.Rng =
    new Synth.Rng(Synth.splitmix64(seed * 0x9e3779b97f4a7c15L + table * 1000003L) ^
      Synth.splitmix64(id))

  private def cents(r: Synth.Rng, lo: Double, hi: Double): Double =
    math.round((lo + (hi - lo) * r.nextDouble()) * 100) / 100.0

  private val Day = 86400000L
  private val Epoch1995 = 788918400000L // 1995-01-01T00:00:00Z
  private val Epoch2024 = 1704067200000L // 2024-01-01T00:00:00Z

  private val segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Vector("click", "error", "purchase", "signup", "view")
  private val words = Vector("a", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")
  private val otherLangs = Vector("de", "es", "fr", "zh")

  def customer(seed: Long, id: Long): Customer = {
    val r = rng(seed, 1, id)
    Customer(id, f"Customer#$id%09d", r.nextInt(25), cents(r, -999.99, 9999.99),
      r.pick(segments))
  }

  def order(seed: Long, id: Long, sc: Scale): Order = {
    val r = rng(seed, 4, id)
    Order(id, r.nextInt(sc.customers.toInt).toLong, r.pick(Vector("F", "O", "P")),
      cents(r, 1000, 500000), new Timestamp(Epoch1995 + r.nextInt(2400) * Day),
      r.pick(priorities))
  }

  def lineItem(seed: Long, id: Long, sc: Scale): LineItem = {
    val r = rng(seed, 5, id)
    LineItem(r.nextInt(sc.orders.toInt).toLong, r.nextInt(20000).toLong,
      r.nextInt(1000).toLong, 1 + r.nextInt(7),
      (1 + r.nextInt(50)).toDouble, cents(r, 900, 105000), r.nextInt(11) / 100.0,
      r.nextInt(9) / 100.0, r.pick(Vector("A", "N", "R")), r.pick(Vector("F", "O")),
      new Timestamp(Epoch1995 + r.nextInt(2500) * Day))
  }

  def event(seed: Long, id: Long, sc: Scale): Event = {
    val r = rng(seed, 6, id)
    val micros = (r.nextDouble() * 30 * Day * 1000).toLong
    val ts = new Timestamp(Epoch2024 + micros / 1000)
    ts.setNanos(((micros % 1000000) * 1000).toInt)
    Event(id, ts, r.nextInt(math.max(1L, sc.customers / 10).toInt).toLong,
      r.pick(eventTypes), math.round(-50.0 * math.log(1 - r.nextDouble()) * 100) / 100.0,
      s"""{"k": ${r.nextInt(100)}}""")
  }

  private def baseText(seed: Long, id: Long): String = {
    val r = rng(seed, 7, id)
    Seq.fill(10 + r.nextInt(91))(r.pick(words)).mkString(" ")
  }

  /** ~5% of documents are a copy of another document's text plus a
    * trailing " dup" token — the near-duplicate population the dedup
    * queries look for; the copy source may be anywhere in the id range. */
  def document(seed: Long, id: Long, nDocs: Long): Document = {
    val r = rng(seed, 8, id)
    val text =
      if (r.nextInt(20) == 0) baseText(seed, (r.nextLong() >>> 1) % nDocs) + " dup"
      else baseText(seed, id)
    val lang = if (r.nextInt(100) < 41) "en" else r.pick(otherLangs)
    Document(id, text, lang, s"src${id % 20}", text.length.toLong)
  }

  def embedding(seed: Long, id: Long): Embedding = {
    val r = rng(seed, 9, id)
    // Box-Muller normals, normalised: random directions in 64-d
    val v = Array.fill(64) {
      math.sqrt(-2 * math.log(1 - r.nextDouble())) * math.cos(2 * math.Pi * r.nextDouble())
    }
    val norm = math.sqrt(v.map(x => x * x).sum)
    Embedding(id, v.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
  }

  private def write[T](ds: Dataset[T], dir: String, name: String): Unit =
    ds.write.mode(SaveMode.Overwrite).parquet(s"$dir/$name.parquet")

  /** Writes every table under `dir`, one parquet directory per table,
    * named like the analytics test tables. */
  def writeTables(spark: SparkSession, dir: String, seed: Long, sc: Scale): Unit = {
    import spark.implicits._
    val parts = spark.sparkContext.defaultParallelism
    def ids(n: Long) = spark.range(0L, n, 1L, math.max(1, math.min(parts.toLong, n).toInt))
    write(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
      .map { case (n, i) => Region(i, n) }.toDS().coalesce(1), dir, "region")
    write((0 until 25).map(i => Nation(i, s"NATION_$i", i % 5)).toDS().coalesce(1),
      dir, "nation")
    write(ids(sc.customers).map(customer(seed, _)), dir, "customer")
    write(ids(sc.orders).map(order(seed, _, sc)), dir, "orders")
    write(ids(sc.lineitems).map(lineItem(seed, _, sc)), dir, "lineitem")
    write(ids(sc.events).map(event(seed, _, sc)), dir, "events")
    write(ids(sc.documents).map(document(seed, _, sc.documents)), dir, "documents")
    write(ids(sc.embeddings).map(embedding(seed, _)), dir, "embeddings")
  }
}
