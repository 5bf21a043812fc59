package org.apache.spark.perfbench

import java.time.{LocalDateTime, ZoneOffset}
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Deterministic generator of the ten-table corpus the query registry reads
  * (`{dir}/{table}.parquet`): a TPC-H-shaped star schema plus `events`,
  * `documents` and `embeddings`, with the value domains the registry's
  * queries filter and group on (segments, statuses, flags, event types,
  * languages, a 31-word vocabulary, planted near-duplicate documents,
  * unit-norm 64-d embeddings with ten labels).
  *
  * Rows are drawn in one thread from one `SplittableRandom` in a fixed
  * order and written as one parquet file per table, so the same
  * `(seed, scale)` always yields the same rows in the same order.
  */
object Corpus {

  /** Row counts per table; lineitems follow from orders (1 to 13 each). */
  final case class Scale(customers: Int, suppliers: Int, parts: Int, orders: Int,
      events: Int, documents: Int, embeddings: Int)

  val small: Scale = Scale(customers = 1500, suppliers = 100, parts = 2000,
    orders = 15000, events = 10000, documents = 500, embeddings = 500)

  private val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val partAdj = Seq("small", "large", "red", "blue", "hot", "cold", "old", "new")
  private val partNoun = Seq("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod")
  private val partTypes = Seq("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Seq("click", "view", "purchase", "signup", "error")
  private val langs = Seq("en", "en", "en", "zh", "es", "de", "fr")
  private val vocab = Seq("join", "hash", "row", "batch", "scan", "column", "customer",
    "filter", "small", "slow", "merge", "order", "vector", "line", "table", "data", "agg",
    "value", "key", "stream", "window", "a", "spark", "part", "group", "big", "sort",
    "query", "fast", "the")

  private val day = 86400L * 1000000L
  private val epoch1995 = 788918400L * 1000000L // 1995-01-01T00:00:00Z
  private val epoch2024 = 1704067200L * 1000000L // 2024-01-01T00:00:00Z

  /** Timestamps are written without a zone (TIMESTAMP_NTZ), as the
    * registry's readers expect.
    */
  private def ts(micros: Long): LocalDateTime = LocalDateTime.ofEpochSecond(
    Math.floorDiv(micros, 1000000L), (Math.floorMod(micros, 1000000L) * 1000L).toInt,
    ZoneOffset.UTC)

  private def cents(x: Double): Double = math.round(x * 100.0) / 100.0

  /** Write every table under `dir`; returns total rows written. */
  def write(spark: SparkSession, dir: String, seed: Long, sc: Scale = small): Long = {
    val r = new SplittableRandom(seed)
    def pick[T](xs: Seq[T]): T = xs(r.nextInt(xs.length))
    var total = 0L
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit = {
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
      total += rows.length
    }
    def f(n: String, t: DataType) = StructField(n, t, nullable = true)

    save("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      regions.indices.map(i => Row(i, regions(i))))
    save("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
        f("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    save("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
        f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until sc.customers).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        cents(-999.99 + r.nextDouble() * 10999.0), pick(segments))))
    save("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
        f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until sc.suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        cents(-999.99 + r.nextDouble() * 10999.0))))
    val retail = Array.tabulate(sc.parts)(i => 900.0 + (i % 1000) / 10.0)
    save("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
        f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
        f("p_retailprice", DoubleType))),
      (0 until sc.parts).map(i => Row(i.toLong, s"${pick(partAdj)} ${pick(partNoun)}",
        s"Brand#${1 + r.nextInt(25)}", pick(partTypes), 1 + r.nextInt(50), retail(i))))

    val orderDate = Array.fill(sc.orders)(epoch1995 + r.nextInt(2400).toLong * day)
    save("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
        f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
        f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
      (0 until sc.orders).map(i => Row(i.toLong, r.nextInt(sc.customers).toLong,
        pick(Seq("F", "O", "P")), cents(1000.0 + r.nextDouble() * 499000.0),
        ts(orderDate(i)), pick(priorities))))

    // 1 to 13 lines per order, most near 6; shipdate within ±2400 days of
    // the order date, like the corpus the registry was written against.
    val lineItems = Seq.newBuilder[Row]
    for (o <- 0 until sc.orders) {
      val n = 1 + (0 until 6).map(_ => r.nextInt(3)).sum - r.nextInt(2)
      for (ln <- 1 to math.max(1, n)) {
        val part = r.nextInt(sc.parts)
        val qty = (1 + r.nextInt(50)).toDouble
        lineItems += Row(o.toLong, part.toLong, r.nextInt(sc.suppliers).toLong, ln, qty,
          cents(qty * retail(part) * (0.02 + r.nextDouble() * 1.14)),
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, pick(Seq("A", "N", "R")),
          pick(Seq("F", "O")), ts(orderDate(o) + (r.nextInt(4800) - 2400).toLong * day))
      }
    }
    save("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
        f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
        f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
        f("l_returnflag", StringType), f("l_linestatus", StringType),
        f("l_shipdate", TimestampNTZType))),
      lineItems.result())

    // Strictly increasing event times over January 2024.
    var t = epoch2024
    val step = 30L * day / sc.events
    save("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
        f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
        f("props", StringType))),
      (0 until sc.events).map { i =>
        t += 1 + (r.nextDouble() * 2 * step).toLong
        Row(i.toLong, ts(t), r.nextInt(150).toLong, pick(eventTypes),
          cents(0.01 + -math.log(1.0 - r.nextDouble()) * 50.0), s"""{"k": ${r.nextInt(100)}}""")
      })

    // One document in twenty is an earlier document plus a " dup" suffix.
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    save("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
        f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      (0 until sc.documents).map { i =>
        val text =
          if (i > 0 && r.nextInt(20) == 0) texts(r.nextInt(i)) + " dup"
          else Seq.fill(8 + r.nextInt(90))(pick(vocab)).mkString(" ")
        texts += text
        Row(i.toLong, text, pick(langs), s"src${i % 20}", text.length.toLong)
      })

    val centers = Array.fill(10, 64)(r.nextDouble() * 2 - 1)
    save("embeddings", StructType(Seq(f("vec_id", LongType),
        f("embedding", ArrayType(FloatType, containsNull = true)), f("label", IntegerType))),
      (0 until sc.embeddings).map { i =>
        val label = r.nextInt(10)
        val v = Array.tabulate(64)(j => centers(label)(j) * 0.3 + (r.nextDouble() * 2 - 1))
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })
    total
  }
}
