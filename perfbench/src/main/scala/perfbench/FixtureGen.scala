package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SaveMode, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator of the registry's input tables (region, nation,
  * customer, supplier, part, orders, lineitem, events, documents,
  * embeddings) with the schemas and value shapes the query modules read:
  * TPC-H-style keys and domains, a 30-day event stream, word-soup documents
  * of which 5% are `... dup` near-copies of an earlier document, and unit
  * 64-dim embeddings clustered weakly around ten labels. Row counts follow
  * the scale factor the way the engine's own sf0.001 / sf0.01 / sf0.1
  * fixtures do. Each table is one parquet file, written in row order.
  */
object FixtureGen {
  private val Words = Seq("join", "hash", "row", "batch", "scan", "column", "customer",
    "filter", "small", "slow", "merge", "order", "vector", "line", "table", "data",
    "agg", "value", "key", "stream", "window", "a", "spark", "part", "group", "big",
    "sort", "query", "fast", "the")
  private val Adjs = Seq("cold", "small", "large", "hot", "red", "blue", "old", "new")
  private val Nouns = Seq("widget", "plate", "ring", "rod", "bolt", "gizmo", "gear", "anvil")
  private val Segments = Seq("MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD")
  private val Types = Seq("MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Seq("click", "purchase", "error", "signup", "view")
  private val Langs = Seq("en", "en", "en", "zh", "es", "de", "fr")
  private val DayMs = 86400000L

  private def ts(iso: String) = Timestamp.valueOf(iso).getTime
  private def cents(x: Double) = math.round(x * 100) / 100.0

  def generate(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    def n(base: Double, min: Int = 1) = math.max(min, math.round(base * sf).toInt)
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrders = n(1500000); val nLine = n(6000000); val nEvents = n(1000000)
    val nDocs = n(50000, 500); val nEmb = n(20000, 500); val nUsers = n(15000, 20)
    def r(table: String) = RunTree.rng(seed, table)

    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/$name.parquet")
    def f(name: String, t: DataType) = StructField(name, t, nullable = false)

    write("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex.map { case (s, i) => Row(i, s) })
    write("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))), (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val rc = r("customer")
    write("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", rc.nextInt(25),
        cents(rc.nextDouble(-999.99, 9999.99)), Segments(rc.nextInt(5)))))

    val rs = r("supplier")
    write("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", rs.nextInt(25),
        cents(rs.nextDouble(-999.99, 9999.99)))))

    val rp = r("part")
    write("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong, s"${Adjs(rp.nextInt(8))} ${Nouns(rp.nextInt(8))}",
        s"Brand#${1 + rp.nextInt(25)}", Types(rp.nextInt(6)), 1 + rp.nextInt(50),
        900.0 + (i % 1000) / 10.0)))

    val ro = r("orders")
    val t0 = ts("1995-01-01 00:00:00"); val orderDays = ((ts("2001-08-01 00:00:00") - t0) / DayMs).toInt
    val orderDate = Array.fill(nOrders)(t0 + ro.nextInt(orderDays + 1) * DayMs)
    write("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType), f("o_orderdate", TimestampType),
      f("o_orderpriority", StringType))),
      (0 until nOrders).map(i => Row(i.toLong, ro.nextInt(nCust).toLong,
        Seq("F", "O", "P")(ro.nextInt(3)), cents(ro.nextDouble(1000, 500000)),
        new Timestamp(orderDate(i)), Priorities(ro.nextInt(5)))))

    val rl = r("lineitem")
    write("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType), f("l_shipdate", TimestampType))),
      (0 until nLine).map { _ =>
        val o = rl.nextInt(nOrders)
        Row(o.toLong, rl.nextInt(nPart).toLong, rl.nextInt(nSupp).toLong, 1 + rl.nextInt(7),
          (1 + rl.nextInt(50)).toDouble, cents(rl.nextDouble(900, 105000)),
          rl.nextInt(11) / 100.0, rl.nextInt(9) / 100.0, Seq("R", "A", "N")(rl.nextInt(3)),
          Seq("O", "F")(rl.nextInt(2)), new Timestamp(orderDate(o) + (1 + rl.nextInt(95)) * DayMs))
      })

    val re = r("events")
    val e0 = ts("2024-01-01 00:00:00"); val span = 30 * DayMs
    val eventTs = Array.fill(nEvents)(e0 * 1000 + (re.nextDouble() * span * 1000).toLong).sorted
    write("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      (0 until nEvents).map { i =>
        val t = new Timestamp(eventTs(i) / 1000); t.setNanos((eventTs(i) % 1000000).toInt * 1000)
        Row(i.toLong, t, re.nextInt(nUsers).toLong, EventTypes(re.nextInt(5)),
          cents(-50 * math.log(1 - re.nextDouble())), s"""{"k": ${re.nextInt(100)}}""")
      })

    val rd = r("documents")
    val texts = new Array[String](nDocs)
    for (i <- 0 until nDocs) texts(i) =
      if (i > 0 && rd.nextInt(20) == 0) texts(rd.nextInt(i)) + " dup"
      else Seq.fill(10 + rd.nextInt(90))(Words(rd.nextInt(Words.size))).mkString(" ")
    write("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      (0 until nDocs).map(i => Row(i.toLong, texts(i), Langs(rd.nextInt(Langs.size)),
        s"src${i % 20}", texts(i).length.toLong)))

    val rv = r("embeddings")
    val centroids = Array.fill(10)(unit(Array.fill(64)(rv.nextDouble(-1, 1))))
    write("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType, containsNull = false)), f("label", IntegerType))),
      (0 until nEmb).map { i =>
        val label = rv.nextInt(10)
        val v = unit(Array.tabulate(64)(d => 0.15 * centroids(label)(d) + 0.125 * gaussian(rv)))
        Row(i.toLong, v.map(_.toFloat).toSeq, label)
      })
  }

  private def unit(v: Array[Double]): Array[Double] = {
    val norm = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / norm)
  }

  private def gaussian(r: SplittableRandom): Double =
    math.sqrt(-2 * math.log(1 - r.nextDouble())) * math.cos(2 * math.Pi * r.nextDouble())
}
