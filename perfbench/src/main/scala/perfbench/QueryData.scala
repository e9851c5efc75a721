package perfbench

import java.sql.Timestamp
import java.time.{LocalDateTime, ZoneOffset}
import scala.collection.mutable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator for the tables `SparkEntry.queries` read (the star
  * schema, `events`, `documents`, `embeddings`), with the shapes and value
  * ranges of the project's reference test data at scale factor 0.001.
  * `documents` plants near-duplicates: a share of the documents copy another
  * document's text and append " dup"; [[write]] returns those pairs. */
object QueryData {
  private val Vocab = ("scan column window order sort part agg value line key join merge " +
    "query group a vector hash slow stream filter fast the spark batch table small data " +
    "big customer row").split(" ")
  private val Langs = Array("en", "en", "zh", "de", "es", "fr")

  private val Docs = 500
  private val Embeddings = 500
  private val Events = 1000
  private val Customers = 150
  private val Suppliers = 10
  private val Parts = 200
  private val Orders = 1500
  private val Users = 15

  private def ts(t: LocalDateTime): Timestamp = Timestamp.from(t.toInstant(ZoneOffset.UTC))
  private def round2(x: Double): Double = math.round(x * 100.0) / 100.0

  /** Writes every table as `<dir>/<table>.parquet`; returns the planted
    * (source doc_id, copy doc_id) near-duplicate pairs. */
  def write(spark: SparkSession, dir: String, seed: Long): Seq[(Long, Long)] = {
    val r = new java.util.Random(seed)
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def f(n: String, t: DataType) = StructField(n, t)

    save("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex.map { case (n, i) => Row(i, n) })
    save("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))), (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val segments = Array("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
    save("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until Customers).map(k => Row(k.toLong, f"Customer#$k%09d", r.nextInt(25),
        round2(-999.99 + r.nextDouble() * 10999.98), segments(r.nextInt(segments.length)))))
    save("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until Suppliers).map(k => Row(k.toLong, f"Supplier#$k%09d", r.nextInt(25),
        round2(-999.99 + r.nextDouble() * 10999.98))))

    val adj = Array("small", "blue", "cold", "old", "new", "hot", "red", "large")
    val noun = Array("widget", "rod", "ring", "anvil", "plate", "bolt", "gear", "gizmo")
    val types = Array("ECONOMY", "LARGE", "STANDARD", "MEDIUM", "SMALL", "PROMO")
    save("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until Parts).map(k => Row(k.toLong, s"${adj(r.nextInt(adj.length))} ${noun(r.nextInt(noun.length))}",
        s"Brand#${1 + r.nextInt(25)}", types(r.nextInt(types.length)), 1 + r.nextInt(50),
        round2(900.0 + (k % 200) / 10.0))))

    val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val day0 = LocalDateTime.of(1995, 1, 1, 0, 0)
    val orders = mutable.ArrayBuffer.empty[Row]
    val lines = mutable.ArrayBuffer.empty[Row]
    for (k <- 0 until Orders) {
      val od = day0.plusDays(r.nextInt(2400).toLong)
      orders += Row(k.toLong, r.nextInt(Customers).toLong, "FOP".charAt(r.nextInt(3)).toString,
        round2(1000.0 + r.nextDouble() * 499000.0), ts(od), priorities(r.nextInt(priorities.length)))
      for (ln <- 1 to 1 + r.nextInt(7)) {
        val qty = (1 + r.nextInt(50)).toDouble
        lines += Row(k.toLong, r.nextInt(Parts).toLong, r.nextInt(Suppliers).toLong, ln, qty,
          round2(qty * (900.0 + r.nextDouble() * 1200.0)), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          "ANR".charAt(r.nextInt(3)).toString, "OF".charAt(r.nextInt(2)).toString,
          ts(od.plusDays(1L + r.nextInt(121))))
      }
    }
    save("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType), f("o_orderdate", TimestampType),
      f("o_orderpriority", StringType))), orders.toSeq)
    save("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType), f("l_shipdate", TimestampType))),
      lines.toSeq)

    val evTypes = Array("signup", "click", "error", "view", "purchase")
    var t = LocalDateTime.of(2024, 1, 1, 0, 0).plusNanos(r.nextInt(1000000) * 1000L)
    val stepUs = 30L * 24 * 3600 * 1000000 / Events
    save("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      (0 until Events).map { i =>
        t = t.plusNanos((r.nextDouble() * 2 * stepUs).toLong * 1000L)
        Row(i.toLong, ts(t), r.nextInt(Users).toLong, evTypes(r.nextInt(evTypes.length)),
          round2(0.01 + -math.log(1.0 - r.nextDouble()) * 60.0), s"""{"k": ${r.nextInt(100)}}""")
      })

    val texts = Array.fill(Docs)(Array.fill(10 + r.nextInt(90))(Vocab(r.nextInt(Vocab.length))).mkString(" "))
    val isCopy = Array.fill(Docs)(r.nextDouble() < 0.05)
    val sources = (0 until Docs).filterNot(isCopy)
    val planted = (0 until Docs).filter(isCopy).map { d =>
      val src = sources(r.nextInt(sources.length))
      texts(d) = texts(src) + " dup"
      (src.toLong, d.toLong)
    }
    save("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      (0 until Docs).map(d => Row(d.toLong, texts(d), Langs(r.nextInt(Langs.length)),
        s"src${d % 20}", texts(d).length.toLong)))

    save("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType, containsNull = true)), f("label", IntegerType))),
      (0 until Embeddings).map { v =>
        val g = Array.fill(64)(r.nextGaussian())
        val norm = math.sqrt(g.map(x => x * x).sum)
        Row(v.toLong, g.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
      })
    planted
  }
}
