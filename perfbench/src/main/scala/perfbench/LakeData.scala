package perfbench

import java.time.LocalDateTime
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator of the lake tables the declared queries read (the
  * FIXTURES.md §1 schemas: a TPC-H-like star plus events, documents and
  * embeddings), written as one parquet file per table. Row counts scale
  * with `sf` like the fixture (sf 0.01: 60k lineitem, 500 documents).
  * Documents include planted near duplicates (one token replaced by
  * "dup") and exact ones.
  * Timestamps are written without a time zone, as the fixture is. */
object LakeData {

  val Tables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")

  private val segments = Vector("MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD")
  private val ptypes = Vector("MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY")
  private val adjectives = Vector("red", "small", "hot", "old", "blue", "big", "cold", "new")
  private val nouns = Vector("plate", "widget", "ring", "rod", "gear", "bolt", "valve")
  private val priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Vector("signup", "error", "click", "view", "purchase")
  private val vocab = Vector("join", "hash", "row", "batch", "scan", "column",
    "customer", "filter", "small", "slow", "merge", "order", "vector", "line",
    "table", "data", "agg", "value", "key", "stream", "window", "a", "spark",
    "part", "group", "big", "sort", "query", "fast", "the")
  private val langs = Vector("en", "en", "en", "zh", "es", "de", "fr")

  private def money(rng: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + rng.nextDouble() * (hi - lo)) * 100.0) / 100.0

  private def day(rng: SplittableRandom, from: LocalDateTime, days: Int): LocalDateTime =
    from.plusDays(rng.nextInt(days).toLong)

  def write(spark: SparkSession, dir: String, sf: Double, seed: Long = 42L): Unit = {
    def n(base: Int): Int = math.max(1, math.round(base * sf / 0.01).toInt)
    val rng = new SplittableRandom(seed)
    val nCust = n(1500); val nSupp = n(100); val nPart = n(2000)
    val nOrders = n(15000); val nEvents = n(10000); val nDocs = n(500)
    val d0 = LocalDateTime.of(1995, 1, 1, 0, 0)

    def save(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def st(fields: (String, DataType)*) =
      StructType(fields.map { case (f, t) => StructField(f, t, nullable = true) })

    save("region", st("r_regionkey" -> IntegerType, "r_name" -> StringType),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (r, i) => Row(i, r) })
    save("nation", st("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType), (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    save("customer", st("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", rng.nextInt(25),
        money(rng, -999.99, 9999.99), segments(rng.nextInt(segments.size)))))
    save("supplier", st("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", rng.nextInt(25),
        money(rng, -999.99, 9999.99))))
    save("part", st("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
      "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      (0 until nPart).map(i => Row(i.toLong,
        s"${adjectives(rng.nextInt(adjectives.size))} ${nouns(rng.nextInt(nouns.size))}",
        s"Brand#${1 + rng.nextInt(25)}", ptypes(rng.nextInt(ptypes.size)),
        1 + rng.nextInt(50), 900.0 + (i % 1000) / 10.0)))
    val orders = (0 until nOrders).map { i =>
      Row(i.toLong, rng.nextInt(nCust).toLong, Vector("P", "O", "F")(rng.nextInt(3)),
        money(rng, 1000.0, 500000.0), day(rng, d0, 2404), priorities(rng.nextInt(priorities.size)))
    }
    save("orders", st("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType), orders)
    val lines = orders.flatMap { o =>
      val ok = o.getLong(0)
      val od = o.get(4).asInstanceOf[LocalDateTime]
      (1 to 1 + rng.nextInt(7)).map { ln =>
        val qty = (1 + rng.nextInt(50)).toDouble
        Row(ok, rng.nextInt(nPart).toLong, rng.nextInt(nSupp).toLong, ln, qty,
          math.round(qty * (900.0 + rng.nextInt(1000) / 10.0) * 100.0) / 100.0,
          rng.nextInt(11) / 100.0, rng.nextInt(9) / 100.0,
          Vector("R", "A", "N")(rng.nextInt(3)), Vector("O", "F")(rng.nextInt(2)),
          od.plusDays(1L + rng.nextInt(120)))
      }
    }
    save("lineitem", st("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
      "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType), lines)
    val e0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val span = 30L * 24 * 3600 * 1000000L
    val eventTs = (0 until nEvents).map(_ => (rng.nextDouble() * span).toLong).sorted
    save("events", st("event_id" -> LongType, "ts" -> TimestampNTZType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType),
      eventTs.zipWithIndex.map { case (us, i) =>
        Row(i.toLong, e0.plusNanos(us * 1000L), rng.nextInt(n(150)).toLong,
          eventTypes(rng.nextInt(eventTypes.size)), money(rng, 0.01, 490.0),
          s"""{"k": ${rng.nextInt(100)}}""")
      })
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until nDocs).foreach { i =>
      val r = rng.nextDouble()
      texts += (if (i > 10 && r < 0.03) texts(rng.nextInt(texts.size))
      else if (i > 10 && r < 0.08) {
        val toks = texts(rng.nextInt(texts.size)).split(' ')
        toks(rng.nextInt(toks.length)) = "dup"
        toks.mkString(" ")
      } else Seq.fill(10 + rng.nextInt(90))(vocab(rng.nextInt(vocab.size))).mkString(" "))
    }
    save("documents", st("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType),
      texts.zipWithIndex.map { case (t, i) =>
        Row(i.toLong, t, langs(rng.nextInt(langs.size)), s"src${i % 20}", t.length.toLong)
      }.toSeq)
    save("embeddings", st("vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
      "label" -> IntegerType),
      (0 until nDocs).map { i =>
        val label = rng.nextInt(10)
        // ten clusters: a label direction plus noise, unit length
        val v = Array.tabulate(64)(d =>
          (if (d % 10 == label) 0.5 else 0.0) + rng.nextGaussian() * 0.1)
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })
  }
}
