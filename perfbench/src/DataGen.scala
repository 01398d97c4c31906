package graft.perfbench

import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Deterministic generator for the ten fixture tables the query modules
  * read (`graft.sources.Tables.names`). Shapes and value domains follow the
  * repo's TESTDATA fixtures (TPC-H-like star schema, an `events` stream,
  * a short-vocabulary `documents` corpus with exact and near duplicates,
  * unit-norm 64-d `embeddings`). The data seed is fixed: the workload seed
  * only picks start dates and execution order, so every run of every seed
  * reads byte-identical inputs, which is what lets expected outputs be
  * recorded once. Row counts are scale factor `Sf` times TPC-H's. */
object DataGen {
  val Sf = 0.01
  private val DataSeed = 20231017L

  private def n(base: Double): Int = math.max(1, math.round(base * Sf).toInt)
  private def cents(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
  private def pick[T](r: SplittableRandom, xs: IndexedSeq[T]): T = xs(r.nextInt(xs.length))
  private def day(epochDay: Long): LocalDateTime = LocalDate.ofEpochDay(epochDay).atStartOfDay()

  private val segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val adjectives = Vector("small", "new", "hot", "large", "cold", "blue", "old", "red")
  private val nouns = Vector("widget", "gizmo", "bolt", "plate", "anvil", "rod", "ring", "gear")
  private val partTypes = Vector("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
  private val priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Vector("click", "view", "purchase", "signup", "error")
  private val vocab = Vector("a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
    "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window")
  private val langs = Vector("en", "en", "en", "en", "zh", "de", "es", "fr")

  private def epoch(s: String): Long = LocalDate.parse(s).toEpochDay

  def tables(): Seq[(String, StructType, IndexedSeq[Row])] = {
    val r = new SplittableRandom(DataSeed)
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000); val nLine = n(6000000); val nEv = n(1000000)
    val nUsers = n(15000); val nDocs = math.max(500, n(50000))
    val nVecs = math.max(500, n(200000))

    val region = (StructType.fromDDL("r_regionkey INT, r_name STRING"),
      Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (nm, i) => Row(i, nm) })
    val nation = (StructType.fromDDL("n_nationkey INT, n_name STRING, n_regionkey INT"),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val customer = (StructType.fromDDL(
      "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING"),
      (0 until nCust).map { i => val g = r.split()
        Row(i.toLong, f"Customer#$i%09d", g.nextInt(25), cents(g, -999.99, 9999.99), pick(g, segments))
      })
    val supplier = (StructType.fromDDL(
      "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE"),
      (0 until nSupp).map { i => val g = r.split()
        Row(i.toLong, f"Supplier#$i%09d", g.nextInt(25), cents(g, -999.99, 9999.99))
      })
    val part = (StructType.fromDDL(
      "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, p_size INT, p_retailprice DOUBLE"),
      (0 until nPart).map { i => val g = r.split()
        Row(i.toLong, s"${pick(g, adjectives)} ${pick(g, nouns)}", s"Brand#${1 + g.nextInt(25)}",
          pick(g, partTypes), 1 + g.nextInt(50), 900.0 + (i % 1000) / 10.0)
      })
    val d0 = epoch("1995-01-01"); val d1 = epoch("2001-08-01")
    val orders = (StructType.fromDDL(
      "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, " +
        "o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
      (0 until nOrd).map { i => val g = r.split()
        // as in TPC-H, every third customer places no orders
        Row(i.toLong, 3L * g.nextInt(nCust / 3) + 1 + g.nextInt(2), pick(g, Vector("F", "O", "P")),
          cents(g, 1000.0, 500000.0), day(d0 + g.nextLong(d1 - d0 + 1)),
          pick(g, priorities))
      })
    val s0 = epoch("1995-01-02"); val s1 = epoch("2001-11-04")
    val lineitem = (StructType.fromDDL(
      "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, " +
        "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
        "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
      (0 until nLine).map { _ => val g = r.split()
        Row(g.nextInt(nOrd).toLong, g.nextInt(nPart).toLong, g.nextInt(nSupp).toLong,
          1 + g.nextInt(7), (1 + g.nextInt(50)).toDouble, cents(g, 900.0, 105000.0),
          g.nextInt(11) / 100.0, g.nextInt(9) / 100.0, pick(g, Vector("A", "N", "R")),
          pick(g, Vector("O", "F")), day(s0 + g.nextLong(s1 - s0 + 1)))
      })
    // events: ts strictly increasing with event_id over 30 days of 2024
    val ev0 = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L
    val span = 30L * 86400L * 1000000L
    val events = (StructType.fromDDL(
      "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"),
      (0 until nEv).map { i => val g = r.split()
        val micros = ev0 + (i.toLong * span) / nEv + g.nextLong(span / nEv)
        val ts = LocalDateTime.ofEpochSecond(micros / 1000000,
          ((micros % 1000000) * 1000).toInt, ZoneOffset.UTC)
        Row(i.toLong, ts, g.nextInt(nUsers).toLong, pick(g, eventTypes),
          math.round(-math.log(1 - g.nextDouble()) * 5000) / 100.0,
          s"""{"k": ${g.nextInt(100)}}""")
      })
    // documents: 10-99 tokens; every 25th doc repeats an earlier one
    // verbatim and every 25th (offset 12) is a one-token edit of one
    val texts = new Array[String](nDocs)
    for (i <- 0 until nDocs) {
      val g = r.split()
      texts(i) =
        if (i >= 50 && i % 25 == 0) texts(g.nextInt(i))
        else if (i >= 50 && i % 25 == 12) {
          val toks = texts(g.nextInt(i)).split(" ")
          toks(g.nextInt(toks.length)) = "dup"
          toks.mkString(" ")
        } else Vector.fill(10 + g.nextInt(90))(pick(g, vocab)).mkString(" ")
    }
    val documents = (StructType.fromDDL(
      "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"),
      (0 until nDocs).map { i => val g = r.split()
        Row(i.toLong, texts(i), pick(g, langs), s"src${i % 20}", texts(i).length.toLong)
      })
    val embeddings = (StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType))),
      (0 until nVecs).map { i => val g = r.split()
        val v = Array.fill(64)(g.nextDouble() * 2 - 1)
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, g.nextInt(10))
      })
    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders, "lineitem" -> lineitem,
      "events" -> events, "documents" -> documents, "embeddings" -> embeddings)
      .map { case (name, (schema, rows)) => (name, schema, rows) }
  }

  /** Write every table as `<dir>/<name>.parquet` (one file each).
    * Timestamps are TIMESTAMP_NTZ, as pyarrow-written fixtures read. */
  def write(spark: SparkSession, dir: String): Unit = {
    tables().foreach { case (name, schema, rows) =>
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
  }
}
