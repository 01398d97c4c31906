package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions._
import graft.ops.{Dedup, TextAnalysis}
import graft.sources.Tables

/** Per-row cost of each native expression, over a fixed cached frame
  * derived from `documents` and `embeddings`: the median time to project
  * the expression minus the median time to project its input columns
  * unchanged, divided by the frame's rows. */
object NativeFunctions {
  private val Copies = 100
  private val Reps = 3

  private def frame(spark: SparkSession, data: String): DataFrame = {
    val vecs = Tables.embeddings(spark, data)
    val nVecs = vecs.count()
    val cents = array((0 until 8).map(c => struct(lit(c).as("cluster"),
      array_repeat(lit((c * 30 - 105).toLong), 64).as("cq"))): _*)
    Tables.documents(spark, data).select(col("doc_id"), col("text"))
      .crossJoin(spark.range(Copies).toDF("copy"))
      .join(vecs.select(col("vec_id"), col("embedding").as("emb")),
        pmod(col("doc_id") + col("copy"), lit(nVecs)) === col("vec_id"))
      .select(col("text"), col("emb"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("*"), Dedup.shingles3(col("toks")).as("sh"),
        array_sort(array_distinct(col("toks"))).as("sd"),
        array_sort(array_distinct(slice(col("toks"), 1, 12))).as("sd12"),
        transform(col("emb"), x => round(x * 127).cast("long")).as("qv"),
        xxhash64(col("text")).bitwiseAND(lit(0xfffffL)).as("mask"),
        sequence(lit(0), size(col("toks")) - 1, lit(3)).as("cuts"))
      .select(col("*"), GraftFunctions.sq8Pack(col("qv")).as("qb"), cents.as("cents"))
  }

  /** (name, input columns, expression) for every measured expression. */
  private def exprs: Seq[(String, Seq[String], Column)] = Seq(
    ("VecDot", Seq("emb"), GraftFunctions.vecDot(col("emb"), col("emb"))),
    ("MinHashSignature", Seq("sh"), Dedup.minhashSignature(col("sh"))),
    ("SimHash", Seq("sh"), SimHash(col("sh"), 64)),
    ("WordShingles", Seq("toks"), WordShingles(col("toks"), 3)),
    ("VocabCounts", Seq("toks"), GraftFunctions.vocabCounts(col("toks"),
      Seq("spark", "query", "table", "join", "scan", "sort", "hash", "window"))),
    ("HashedTokenCounts", Seq("toks"), GraftFunctions.hashedTokenCounts(col("toks"), 64)),
    ("MaxStutterRun", Seq("toks"), GraftFunctions.maxStutterRun(col("toks"))),
    ("SortedPairs", Seq("sd12"), SortedPairs(col("sd12"))),
    ("SortedIntersectSize", Seq("sd", "sd12"),
      GraftFunctions.sortedIntersectSize(col("sd"), col("sd12"))),
    ("ArgMinSqDist", Seq("qv", "cents"), GraftFunctions.argMinSqDist(col("qv"), col("cents"))),
    ("Sq8Pack", Seq("qv"), GraftFunctions.sq8Pack(col("qv"))),
    ("Sq8Dot", Seq("qb"), GraftFunctions.sq8Dot(col("qb"), col("qb"))),
    ("LongVecDot", Seq("qv"), GraftFunctions.longVecDot(col("qv"), col("qv"))),
    ("MaskBitPairs", Seq("mask"), GraftFunctions.maskBitPairs(col("mask"))),
    ("PruneSortedPositions", Seq("toks", "cuts"),
      GraftFunctions.pruneSortedPositions(col("toks"), col("cuts"))),
    ("NormalizeText", Seq("text"), NormalizeText(col("text"))),
    ("TokenClassCounts", Seq("text"), TokenClassCounts(col("text"))))

  def measure(spark: SparkSession, data: String, tracer: Tracer, out: LayerOut): Unit = {
    val f = frame(spark, data).cache()
    try {
      val rows = f.count().toDouble
      def time(df: DataFrame): Double = {
        val t0 = System.nanoTime()
        df.queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }
      exprs.foreach { case (name, inputs, e) =>
        val (ns, _) = tracer.span(s"functions.$name") {
          val base = f.select(inputs.map(col): _*)
          val withExpr = f.select(e.as("out"))
          time(withExpr)
          val samples = (1 to Reps).map(_ => (time(base), time(withExpr)))
          (Stats.median(samples.map(_._2)) - Stats.median(samples.map(_._1))) / rows * 1e9
        }
        out.put(s"functions.$name.ns_per_row", "ns", ns)
      }
    } finally f.unpersist()
  }
}
