package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Scale-ladder dataset generator: writes a k× derived copy of a fixture
  * directory so the bench can measure how each query's time and shuffle
  * volume SCALE, not just what they are at sf0.1 (17 MB proves plan shape;
  * only a ladder run catches an operator whose cost curve is super-linear).
  *
  * The fixtures are read-only, so the derived set goes to /tmp. Each fact
  * table is replicated k times with all key domains offset by i·10⁹ per
  * copy — referential integrity holds WITHIN a copy (orders→customer,
  * lineitem→part/supplier, embeddings↔documents) and never across copies.
  * Dims (region/nation) stay fixed, as they would at any real SF.
  *
  * The replication is a crossJoin against a broadcast k-row copy table,
  * with every per-copy transform expressed over the `copy` column — NOT a
  * k-way unionAll. The union form builds a k-deep left-leaning plan whose
  * analysis cost grows with k and which k copies of every expression tree;
  * the crossJoin form is one plan of constant size for any k, which is
  * what lets the same generator produce the 10×, 100×, and 1000× rungs.
  * The base is repartitioned before the cross so write parallelism matches
  * the cluster, not the source file count (a k× fan-out of an 8-partition
  * base would otherwise funnel 1000× rows through 8 write tasks).
  *
  * Crucially the copies are NOT identical in content: identical text would
  * turn every document into a k-member exact/near-dup clique, inflating
  * LSH candidate pairs quadratically per original pair — a DATA-
  * distribution shift that would read as a bogus super-linear plan.
  * Instead copy i>0 prefixes every token with `c<letters>x` (disjoint
  * vocabulary per copy → zero cross-copy token overlap; within-copy token
  * structure preserved modulo the prefix; the prefix is all-LETTER on
  * purpose — a digit inside it would split every word into three
  * `[A-Za-z]+|[0-9]+` runs and shift the token-class distribution the
  * ladder is supposed to hold fixed) and applies a per-copy orthogonal
  * transform to the embeddings (below). The result scales the way a real
  * k× corpus does: k× more dup classes of the SAME size.
  *
  * Embedding transform = dimension PERMUTATION composed with a
  * deterministic per-(copy, dim) SIGN flip. Sign flip alone leaves a twin
  * pair's cosine at Σ ±x_j² — an all-positive-terms random-sign sum with
  * sd √(3/d) ≈ 0.22 at d=64, so ~9% of cross-copy twins still landed
  * above the 0.3 near-dup threshold (measured max |cos| 0.78). A
  * permutation pairs DIFFERENT coordinates (Σ ±x_a x_b), which hits the
  * 1/√d ≈ 0.125 floor of genuinely independent unit vectors — the
  * statistics a real k× corpus would have. The permutation is AFFINE,
  * σ_i(j) = a_i·j + b_i (mod d) with a_i odd (a bijection mod d for
  * power-of-two d), not a plain cyclic shift: a shift-only family
  * collides once k > d (pigeonhole on d possible shifts), and two copies
  * with EQUAL shifts degrade back to sign-flip-only statistics. With
  * a_i = 2i+1 and b_i = 11i + 13·⌊i/64⌋, any two copies i ≠ j ≤ 2047
  * differ in (a, b) — a_i = a_j forces i ≡ j (mod 32), where b_i − b_j ≡
  * 11·(i−j) + 13·Δ⌊/64⌋ ≠ 0 (mod 64) for every multiple of 32 in range —
  * so the relative transform is never the identity and has at most
  * gcd(a_rel − 1, d) fixed points; the cross-copy cosine stays at the
  * 1/√d floor (measured: max |cos| 0.42 over 2000 twin pairs at k = 10).
  *
  * Usage: runMain graft.tools.ScaleUp [srcDir] [outDir] [k] [tablesCsv]
  * The optional 4th arg restricts the write to a comma-separated table
  * subset (e.g. `documents` for a dedup-family-only rung) — at k=2000 the
  * full set is ~30 GB and dominated by lineitem, which the dedup ladder
  * never reads.
  */
object ScaleUp {
  private val Off = 1000000000L

  /** All-letter copy code for the token prefix: one letter for the first 26
    * copies (matching the original 10x ladder), excel-style two letters
    * beyond ("aa".."zz", up to copy 701), three beyond that (the 1000x
    * rung), so every rung keeps the prefix inside `[A-Za-z]` and the
    * token-class distribution unshifted.
    */
  private def letterCode(m: Int): String =
    if (m < 26) ('a' + m).toChar.toString
    else if (m < 702) s"${('a' + m / 26 - 1).toChar}${('a' + m % 26).toChar}"
    else {
      val r = m - 702
      s"${('a' + r / 676).toChar}${('a' + r / 26 % 26).toChar}${('a' + r % 26).toChar}"
    }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft-sf1")
    val k = args.lift(2).flatMap(_.toIntOption).getOrElse(10)
    require(k >= 1 && k <= 2048, s"k must be in [1, 2048], got $k")
    val tableFilter: Option[Set[String]] =
      args.lift(3).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    tableFilter.foreach { ts =>
      val unknown = ts -- graft.sources.Tables.names.toSet
      require(unknown.isEmpty, s"unknown tables: ${unknown.mkString(", ")}")
    }
    val spark = graft.GraftSession.start("graft-scaleup")
    import spark.implicits._

    // The k-row copy table: (copy, prefix). Broadcast side of every cross.
    val copies = broadcast(
      (0 until k).map(i =>
        (i, if (i == 0) "" else s"c${letterCode(i - 1)}x")).toDF("copy", "prefix"))
    // Fan-out write parallelism: each base partition emits k× its rows, so
    // spread the base across the cluster BEFORE the cross (no post-cross
    // shuffle of the k×-sized data).
    val writeParts = spark.sparkContext.defaultParallelism * 8

    def write(df: DataFrame, name: String): Unit =
      if (tableFilter.forall(_.contains(name)))
        df.write.mode("overwrite").parquet(s"$out/$name.parquet")

    def scaled(base: DataFrame, keyCols: Seq[String])
              (extra: DataFrame => DataFrame): DataFrame = {
      val crossed = base.repartition(writeParts).crossJoin(copies)
      val shifted = keyCols.foldLeft(crossed)((d, c) =>
        d.withColumn(c, col(c) + col("copy").cast("long") * lit(Off)))
      extra(shifted).drop("copy", "prefix")
    }

    val id = (d: DataFrame) => d

    Seq("region", "nation").foreach(n => write(Tables.load(spark, src, n), n))
    write(scaled(Tables.customer(spark, src), Seq("c_custkey"))(id), "customer")
    write(scaled(Tables.supplier(spark, src), Seq("s_suppkey"))(id), "supplier")
    write(scaled(Tables.part(spark, src), Seq("p_partkey"))(id), "part")
    write(scaled(Tables.orders(spark, src),
      Seq("o_orderkey", "o_custkey"))(id), "orders")
    write(scaled(Tables.lineitem(spark, src),
      Seq("l_orderkey", "l_partkey", "l_suppkey"))(id), "lineitem")
    // events go through the nanos-aware loader so the derived set carries
    // plain TIMESTAMP(MICROS); (user_id, ts) uniqueness survives because
    // user_id domains are disjoint across copies
    write(scaled(Tables.events(spark, src),
      Seq("event_id", "user_id"))(id), "events")
    write(scaled(Tables.documents(spark, src), Seq("doc_id")) { d =>
      d.withColumn("text", when(col("copy") === 0, col("text"))
          .otherwise(regexp_replace(
            col("text"), lit("([A-Za-z0-9]+)"), concat(col("prefix"), lit("$1")))))
        .withColumn("n_chars", length(col("text")))
    }, "documents")
    // Embedding-dim sanity for the affine permutation: a_i odd is a
    // bijection mod d only when d is a power of two (gcd(a_i, d) = 1).
    if (tableFilter.forall(_.contains("embeddings"))) {
      val dim = Tables.embeddings(spark, src)
        .selectExpr("size(embedding)").head().getInt(0)
      require((dim & (dim - 1)) == 0,
        s"ScaleUp embedding transform needs power-of-two dim, got $dim")
    }
    write(scaled(Tables.embeddings(spark, src), Seq("vec_id")) { d =>
      // copy 0 passes through untouched (hash(0, j) sign flips would alter
      // it); `copy` is IntegerType so hash(copy, j) matches the historical
      // per-copy literal hash($i, j) value for value-identical rungs.
      d.withColumn("embedding", when(col("copy") === 0, col("embedding"))
        .otherwise(expr(
          """transform(embedding, (x, j) -> CAST(
            |  (CASE WHEN pmod(hash(copy, j), 2) = 0 THEN 1.0 ELSE -1.0 END) *
            |  element_at(embedding, CAST(
            |    pmod((2 * copy + 1) * j + (11 * copy + 13 * (copy DIV 64)),
            |         size(embedding)) + 1 AS INT))
            |  AS FLOAT))""".stripMargin)))
    }, "embeddings")

    Tables.names.filter(n => tableFilter.forall(_.contains(n))).foreach { n =>
      val c = spark.read.parquet(s"$out/$n.parquet").count()
      println(s"[scaleup] $n: $c rows")
    }
    spark.stop()
  }
}
