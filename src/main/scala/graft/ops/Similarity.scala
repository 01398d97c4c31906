package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Two paths:
  *  - brute-force cosine top-k (the correctness baseline): broadcast the
  *    (small) query set against the full corpus — a narrow map + windowed
  *    top-k, no corpus shuffle;
  *  - signed-random-projection LSH (the scale path): 8 deterministic
  *    +-1 hyperplanes bucket vectors into 256 cells per-row; ANN joins
  *    only same-bucket candidates, cutting the pair space ~256x. At 100 TB
  *    the bucket join replaces the quadratic cross join entirely.
  *
  * Determinism: dot products fold left-to-right in double precision
  * (`zip_with` + `aggregate`), a fixed IEEE evaluation order reproduced by
  * the DuckDB oracle — results are bit-identical across engines. The
  * hyperplane signs derive from md5, not a platform RNG.
  */
object Similarity {

  /** Left-to-right double-precision dot product — the codegen'd native
    * expression ([[graft.functions.VecDot]]); bit-identical to the
    * `aggregate(zip_with(...))` higher-order form it replaced, but without
    * the CodegenFallback interpretation tax on the candidate-pair hot path. */
  def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.vecDot(a, b)

  /** The composable higher-order form (kept as the semantic reference the
    * custom expression must match; see SimilaritySpec). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Cosine similarity, fixed shape: dot / sqrt(norm_a * norm_b). */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / sqrt(dot(a, a) * dot(b, b))

  /** Deterministic +-1 hyperplane matrix: sign(p, d) from the first hex
    * digit of md5("p_d"). Computed once driver-side; broadcast as literals
    * into the plan (and inlined identically into the oracle SQL). */
  def hyperplaneSigns(planes: Int, dims: Int): Seq[Seq[Int]] = {
    val digest = java.security.MessageDigest.getInstance("MD5")
    (0 until planes).map { p =>
      (0 until dims).map { d =>
        val hex = digest.digest(s"${p}_$d".getBytes("UTF-8"))
        // first hex digit = high nibble of byte 0
        if (((hex(0) >> 4) & 0xf) >= 8) 1 else -1
      }
    }
  }

  /** Signed-random-projection bucket id in [0, 2^planes): bit p set iff
    * dot(vec, plane_p) > 0. A pure per-row expression — no shuffle. */
  def srpBucket(vec: Column, signs: Seq[Seq[Int]]): Column =
    signs.zipWithIndex.map { case (plane, p) =>
      // double literals: vec_dot takes float/double arrays natively and
      // ±1 is exact in every width
      val planeLit = array(plane.map(v => lit(v.toDouble)): _*)
      when(dot(vec, planeLit) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Plane rows reserved per table in the sign layout — table t's planes
    * are global rows [t*MaxPlanesPerTable, t*MaxPlanesPerTable + pn) for
    * the ADAPTIVE pn below. Keeping the stride fixed means the literal
    * sign matrix (and the oracle SQL that inlines it) never changes shape
    * as pn moves with corpus size.
    *
    * 24, raised from 12 in r6: the clamp is where SRP banding saturates,
    * exactly like the r4 simhash 15-bit wall — past 2^pn·target vectors
    * the expected bucket occupancy grows linearly again and candidate
    * volume reverts to n²/2^pn. At 12 planes that wall sits at ~131k
    * vectors; the r6 full-suite 1000× rung (2M vectors) measured it as
    * ~15× target occupancy — q174 (the one SRP query whose QUERY side is
    * also corpus-proportional) shuffled >70 GB and OOM'd the run. At 24
    * planes the occupancy target holds to ~540M vectors per table
    * (16.8M buckets × 32), and the per-row banding cost is still just
    * tables·pn ≤ 192 sign-dots. Beyond that, the same ladder extends —
    * the constant is a clamp on cost, not a design point. */
  val MaxPlanesPerTable = 24

  /** Adaptive SRP plane count: the number of hyperplane bits a table
    * needs so the EXPECTED bucket occupancy stays near `targetBucket`
    * regardless of corpus size — pn = bitLength((n-1)/targetBucket),
    * clamped to [min, MaxPlanesPerTable].
    *
    * Why this must be a function of n and not a constant: candidate pairs
    * per table grow as Σ_buckets occupancy² ≈ n²/2^pn. With pn FIXED, a
    * k× corpus means k² candidates — the scale ladder measured q28 at
    * ~100× CPU for 10× data with 3-bit buckets. With pn = log2(n/target),
    * candidates ≈ n·target: linear, the occupancy a production LSH index
    * maintains by construction. Integer bit-length arithmetic (no
    * floating log2) so the oracle's SQL CASE ladder computes the
    * identical value on any engine. */
  def adaptivePlanes(n: Long, targetBucket: Long = 32L, min: Int = 3): Int = {
    val m = (n - 1).max(0L) / targetBucket
    val bitLength = 64 - java.lang.Long.numberOfLeadingZeros(m)
    math.min(MaxPlanesPerTable, math.max(min, bitLength))
  }

  /** Multi-table SRP buckets (OR-amplification) over the FIXED-STRIDE
    * sign layout: table t uses sign rows [t*MaxPlanesPerTable,
    * t*MaxPlanesPerTable + pn). A single selective table has near-zero
    * recall on weakly-clustered vectors; candidates matching in ANY of
    * several coarse tables recover it (standard AND-then-OR LSH).
    * Returns an array of per-table bucket ids to posexplode. `signs`
    * must have tables*MaxPlanesPerTable rows. Delegates to the native
    * [[graft.functions.SrpBuckets]] expression — the composed Column tree
    * ([[srpBucketsComposed]]) unrolls tables×pn dot loops into one
    * generated method, which at adaptive plane counts blows HotSpot's
    * huge-method JIT limit and drops the stage to the bytecode
    * interpreter (measured ≈200×). */
  def srpBucketsAdaptive(vec: Column, signs: Seq[Seq[Int]], tables: Int,
                         pn: Int): Column =
    graft.functions.SrpBuckets(vec, signs, tables, pn, MaxPlanesPerTable)

  /** Per-row scored IVF cells against a LITERAL centroid table (an IVF
    * centroid table is k·d values by design — always driver-resident):
    * array of struct(neg = -cos, cid) ranked by (cos desc, cid asc) via
    * lexicographic array_sort. Element 1 is the assignment cell; the
    * first nProbe elements are a query's probe list. A pure narrow map —
    * cell assignment never shuffles, at any corpus size. */
  def rankedIvfCells(centroids: Array[(Int, Array[Double])])(vec: Column): Column = {
    def centLit(c: Array[Double]) = array(c.toIndexedSeq.map(lit): _*)
    array_sort(array(centroids.toIndexedSeq.map { case (cid, ce) =>
      struct((-cosine(vec, centLit(ce))).as("neg"), lit(cid).as("cid"))
    }: _*))
  }

  /** SQ8 global symmetric scale: max|x| over every embedding component —
    * one 1-row aggregate (the bounded-collect class). EXACT: abs/cast/max
    * do no rounding, so the collected double equals the oracle's
    * CTE-computed double bit for bit. Shared by q213/q214/q215 (in-plan
    * quantization). */
  def sq8MaxAbs(vecs: DataFrame, vecCol: String = "embedding"): Double = {
    val m = vecs.agg(max(expr(
      s"aggregate($vecCol, CAST(0.0 AS DOUBLE), (a, v) -> greatest(a, abs(CAST(v AS DOUBLE))))")))
      .head().getDouble(0)
    require(m > 0.0, "sq8 scale: all-zero embedding corpus")
    m
  }

  /** SQ8 quantizer column: q_i = floor(x_i * 127 / maxabs), CLAMPED to
    * [-127, 127]. The clamp covers two cases with one expression: (a) the
    * double-rounding edge where fl(fl(127·max)/max) lands just past ±127
    * on a same-corpus scale, and (b) SATURATION when `maxabs` is smaller
    * than the data (a scale fixed on other vectors): coordinates clip to
    * ±127 (the standard SQ posture) rather than leave the range
    * `sq8_pack` accepts. */
  def sq8Quantize(vec: Column, maxabs: Double): Column =
    transform(vec, v => greatest(lit(-127L), least(lit(127L),
      floor(v.cast("double") * lit(127.0) / lit(maxabs)).cast("long"))))

  /** The composable Column form of [[srpBucketsAdaptive]] — kept as the
    * semantic reference the native expression must match (see
    * SrpBucketsSpec); do NOT use on a hot path (JIT cliff above). */
  def srpBucketsComposed(vec: Column, signs: Seq[Seq[Int]], tables: Int,
                         pn: Int): Column = {
    require(pn >= 1 && pn <= MaxPlanesPerTable, s"pn out of range: $pn")
    require(signs.length >= tables * MaxPlanesPerTable,
      s"sign layout too small: ${signs.length} < ${tables * MaxPlanesPerTable}")
    array((0 until tables).map { t =>
      srpBucket(vec,
        signs.slice(t * MaxPlanesPerTable, t * MaxPlanesPerTable + pn))
    }: _*)
  }
}
