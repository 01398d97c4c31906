package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact hash dedup,
  * word-shingle MinHash signatures with LSH banding for near-duplicate
  * candidate generation, n-gram Jaccard verification, and SimHash.
  *
  * Scale design: signatures/bands are computed per-row with higher-order
  * functions (narrow, no shuffle); the only shuffle is the band-bucket
  * self-join, which touches `docs x bands` small rows (band keys are 32-byte
  * md5 strings, not documents). At 100 TB the candidate join is the standard
  * LSH trick: only documents agreeing on at least one band ever meet. MinHash
  * values are lexicographic minima of md5 hex strings — stable across
  * engines, no platform-specific hash seeds.
  */
object Dedup {

  /** Normalization for exact dedup: lowercase + length-capped prefix.
    * (Cap keeps the groupBy key bounded; at scale use the full text's md5
    * computed the same way.) The text is Unicode, so this is Spark's
    * Unicode `lower`, not an ASCII `translate`. */
  def normKey(text: Column, prefixLen: Int = 120): Column =
    md5(lower(text.substr(lit(1), lit(prefixLen))))

  /** Exact dedup by key: one survivor (min id) per key + group size.
    * A single hash-aggregate shuffle on the 32-byte key. */
  def dedupByKey(df: DataFrame, key: Column, id: Column): DataFrame =
    df.groupBy(key.as("dedup_key"))
      .agg(min(id).as("kept_doc_id"), count(lit(1)).as("dup_count"))

  /** Word n-shingles (n=3): sliding window of tokens joined by single
    * spaces; empty when the document has fewer than n tokens. Native
    * one-eval-per-row expression ([[graft.functions.WordShingles]]) — the
    * HOF form (`transform(sequence, i -> array_join(slice(...)))`) ran an
    * interpreted closure + slice allocation per output shingle on the
    * hottest text-pipeline stage. */
  def shingles3(toks: Column): Column =
    graft.functions.WordShingles(toks, 3)

  /** MinHash signature (array<long>, k rows) via the native
    * [[graft.functions.MinHashSignature]] expression — one md5 per shingle,
    * k Kirsch–Mitzenmacher derivations, all in one compiled eval per row
    * (the HOF forms evaluate interpreted closures per shingle x seed and
    * were measured to dominate the dedup queries). NULL for shingle-less
    * docs, so their band keys go NULL and they never pair. */
  def minhashSignature(shingleCol: Column, k: Int = 12): Column =
    graft.functions.MinHashSignature(shingleCol, k)

  /** LSH banding: band b's key hashes rows [b*r+1, b*r+r] of the signature,
    * '|'-separated (values can't alias) and null-propagating via concat
    * (NULL signature -> NULL band_key -> never joins). Returns an array of
    * (band, band_key) structs to explode. */
  def lshBands(sig: Column, bands: Int = 6, r: Int = 2): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(
        b.as("band"),
        md5(concat((1 to r).flatMap(i =>
          (if (i > 1) Seq(lit("|")) else Nil) :+
            element_at(sig, b * r + i).cast("string")): _*))
          .as("band_key")))

  /** Candidate near-duplicate pairs: documents sharing at least one LSH
    * band bucket. Input must have columns (doc_id, band, band_key). */
  def candidatePairs(banded: DataFrame): DataFrame = {
    val a = banded.select(col("doc_id").as("doc1"), col("band"), col("band_key"))
    val b = banded.select(col("doc_id").as("doc2"), col("band"), col("band_key"))
    a.join(b, Seq("band", "band_key"))
      .filter(col("doc1") < col("doc2"))
      .select("doc1", "doc2")
      .distinct()
  }

  /** Per-token md5 hashes — materialize this as its own column before
    * [[simhashFromHashes]]: the bit-sums each re-read the hash array,
    * so an inlined hash expression would be recomputed once per bit. */
  def tokenHashes(toks: Column): Column = transform(toks, t => md5(t))

  /** Width-parameterized SimHash over the token multiset: bit j is set iff
    * the sum over tokens of (+1 if md5 hex digit j >= 8 else -1) is
    * positive (md5 supplies up to 32 nibbles). 16 bits is compact but weakly
    * discriminating on topically-similar corpora; 32 bits is the
    * near-dup-banding width (q44). */
  def simhashFromHashes(hashes: Column, nBits: Int): Column = {
    require(nBits >= 1 && nBits <= 32, s"simhash width 1..32, got $nBits")
    val bits = transform(sequence(lit(0), lit(nBits - 1)), j => {
      val bitSum = aggregate(hashes, lit(0L), (acc, h) =>
        acc + when(conv(h.substr(j + 1, lit(1)), 16, 10).cast("long") >= 8, 1L)
          .otherwise(-1L))
      when(bitSum > 0, pow(lit(2.0), j).cast("long")).otherwise(0L)
    })
    aggregate(bits, lit(0L), (acc, v) => acc + v)
  }

  /** Hamming distance between two SimHash values. */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Fingerprint width for the simhash near-dup pipeline (q44/q51/q173 and
    * the incremental corpus pipeline): 60 bits — Manku et al.'s 64-bit
    * design point rounded down so bit 63 stays clear and every packed
    * band key / additive oracle term is a positive BIGINT in both
    * engines (DuckDB's `2**59` construction fits; `2**63` overflows). */
  val SimhashBits = 60

  /** Corpus-adaptive block count for [[mankuBands]]: every value is
    * radius-3 lossless (the pigeonhole proof below holds for any
    * blocks > 3); what changes is the SELECTIVITY/COST trade. Small
    * corpora take 5 blocks (C(5,2) = 10 tables × 24-bit keys — half the
    * band rows of 6, and 24-bit keys keep expected per-table collisions
    * n²/2^25 under ~1 per doc to ~2M docs); past 2M docs, 6 blocks
    * (20 tables × 30-bit keys, good to ~4·10⁹); past that, 7
    * (C(7,4) = 35 tables × ~34-bit keys). The banding scheme is FREE to
    * vary because the oracle verifies the survivors against brute-force
    * ground truth, not against a mirrored construction. */
  def mankuBlocksFor(n: Long): Int =
    if (n < 2L * 1000 * 1000) 5
    else if (n < 4L * 1000 * 1000 * 1000) 6
    else 7

  /** Manku-style block-permutation band tables (Manku, Jain & Sarma,
    * WWW'07 §3): split the `bits`-wide fingerprint into `blocks` nearly
    * equal bit-blocks; one table per C(blocks, blocks-radius) choice of
    * blocks; a table's key packs the chosen blocks' bits into one long.
    * Pigeonhole: a pair within Hamming distance `radius` has ≥
    * blocks-radius intact blocks, so SOME choice is intact in both docs
    * — a LOSSLESS candidate filter at that radius, like 4-band slicing,
    * but with key width (blocks-radius)/blocks · bits instead of
    * bits/4.
    *
    * Why this replaces the historical adaptive 4-band slicing: radius-3
    * losslessness pins contiguous banding at 4 bands, so its key width
    * is bits/4 ≤ 15 — past ~4M docs those keys saturate and candidate
    * volume reverts to n²/2^15·4 (the measured 1000×-rung OOM). Block
    * permutation decouples key width from the band count: 6-choose-3
    * gives 20 tables × 30-bit keys whose per-table collisions n²/2^30
    * stay sub-linear to ~10⁹ docs, at the price of 20 band rows per doc
    * — rows of (long, int, long), not documents. [[mankuBlocksFor]]
    * picks the cheapest lossless scheme for the corpus size.
    *
    * NULL fingerprints (featureless docs) propagate to NULL keys and
    * never pair. Returns (band, band_key) structs for
    * [[candidatePairs]]; band_key is a packed long (≤ 62 bits). */
  def mankuBands(sim: Column, bits: Int = SimhashBits, blocks: Int = 6,
                 radius: Int = 3): Column = {
    require(0 < radius && radius < blocks,
      s"need 0 < radius < blocks, got radius=$radius blocks=$blocks")
    require(bits <= 62, s"packed band keys must stay positive: bits=$bits")
    val base = bits / blocks
    val widths = (0 until blocks).map(i => base + (if (i < bits % blocks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    val combos = (0 until blocks).combinations(blocks - radius).toSeq
    array(combos.zipWithIndex.map { case (combo, t) =>
      val key = combo.foldLeft(lit(0L): Column) { (acc, i) =>
        shiftleft(acc, widths(i)).bitwiseOR(
          shiftright(sim, offsets(i)).bitwiseAND(lit((1L << widths(i)) - 1)))
      }
      struct(lit(t).as("band"), key.as("band_key"))
    }: _*)
  }

  /** Batch rows whose `keyCol` does NOT appear in `lakeKeys` — the exact
    * incremental-dedup gate, computed WITHOUT ever shuffling the lake.
    *
    * Three stages, all lake-shuffle-free:
    *   1. build — the lake's keys fold into ONE bloom binary
    *      ([[graft.functions.BloomFilters.bloomAgg]]; partial-aggregated,
    *      so the exchange carries one bitset per map task, not keys);
    *   2. probe — the batch filters map-side through the codegen'd
    *      `might_contain` riding a scalar subquery (executed once);
    *   3. verify — only probe-POSITIVE keys (true dups + fp rate) are
    *      broadcast back over the lake as a SEMI join, scanned map-side.
    *
    * Bloom false positives surface as verify work, never as output: the
    * anti-join against the CONFIRMED-old key set returns exactly the
    * batch rows with unseen keys, bit-identical to the plain anti-join
    * (spec-pinned), while the lake-proportional key shuffle that the
    * plain form pays per increment never happens. `expectedItems` sizes
    * the bloom (q201 passes a fixed 1 000 000); a too-small bloom
    * degrades to more verify traffic, not wrong rows. */
  def bloomGatedNewKeys(lakeKeys: DataFrame, batch: DataFrame,
                        keyCol: String, expectedItems: Long): DataFrame = {
    val bloom = graft.functions.BloomFilters
      .bloomOf(lakeKeys, keyCol, expectedItems)
    val flagged = batch.withColumn("maybe_old",
      graft.functions.BloomFilters.mightContain(bloom.scalar(), col(keyCol)))
    val maybeKeys = flagged.filter(col("maybe_old"))
      .select(col(keyCol)).distinct()
    val confirmedOld = lakeKeys
      .join(broadcast(maybeKeys), Seq(keyCol), "left_semi")
      .select(col(keyCol)).distinct()
    flagged.join(confirmedOld, Seq(keyCol), "left_anti").drop("maybe_old")
  }
}
