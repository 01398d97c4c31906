package graft.sources

import java.util.concurrent.ConcurrentHashMap
import scala.util.control.NonFatal
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet table loaders for the driver-generated fixture tables
  * (`/root/testdata/sf*`; see TESTDATA.md).
  *
  * Design notes for scale (100 TB): all reads go through `spark.read.parquet`
  * so Catalyst gets column pruning + filter pushdown for free. Callers must
  * filter/select on the returned frame (never collect) so pushdown reaches the
  * scan. At production scale these would be date-partitioned directories; the
  * loader API stays the same.
  *
  * Schema memo: a parquet read without a schema makes Spark infer one, and
  * Spark 4.1 does that with a one-task job (`mergeSchemasInParallel`) that
  * reads a footer — even for a single file with `mergeSchema` off. A query
  * loads up to all 10 tables (`registerAll`), so that job dominated short
  * queries' construction time. Each table path's schema is therefore
  * inferred once, by Spark itself, and handed to every later read as
  * `.schema(s)`; each load still builds a fresh relation with fresh
  * expression ids. The entry is keyed by everything inference reads: the
  * reader options, every session conf whose key contains `parquet` (e.g.
  * `nanosAsLong`, set by [[events]]) plus `ignoreCorruptFiles`, and the
  * table directory's (name, length, mtime) listing — so a table rewritten
  * in place is inferred again. One entry per path (a new key replaces the
  * old), so the memo is bounded by the number of distinct table paths.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session-conf prefix for remote-lake reader options. `sfDir` is already
    * any Hadoop-compatible URI (`s3a://bucket/sf100`, `abfss://...`), but a
    * lake read usually also needs filesystem configuration — endpoint,
    * credentials provider, path-style access. Set them once per session as
    *   spark.conf.set("spark.graft.read.option.fs.s3a.endpoint", ...)
    * and every Tables read carries them: DataFrameReader options are merged
    * into the per-relation Hadoop conf (`newHadoopConfWithOptions`), so
    * `fs.*` keys genuinely reach the FileSystem that resolves the scan —
    * per-read scope, nothing global mutated. No network is touched unless
    * the URI scheme itself is remote. */
  val ReadOptionPrefix = "spark.graft.read.option."

  /** The composed table path — pure so the URI plumb-through is testable
    * without a live object store. */
  def tablePath(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  private def readOptions(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.collect {
      case (k, v) if k.startsWith(ReadOptionPrefix) =>
        k.stripPrefix(ReadOptionPrefix) -> v
    }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, tablePath(sfDir, name))

  /** What schema inference reads for one table: reader options, the
    * parquet-relevant session confs and the table's file listing. */
  private case class Signature(options: Map[String, String],
                               confs: Map[String, String],
                               files: Seq[(String, Long, Long)])

  private val schemas = new ConcurrentHashMap[String, (Signature, StructType)]()

  private def signature(spark: SparkSession, path: String,
                        options: Map[String, String]): Option[Signature] =
    try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConfWithOptions(options))
      val files = fs.listStatus(p).toSeq
        .map(f => (f.getPath.getName, f.getLen, f.getModificationTime))
        .sortBy(_._1)
      val confs = spark.conf.getAll.filter { case (k, _) =>
        k.contains("parquet") || k == "spark.sql.files.ignoreCorruptFiles"
      }
      Some(Signature(options, confs, files))
    } catch { case NonFatal(_) => None }

  /** `spark.read.parquet(path)` with the session's reader options, given the
    * memoized schema when the table's signature matches. An unlistable path
    * takes the plain read, so callers keep Spark's own error. */
  private def parquet(spark: SparkSession, path: String): DataFrame = {
    val options = readOptions(spark)
    val reader = spark.read.options(options)
    signature(spark, path, options) match {
      case None => reader.parquet(path)
      case Some(sig) =>
        val schema = Option(schemas.get(path)).collect {
          case (s, schema) if s == sig => schema
        }.getOrElse {
          val inferred = reader.parquet(path).schema
          schemas.put(path, (sig, inferred))
          inferred
        }
        reader.schema(schema).parquet(path)
    }
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** The events fixture carries parquet TIMESTAMP(NANOS), which Spark's
    * vectorized reader rejects outright. Read nanos as long (legacy conf)
    * and convert to microsecond TimestampType with integer division —
    * floor semantics identical to DuckDB's ns->us truncation, and no
    * double-precision detour (2024 epoch-nanos exceed 2^53).
    *
    * NOTE the legacy flag is session-wide and stays set (restoring it
    * immediately would be racy: the flag is consulted at scan time, not at
    * DataFrame construction). Every graft read path goes through this
    * loader, and nanos-as-long is a no-op for non-nanos files, so the
    * session-global setting is the deliberate choice here. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions
          .timestamp_micros(org.apache.spark.sql.functions.expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // Parquet written with isAdjustedToUTC=false (pandas/pyarrow default)
        // surfaces as TIMESTAMP_NTZ, which unix_micros/unix_seconds reject.
        // The fixture's wall-clock values are UTC, and graft pins the session
        // TZ to UTC, so the cast is value-preserving.
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Register all fixture tables as temp views for `spark.sql` queries.
    * `events` must go through its nanos-aware loader — a raw parquet read
    * of TIMESTAMP(NANOS) fails at schema inference without the legacy
    * conf, and the view should expose the converted micros column anyway
    * (same shape SQL authors get from the DataFrame API). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach { n =>
      val df = if (n == "events") events(spark, sfDir) else load(spark, sfDir, n)
      df.createOrReplaceTempView(n)
    }
}
