package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, greatest, least, lit, max, min}

/** Sink operators (SURVEY.md §2.1 S2/S4/S6).
  *
  * The reference appends to Postgres over JDBC (`spark_transform_data.py:
  * 60-66`, `dags/ETL_covid19_spark.py:48-50`); the lakehouse-native
  * equivalent is append-mode Parquet partitioned by the increment date —
  * which is also what makes P6's per-date reads partition-PRUNED instead of
  * filtered: each daily run writes exactly one new partition directory and
  * never touches previous days (idempotent re-runs via overwrite of just
  * that partition with dynamic partitionOverwriteMode).
  *
  * The JDBC form is the same writer contract with the format swapped —
  * exercised end-to-end against embedded Derby (JdbcSinkSpec): append,
  * readback, and a database-side pushed filter.
  */
object Sinks {

  /** S2/S4/S6: append `df` as one date partition of a Parquet table. */
  def appendDatePartition(df: DataFrame, path: String,
                          dateCol: String = "day_of_data"): Unit =
    df.write
      .mode("append")
      .partitionBy(dateCol)
      .parquet(path)

  /** Idempotent per-date re-run: replaces ONLY the partitions present in
    * `df` (dynamic partition overwrite), the correct re-run semantic the
    * reference approximates with `DELETE ... WHERE day_of_data = ds` +
    * re-insert (`pg_init_covid19.sql:113`). The mode is a writer option,
    * so the session's `spark.sql.sources.partitionOverwriteMode` is neither
    * read nor changed: a concurrent writer on the session keeps its mode. */
  def overwriteDatePartition(df: DataFrame, path: String,
                             dateCol: String = "day_of_data"): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(dateCol)
      .parquet(path)

  /** Staged single-date replace: the rows of partition `dateCol=ds`, given
    * WITHOUT the `dateCol` column, replace that partition only if
    * `beforePublish` returns normally.
    *
    *  1. `df` is written to `<path>/.staging-<uuid>/<dateCol>=<ds>`; Spark
    *     readers of `path` skip entries starting with `.`, so the staged
    *     files are invisible to them.
    *  2. `beforePublish` runs (e.g. a gate over the write's Observation).
    *  3. Publish, the commit step of Spark's own dynamic overwrite: delete
    *     the final partition directory, `mkdirs` its parent, rename the
    *     staged directory in.
    *
    * The staging root is deleted in every case. If the write or
    * `beforePublish` throws, the lake is untouched, the old partition
    * included. One write with no second read of `df`: what `df` computes
    * (and observes) happens once. */
  def replaceDatePartition(df: DataFrame, path: String, ds: String,
                           dateCol: String = "day_of_data")
                          (beforePublish: => Unit): Unit = {
    import org.apache.hadoop.fs.Path
    require(!df.columns.contains(dateCol),
      s"replaceDatePartition takes the partition's rows without `$dateCol`")
    val root = new Path(path)
    val fs = root.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val staging = new Path(root, s".staging-${java.util.UUID.randomUUID}")
    val staged = new Path(staging, s"$dateCol=$ds")
    val target = new Path(root, s"$dateCol=$ds")
    try {
      df.write
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .parquet(staged.toString)
      beforePublish
      if (fs.exists(target) && !fs.delete(target, true))
        throw new java.io.IOException(s"failed to delete $target")
      fs.mkdirs(root)
      if (!fs.rename(staged, target))
        throw new java.io.IOException(s"failed to rename $staged to $target")
    } finally fs.delete(staging, true)
  }

  /** Layout-aware append: rows sorted by `clusterBy` WITHIN each written
    * file, so parquet row-group min/max stats become tight, disjoint
    * ranges — a selective filter on the cluster column then skips whole
    * row groups at scan time. This is the single cheapest data-layout
    * lever at 100 TB: same files, same reader, 10-100x less IO for
    * point-ish queries on the cluster key. (The multi-dimensional version
    * of this idea is Z-ordering; one sort column covers the common case.) */
  def appendClusteredDatePartition(df: DataFrame, path: String,
                                   clusterBy: String,
                                   dateCol: String = "day_of_data"): Unit =
    df.sortWithinPartitions(col(dateCol), col(clusterBy))
      .write
      .mode("append")
      .partitionBy(dateCol)
      .parquet(path)

  /** Z-ordered append: the MULTI-column generalization of
    * [[appendClusteredDatePartition]]. One sort column gives one column all
    * the locality; sorting by the Morton interleave of the z columns'
    * bucket codes gives EVERY z column ~n-th-root locality, so row-group
    * min/max stats prune scans filtered on ANY of them — the Delta/Iceberg
    * OPTIMIZE ZORDER BY layout, as a plain parquet write.
    *
    * Two passes, both distributed: a tiny min/max stats aggregate (one row
    * to the driver), then rescale → [[graft.functions.ZOrderCode]] →
    * sortWithinPartitions → write. NULLs bucket to 0. At 100 TB the stats
    * pass is a cheap column-pruned scan (or comes from table metadata). */
  def appendZOrderedDatePartition(df: DataFrame, path: String,
                                  zCols: Seq[String],
                                  dateCol: String = "day_of_data"): Unit = {
    require(zCols.nonEmpty, "zCols must be non-empty")
    val bits = 62 / zCols.size
    val scale = (1L << bits) - 1
    val stats = df.agg(
      min(col(zCols.head)).cast("double"),
      (zCols.tail.flatMap(c =>
        Seq(min(col(c)).cast("double"), max(col(c)).cast("double"))) :+
        max(col(zCols.head)).cast("double")): _*).head()
    // empty input or an all-NULL column yields NULL min/max — degrade to
    // [0,1] bounds (every code becomes 0, plain date-sorted write) instead
    // of NPE'ing; the sibling sinks also accept empty frames gracefully
    def bound(i: Int): Double = if (stats.isNullAt(i)) 0.0 else stats.getDouble(i)
    val bounds: Map[String, (Double, Double)] =
      Map(zCols.head -> (bound(0), bound(stats.length - 1))) ++
        zCols.tail.zipWithIndex.map { case (c, i) =>
          c -> (bound(1 + 2 * i), bound(2 + 2 * i))
        }
    val codes = zCols.map { c =>
      val (mn, mx) = bounds(c)
      val span = if (mx > mn) mx - mn else 1.0
      least(greatest(
        ((col(c).cast("double") - lit(mn)) / lit(span) * lit(scale.toDouble))
          .cast("long"), lit(0L)), lit(scale))
    }
    df.withColumn("__z", graft.functions.ZOrderCode.code(codes))
      .sortWithinPartitions(col(dateCol), col("__z"))
      .drop("__z")
      .write
      .mode("append")
      .partitionBy(dateCol)
      .parquet(path)
  }

  /** S4 JDBC parity: same append contract against a database table. */
  def appendJdbc(df: DataFrame, url: String, table: String,
                 props: java.util.Properties): Unit =
    df.write.mode("append").jdbc(url, table, props)

  /** S3/S5 at scale: PARTITIONED JDBC read — N concurrent range-bounded
    * cursors (`WHERE part >= lo AND part < hi` per task) instead of the
    * single-cursor read that serializes a big table through one
    * connection. The stride contract is Spark's own
    * (lower/upperBound only steer the split points; rows OUTSIDE the
    * bounds still land in the first/last partition — nothing is
    * silently dropped). This is the reference's cursor-fetch path
    * (`ETL_covid19_pandas.py` reads the staging table) re-expressed as
    * a parallel scan. */
  def readJdbcPartitioned(spark: SparkSession, url: String, table: String,
                          props: java.util.Properties, partitionCol: String,
                          lowerBound: Long, upperBound: Long,
                          numPartitions: Int): DataFrame =
    spark.read
      .option("partitionColumn", partitionCol)
      .option("lowerBound", lowerBound)
      .option("upperBound", upperBound)
      .option("numPartitions", numPartitions)
      .jdbc(url, table, props)

  /** Read one date partition back — shows up as PartitionFilters (pruning),
    * not PushedFilters, in the scan: no data file of another date is opened. */
  def readDatePartition(spark: SparkSession, path: String, ds: String,
                        dateCol: String = "day_of_data"): DataFrame =
    spark.read.parquet(path).filter(col(dateCol) === ds)

  /** Right-to-be-forgotten: rewrite the lake WITHOUT the tombstoned keys
    * and report how many rows each partition dropped — the audit trail a
    * deletion request requires. The tombstone set broadcasts into an anti
    * join (erasure requests are bounded); only partitions that actually
    * contained a tombstoned key are rewritten — the pre-scan that finds
    * them is a key-column-pruned read, and untouched partitions keep
    * their files byte-identical (no needless churn of a 100 TB lake).
    * Plain parquet gives no atomic multi-partition swap — each partition
    * flips atomically via dynamic overwrite, which is the same guarantee
    * the nightly backfill relies on.
    *
    * Returns (partition value, rows_deleted) for partitions rewritten. */
  def forgetKeys(spark: SparkSession, path: String, keyCol: String,
                 keys: DataFrame, dateCol: String = "day_of_data"): Seq[(String, Long)] = {
    import org.apache.spark.sql.functions.broadcast
    val lake = spark.read.parquet(path)
    val hit = lake.select(col(dateCol).cast("string").as("__p"), col(keyCol))
      .join(broadcast(keys), Seq(keyCol))
      .groupBy(col("__p")).agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("__n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq.sortBy(_._1)
    for ((p, _) <- hit) {
      val kept = lake.filter(col(dateCol).cast("string") === p)
        .join(broadcast(keys), Seq(keyCol), "left_anti")
        .localCheckpoint() // materialize before overwriting our own input
      if (kept.isEmpty) {
        // dynamic overwrite only replaces partitions PRESENT in the new
        // data — an entirely-erased partition would silently keep its old
        // files, which for a deletion request is the one unacceptable
        // failure. Remove the partition directory explicitly.
        val dir = new org.apache.hadoop.fs.Path(s"$path/$dateCol=$p")
        dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(dir, true)
      } else overwriteDatePartition(kept, path, dateCol)
    }
    hit
  }

  /** Small-file compaction of ONE date partition — the OPTIMIZE step of a
    * streaming/incremental lake: micro-batch appends accumulate tiny files
    * (open-file cost dominates the scan; a 100 TB table of 8 MB files is
    * unreadable), so periodically a partition is rewritten into
    * `targetFiles` files, re-sorted on the cluster key so the compaction
    * also RESTORES the row-group-stat tightness interleaved appends
    * destroyed. Read → repartition → sortWithinPartitions → dynamic
    * overwrite of just that partition; readers before/after see the same
    * rows (idempotent, content-preserving). At 100 TB this runs per
    * partition, embarrassingly parallel across dates. */
  def compactDatePartition(spark: SparkSession, path: String, ds: String,
                           targetFiles: Int, clusterBy: String,
                           dateCol: String = "day_of_data"): Unit = {
    val part = readDatePartition(spark, path, ds, dateCol)
      .repartition(targetFiles)
      .sortWithinPartitions(col(clusterBy))
      .localCheckpoint() // materialize BEFORE the overwrite deletes inputs
    overwriteDatePartition(part, path, dateCol)
  }
}
