package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Global rank, prefix sum and running max without a single-partition
  * window: `ROW_NUMBER()`/`SUM()`/`MAX() OVER (ORDER BY ...)` with no
  * PARTITION BY funnels every row through ONE WindowExec partition — fine
  * for 20 rows, fatal for a 100 M-row vocabulary. All three are one
  * exclusive scan with bounded parallelism, the DataFrame twin of RDD
  * zipWithIndex:
  *
  *   1. range-repartition by the sort key (every partition holds a
  *      contiguous key range) and checkpoint it lazily: under AQE the range
  *      exchange runs when the checkpoint RDD is built, which pins the
  *      sampled boundaries before anything reads them,
  *   2. one job reads that RDD once: it fills the checkpoint and folds each
  *      partition's total straight off its rows (no exchange); a partition
  *      that is empty or all NULL gives a NULL partial, which the fold skips,
  *   3. the partials fold on the driver into per-partition offsets, inlined
  *      as a CASE on spark_partition_id, and the in-partition prefix is a
  *      window partitioned by that id — many small groups, never one.
  *
  * The output depends only on the total sort order, not on where the
  * sampled cuts landed. Ties must be broken by the caller's sort columns
  * forming a total order (include a unique column last).
  */
object GlobalIndex {

  /** Appends `rankCol` = 1-based global rank of `sortCols` order: the
    * exclusive prefix count, plus 1. */
  def withGlobalRank(df: DataFrame, sortCols: Seq[Column], rankCol: String,
                     numPartitions: Int = 0): DataFrame =
    withGlobalCumSum(df, sortCols, lit(1L), rankCol, numPartitions)
      .withColumn(rankCol, col(rankCol) + 1L)

  /** Appends `cumCol` = EXCLUSIVE global prefix sum of `valueCol` in
    * `sortCols` order (sum over all strictly-earlier rows, NULLs skipped;
    * 0 when there are none). The scan primitive behind sequence/shard
    * packing (q91, q104, q184) and the ECDF spines (q129, q132). */
  def withGlobalCumSum(df: DataFrame, sortCols: Seq[Column], valueCol: Column,
                       cumCol: String, numPartitions: Int = 0): DataFrame =
    exclusiveScan(df, sortCols, valueCol, cumCol, numPartitions)(
      sum(_), _ + _, (off, w) => coalesce(off + w, off, w, lit(0L)))

  /** Appends `maxCol` = EXCLUSIVE global running max of `valueCol` in
    * `sortCols` order (max over all strictly-earlier rows; NULL for the
    * global first row). The scan behind sort-based skyline/frontier
    * queries (q92). */
  def withGlobalRunningMax(df: DataFrame, sortCols: Seq[Column], valueCol: Column,
                           maxCol: String, numPartitions: Int = 0): DataFrame =
    exclusiveScan(df, sortCols, valueCol, maxCol, numPartitions)(
      max(_), math.max, greatest(_, _)) // greatest skips NULLs

  /** `agg` is the window aggregate, `merge` the same aggregate over two
    * non-NULL partials (driver side), `combine` a partition offset with a
    * row's in-partition prefix, skipping NULLs (row side). */
  private def exclusiveScan(df: DataFrame, sortCols: Seq[Column], valueCol: Column,
                            outCol: String, numPartitions: Int)(
      agg: Column => Column, merge: (Long, Long) => Long,
      combine: (Column, Column) => Column): DataFrame = {
    val parted =
      (if (numPartitions > 0) df.repartitionByRange(numPartitions, sortCols: _*)
       else df.repartitionByRange(sortCols: _*))
        .withColumn("__v", valueCol.cast("long"))
        .withColumn("__pid", spark_partition_id())
        .localCheckpoint(eager = false)
    val vi = parted.schema.fieldIndex("__v")
    // element i is partition i's total: the checkpoint RDD maps 1:1 onto
    // the partitions spark_partition_id numbered
    val partials = parted.queryExecution.toRdd.mapPartitions(rows => Iterator.single(
      rows.filterNot(_.isNullAt(vi)).map(_.getLong(vi)).reduceOption(merge))).collect()
    val offsets = partials.scanLeft(Option.empty[Long])((acc, p) =>
      (acc ++ p).reduceOption(merge)).init
    val offsetExpr = offsets.zipWithIndex.foldLeft(lit(null).cast("long")) {
      case (e, (off, pid)) =>
        off.fold(e)(o => when(col("__pid") === pid, lit(o)).otherwise(e))
    }
    val w = Window.partitionBy(col("__pid")).orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    parted
      .withColumn(outCol, combine(offsetExpr, agg(col("__v")).over(w)))
      .drop("__pid", "__v")
  }
}
