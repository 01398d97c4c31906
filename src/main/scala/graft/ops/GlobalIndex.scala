package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shim
import org.apache.spark.sql.types.LongType

/** Global rank, prefix sum and running max without a single-partition
  * window: `ROW_NUMBER()`/`SUM()`/`MAX() OVER (ORDER BY ...)` with no
  * PARTITION BY funnels every row through ONE window partition — fine
  * for 20 rows, fatal for a 100 M-row vocabulary. All three are one
  * exclusive scan with bounded parallelism, the DataFrame twin of RDD
  * zipWithIndex:
  *
  *   1. range-repartition by the sort key (every partition holds a
  *      contiguous key range), sort within each partition and checkpoint
  *      it lazily: under AQE the range exchange runs when the checkpoint
  *      RDD is built, which pins the sampled boundaries before anything
  *      reads them,
  *   2. one job reads that RDD once: it fills the checkpoint and folds each
  *      partition's total straight off its rows (no exchange); a partition
  *      that is empty or all NULL gives a NULL partial, which the fold skips,
  *   3. the partials fold on the driver into per-partition offsets, and one
  *      pass over the checkpoint's own partitions starts each at its offset
  *      and folds its sorted rows in place — no second exchange.
  *
  * The offset is bound to the checkpoint RDD's partition index, never to
  * the task's: a later `coalesce` or `union` renumbers tasks. The result
  * carries the checkpoint's size estimate, so joins pick their broadcast
  * side as they would over the input.
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
    exclusiveScan(df, sortCols, valueCol, cumCol, numPartitions)(_ + _, Some(0L))

  /** Appends `maxCol` = EXCLUSIVE global running max of `valueCol` in
    * `sortCols` order (max over all strictly-earlier rows; NULL for the
    * global first row). The scan behind sort-based skyline/frontier
    * queries (q92). */
  def withGlobalRunningMax(df: DataFrame, sortCols: Seq[Column], valueCol: Column,
                           maxCol: String, numPartitions: Int = 0): DataFrame =
    exclusiveScan(df, sortCols, valueCol, maxCol, numPartitions)(math.max, None)

  /** `merge` is the aggregate over two non-NULL values, `empty` the scan's
    * value before any: `Some(0)` for a sum, `None` (NULL) for a max. */
  private def exclusiveScan(df: DataFrame, sortCols: Seq[Column], valueCol: Column,
                            outCol: String, numPartitions: Int)(
      merge: (Long, Long) => Long, empty: Option[Long]): DataFrame = {
    val parted =
      (if (numPartitions > 0) df.repartitionByRange(numPartitions, sortCols: _*)
       else df.repartitionByRange(sortCols: _*))
        .sortWithinPartitions(sortCols: _*)
        .withColumn("__v", valueCol.cast("long"))
        .localCheckpoint(eager = false)
    val vi = parted.schema.fieldIndex("__v")
    def fold(acc: Option[Long], v: Long) = Some(acc.fold(v)(merge(_, v)))
    // element i is partition i's total: no exchange sits between the
    // checkpoint RDD and either pass, so their partitions are its own
    val partials = parted.queryExecution.toRdd.mapPartitions(rows => Iterator.single(
      rows.filterNot(_.isNullAt(vi)).map(_.getLong(vi)).reduceOption(merge))).collect()
    val offsets = partials.scanLeft(empty)((acc, p) => p.fold(acc)(fold(acc, _))).init
    val scanned = parted.rdd.mapPartitionsWithIndex { (pid, rows) =>
      var acc = offsets(pid)
      rows.map { r =>
        val out = Row.fromSeq(r.toSeq.take(vi) :+ acc.getOrElse(null))
        if (!r.isNullAt(vi)) acc = fold(acc, r.getLong(vi))
        out
      }
    }
    shim.withSizeOf(df.sparkSession.createDataFrame(scanned,
      df.schema.add(outCol, LongType, nullable = empty.isEmpty)), parted)
  }
}
