package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, RowOrdering, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.graft.shim

/** Whole-operator custom plan: top-k rows per key WITHOUT a per-partition
  * full sort.
  *
  * The built-in way to say "top k per key" is
  * `row_number().over(Window.partitionBy(key).orderBy(ord)) <= k`, and
  * WindowExec must SORT every partition completely — O(n log n) per
  * partition and the whole partition buffered — to number rows it then
  * throws away. For k << group size (the corpus case: top-5 neighbors among
  * millions of candidates) a bounded heap per key is O(n log k) with O(k)
  * state per key, and it streams.
  *
  * This is the (c) rung of the custom-operator ladder (SURVEY.md §2.9):
  * a `LogicalPlan` node + `Strategy` + `SparkPlan`. `GraftExtensions`
  * injects the strategy when a session is built, so every GraftSession
  * plans the node; callers reach it only through [[TopK.perKey]].
  * Catalyst still owns distribution: the exec node declares
  * `ClusteredDistribution(keys)`, so the planner inserts the hash shuffle —
  * we never hand-schedule.
  *
  * Result parity: identical row set to the window row_number form for
  * strict total orderings (callers include a tie-break column, same as
  * they must for a deterministic window) — q35 hash-matches the DuckDB
  * window-SQL oracle.
  *
  * There is no optimizer rule turning a `row_number() <= k` filter into
  * this node: Spark already plans that filter with a partial
  * `WindowGroupLimit` below the exchange, which shuffles at most k rows
  * per key and partition, while this node shuffles every row.
  */
final case class TopKPerKey(k: Int, keys: Seq[Expression],
                            order: Seq[SortOrder], child: LogicalPlan)
    extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

final case class TopKPerKeyExec(k: Int, keys: Seq[Expression],
                                order: Seq[SortOrder], child: SparkPlan)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output

  /** Hash-cluster rows by key — Catalyst inserts the exchange. */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil

  /** Keys-only sort within each partition (Catalyst inserts a SortExec):
    * groups then arrive contiguously, so execution holds ONE O(k) heap at
    * a time and emits each group as soon as it ends — memory is O(k)
    * regardless of key cardinality, and any spilling happens in Spark's
    * external (disk-backed) sort, not here. This is the same memory model
    * as Spark's own WindowGroupLimitExec. The operator's win over
    * WindowExec is intact: the sort covers the KEYS only — the order
    * columns are never sorted, the heap keeps that part O(n log k).
    * (The earlier shape — a heap per key in one hash map — held
    * #keys × k rows before emitting anything: an executor OOM on
    * high-cardinality keys, e.g. top-5 neighbors per document.) */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(keys.map(SortOrder(_, Ascending)))

  override protected def doExecute(): RDD[InternalRow] = {
    val kLocal = k
    val keyExprs = keys
    val sortOrder = order
    val childOutput = child.output
    child.execute().mapPartitions ({ iter =>
      val ordering = RowOrdering.create(sortOrder, childOutput)
      val keyProj = org.apache.spark.sql.catalyst.expressions
        .UnsafeProjection.create(keyExprs, childOutput)
      val in = iter.buffered
      new Iterator[InternalRow] {
        private var out: Iterator[InternalRow] = Iterator.empty
        override def hasNext: Boolean = {
          while (!out.hasNext && in.hasNext) advanceGroup()
          out.hasNext
        }
        override def next(): InternalRow = { hasNext; out.next() }
        /** Consume one contiguous key group into a bounded "worst-first"
          * heap (head = first row to evict, so insert is O(log k)). */
        private def advanceGroup(): Unit = {
          val key = keyProj(in.head).copy()
          val heap = scala.collection.mutable.PriorityQueue
            .empty[InternalRow](ordering.asInstanceOf[Ordering[InternalRow]])
          var same = true
          while (same && in.hasNext) {
            if (keyProj(in.head) == key) {
              val row = in.next()
              if (heap.size < kLocal) heap.enqueue(row.copy())
              else if (ordering.compare(row, heap.head) < 0) {
                heap.dequeue(); heap.enqueue(row.copy())
              }
            } else same = false
          }
          out = heap.dequeueAll.reverseIterator // ascending sort order
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

object TopKStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(k, keys, order, child) =>
      TopKPerKeyExec(k, keys, order, planLater(child)) :: Nil
    case _ => Nil
  }
}

object TopK {
  /** Top-k rows per key, smallest-first under `order` (pass `.desc`
    * columns for top-by-largest; include a tie-break for determinism). */
  def perKey(df: DataFrame, keys: Seq[Column], order: Seq[Column],
             k: Int): DataFrame = {
    val spark = df.sparkSession
    // A GraftSession already plans TopKPerKey (GraftExtensions). Only a
    // session built elsewhere, today perfbench's own, lacks the strategy;
    // this fallback goes when ROADMAP item 2 moves perfbench onto
    // GraftSession.
    if (!spark.sessionState.planner.strategies.contains(TopKStrategy))
      spark.experimental.extraStrategies =
        TopKStrategy +: spark.experimental.extraStrategies
    val orderExprs = order.map(c => shim.expressionEager(c) match {
      case s: SortOrder => s
      case e => SortOrder(e, org.apache.spark.sql.catalyst.expressions.Ascending)
    })
    shim.ofRows(spark,
      TopKPerKey(k, keys.map(shim.expressionEager), orderExprs, shim.analyzed(df)))
  }
}
