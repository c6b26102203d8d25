package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkEnv, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, UnaryNode, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode, UnsafeKVExternalSorter}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** Grouped top-k as a first-class operator — the full Spark-extension
  * ladder: a custom logical node ([[TopKPerKey]]), an optimizer rule
  * ([[WindowTopKRule]]) that recognizes the declarative
  * `row_number().over(partitionBy..orderBy) <= k` shape users write,
  * a planner strategy ([[TopKStrategy]]), and a physical operator
  * ([[TopKPerKeyExec]]).
  *
  * Why: `WindowExec` must SORT every partition group in full before
  * row_number can be filtered — at 100 TB that is a full shuffle-sort
  * (and spill) of the candidate set just to keep k rows per key.
  * [[TopKPerKeyExec]] keeps a bounded, ordered buffer of k rows per
  * key in one pass: no sort, no spill, memory ∝ distinct keys per
  * partition × k. Users keep writing the window form; the optimizer
  * swaps the plan — declarative query, Spark-first execution.
  *
  * Tie semantics match `row_number` with a nondeterministic tiebreak:
  * rows comparing equal keep first-seen order. Every catalog query
  * orders by a unique tiebreak, so results are deterministic.
  */
case class TopKPerKey(keys: Seq[Expression], order: Seq[SortOrder], k: Int,
                      rankAttr: Attribute, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr :: Nil)
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

/** Rewrites `Filter(rank <= k, [Project,] Window(row_number over spec))`
  * to [[TopKPerKey]]. Runs from `experimental.extraOptimizations` (after
  * the built-in batches); a `WindowGroupLimit` the built-in
  * `InferWindowGroupLimit` rule may already have inserted is absorbed —
  * the custom operator subsumes its prefiltering.
  */
object WindowTopKRule extends Rule[LogicalPlan] {

  private object RankLimit {
    /** (rank attribute, k) from a rank-bounding predicate. */
    def unapply(e: Expression): Option[(Attribute, Int)] = e match {
      case LessThanOrEqual(a: Attribute, Literal(v: Int, IntegerType)) => Some((a, v))
      case LessThan(a: Attribute, Literal(v: Int, IntegerType)) => Some((a, v - 1))
      case GreaterThanOrEqual(Literal(v: Int, IntegerType), a: Attribute) => Some((a, v))
      case GreaterThan(Literal(v: Int, IntegerType), a: Attribute) => Some((a, v - 1))
      case EqualTo(a: Attribute, Literal(v: Int, IntegerType)) if v == 1 => Some((a, 1))
      case _ => None
    }
  }

  private def asTopK(w: Window, rank: Attribute, limit: Int): Option[TopKPerKey] =
    w match {
      case Window(Seq(alias @ Alias(WindowExpression(RowNumber(),
          WindowSpecDefinition(part, ord,
            SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))), _)),
          _, _, child, _)
          if alias.toAttribute.semanticEquals(rank) && limit > 0 &&
            part.forall(_.deterministic) && ord.forall(_.deterministic) =>
        val base = child match {
          // built-in group-limit prefilter is subsumed by TopKPerKeyExec
          case WindowGroupLimit(_, _, _, _, inner) => inner
          case other => other
        }
        Some(TopKPerKey(part, ord, limit, alias.toAttribute, base))
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(RankLimit(rank, limit), w: Window) =>
      asTopK(w, rank, limit).getOrElse(f)
    case f @ Filter(RankLimit(rank, limit), Project(plist, w: Window)) =>
      asTopK(w, rank, limit).map(t => Project(plist, t)).getOrElse(f)
  }
}

/** Plans [[TopKPerKey]] to partial + final [[TopKPerKeyExec]] — the
  * aggregation-style two-phase shape, applied to top-k (round-15): the
  * PARTIAL pass runs BEFORE the exchange with no distribution
  * requirement and keeps at most k rows per key per input partition, so
  * the shuffle ships k x maps rows per key instead of the full
  * candidate set. For the fixed-probe-set ANN scans that is the
  * difference between exchanging the whole corpus and exchanging a few
  * KB per map task. The final pass (clustered on the keys — Spark
  * inserts the hash exchange between the two) computes the true ranks;
  * the partial pass only needs to emit a SUPERSET of each key's
  * per-partition top-k, which makes its memory story trivial
  * ([[PartialTopKPerKeyExec]]). */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(keys, order, k, rankAttr, child) =>
      TopKPerKeyExec(keys, order, k, rankAttr,
        PartialTopKPerKeyExec(keys, order, k, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Map-side partial top-k: per input partition, keep at most k rows per
  * key (the same bounded ordered insertion the final pass uses), emit
  * them unchanged — no rank column, no distribution requirement. Rows
  * dropped here are provably outside their key's top-k (>= k rows of
  * the same key in the same partition order before them), so the final
  * pass over the exchange computes identical ranks.
  *
  * MEMORY: ∝ distinct-keys-per-partition × k, capped BOTH by key count
  * (`spark.graft.topk.maxKeysInMemory`) and by held bytes
  * (`spark.graft.topk.partialMaxBytes`, default 64 MB) — the byte cap
  * is what actually bounds heap when rows are wide (a 1 KB payload at
  * 4M keys would be 4 GB under a count-only budget). Because a partial
  * pass may emit ANY superset of the true per-partition top-k,
  * overflow needs no spill machinery: past either budget the operator
  * flushes its buffers and degrades to a VERBATIM PASSTHROUGH for the
  * rest of the partition — worst case the plan behaves exactly as it
  * did before this operator existed (the final pass's own
  * hash/sort-spill path absorbs the full stream). High-cardinality-key
  * shapes (dedup rank=1 over fingerprints) therefore lose nothing;
  * low-cardinality top-k shapes (ANN probes, per-priority ranks) get
  * map-side combine. */
case class PartialTopKPerKeyExec(keys: Seq[Expression], order: Seq[SortOrder],
                                 k: Int, child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "passthroughPartitions" -> SQLMetrics.createMetric(sparkContext,
      "partitions overflowing the key budget to verbatim passthrough"))

  override protected def doExecute(): RDD[InternalRow] = {
    val kLocal = k
    val keyExprs = keys
    val orderExprs = order
    val childOutput = child.output
    val maxKeys = conf.getConfString("spark.graft.topk.maxKeysInMemory",
      (1 << 22).toString).toLong
    val maxBytes = conf.getConfString("spark.graft.topk.partialMaxBytes",
      (64L << 20).toString).toLong
    val passthroughMetric = longMetric("passthroughPartitions")
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val rowProj = UnsafeProjection.create(childOutput, childOutput)
      val ordering = new LazilyGeneratedOrdering(orderExprs, childOutput)

      var heldBytes = 0L
      def insertBounded(buf: java.util.ArrayList[UnsafeRow], row: InternalRow): Unit =
        if (buf.size < kLocal || ordering.compare(row, buf.get(buf.size - 1)) < 0) {
          val copied = rowProj(row).copy()
          heldBytes += copied.getSizeInBytes
          var pos = buf.size
          while (pos > 0 && ordering.compare(copied, buf.get(pos - 1)) < 0) pos -= 1
          buf.add(pos, copied)
          if (buf.size > kLocal) {
            heldBytes -= buf.get(kLocal).getSizeInBytes
            buf.remove(kLocal)
          }
        }

      val groups = new java.util.LinkedHashMap[UnsafeRow, java.util.ArrayList[UnsafeRow]]()
      var overflowRow: UnsafeRow = null
      while (iter.hasNext && overflowRow == null) {
        val row = iter.next()
        // either budget hit (too many keys, or wide rows filling the
        // byte cap): superset semantics let us simply stop filtering —
        // flush buffers, stream the rest verbatim.
        if (keyExprs.nonEmpty && heldBytes >= maxBytes) {
          passthroughMetric.add(1)
          overflowRow = rowProj(row).copy()
        } else {
          val key = keyProj(row)
          var buf = groups.get(key)
          if (buf == null) {
            if (keyExprs.nonEmpty && groups.size() >= maxKeys) {
              passthroughMetric.add(1)
              overflowRow = rowProj(row).copy()
            } else {
              buf = new java.util.ArrayList[UnsafeRow](kLocal)
              val keyCopy = key.copy()
              heldBytes += keyCopy.getSizeInBytes
              groups.put(keyCopy, buf)
              insertBounded(buf, row)
            }
          } else insertBounded(buf, row)
        }
      }
      val buffered: Iterator[InternalRow] =
        groups.values().iterator().asScala.flatMap(b =>
          (0 until b.size()).iterator.map(b.get(_): InternalRow))
      if (overflowRow == null) buffered
      else buffered ++ Iterator(overflowRow: InternalRow) ++ iter
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): PartialTopKPerKeyExec =
    copy(child = newChild)
}

/** One-pass grouped top-k: requires clustering on the keys (Spark
  * inserts the hash exchange), then per partition keeps an ordered
  * k-bounded buffer per key — insertion instead of a full sort. Emits
  * each key's rows with their 1-based rank appended.
  *
  * SPILL SAFETY: the hash path's memory is ∝ distinct-keys-per-partition
  * × k, which is fine for genuine top-k shapes but unbounded for dedup
  * shapes where keys ≈ rows (q51's fingerprint rank=1 at 100 TB would
  * hold most of the partition in heap, where WindowExec would have
  * spilled its sort). Past `spark.graft.topk.maxKeysInMemory` distinct
  * keys the partition falls back to sort-based emission through Spark's
  * spillable [[org.apache.spark.sql.execution.UnsafeKVExternalSorter]]
  * (the same machinery hash aggregation falls back to): buffered rows
  * and the rest of the input go to the key-sorter, whose memory is
  * task-managed and spills to disk under pressure; each key run is then
  * streamed with a k-bounded selection (memory O(k)). Tie semantics are
  * unchanged for total orders (every catalog query uses a unique
  * tiebreak); under ties the fallback emits sorter order instead of
  * first-seen order — both within the documented nondeterministic-tie
  * contract of row_number.
  */
case class TopKPerKeyExec(keys: Seq[Expression], order: Seq[SortOrder], k: Int,
                          rankAttr: Attribute, child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr :: Nil)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    if (keys.isEmpty) AllTuples :: Nil else ClusteredDistribution(keys) :: Nil

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "sortFallbacks" -> SQLMetrics.createMetric(sparkContext,
      "partitions falling back to sort-based emission"),
    "spillSize" -> SQLMetrics.createSizeMetric(sparkContext, "spill size"))

  override protected def doExecute(): RDD[InternalRow] = {
    val kLocal = k
    val keyExprs = keys
    val orderExprs = order
    val childOutput = child.output
    val rankA = rankAttr
    val outAttrs = output
    val maxKeys = conf.getConfString("spark.graft.topk.maxKeysInMemory",
      (1 << 22).toString).toLong
    // rows per in-memory batch inside the fallback sorter before a
    // forced spill; default defers to memory-pressure-driven spilling.
    // Tests set it low to exercise the disk path deterministically.
    val forceSpillRows = math.max(1, conf.getConfString(
      "spark.graft.topk.forceSpillThreshold", Int.MaxValue.toString).toInt)
    val fallbackMetric = longMetric("sortFallbacks")
    val spillMetric = longMetric("spillSize")
    val keySchema = StructType(keyExprs.zipWithIndex.map { case (e, i) =>
      StructField(s"k$i", e.dataType, e.nullable)
    })
    val valueSchema =
      org.apache.spark.sql.catalyst.types.DataTypeUtils.fromAttributes(childOutput)
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val rowProj = UnsafeProjection.create(childOutput, childOutput)
      val ordering = new LazilyGeneratedOrdering(orderExprs, childOutput)
      val joined = new JoinedRow
      val rankRow = new GenericInternalRow(1)
      val outProj = UnsafeProjection.create(outAttrs, childOutput :+ rankA)

      /** k-bounded ordered insertion; first-seen wins ties. */
      def insertBounded(buf: java.util.ArrayList[UnsafeRow], row: InternalRow): Unit =
        if (buf.size < kLocal || ordering.compare(row, buf.get(buf.size - 1)) < 0) {
          val copied = rowProj(row).copy()
          var pos = buf.size
          while (pos > 0 && ordering.compare(copied, buf.get(pos - 1)) < 0) pos -= 1
          buf.add(pos, copied)
          if (buf.size > kLocal) buf.remove(kLocal)
        }

      def emit(rows: java.util.ArrayList[UnsafeRow]): Iterator[InternalRow] =
        (0 until rows.size()).iterator.map { i =>
          rankRow.update(0, i + 1)
          outProj(joined(rows.get(i), rankRow))
        }

      def newSorter(): UnsafeKVExternalSorter = {
        val env = SparkEnv.get
        // TaskMemoryManager.pageSizeBytes is private[spark]; the
        // conf key (same default heuristic's upper band) is public.
        val pageSize = env.conf.getSizeAsBytes("spark.buffer.pageSize", "4m")
        new UnsafeKVExternalSorter(keySchema, valueSchema,
          env.blockManager, env.serializerManager, pageSize,
          Int.MaxValue, Long.MaxValue)
      }

      val groups = new java.util.LinkedHashMap[UnsafeRow, java.util.ArrayList[UnsafeRow]]()
      var sorter: UnsafeKVExternalSorter = null
      var sinceRotate = 0L
      // insertKVRecord skips UnsafeExternalSorter's element-count force
      // spill, so row-count bounding is done by ROTATION: a fresh sorter
      // merge()s the full one, which force-spills it to disk and absorbs
      // its spill files (the same batch pattern object-hash aggregation
      // uses). Memory-pressure spills still happen on their own inside
      // the task memory manager.
      def insertSorted(key: UnsafeRow, value: UnsafeRow): Unit = {
        if (sinceRotate >= forceSpillRows) {
          val fresh = newSorter()
          fresh.merge(sorter)
          sorter = fresh
          sinceRotate = 0L
        }
        sorter.insertKV(key, value)
        sinceRotate += 1
      }

      while (iter.hasNext && sorter == null) {
        val row = iter.next()
        val key = keyProj(row)
        var buf = groups.get(key)
        if (buf == null) {
          // keyless (AllTuples) grouping has exactly one k-bounded
          // buffer — nothing to spill, and an empty key schema has no
          // sort order; never fall back there.
          if (keyExprs.nonEmpty && groups.size() >= maxKeys) {
            // hash buffers exceeded the key budget: hand everything to
            // the spillable key-sorter and stream the rest of the input
            // straight into it.
            fallbackMetric.add(1)
            TopKPerKeyExec.fallbackCount.increment()
            sorter = newSorter()
            Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit] { _ =>
              spillMetric.add(sorter.getSpillSize)
              sorter.cleanupResources()
            })
            val it = groups.entrySet().iterator()
            while (it.hasNext) {
              val e = it.next()
              val rows = e.getValue
              var i = 0
              while (i < rows.size()) { insertSorted(e.getKey, rows.get(i)); i += 1 }
            }
            groups.clear()
            insertSorted(key, rowProj(row))
          } else {
            buf = new java.util.ArrayList[UnsafeRow](kLocal)
            groups.put(key.copy(), buf)
            insertBounded(buf, row)
          }
        } else insertBounded(buf, row)
      }

      if (sorter == null) {
        groups.entrySet().iterator().asScala.flatMap(e => emit(e.getValue))
      } else {
        while (iter.hasNext) {
          val row = iter.next()
          insertSorted(keyProj(row), rowProj(row))
        }
        val kvIter = sorter.sortedIterator()
        // insert-phase spills are final here; recorded mid-task so local
        // tests don't race the completion listener against the action
        TopKPerKeyExec.spillBytes.add(sorter.getSpillSize)
        var hasMore = kvIter.next()
        new Iterator[Iterator[InternalRow]] {
          override def hasNext: Boolean = hasMore
          override def next(): Iterator[InternalRow] = {
            // one key run: k-bounded selection over contiguous equal keys
            val runKey = kvIter.getKey.copy()
            val buf = new java.util.ArrayList[UnsafeRow](kLocal)
            var inRun = true
            while (inRun) {
              insertBounded(buf, kvIter.getValue)
              hasMore = kvIter.next()
              inRun = hasMore && kvIter.getKey == runKey
            }
            emit(buf)
          }
        }.flatten
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

object TopKPerKeyExec {
  /** JVM-local diagnostic counter of hash→sort fallbacks, alongside the
    * SQLMetric (whose accumulator AQE's plan-cloning can detach from the
    * instance a test collects). Executor-side in a cluster — meaningful
    * to read only in local mode (tests). */
  private[graft] val fallbackCount = new java.util.concurrent.atomic.LongAdder
  /** Bytes spilled to disk by fallback sorters (same caveat as above). */
  private[graft] val spillBytes = new java.util.concurrent.atomic.LongAdder
}

/** Installs the rule + strategy into a session's experimental hooks —
  * the runtime path for sessions not built with `withExtensions`
  * (e.g. the driver's). Idempotent. */
object GraftPlanner {
  def install(spark: SparkSession): Unit = synchronized {
    val exp = spark.experimental
    if (!exp.extraOptimizations.contains(WindowTopKRule))
      exp.extraOptimizations = exp.extraOptimizations :+ WindowTopKRule
    if (!exp.extraOptimizations.contains(EavPivotRule))
      exp.extraOptimizations = exp.extraOptimizations :+ EavPivotRule
    if (!exp.extraStrategies.contains(TopKStrategy))
      exp.extraStrategies = exp.extraStrategies :+ TopKStrategy
  }
}
