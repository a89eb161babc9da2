package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Filter, UnaryNode, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.IntegerType

/** Custom whole-operator: top-k per group with MAP-SIDE PARTIAL
  * PRUNING — the (c) rung of the custom-operator ladder (logical node
  * + optimizer Rule + SparkStrategy + physical SparkPlan).
  *
  * Why it exists: the declarative formulation
  * {{{ df.withColumn("rn", row_number().over(W)).filter($"rn" <= k) }}}
  * historically planned as Exchange → full Sort → Window → Filter.
  * Spark ≥ 3.5 already mitigates the worst of that:
  * `InferWindowGroupLimit` inserts a WindowGroupLimit pre-prune on
  * both shuffle sides (credit where due — the builtin covers the
  * "don't shuffle the whole table" half). What it does NOT remove is
  * the post-shuffle full Sort + Window + Filter machinery over the
  * surviving rows. This operator replaces that entire chain with
  * bounded k-row heaps per group (O(n log k), no sort buffer, no
  * window frame machinery): partial heaps map-side, shuffle of ≤
  * k·|groups|·|partitions| rows, merge heaps, emit ranks. It is also
  * the end-to-end demonstration of the whole-operator extension
  * mechanism against a live builtin to compare with.
  *
  * Correctness contract: identical to the window formulation WHEN the
  * ordering is total (the caller includes tie-break columns — the same
  * requirement the row_number formulation already has for
  * deterministic output).
  *
  * The [[TopKRewrite]] rule recognizes the analyzed Filter/Project/
  * Window pattern, so USER CODE KEEPS THE DECLARATIVE FORM — the
  * optimizer swaps in the physical operator, which is exactly how
  * Spark wants operator work to land (declare the logical plan, let
  * the planner pick the strategy). Injected into every session by
  * `graft.GraftExtensions`.
  */
case class TopKPerGroup(
    k: Int,
    partitionExprs: Seq[Expression],
    orderExprs: Seq[SortOrder],
    rankAttr: AttributeReference,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  // rankAttr is minted by this node, not derived from the child
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
  override protected def withNewChildInternal(c: LogicalPlan): TopKPerGroup =
    copy(child = c)
}

/** Per-partition bounded heaps: emit each partition's top-k candidates
  * per group. No required distribution — this is the map-side prune. */
case class PartialTopKExec(
    k: Int,
    partitionExprs: Seq[Expression],
    orderExprs: Seq[SortOrder],
    child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] =
    child.execute().mapPartitions { iter =>
      // rows feed the EnsureRequirements-inserted shuffle, whose
      // UnsafeRowSerializer requires UnsafeRow — a child producing
      // GenericInternalRow (codegen off, object operators) must be
      // projected, mirroring the Final side. The shuffle writer
      // serializes each row before the next projection call, so the
      // reused buffer needs no per-row copy. When the child's
      // partitioning ALREADY satisfies the clustered distribution, no
      // exchange is inserted and these rows flow straight into
      // FinalTopKExec — that remains safe only because prune() copies
      // every row on enqueue BEFORE the next projection call reuses
      // the buffer; if prune's eager copy is ever removed, this
      // projection must switch to per-row copies.
      val toUnsafe = UnsafeProjection.create(child.output, child.output)
      TopK.prune(iter, k, partitionExprs, orderExprs, child.output,
          maxGroups = TopK.partialMaxGroups)
        .flatMap(_._2).map(toUnsafe)
    }

  override protected def withNewChildInternal(c: SparkPlan): PartialTopKExec =
    copy(child = c)
}

/** Merge pruned candidates (now co-located per group by the required
  * clustered distribution) and emit the final top-k with ranks. */
case class FinalTopKExec(
    k: Int,
    partitionExprs: Seq[Expression],
    orderExprs: Seq[SortOrder],
    rankAttr: AttributeReference,
    child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
  override def outputPartitioning: Partitioning = UnknownPartitioning(0)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(partitionExprs) :: Nil

  override protected def doExecute(): RDD[InternalRow] =
    child.execute().mapPartitions { iter =>
      val ordering = RowOrdering.create(orderExprs, child.output)
        .asInstanceOf[Ordering[InternalRow]]
      // The reduce side cannot flush early (it must see a group WHOLE
      // to rank), so unlike the partial's maxGroups bound its group
      // state must SPILL: a high-cardinality partitionBy (a billion
      // users into a few hundred reducers) holds millions of live
      // k-row buffers, and an in-heap map would OOM exactly where the
      // builtin sort-based window path survives by spilling (review
      // r13). ExternalAppendOnlyMap gives the same graceful
      // degradation: sized in-memory combining, sorted runs to disk,
      // merged destructively on read. Combiners are plain
      // ArrayBuffer[UnsafeRow] (spill-serializable; a PriorityQueue
      // would capture the codegen'd ordering closure) — admission is
      // an O(k) worst-row scan, the right trade for top-k's small k.
      val keyProj = UnsafeProjection.create(partitionExprs, child.output)
      val childUnsafe = UnsafeProjection.create(child.output, child.output)
      type Buf = scala.collection.mutable.ArrayBuffer[UnsafeRow]
      def admit(c: Buf, v: UnsafeRow): Buf = {
        if (c.length < k) { c += v; c }
        else {
          var worst = 0
          var i = 1
          while (i < c.length) {
            if (ordering.compare(c(i), c(worst)) > 0) worst = i
            i += 1
          }
          if (ordering.compare(v, c(worst)) < 0) c(worst) = v
          c
        }
      }
      val map = org.apache.spark.graft.SpillableMapAccess
        .create[UnsafeRow, UnsafeRow, Buf](
          v => scala.collection.mutable.ArrayBuffer(v),
          admit,
          (c1, c2) => c2.foldLeft(c1)(admit))
      // copies: the child iterator reuses row buffers, and spilled
      // entries outlive the iteration
      map.insertAll(iter.map { row =>
        (keyProj(row).copy(), childUnsafe(row).copy())
      })
      map.updateTaskMetrics() // spill/peak counters → stage metrics
      // parents (collect, exchanges, sorts) require UnsafeRow — the
      // JoinedRow must be projected, not handed up raw. The rank rides
      // one REUSED mutable row (per-row InternalRow allocation on the
      // emit path was the review-r13 GC nit); toUnsafe(...).copy()
      // materializes each output row before the buffers are reused.
      val toUnsafe = UnsafeProjection.create(output, output)
      val joined = new JoinedRow
      val rankRow = new SpecificInternalRow(Seq(IntegerType))
      map.iterator.flatMap { case (_, rows) =>
        rows.sorted(ordering).iterator.zipWithIndex.map { case (r, i) =>
          rankRow.setInt(0, i + 1)
          toUnsafe(joined(r, rankRow)).copy()
        }
      }
    }

  override protected def withNewChildInternal(c: SparkPlan): FinalTopKExec =
    copy(child = c)
}

object TopK {
  /** Map-side group-count bound: the partial heaps HashMap holds
    * O(groups-per-partition × k) copied rows with no spill, so on a
    * very-high-cardinality partitionBy it could OOM where the
    * sort-based Window path would spill. Past this many live groups
    * the partial exec FLUSHES its heaps downstream and starts fresh —
    * correct because the partial prune only emits candidates; the
    * final exec re-prunes each co-located group, so a group split
    * across flushes just ships a few extra rows. Memory stays bounded
    * at maxGroups × k rows (at 2^17 groups × k=10 × ~200 B ≈ 256 MB
    * worst-case, and far less for typical k and row widths). */
  private[plans] val partialMaxGroups: Int = 1 << 17

  /** Shared bounded-heap pruning: group rows by the partition key and
    * keep only the k best under the sort order (max-heap holds the
    * current k; a better row evicts the worst). O(n log k), no sort.
    *
    * `maxGroups` bounds the live-heap count (see [[partialMaxGroups]]);
    * when exceeded, current heaps are emitted and cleared, so the SAME
    * group key may appear in the output more than once. Used by the
    * PARTIAL exec only: the final exec needs each group whole to rank,
    * so its group state spills through ExternalAppendOnlyMap instead
    * of flushing (see FinalTopKExec.doExecute). */
  private[plans] def prune(
      iter: Iterator[InternalRow], k: Int,
      partitionExprs: Seq[Expression], orderExprs: Seq[SortOrder],
      input: Seq[Attribute],
      maxGroups: Int = Int.MaxValue): Iterator[(UnsafeRow, Seq[InternalRow])] = {
    val keyProj = UnsafeProjection.create(partitionExprs, input)
    val ord = RowOrdering.create(orderExprs, input)
      .asInstanceOf[Ordering[InternalRow]]
    var heaps = scala.collection.mutable.HashMap
      .empty[UnsafeRow, scala.collection.mutable.PriorityQueue[InternalRow]]
    def ingest(row: InternalRow): Unit = {
      val key = keyProj(row)
      heaps.get(key) match {
        case None =>
          val h = scala.collection.mutable.PriorityQueue.empty[InternalRow](ord)
          h.enqueue(row.copy())
          heaps.put(key.copy(), h)
        case Some(h) =>
          if (h.size < k) h.enqueue(row.copy())
          else if (ord.compare(row, h.head) < 0) { h.dequeue(); h.enqueue(row.copy()) }
      }
    }
    // one chunk per flush: consume input until the group bound trips
    // (or input ends), emit the chunk's heaps, repeat. Lazy via
    // iterator-of-iterators so emitted chunks stream straight into the
    // shuffle writer while ingestion of the next chunk proceeds.
    new Iterator[Iterator[(UnsafeRow, Seq[InternalRow])]] {
      override def hasNext: Boolean = iter.hasNext || heaps.nonEmpty
      override def next(): Iterator[(UnsafeRow, Seq[InternalRow])] = {
        while (iter.hasNext && heaps.size < maxGroups) ingest(iter.next())
        val out = heaps
        heaps = scala.collection.mutable.HashMap.empty
        out.iterator.map { case (key, h) => key -> h.toSeq }
      }
    }.flatten
  }

  /** Strategy: plan the logical node as partial → (exchange inserted
    * by EnsureRequirements) → final, mirroring partial aggregation. */
  object TopKStrategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case TopKPerGroup(k, part, order, rank, child) =>
        FinalTopKExec(k, part, order, rank,
          PartialTopKExec(k, part, order, planLater(child))) :: Nil
      case _ => Nil
    }
  }

  /** Optimizer rule: rewrite the declarative row_number-then-filter
    * pattern into [[TopKPerGroup]]. Fires only on the exact safe shape:
    * a Filter of `rn <= k` (or `< k`) over [an optional pure Project
    * over] a Window whose ONLY window expression is a row_number with
    * the standard frame. */
  object TopKRewrite extends Rule[LogicalPlan] {
    private object RowNumberWindow {
      def unapply(p: LogicalPlan): Option[(AttributeReference, Seq[Expression],
          Seq[SortOrder], LogicalPlan)] = p match {
        case Window(Seq(a @ Alias(WindowExpression(RowNumber(),
              WindowSpecDefinition(part, order,
                SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))),
              _)), _, _, child, _) =>
          // Spark's own InferWindowGroupLimit may already have inserted
          // its pre-prune below the Window; our operator subsumes it —
          // strip it so rows aren't pruned twice.
          val grandchild = child match {
            case WindowGroupLimit(_, _, RowNumber(), _, c) => c
            case other => other
          }
          Some((a.toAttribute.asInstanceOf[AttributeReference], part, order,
            grandchild))
        case _ => None
      }
    }

    // the literal may surface as INT or (after cast folding against a
    // long-typed rank column) BIGINT. Only strictly positive in-range
    // values qualify: a negative BIGINT must not truncate into a
    // "valid" small k, and v-1 must not wrap at Int.MinValue.
    private object IntLimit {
      def unapply(e: Expression): Option[Int] = e match {
        case Literal(v: Int, IntegerType) if v > 0 => Some(v)
        case Literal(v: Long, _) if v > 0 && v <= Int.MaxValue => Some(v.toInt)
        case _ => None
      }
    }

    private def limitOf(cond: Expression, rn: AttributeReference): Option[Int] =
      cond match {
        case LessThanOrEqual(a: AttributeReference, IntLimit(v))
          if a.exprId == rn.exprId => Some(v)
        case LessThan(a: AttributeReference, IntLimit(v))
          if a.exprId == rn.exprId && v > 1 => Some(v - 1)
        // rn === 1 is the ubiquitous "pick the top row per group" idiom;
        // for row_number it is identical to rn <= 1 (ranks are dense from
        // 1), so it qualifies for the bounded-heap plan. Only 1 is safe:
        // rn === k for k > 1 selects a single rank, not a prefix.
        case EqualTo(a: AttributeReference, IntLimit(1))
          if a.exprId == rn.exprId => Some(1)
        case EqualTo(IntLimit(1), a: AttributeReference)
          if a.exprId == rn.exprId => Some(1)
        case _ => None
      }

    override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
      // Filter directly over the window. Global top-k (empty
      // partitionBy) is NOT rewritten: ClusteredDistribution rejects an
      // empty clustering, and the builtin window path handles it fine.
      case f @ Filter(cond, RowNumberWindow(rn, part, order, child))
        if part.nonEmpty =>
        limitOf(cond, rn) match {
          case Some(k) if k > 0 => TopKPerGroup(k, part, order, rn, child)
          case _ => f
        }
      // Filter over a pure projection of the window (the shape
      // withColumn produces: Project re-aliases/casts the rank)
      case f @ Filter(cond, proj @ Project(projList,
          RowNumberWindow(rn, part, order, child)))
        if part.nonEmpty && projList.forall {
          case _: AttributeReference => true
          case Alias(c, _) => c.references.subsetOf(AttributeSet(child.output :+ rn))
          case _ => false
        } =>
        // the filter may reference a projected alias of rn — resolve
        // it. Three shapes: a cast-alias (withColumn against a typed
        // comparison), a PLAIN RENAME alias (select($"rn".as("rank")) —
        // review r13: missing this silently kept the full window plan
        // on a mainstream shape), and the bare attribute.
        val rnAliases = projList.collect {
          case a @ Alias(Cast(r: AttributeReference, _, _, _), _)
            if r.exprId == rn.exprId => a.toAttribute
          case a @ Alias(r: AttributeReference, _)
            if r.exprId == rn.exprId => a.toAttribute
          case a: AttributeReference if a.exprId == rn.exprId => a
        }
        val resolved = rnAliases.foldLeft(Option.empty[Int]) { (acc, attr) =>
          acc.orElse(limitOf(cond,
            attr.asInstanceOf[AttributeReference]))
        }.orElse(limitOf(cond, rn))
        resolved match {
          case Some(k) if k > 0 =>
            Project(projList, TopKPerGroup(k, part, order, rn, child))
          case _ => f
        }
    }
  }
}
