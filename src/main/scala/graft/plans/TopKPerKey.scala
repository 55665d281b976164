package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Attribute, AttributeReference, AttributeSet, Expression, GenericInternalRow,
  JoinedRow, SortDirection, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.LongType

/** Whole-operator Catalyst extension: top-k rows per key via bounded
  * per-partition heaps — the third rung of the extension ladder (after
  * codegen'd Expressions and the DotProductFusion optimizer rule), the
  * pattern for semantics Spark's built-ins CAN express but only
  * wastefully.
  *
  * The declarative form — `row_number().over(partitionBy(key).orderBy(o))
  * <= k` — plans as WindowExec: shuffle on key, then FULL SORT of every
  * partition's rows on (key, o), then rank and discard. The sort is the
  * waste: top-k needs only a k-bounded heap per key, O(n log k) with no
  * sort buffer, the same reason global top-k uses TakeOrderedAndProject
  * and never Sort+Limit. This operator is that idea applied per key:
  *
  *   - logical [[TopKPerKey]]: declares the contract — child rows, k,
  *     key and a TOTAL per-key order (caller must include a tiebreak;
  *     bounded eviction with a partial order would be nondeterministic);
  *     appends a `rn` column (1..k in order) to the child's output.
  *   - [[TopKStrategy]] (a [[SparkStrategy]]): maps it to the physical
  *     node — injected by [[graft.GraftExtensions]] at session build, or
  *     appended to a live session's `experimental.extraStrategies` by
  *     `GraftExtensions.install`, which `Registry.queries` runs before
  *     every op.
  *   - physical [[TopKPerKeyExec]]: demands
  *     `ClusteredDistribution(key)` — EnsureRequirements/AQE insert the
  *     one hash exchange — then per partition keeps a k-bounded heap per
  *     key (head = current worst; a new row either evicts it or is
  *     dropped on the spot) and emits each key's survivors in rank
  *     order. State is keys-per-partition × k ROWS — the same hash-state
  *     shape as a partial aggregate and far below WindowExec's
  *     all-rows-of-the-partition sort buffer; rows that can never rank
  *     are dropped at first sight, before any buffering.
  *
  * At 100 TB: one shuffle on the key (identical to the window form), heap
  * state bounded by k per key, no sort spill. The win_topk_heap op pins
  * the result hash-identical to the ROW_NUMBER oracle, and PlanShapeSpec
  * asserts the plan carries TopKPerKeyExec and NO WindowExec/Sort below
  * it.
  *
  * SPILLABLE STATE (r9; closes the r8-verdict "no spill" known limit):
  * the per-partition heap map is held by [[TopKSpillState]], a
  * [[org.apache.spark.memory.MemoryConsumer]] registered with the task's
  * TaskMemoryManager — the same unified-pool citizenship as
  * ExternalAppendOnlyMap. It acquires execution memory as the serialized
  * payload estimate grows; when the pool starves it (acquire returns less
  * than the estimate needs) — or when ANOTHER consumer's request triggers
  * the `spill(size, trigger)` callback — it drains every heap to a disk
  * run: keys in byte-lexicographic order, each key's survivors in rank
  * order, then clears the map and releases its memory. Because per-key
  * top-k is a semilattice (topK(A ∪ B) ⊆ topK(A) ∪ topK(B)), runs merge
  * losslessly at output time: a k-way merge by key bytes re-heaps each
  * key's ≤ k·runs candidates and emits ranks 1..k — transient memory is
  * bounded by one key's candidate set, never the key count. With K
  * near-unique keys per partition the operator now degrades to disk runs
  * exactly like WindowExec's sort, instead of OOMing. The
  * `spark.graft.topk.forceSpillRows` conf force-spills every N held rows
  * — the same determinism valve Spark's own spillables expose as
  * `numElementsForceSpillThreshold`, and how the end-to-end §5 test
  * (PropertySpec) drives the spill-merge path inside a real query.
  * TopKSpillStateSpec additionally drives the REAL pressure branches
  * against a deliberately tiny unified pool (GraftMemoryTestBridge):
  * genuine pool starvation with no valve, a foreign consumer's spill()
  * trigger, the emission barrier below, and DiskBlockManager routing.
  * SQLMetrics (`numSpills`, `spillBytes`) make production spilling
  * observable in the UI. The ordering must be TOTAL per key — the
  * caller supplies a tiebreak (totality is not machine-checkable at
  * construction, so it is a documented contract): bounded eviction under
  * a partial order would silently drop different rows on different runs.
  */
case class TopKPerKey(
    k: Int,
    keys: Seq[Expression],
    order: Seq[SortOrder],
    child: LogicalPlan,
    // a constructor parameter, NOT a body val: optimizer rules copy() the
    // node, and a body val would mint a fresh exprId on every copy while
    // parents stay resolved against the original — the classic
    // ATTRIBUTE_NOT_FOUND trap for custom nodes
    rnAttr: AttributeReference = AttributeReference("rn", LongType, nullable = false)())
  extends UnaryNode {

  override def output: Seq[Attribute] = child.output :+ rnAttr
  override def producedAttributes: AttributeSet = AttributeSet(rnAttr :: Nil)
  override def maxRows: Option[Long] = child.maxRows

  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

object TopKPerKey {
  /** `df` with an `rn` column (1..k): its top `k` rows per `keys` under
    * `order`, given as (column, direction) pairs that must form a TOTAL
    * order per key. Every call on the same `df` reuses its one analyzed
    * plan, so several heaps over one frame share its exchange. Installs
    * nothing: the frame plans as [[TopKPerKeyExec]] only on a session that
    * carries [[TopKStrategy]].
    */
  def of(df: DataFrame, k: Int, keys: Seq[String],
         order: Seq[(String, SortDirection)]): DataFrame = {
    val lp = df.queryExecution.analyzed
    def attr(n: String) = lp.output.find(_.name == n).get
    GraftBridge.ofRows(df.sparkSession, TopKPerKey(k, keys.map(attr),
      order.map { case (n, dir) => SortOrder(attr(n), dir) }, lp))
  }
}

object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case t: TopKPerKey =>
      TopKPerKeyExec(t.k, t.keys, t.order, t.rnAttr, planLater(t.child)) :: Nil
    case _ => Nil
  }
}

case class TopKPerKeyExec(
    k: Int,
    keys: Seq[Expression],
    order: Seq[SortOrder],
    rnAttr: Attribute,
    child: SparkPlan)
  extends UnaryExecNode {

  import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

  override def output: Seq[Attribute] = child.output :+ rnAttr
  // rn is minted here, not consumed — without this the plan printer flags
  // the node with the missing-input `!` marker
  override def producedAttributes: AttributeSet = AttributeSet(rnAttr :: Nil)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil

  // rows are emitted with only the rn column appended; the child's
  // clustering is preserved
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numSpills" -> SQLMetrics.createMetric(sparkContext, "number of spills"),
    "spillBytes" -> SQLMetrics.createSizeMetric(sparkContext, "spill size"))

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val kLocal = k
    val keysLocal = keys
    val orderLocal = order
    // the determinism valve (see class doc); -1 = memory-pressure only
    val forceSpillRows =
      conf.getConfString("spark.graft.topk.forceSpillRows", "-1").toLong
    val numSpills = longMetric("numSpills")
    val spillBytes = longMetric("spillBytes")
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(keysLocal, childOutput)
      // identity projection: spilled rows must be UnsafeRow (byte-copyable)
      val toUnsafeChild = UnsafeProjection.create(childOutput, childOutput)
      // ascending "better-first" ordering per the SortOrder directions;
      // the mutable.PriorityQueue dequeues its MAXIMUM, i.e. the current
      // worst retained row — exactly the eviction candidate
      val ord = GenerateOrdering.generate(orderLocal, childOutput)
      val tc = org.apache.spark.TaskContext.get()
      val state = new TopKSpillState(
        org.apache.spark.sql.GraftBridge.taskMemoryManager(tc),
        kLocal, childOutput.length, ord, forceSpillRows, numSpills, spillBytes)
      tc.addTaskCompletionListener[Unit](_ => state.cleanup())
      iter.foreach { row =>
        val key = keyProj(row)
        val unsafe = row match {
          case u: org.apache.spark.sql.catalyst.expressions.UnsafeRow => u
          case other => toUnsafeChild(other)
        }
        state.insert(key, unsafe)
      }
      val joined = new JoinedRow
      val rnRow = new GenericInternalRow(1)
      // parents (e.g. the exchange under a later sort) require UnsafeRow;
      // the projection's buffer is reused per emitted row, the standard
      // streaming-operator contract
      val toUnsafe = UnsafeProjection.create(childOutput :+ rnAttr, childOutput :+ rnAttr)
      state.result().map { case (row, rank) =>
        rnRow.setLong(0, rank)
        toUnsafe(joined(row, rnRow))
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

/** The spillable per-partition state behind [[TopKPerKeyExec]] (see the
  * class doc's SPILLABLE STATE section for the design). One instance per
  * task; all methods run on the task thread — Spark delivers foreign
  * `spill()` callbacks synchronously from this task's own `acquireMemory`
  * calls, so the map is always between complete inserts when asked to
  * drain.
  */
private[plans] final class TopKSpillState(
    tmm: org.apache.spark.memory.TaskMemoryManager,
    k: Int,
    numRowFields: Int,
    ord: Ordering[InternalRow],
    forceSpillRows: Long,
    numSpills: org.apache.spark.sql.execution.metric.SQLMetric,
    spillBytesMetric: org.apache.spark.sql.execution.metric.SQLMetric)
  extends org.apache.spark.memory.MemoryConsumer(
    tmm, org.apache.spark.memory.MemoryMode.ON_HEAP) {

  import org.apache.spark.sql.catalyst.expressions.UnsafeRow
  import TopKSpillState.compareBytes

  private val heaps =
    mutable.LinkedHashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
  private var rowsHeld = 0L
  private var bytesHeld = 0L // serialized-payload estimate incl. overhead
  private var granted = 0L   // execution memory acquired from the pool
  private var merging = false
  private val spillFiles = mutable.ArrayBuffer.empty[java.io.File]

  // JVM overhead per stored row / key entry (heap node, PQ array slot,
  // object header) on top of the UnsafeRow payload bytes
  private val RowOverhead = 48L
  private val KeyOverhead = 200L
  private val Chunk = 4L << 20

  def insert(key: UnsafeRow, row: UnsafeRow): Unit = {
    heaps.get(key) match {
      case Some(heap) =>
        if (heap.size < k) {
          val c = row.copy()
          heap.enqueue(c)
          rowsHeld += 1
          bytesHeld += c.getSizeInBytes + RowOverhead
          ensureRoom()
        } else if (ord.compare(row, heap.head) < 0) {
          val evicted = heap.dequeue().asInstanceOf[UnsafeRow]
          bytesHeld -= evicted.getSizeInBytes + RowOverhead
          val c = row.copy()
          heap.enqueue(c)
          bytesHeld += c.getSizeInBytes + RowOverhead
          ensureRoom()
        }
      case None =>
        val kc = key.copy()
        val c = row.copy()
        val heap = mutable.PriorityQueue.empty[InternalRow](ord)
        heap.enqueue(c)
        heaps.put(kc, heap)
        rowsHeld += 1
        bytesHeld += kc.getSizeInBytes + KeyOverhead + c.getSizeInBytes + RowOverhead
        ensureRoom()
    }
  }

  private def ensureRoom(): Unit = {
    if (forceSpillRows > 0 && rowsHeld >= forceSpillRows) { doSpill(); return }
    if (bytesHeld > granted) {
      // acquireMemory may synchronously call back our own spill() (the
      // pool squeezing the requester itself) — the map is consistent here
      val got = acquireMemory(math.max(Chunk, bytesHeld - granted))
      granted += got
      if (bytesHeld > granted) doSpill() // pool starved us: degrade to disk
    }
  }

  /** Foreign-trigger spill (another consumer needs the memory we hold). */
  override def spill(size: Long, trigger: org.apache.spark.memory.MemoryConsumer): Long = {
    if (merging || heaps.isEmpty) 0L
    else {
      val before = granted
      doSpill()
      before
    }
  }

  /** Allocate a spill-run file through Spark's DiskBlockManager so runs
    * land on the configured `spark.local.dirs` volumes and inside Spark's
    * disk-usage accounting (the same path ExternalAppendOnlyMap /
    * UnsafeExternalSorter use) — java.io.tmpdir is only the fallback for
    * driver-local unit contexts with no SparkEnv.
    */
  private def newSpillFile(): java.io.File = {
    val env = org.apache.spark.SparkEnv.get
    if (env != null && env.blockManager != null)
      env.blockManager.diskBlockManager.createTempLocalBlock()._2
    else java.io.File.createTempFile("graft-topk-spill-", ".bin")
  }

  /** Drain every heap to one sorted disk run and release the memory. */
  private def doSpill(): Unit = {
    if (heaps.isEmpty) return
    val file = newSpillFile()
    val out = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(new java.io.FileOutputStream(file), 1 << 16))
    try {
      // keys in byte order = the merge order; UnsafeRow equality is byte
      // equality, so byte-lexicographic is a valid total grouping order
      val keyed = heaps.toArray.map { case (key, heap) => (key.getBytes, heap) }
      java.util.Arrays.sort(keyed,
        (a: (Array[Byte], mutable.PriorityQueue[InternalRow]),
         b: (Array[Byte], mutable.PriorityQueue[InternalRow])) => compareBytes(a._1, b._1))
      keyed.foreach { case (kb, heap) =>
        out.writeInt(kb.length)
        out.write(kb)
        val drained: Seq[InternalRow] = heap.dequeueAll[InternalRow] // worst-first
        out.writeInt(drained.size)
        drained.reverseIterator.foreach { r => // rank order 1..k
          val ur = r.asInstanceOf[UnsafeRow]
          out.writeInt(ur.getSizeInBytes)
          out.write(ur.getBytes)
        }
      }
      out.writeInt(-1) // end sentinel
    } finally out.close()
    spillFiles += file
    numSpills.add(1)
    spillBytesMetric.add(file.length())
    heaps.clear()
    rowsHeld = 0
    bytesHeld = 0
    freeMemory(granted)
    granted = 0
  }

  /** (row, rank) pairs, each key's survivors in rank order 1..k. */
  def result(): Iterator[(InternalRow, Long)] = {
    if (spillFiles.isEmpty) {
      // Emission barrier: the lazy iterator below drains `heaps` while the
      // consumer is still registered with the TaskMemoryManager. A foreign
      // spill() arriving mid-emission (e.g. from the shuffle writer feeding
      // the downstream sort) must NOT doSpill() — that would drain the
      // remaining heaps to a run nothing reads (the in-memory branch is
      // already chosen) and silently lose rows. `merging = true` makes
      // spill() a 0-byte no-op from here on.
      merging = true
      heaps.iterator.flatMap { case (_, heap) =>
        val drained: Seq[InternalRow] = heap.dequeueAll[InternalRow]
        drained.reverseIterator.zipWithIndex.map { case (r, i) => (r, i + 1L) }
      }
    } else {
      doSpill() // flush the live map: everything merges from disk runs
      merging = true
      val pq = new java.util.PriorityQueue[SpillReader](
        (a: SpillReader, b: SpillReader) => compareBytes(a.keyBytes, b.keyBytes))
      spillFiles.foreach { f =>
        val r = new SpillReader(f)
        if (r.keyBytes != null) pq.add(r)
      }
      new Iterator[(InternalRow, Long)] {
        private var cur: Iterator[(InternalRow, Long)] = Iterator.empty
        override def hasNext: Boolean = {
          while (!cur.hasNext && !pq.isEmpty) advanceKey()
          cur.hasNext
        }
        override def next(): (InternalRow, Long) = {
          if (!hasNext) throw new NoSuchElementException
          cur.next()
        }
        private def advanceKey(): Unit = {
          val first = pq.poll()
          val kb = first.keyBytes
          val group = mutable.ArrayBuffer(first)
          while (!pq.isEmpty && compareBytes(pq.peek().keyBytes, kb) == 0)
            group += pq.poll()
          // per-key top-k is a semilattice: re-heaping the union of each
          // run's ≤ k survivors reproduces the unspilled answer exactly;
          // transient memory = one key's ≤ k·runs candidates
          val heap = mutable.PriorityQueue.empty[InternalRow](ord)
          group.foreach { r =>
            r.rows.foreach { bytes =>
              val ur = new UnsafeRow(numRowFields)
              ur.pointTo(bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
                bytes.length)
              if (heap.size < k) heap.enqueue(ur)
              else if (ord.compare(ur, heap.head) < 0) {
                heap.dequeue()
                heap.enqueue(ur)
              }
            }
          }
          group.foreach { r => if (r.advance()) pq.add(r) }
          val drained: Seq[InternalRow] = heap.dequeueAll[InternalRow]
          cur = drained.reverseIterator.zipWithIndex.map { case (r, i) => (r, i + 1L) }
        }
      }
    }
  }

  /** Task-completion hook: delete runs, release any remaining memory. */
  def cleanup(): Unit = {
    spillFiles.foreach(f => try f.delete() catch { case _: Throwable => () })
    spillFiles.clear()
    heaps.clear()
    if (granted > 0) { freeMemory(granted); granted = 0 }
  }

  /** Sequential reader over one sorted run; `keyBytes == null` = drained. */
  private final class SpillReader(file: java.io.File) {
    private val in = new java.io.DataInputStream(
      new java.io.BufferedInputStream(new java.io.FileInputStream(file), 1 << 16))
    var keyBytes: Array[Byte] = _
    var rows: Array[Array[Byte]] = _
    advance()

    def advance(): Boolean = {
      val kl = in.readInt()
      if (kl < 0) {
        keyBytes = null
        rows = null
        try in.close() catch { case _: Throwable => () }
        false
      } else {
        keyBytes = new Array[Byte](kl)
        in.readFully(keyBytes)
        val n = in.readInt()
        rows = Array.fill(n) {
          val rl = in.readInt()
          val b = new Array[Byte](rl)
          in.readFully(b)
          b
        }
        true
      }
    }
  }
}

private[plans] object TopKSpillState {
  /** Unsigned byte-lexicographic total order (grouping only — any total
    * order works; UnsafeRow equality is byte equality). */
  def compareBytes(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }
}

/** Optimizer rule for the custom operator: push a deterministic predicate
  * on the GROUP KEYS below [[TopKPerKey]] — the rule Catalyst's own
  * PushPredicateThroughNonJoin cannot apply because it doesn't know the
  * node. Semantics: a key-only predicate keeps or drops WHOLE groups, and
  * per-key top-k of the surviving groups is unchanged — so
  * Filter(keyPred, TopKPerKey(child)) ≡ TopKPerKey(Filter(keyPred, child)).
  * The payoff: user-injected rules run after the stock pushdown batches,
  * so the predicate stops at the operator's child — but that is already
  * below the hash exchange EnsureRequirements inserts, so rows of
  * discarded groups are dropped map-side, before they are shuffled or
  * ever touch a heap (on a 100 TB input filtered to one group, the
  * shuffle shrinks by the filter's selectivity). Predicates
  * touching non-key columns (or the minted rn) stay above — filtering
  * in-group rows before ranking WOULD change the ranks. Conjuncts split:
  * the key-only part sinks, the rest stays.
  */
object PushFilterThroughTopKPerKey
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {
  import org.apache.spark.sql.catalyst.expressions.And
  import org.apache.spark.sql.catalyst.plans.logical.Filter

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, t: TopKPerKey) =>
      // only keys that ARE child attributes admit pushdown reasoning;
      // complex key expressions contribute nothing to the pushable set
      val keyAttrs = AttributeSet(t.keys.collect { case a: Attribute => a })
      val (down, stay) = splitConjunctivePredicates(cond).partition { p =>
        p.deterministic && p.references.nonEmpty && p.references.subsetOf(keyAttrs)
      }
      if (down.isEmpty) f
      else {
        val pushed = t.copy(child = Filter(down.reduce(And), t.child))
        stay.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }
  }
}
