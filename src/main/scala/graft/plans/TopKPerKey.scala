package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator Catalyst extension (SURVEY §2.10's deepest tier — the
  * custom `LogicalPlan` + `SparkStrategy` + `SparkPlan` path): per-key
  * top-k without a sort.
  *
  * The window form (`row_number().over(partitionBy(key).orderBy(...)) <=
  * k`) buffers and SORTS every partition — O(n log n) per key group and
  * a full external sort pass — to keep k rows. This operator keeps a
  * k-bounded heap per key in one streaming pass: O(n log k) compares,
  * O(distinct-keys × k) memory, no sort, no spill surface. The planner
  * inserts the hash Exchange for us via `requiredChildDistribution`, so
  * at cluster scale the shuffle is identical to the window's — only the
  * per-partition work changes.
  *
  * Output rows are the top-k set per key in UNSPECIFIED order (heap
  * order); callers that need ranks apply a window over the pruned output
  * — k rows per key — which is where the reference's "latest/top
  * version" selections (A5/A6 family) want to be at 100 TB.
  *
  * Memory is distinct-keys × k rows per partition, BOUNDED by a
  * grace-hash spill fallback (r6; the r5 operator would OOM on
  * unbounded key cardinality): when kept rows exceed
  * `spark.graft.topk.maxKeptRowsPerPartition` (default 4M), every
  * heap's current contents — a valid per-key partial top-k, since
  * topk(A ∪ B) = topk(topk(A) ∪ topk(B)) — spill to a local file and
  * the pass continues with an empty map. Spilled runs are then
  * refined: rows are routed into 16 bucket files by the next nibble
  * of the key's hash and each bucket re-runs the same bounded heap
  * pass one nibble deeper, so each level divides distinct keys ~16×
  * until a bucket fits (8 nibble levels). A bucket still over
  * threshold past the last nibble — only possible when ~all its keys
  * share a full 32-bit hash — switches to an external sort-merge
  * (r7; previously this degraded to unbounded in-memory): rows are
  * sorted by (key bytes, order) in budget-bounded chunks, each chunk
  * written as a sorted run, and the k-way merge streams out the first
  * k rows of every key group. Memory is then ≤ budget rows per chunk
  * plus one row per run during the merge — bounded under ANY key/hash
  * distribution. Spill I/O is sequential UnsafeRow bytes, amortized
  * by the ≤k-per-key compaction already applied to every spilled run.
  */
case class TopKPerKeyNode(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
    copy(child = newChild)
}

object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(keys, order, k, child) =>
      TopKPerKeyExec(keys, order, k, planLater(child)) :: Nil
    case _ => Nil
  }
}

case class TopKPerKeyExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val kLocal = k
    val keyExprs = keys
    val orderExprs = order
    val childOutput = child.output
    val maxKept = conf.getConfString(
      "spark.graft.topk.maxKeptRowsPerPartition", "4194304").toLong
    // test seam: lowering the refine depth forces the sort-merge fallback
    // without crafting full 32-bit hash collisions (-1 = sort immediately
    // on the first over-budget pass)
    val maxDepth = conf.getConfString(
      "spark.graft.topk.maxRefineDepth", "7").toInt
    child.execute().mapPartitions({ iter =>
      new TopKPartitionProcessor(kLocal, keyExprs, orderExprs, childOutput, maxKept, maxDepth)
        .process(iter)
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

object TopKPerKeyExec {
  /** Spill events across the JVM — observability for specs (local mode
    * shares the JVM) and for eyeballing whether a workload is actually
    * hitting the fallback; not a correctness input.
    */
  val spillEvents = new java.util.concurrent.atomic.AtomicLong(0)

  /** Times the depth-exhausted external sort-merge fallback engaged —
    * the bounded last-resort path for total hash collision.
    */
  val sortFallbackEvents = new java.util.concurrent.atomic.AtomicLong(0)
}

/** One input partition's bounded-memory top-k pass (see the operator
  * scaladoc for the algorithm).
  */
private[plans] class TopKPartitionProcessor(
    k: Int,
    keyExprs: Seq[Expression],
    orderExprs: Seq[SortOrder],
    childOutput: Seq[Attribute],
    maxKeptRows: Long,
    maxDepth: Int = 7) {

  import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException, File, FileInputStream, FileOutputStream}

  private val keyProj = UnsafeProjection.create(keyExprs, childOutput)
  private val ordering = GenerateOrdering.generate(orderExprs, childOutput)
  private val toUnsafe = UnsafeProjection.create(childOutput.map(_.dataType).toArray)
  private val numFields = childOutput.size
  // heap head = worst row currently kept (reverse ordering), so a
  // better-than-head row evicts in O(log k)
  private val cmp = new java.util.Comparator[InternalRow] {
    override def compare(a: InternalRow, b: InternalRow): Int = ordering.compare(b, a)
  }

  /** Spill files not yet consumed — deleted on task completion so a
    * failed/killed task leaks nothing.
    */
  private val liveFiles = scala.collection.mutable.Set.empty[File]
  Option(org.apache.spark.TaskContext.get()).foreach(_.addTaskCompletionListener[Unit] {
    _ => liveFiles.foreach(_.delete())
  })

  def process(iter: Iterator[InternalRow]): Iterator[InternalRow] = run(iter, depth = 0)

  private def run(iter: Iterator[InternalRow], depth: Int): Iterator[InternalRow] = {
    val heaps = scala.collection.mutable.HashMap.empty[UnsafeRow, java.util.PriorityQueue[InternalRow]]
    var kept = 0L
    val spills = scala.collection.mutable.ArrayBuffer.empty[File]

    def spillAll(): Unit = {
      val f = newSpillFile()
      val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(f)))
      try heaps.valuesIterator.foreach { h =>
        var r = h.poll()
        while (r != null) { writeRow(out, r); r = h.poll() }
      } finally out.close()
      spills += f
      heaps.clear()
      kept = 0
      TopKPerKeyExec.spillEvents.incrementAndGet()
    }

    while (iter.hasNext) {
      val row = iter.next()
      val key = keyProj(row) // reused buffer; copy only on first sight
      val heap = heaps.get(key) match {
        case Some(h) => h
        case None =>
          // small initial capacity that grows on demand: preallocating
          // k+1 slots per key would cost O(keys × k) empty array up
          // front for large k, dwarfing the actual kept rows
          val h = new java.util.PriorityQueue[InternalRow](math.min(k, 16) + 1, cmp)
          heaps.put(key.copy(), h)
          h
      }
      if (heap.size < k) { heap.add(copyUnsafe(row)); kept += 1 }
      else if (ordering.compare(row, heap.peek()) < 0) {
        heap.poll(); heap.add(copyUnsafe(row))
      }
      if (kept > maxKeptRows) {
        if (depth <= maxDepth) spillAll()
        else {
          // nibble refinement is exhausted (the bucket's keys share a
          // full 32-bit hash): hand the per-key partial top-k kept so
          // far, plus the unread remainder, to the bounded sort-merge —
          // valid because topk(topk(A) ∪ B) = topk(A ∪ B)
          val partial = heaps.valuesIterator.flatMap { h =>
            Iterator.continually(h.poll()).takeWhile(_ != null)
          }.toArray.iterator
          heaps.clear()
          return sortedTopK(partial ++ iter)
        }
      }
    }

    if (spills.isEmpty) {
      heaps.valuesIterator.flatMap { h =>
        Iterator.continually(h.poll()).takeWhile(_ != null)
      }
    } else {
      if (heaps.nonEmpty) spillAll() // flush the tail: refinement must see every run
      refine(spills.toSeq, depth)
    }
  }

  /** Route spilled rows into 16 bucket files by the `depth`-th nibble of
    * the key hash, then re-run the bounded pass per bucket one level
    * deeper. Same key ⇒ same bucket at every level, so per-key merging
    * stays correct; distinct keys split ~16× per level.
    */
  private def refine(files: Seq[File], depth: Int): Iterator[InternalRow] = {
    val bucketFiles = Array.fill(16)(newSpillFile())
    val outs = bucketFiles.map(f =>
      new DataOutputStream(new BufferedOutputStream(new FileOutputStream(f))))
    try files.foreach { f =>
      readRows(f).foreach { row =>
        val b = (keyProj(row).hashCode() >>> (4 * depth)) & 15
        writeRow(outs(b), row)
      }
      f.delete(); liveFiles -= f
    } finally outs.foreach(_.close())
    bucketFiles.iterator.flatMap { bf =>
      // run() drains its input eagerly, so the bucket file is fully read
      // (and deletable) by the time it returns
      val it = run(readRows(bf), depth + 1)
      bf.delete(); liveFiles -= bf
      it
    }
  }

  // ---- depth-exhausted bounded fallback: external sort-merge ------------

  /** Total order on (key bytes, sort order): any order in which equal
    * keys are adjacent works for grouping, and UnsafeRow byte equality
    * IS key equality for a fixed projection (the same invariant the
    * heap map's hash lookups rely on). Two projection instances so
    * comparing two rows doesn't clobber one shared buffer.
    */
  private lazy val keyProjL = UnsafeProjection.create(keyExprs, childOutput)
  private lazy val keyProjR = UnsafeProjection.create(keyExprs, childOutput)
  private def compareKeyBytes(a: UnsafeRow, b: UnsafeRow): Int = {
    val la = a.getSizeInBytes; val lb = b.getSizeInBytes
    if (la != lb) return java.lang.Integer.compare(la, lb)
    val ba = a.getBytes; val bb = b.getBytes
    var i = 0
    while (i < la) {
      val d = (ba(i) & 0xff) - (bb(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    0
  }
  private lazy val keyThenOrderCmp = new java.util.Comparator[InternalRow] {
    override def compare(a: InternalRow, b: InternalRow): Int = {
      val c = compareKeyBytes(keyProjL(a), keyProjR(b))
      if (c != 0) c else ordering.compare(a, b)
    }
  }

  /** Bounded top-k for a bucket whose keys can no longer be split by
    * hash: sort budget-sized chunks in memory, write each as a sorted
    * run, k-way-merge the runs, and emit only the first k rows of every
    * key group (runs are sorted by (key, order), so a group's merged
    * prefix IS its top-k). Memory: ≤ budget rows per chunk while
    * building runs, then one head row per run while merging.
    */
  private def sortedTopK(input: Iterator[InternalRow]): Iterator[InternalRow] = {
    TopKPerKeyExec.sortFallbackEvents.incrementAndGet()
    val runs = scala.collection.mutable.ArrayBuffer.empty[File]
    val chunk = new java.util.ArrayList[InternalRow]()
    def flushRun(): Unit = if (!chunk.isEmpty) {
      chunk.sort(keyThenOrderCmp)
      val f = newSpillFile()
      val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(f)))
      try { chunk.forEach(r => writeRow(out, r)) } finally out.close()
      runs += f
      chunk.clear()
    }
    input.foreach { r =>
      chunk.add(copyUnsafe(r))
      if (chunk.size >= math.max(1L, maxKeptRows)) flushRun()
    }
    flushRun()

    final class Head(var row: InternalRow, val it: Iterator[InternalRow])
    val pq = new java.util.PriorityQueue[Head](math.max(1, runs.size),
      (x: Head, y: Head) => keyThenOrderCmp.compare(x.row, y.row))
    runs.foreach { f =>
      val it = readRows(f)
      if (it.hasNext) pq.add(new Head(it.next(), it))
    }

    new Iterator[InternalRow] {
      private var curKey: UnsafeRow = _
      private var emitted = 0
      private var nextRow: InternalRow = advance()
      private def advance(): InternalRow = {
        while (!pq.isEmpty) {
          val h = pq.poll()
          val row = h.row
          if (h.it.hasNext) { h.row = h.it.next(); pq.add(h) }
          val key = keyProjL(row)
          if (curKey == null || !(key == curKey)) { curKey = key.copy(); emitted = 0 }
          if (emitted < k) { emitted += 1; return row }
        }
        runs.foreach { f => f.delete(); liveFiles -= f }
        null
      }
      override def hasNext: Boolean = nextRow != null
      override def next(): InternalRow = {
        val r = nextRow; nextRow = advance(); r
      }
    }
  }

  /** Spill root: Spark's configured scratch volume, not java.io.tmpdir —
    * on a cluster the local dirs point at the large shuffle disks while
    * /tmp is often a small root partition or tmpfs (which would consume
    * the very memory the spill bounds). Resolved via Utils.getLocalDir
    * (through the graftaccess forwarder) rather than reading
    * `spark.local.dir` directly: on YARN/K8s the scratch dirs arrive via
    * SPARK_LOCAL_DIRS/LOCAL_DIRS env vars, which only Utils consults —
    * a bare conf read would land spills in /tmp exactly there (r6
    * advisor finding). Falls back to tmpdir when no SparkEnv exists
    * (plain unit tests).
    */
  private val spillRoot: File = {
    val dir = org.apache.spark.graftaccess.LocalDirAccess.scratchDir()
      .getOrElse(System.getProperty("java.io.tmpdir"))
    new File(dir)
  }

  private def newSpillFile(): File = {
    val f = File.createTempFile("graft-topk-spill-", ".bin", spillRoot)
    liveFiles += f
    f
  }

  private def copyUnsafe(row: InternalRow): UnsafeRow = row match {
    case u: UnsafeRow => u.copy()
    case other => toUnsafe(other).copy() // non-unsafe child output (rare)
  }

  private def writeRow(out: DataOutputStream, row: InternalRow): Unit = {
    val u = row.asInstanceOf[UnsafeRow]
    out.writeInt(u.getSizeInBytes)
    out.write(u.getBytes)
  }

  private def readRows(f: File): Iterator[InternalRow] = {
    val in = new DataInputStream(new BufferedInputStream(new FileInputStream(f)))
    new Iterator[InternalRow] {
      private var nextLen = tryReadLen()
      private def tryReadLen(): Int =
        try in.readInt()
        catch { case _: EOFException => in.close(); -1 }
      override def hasNext: Boolean = nextLen >= 0
      override def next(): InternalRow = {
        val bytes = new Array[Byte](nextLen)
        in.readFully(bytes)
        val r = new UnsafeRow(numFields)
        r.pointTo(bytes, nextLen)
        nextLen = tryReadLen()
        r
      }
    }
  }
}

/** Public DataFrame API + per-session strategy registration. */
object TopK {

  /** Ensure the planner strategy is present on the session a query runs
    * on. Every caller receives an already-built session, so the strategy
    * is added here, lazily and idempotently, on first use of [[perKey]].
    */
  def ensureRegistered(spark: SparkSession): Unit = {
    val ex = spark.experimental
    if (!ex.extraStrategies.contains(TopKPerKeyStrategy))
      ex.extraStrategies = ex.extraStrategies :+ TopKPerKeyStrategy
  }

  /** Top-k rows per key. `order` is (columnName, ascending) pairs; rows
    * come back unranked (apply a window over the pruned result for rank).
    */
  def perKey(df: DataFrame, keyCols: Seq[String], order: Seq[(String, Boolean)], k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val spark = df.sparkSession
    ensureRegistered(spark)
    val analyzed = df.queryExecution.analyzed
    // resolve with the session's resolver (case-insensitive under the
    // default spark.sql.caseSensitive=false, like every other Spark API)
    val resolver = spark.sessionState.analyzer.resolver
    def attr(name: String): Attribute =
      analyzed.output.filter(a => resolver(a.name, name)) match {
        case Seq(a) => a
        case Seq() => sys.error(
          s"topKPerKey: no column '$name' in ${analyzed.output.map(_.name).mkString(", ")}")
        case dups => sys.error(
          s"topKPerKey: column '$name' is ambiguous (${dups.size} attributes) — " +
            "disambiguate with select/alias before calling")
      }
    val keyExprs: Seq[Expression] = keyCols.map(attr)
    val sortOrders = order.map { case (name, asc) =>
      SortOrder(attr(name), if (asc) Ascending else Descending)
    }
    org.apache.spark.sql.graftaccess.DatasetAccess.ofRows(
      spark, TopKPerKeyNode(keyExprs, sortOrders, k, analyzed))
  }
}
