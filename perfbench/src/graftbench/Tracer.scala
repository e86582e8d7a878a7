package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One benchmark-side span around a call into a layer. */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Option[Int], op: Int) {
  def seconds: Double = (end - start) / 1e9
}

/** Engine counters for one span, filled by the listeners. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var recordsRead = 0L
  var exchanges = 0L
  val checkpointedRdds: mutable.Set[Int] = mutable.Set.empty
  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleWrite += o.shuffleWrite; spill += o.spill
    recordsRead += o.recordsRead; exchanges += o.exchanges
    checkpointedRdds ++= o.checkpointedRdds
  }
}

/** In-memory tracer: spans opened by the benchmark around each call into a
  * layer, and Spark, query-execution and streaming listeners that charge
  * engine work to the innermost open span. Jobs find their span through a
  * local property set on the calling thread; query executions and streaming
  * progress are charged to whatever span is open when they are delivered,
  * and [[drain]] empties the listener bus before a span closes.
  *
  * Nothing is registered unless [[install]] is called, so untraced runs pay
  * nothing.
  */
final class Tracer(spark: SparkSession) {
  private val SpanKey = "graftbench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  val counters = mutable.HashMap.empty[Int, Counters]
  val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val open = ThreadLocal.withInitial[List[Int]](() => Nil)
  private var nextId = 0
  @volatile private var current = -1
  private var installed = false

  private def counter(id: Int): Counters = synchronized(counters.getOrElseUpdate(id, new Counters))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt).getOrElse(current)
      if (id >= 0) {
        Tracer.this.synchronized(e.stageIds.foreach(stageSpan(_) = id))
        counter(id).jobs += 1
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val id = Tracer.this.synchronized(stageSpan.getOrElse(e.stageId, current))
      val m = e.taskMetrics
      if (id >= 0 && m != null) {
        val c = counter(id)
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper {
    def exchanges(p: SparkPlan): Int = collectWithSubqueries(p) { case x: Exchange => x }.size
    def checkpointed(p: SparkPlan): Seq[Int] =
      collectWithSubqueries(p) { case s: RDDScanExec if s.rdd.isCheckpointed => s.rdd.id }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val id = current
      if (id >= 0) {
        val c = counter(id)
        try {
          c.exchanges += PlanWalk.exchanges(qe.executedPlan)
          c.checkpointedRdds ++= PlanWalk.checkpointed(qe.executedPlan)
        } catch { case _: Throwable => () }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized(progress += e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def install(): Unit = if (!installed) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    installed = true
  }

  def uninstall(): Unit = if (installed) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    installed = false
  }

  def drain(): Unit = org.apache.spark.graftbench.Bus.drain(spark)

  /** Run `body` inside a span named `name` for operation `op`. */
  def span[T](name: String, op: Int)(body: => T): T = {
    if (!installed) return body
    val id = synchronized { val i = nextId; nextId += 1; i }
    val parent = open.get.headOption
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty(SpanKey)
    val prevCurrent = current
    open.set(id :: open.get)
    sc.setLocalProperty(SpanKey, id.toString)
    current = id
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      drain()
      open.set(open.get.tail)
      sc.setLocalProperty(SpanKey, prevProp)
      current = prevCurrent
      synchronized(spans += Span(id, name, t0, t1, parent, op))
    }
  }

  def countersOf(s: Span): Counters = counter(s.id)

  /** Self time: duration minus the union of its direct children. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent.contains(s.id)).map(k => (k.start, k.end)).sortBy(_._1)
    var covered = 0L
    var lo = Long.MinValue
    var hi = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > hi) { covered += hi - lo; lo = a; hi = b } else hi = math.max(hi, b)
    }
    covered += hi - lo
    (s.end - s.start - covered) / 1e9
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},"parent":${s.parent.map(_.toString).getOrElse("null")},"op":${s.op},"self_s":${selfSeconds(s)}}""" + "\n"
    }
    java.nio.file.Files.writeString(path, sb.result())
  }
}
