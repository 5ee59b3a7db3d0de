package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer ledger, measured from outside the program.
  *
  * A span wraps one call into one module (the layer). Untraced, a span is
  * a bare timer. Traced, the ledger also registers a SparkListener and a
  * QueryExecutionListener; every job started inside a span carries the
  * span id as a local property, so its stages and tasks land in that
  * span's layer. At each span boundary the listener bus is drained, so a
  * span's counts are complete before the next span starts. */
final class Ledger(spark: SparkSession, val traced: Boolean) {
  import Ledger._

  final class Acc {
    var wallNs = 0L; var noJobNs = 0L; var planMs = 0L
    val jobs = new AtomicLong; val stages = new AtomicLong; val tasks = new AtomicLong
    val cpuNs = new AtomicLong; val shuffleBytes = new AtomicLong
    var compiles = 0L
  }

  var layers: mutable.LinkedHashMap[String, Acc] = fresh()
  private def fresh() = mutable.LinkedHashMap(Layers.map(_ -> new Acc): _*)
  val spillBytes = new AtomicLong
  var spanWallNs = 0L

  @volatile private var currentSpan = 0L
  private val nextSpan = new AtomicLong
  private val spanLayer = new ConcurrentHashMap[Long, String]()
  private val jobSpan = new ConcurrentHashMap[Int, Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val intervals = new ConcurrentHashMap[Long, java.util.List[(Long, Long)]]()

  private def accOfSpan(id: Long): Option[Acc] =
    Option(spanLayer.get(id)).flatMap(layers.get)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toLong).getOrElse(currentSpan)
      jobSpan.put(e.jobId, id)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(s => stageSpan.put(s, id))
      accOfSpan(id).foreach(_.jobs.incrementAndGet())
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val id = jobSpan.getOrDefault(e.jobId, 0L)
      val t0 = jobStart.getOrDefault(e.jobId, e.time)
      intervals.computeIfAbsent(id, _ => java.util.Collections.synchronizedList(
        new java.util.ArrayList[(Long, Long)]())).add((t0, e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      accOfSpan(stageSpan.getOrDefault(e.stageInfo.stageId, 0L))
        .foreach(_.stages.incrementAndGet())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        accOfSpan(stageSpan.getOrDefault(e.stageId, 0L)).foreach { a =>
          a.tasks.incrementAndGet()
          a.cpuNs.addAndGet(m.executorCpuTime)
          a.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      addPlan(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      addPlan(qe)
    private def addPlan(qe: QueryExecution): Unit = accOfSpan(currentSpan).foreach { a =>
      val ms = qe.tracker.phases.values.map(_.durationMs).sum
      a.synchronized { a.planMs += ms }
    }
  }

  if (traced) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Listener registration for sessions the workload derives with
    * `newSession()`: their query-execution events go to their own
    * listener manager. */
  def attach(session: SparkSession): Unit =
    if (traced && (session ne spark)) session.listenerManager.register(qeListener)

  private def drain(): Unit =
    org.apache.spark.sql.graftbridge.Bridge.waitListenerBus(spark, 60000L)

  /** Run `body` as one call into `layer`; returns its result. */
  def span[A](layer: String)(body: => A): A = {
    require(layers.contains(layer), s"unknown layer $layer")
    if (!traced) return body
    drain()
    val id = nextSpan.incrementAndGet()
    spanLayer.put(id, layer)
    currentSpan = id
    val sc = spark.sparkContext
    sc.setLocalProperty(SpanProp, id.toString)
    val cc0 = compileCount()
    val t0ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val wall = System.nanoTime() - t0
      val t1ms = t0ms + wall / 1000000L
      drain()
      sc.setLocalProperty(SpanProp, null)
      currentSpan = 0L
      val acc = layers(layer)
      acc.wallNs += wall
      acc.compiles += compileCount() - cc0
      val busyMs = unionMs(Option(intervals.remove(id)).map(_.asScala.toSeq).getOrElse(Nil),
        t0ms, t1ms)
      acc.noJobNs += math.max(0L, wall - busyMs * 1000000L)
      spanWallNs += wall
    }
  }

  /** Start counting afresh: the workloads call this when the cold round
    * ends, so the per-layer numbers cover the warm rounds. */
  def reset(): Unit = if (traced) {
    drain()
    layers = fresh()
    spanWallNs = 0L
  }

  def close(): Unit = if (traced) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
  }
}

object Ledger {
  val SpanProp = "perfbench.span"

  /** The program's modules, as named in the benchmark's metrics. */
  val Layers: Seq[String] = Seq("intel", "graph", "permissions", "analysis",
    "ontology", "rules", "drift", "sink", "dedup", "text", "operators",
    "streaming")

  def compileCount(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Length of the union of [start, end] intervals clipped to [lo, hi]. */
  def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = -1L; var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
