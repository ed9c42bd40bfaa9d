package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed operation: a call from the benchmark into one public
  * function of a layer. `kind` is "read", "write" or "layer" (a pipeline
  * layer call); `ok` is false when it threw or its output check failed. */
final case class Op(id: Long, pass: Int, kind: String, layer: String, name: String,
                    startNs: Long, endNs: Long, var ok: Boolean, var error: String = "") {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Work Spark did for one op, from the listener (traced runs only). */
final class OpWork {
  var jobs, stages, tasks = 0L
  var taskMs, shuffleRead, shuffleWrite, spill, input = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
}

/** Records ops always and spans only when tracing. A span is a pass or an
  * op; Spark jobs become child spans of the op whose thread-local
  * property `perfbench.op` they carry. */
final class Recorder(spark: SparkSession, val trace: Boolean) {
  val ops = mutable.ArrayBuffer.empty[Op]
  val passes = mutable.ArrayBuffer.empty[(Int, Long, Long)] // pass, startNs, endNs
  private val nextId = new AtomicLong(1)
  private val sc = spark.sparkContext
  // nanoTime = epochMs * 1e6 + offset: puts listener (epoch ms) and op
  // (nanoTime) timestamps on one timeline
  val offsetNs: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L
  val probe: Option[SparkProbe] =
    if (trace) Some(new SparkProbe(sc, spark)) else None
  /** JVM-wide collection time (ms) spent during each pass. */
  val passGcMs = mutable.Map.empty[Int, Long]

  /** Whether measured pass `p` is traced: in a traced run, every even one. */
  def tracedPass(p: Int): Boolean = trace && p % 2 == 0

  /** Attach or detach the listeners (only a traced run has them). */
  def setTracing(on: Boolean): Unit = probe.foreach { pr =>
    if (on) pr.attach() else { pr.drain(); pr.detach() }
  }

  def pass[A](n: Int)(f: => A): A = {
    val t0 = System.nanoTime(); val gc0 = gcMs
    try f finally {
      passes += ((n, t0, System.nanoTime()))
      passGcMs(n) = gcMs - gc0
    }
  }

  /** Time `f` as one op. A throw is recorded as a failure and swallowed;
    * `check` turns a wrong result into a failure the same way. */
  def op[A](pass: Int, kind: String, layer: String, name: String)(f: => A)
           (check: A => Option[String] = (_: A) => None): Option[A] = {
    val id = nextId.getAndIncrement()
    sc.setLocalProperty("perfbench.op", id.toString)
    val t0 = System.nanoTime()
    val res = try Right(f) catch { case e: Throwable => Left(e) }
    val t1 = System.nanoTime()
    sc.setLocalProperty("perfbench.op", null)
    val o = Op(id, pass, kind, layer, name, t0, t1, ok = true)
    ops += o
    res match {
      case Left(e) =>
        o.ok = false
        o.error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        None
      case Right(a) =>
        val bad = try check(a) catch { case e: Throwable => Some(s"check threw $e") }
        bad.foreach { m => o.ok = false; o.error = m.take(300) }
        Some(a)
    }
  }

  // Peak heap in use right after a collection (the sum over heap pools
  // of their usage after each GC), from the JVM's GC notifications.
  @volatile private var heapPeak = 0L
  java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val after = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
          heapPeak = math.max(heapPeak, after)
        }
      }, null, null)
    case _ => ()
  }
  def heapPeakMb: Double = heapPeak / 1048576.0

  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ > 0).sum
}

/** Spark's public listeners, attributing jobs/stages/tasks and query
  * planning time to the op that was running when they started. */
final class SparkProbe(sc: SparkContext, spark: SparkSession) {
  val work = new ConcurrentHashMap[Long, OpWork]()
  private val stageOp = new ConcurrentHashMap[Int, Long]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, Long)]()
  // QueryPlanningTracker phases of every execution, summed: phase → ms
  val phaseMs = new ConcurrentHashMap[String, AtomicLong]()
  val executions = new AtomicLong()

  private def w(op: Long): OpWork = work.computeIfAbsent(op, _ => new OpWork)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.op")))
        .map(_.toLong).getOrElse(0L)
      e.stageIds.foreach(s => stageOp.put(s, op))
      jobStart.put(e.jobId, (op, e.time))
      val ow = w(op)
      ow.synchronized { ow.jobs += 1; ow.stages += e.stageIds.size }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (op, t0) =>
        val ow = w(op); ow.synchronized { ow.jobSpans += ((t0, e.time)) }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val ow = w(Option(stageOp.get(e.stageId)).map(_.longValue).getOrElse(0L))
      val m = e.taskMetrics
      ow.synchronized {
        ow.tasks += 1
        if (m != null) {
          ow.taskMs += m.executorRunTime
          ow.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          ow.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          ow.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          ow.input += m.inputMetrics.bytesRead
        }
      }
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      executions.incrementAndGet()
      qe.tracker.phases.foreach { case (phase, s) =>
        phaseMs.computeIfAbsent(phase, _ => new AtomicLong()).addAndGet(s.durationMs)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
      executions.incrementAndGet()
  }
  // each session has its own execution-listener manager
  private val sessions = mutable.Set[SparkSession](spark)
  private var attached = false
  /** Also count executions in session `s` (e.g. the extensions sibling). */
  def watch(s: SparkSession): Unit = synchronized {
    if (sessions.add(s) && attached) s.listenerManager.register(qeListener)
  }
  def attach(): Unit = synchronized {
    if (!attached) {
      sc.addSparkListener(listener)
      sessions.foreach(_.listenerManager.register(qeListener))
      attached = true
    }
  }
  def detach(): Unit = synchronized {
    if (attached) {
      sc.removeSparkListener(listener)
      sessions.foreach(_.listenerManager.unregister(qeListener))
      attached = false
    }
  }

  /** Block until the listener bus has delivered every posted event. */
  def drain(): Unit = org.apache.spark.PerfbenchAccess.drain(sc)
}
