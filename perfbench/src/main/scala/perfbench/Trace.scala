package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same base as Spark's listener event times. */
object Clock {
  private val n0 = System.nanoTime()
  private val m0 = System.currentTimeMillis().toDouble
  def nowMs: Double = m0 + (System.nanoTime() - n0) / 1e6
}

/** One timed interval. `op` is the id of the operation it belongs to;
  * the operation's own root span has `id == op` and `parent == 0`. */
final case class Span(op: Long, id: Long, parent: Long, name: String,
                      start: Double, end: Double) {
  def ms: Double = end - start
}

object Span {
  /** Self time: the span's duration minus the part of its interval
    * that its children cover (overlapping children count once). */
  def selfMs(span: Span, children: Seq[Span]): Double =
    span.ms - Stats.covered(children.map(c => (c.start, c.end)), span.start, span.end)
}

/** In-memory span recorder. Spans nest per thread; nothing is written
  * until [[spans]] is read at the end of the run. Outside a traced
  * operation every call just runs its body. */
final class Tracer {
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  def nextId(): Long = ids.incrementAndGet()

  /** Run `body` as the root span of operation `op` when `on`. */
  def root[T](op: Long, name: String, on: Boolean)(body: => T): T =
    if (!on) body
    else {
      val t0 = Clock.nowMs
      stack.set((op, op) :: Nil)
      try body
      finally {
        buf.add(Span(op, op, 0L, name, t0, Clock.nowMs))
        stack.set(Nil)
      }
    }

  /** Run `body` as a child of the current span. */
  def span[T](name: String)(body: => T): T = {
    val cur = stack.get()
    if (cur.isEmpty) body
    else {
      val (op, parent) = cur.head
      val id = nextId()
      val t0 = Clock.nowMs
      stack.set((op, id) :: cur)
      try body
      finally {
        buf.add(Span(op, id, parent, name, t0, Clock.nowMs))
        stack.set(cur)
      }
    }
  }

  def spans: Seq[Span] = buf.asScala.toSeq
}

/** Layer counters observed from outside the program: Spark jobs and
  * stages, SQL executions with their planning phases, Hadoop
  * filesystem statistics, and JVM GC/JIT time. Jobs and executions are
  * attributed to an operation through the Spark job group the harness
  * sets around it (`opGroup`). */
final class Probe extends SparkListener with QueryExecutionListener {
  import Probe.{Job, StageM}

  val jobs = TrieMap.empty[Int, Job]
  val jobEnd = TrieMap.empty[Int, Long]
  val stages = TrieMap.empty[Int, StageM]
  val execGroup = TrieMap.empty[Long, String]
  val execPlanningMs = TrieMap.empty[Long, Double]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs.put(e.jobId, Job(e.jobId, g.getOrElse(""), e.time, e.stageIds)): Unit
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnd.put(e.jobId, e.time): Unit
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val m = e.stageInfo.taskMetrics
    if (m != null) stages.put(e.stageInfo.stageId,
      StageM(m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten)): Unit
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.foreach(g => execGroup.put(s.executionId, g))
    case _ =>
  }
  private def planning(qe: QueryExecution): Unit =
    execPlanningMs.put(qe.id, qe.tracker.phases.values.map(_.durationMs.toDouble).sum): Unit
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planning(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planning(qe)

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
}

object Probe {
  final case class Job(id: Int, group: String, start: Long, stages: Seq[Int])
  final case class StageM(cpuNs: Long, shuffleWrite: Long)

  def opGroup(op: Long): String = s"perfbench-op-$op"

  /** local filesystem counters: read-side calls, mutating calls,
    * bytes read, bytes written */
  def fsSnapshot(): Array[Long] = {
    val bytes = Array(0L, 0L)
    org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.iterator.asScala
      .foreach { st =>
        Seq("bytesRead", "bytesWritten").zipWithIndex.foreach { case (k, i) =>
          val v = st.getLong(k)
          if (v != null) bytes(i) += v.longValue
        }
      }
    Array(CountingFileSystem.readOps, CountingFileSystem.writeOps, bytes(0), bytes(1))
  }

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum

  def jitMs(): Long = {
    val c = java.lang.management.ManagementFactory.getCompilationMXBean
    if (c == null || !c.isCompilationTimeMonitoringSupported) 0L
    else c.getTotalCompilationTime
  }

  /** heap in use after two full collections, in MB */
  def retainedHeapMb(): Double = {
    System.gc(); Thread.sleep(50); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
