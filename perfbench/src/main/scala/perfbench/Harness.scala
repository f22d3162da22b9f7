package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One executed operation. `latencyMs` is +Inf for a failed one. */
final case class OpRec(id: Long, cls: String, client: Int, start: Double, end: Double,
                       ok: Boolean, error: String, measured: Boolean, traced: Boolean,
                       fs: Array[Long]) {
  def latencyMs: Double = if (ok) end - start else Stats.Failed
}

/** Runs operations: times each one, and in a traced run alternates
  * traced and untraced operations per client and class (the untraced
  * half gives the in-run tracing overhead). Every traced operation is a root span,
  * runs under its own Spark job group, and records its filesystem
  * counter delta. */
final class Harness(val spark: SparkSession, val traced: Boolean) {
  val tracer = new Tracer
  val probe: Option[Probe] = if (traced) Some(new Probe) else None
  probe.foreach(_.attach(spark))
  private val recs = new ConcurrentLinkedQueue[OpRec]()
  private val perClass = new java.util.concurrent.ConcurrentHashMap[(Int, String), Long]()

  /** Run `body` as operation `cls` of `client`, then `check` its result
    * outside the timed interval. The operation fails if either throws
    * or the check returns false; either way the harness carries on. */
  def op[T](cls: String, client: Int, measured: Boolean)(body: => T)(check: T => Boolean): OpRec = {
    val id = tracer.nextId()
    val n = perClass.merge((client, cls), 1L, (a: Long, b: Long) => a + b)
    val traceThis = traced && n % 2 == 0
    val sc = spark.sparkContext
    if (traceThis) sc.setJobGroup(Probe.opGroup(id), cls, interruptOnCancel = false)
    val fs0 = if (traceThis) Probe.fsSnapshot() else null
    val t0 = Clock.nowMs
    val out =
      try Right(tracer.root(id, s"op.$cls", traceThis)(body))
      catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val t1 = Clock.nowMs
    val fs = if (traceThis) Probe.fsSnapshot().zip(fs0).map { case (a, b) => a - b } else null
    if (traceThis) sc.clearJobGroup()
    val (ok, err) = out match {
      case Left(e) => (false, e)
      case Right(v) =>
        try { if (check(v)) (true, "") else (false, "output check failed") }
        catch { case e: Throwable => (false, s"check: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    val rec = OpRec(id, cls, client, t0, t1, ok, Option(err).getOrElse("").take(300),
      measured, traceThis, fs)
    recs.add(rec)
    rec
  }

  def records: Seq[OpRec] = recs.asScala.toSeq.sortBy(_.start)
}
