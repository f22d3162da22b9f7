package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

/** Turns a run's records into its metrics, files and result line. */
final class Report(a: Main.Args, h: Harness, x: Extra, setup: Seq[(String, Double)],
                   setupS: Double, windowStart: Double, gcMs: Long, jitMs: Long,
                   heapMb: Double, calib: Map[String, Double],
                   calibRaw: Map[String, Double], env: Seq[(String, String)]) {

  val all: Seq[OpRec] = h.records
  val measured: Seq[OpRec] = all.filter(_.measured)
  /** the operations whose latency the end-to-end percentiles describe:
    * every request (serve), the reads (ingest) */
  val foreground: Seq[OpRec] =
    if (a.workload == "ingest") measured.filter(_.cls.startsWith("read")) else measured
  val writes: Seq[OpRec] = measured.filter(_.cls == "write")

  private def lat(rs: Seq[OpRec]) = rs.map(_.latencyMs)

  private val latencySamples: Seq[Double] = lat(foreground)

  /** mean recall@10 of each recall class */
  val recallByClass: ListMap[String, (Double, Int)] = ListMap(x.recall.toSeq.sortBy(_._1).map {
    case (c, q) =>
      val rs = scala.jdk.CollectionConverters.CollectionHasAsScala(q).asScala.toSeq
      c -> (rs.sum / rs.size, rs.size)
  }: _*)

  /** the mean over recall classes of each class's mean, so every class
    * weighs the same however many of its requests are exact-tier */
  val recall: Double =
    if (recallByClass.isEmpty) 0.0 else recallByClass.values.map(_._1).sum / recallByClass.size

  /** classes whose recall is below their floor, or missing */
  val recallShort: Seq[String] = Report.RecallFloor(a.workload).toSeq.collect {
    case (c, floor) if recallByClass.get(c).forall(_._1 < floor) =>
      f"$c recall ${recallByClass.get(c).map(_._1).getOrElse(Double.NaN)}%.3f < $floor"
  }

  /** completed operations per second of client time, summed over the
    * clients: a closed-loop client's throughput, without the rounding a
    * count over a fixed window would add */
  private val opsPerS: Double =
    measured.groupBy(_.client).values.map { rs =>
      rs.count(_.ok) / math.max(rs.map(r => r.end - r.start).sum / 1000, 1e-3)
    }.sum

  def pct(xs: Seq[Double], p: Double): Double = if (xs.isEmpty) Stats.Failed else Stats.percentile(xs, p)
  def med(xs: Seq[Double]): Double = if (xs.isEmpty) Stats.Failed else Stats.median(xs)

  /** name -> (value, unit, samples) */
  val endToEnd: ListMap[String, (Double, String, Int)] = ListMap(
    "setup_s" -> (setupS, "s", 1),
    "p50_ms" -> (med(latencySamples), "ms", latencySamples.size),
    "p90_ms" -> (pct(latencySamples, 90), "ms", latencySamples.size),
    "ops_per_s" -> (opsPerS, "1/s", measured.size),
    "recall_at_10" -> (recall, "fraction", recallByClass.values.map(_._2).sum),
    "retained_heap_mb" -> (heapMb, "MB", 1))

  // ---- per-layer attribution (traced runs) ----

  private lazy val spansByOp: Map[Long, Seq[Span]] = h.tracer.spans.groupBy(_.op)

  /** layer counters of one traced operation */
  def opLayers(r: OpRec, p: Probe): Map[String, Double] = {
    val g = Probe.opGroup(r.id)
    val jobs = p.jobs.values.filter(_.group == g).toSeq
    val ivs = jobs.map(j => (j.start.toDouble, p.jobEnd.getOrElse(j.id, j.start).toDouble))
    val jobMs = Stats.covered(ivs, r.start, r.end)
    val st = jobs.flatMap(_.stages).distinct.flatMap(p.stages.get)
    val planning = p.execGroup.collect { case (e, gg) if gg == g => p.execPlanningMs.getOrElse(e, 0.0) }.sum
    val sp = spansByOp.getOrElse(r.id, Nil).filter(_.id != r.id)
    def spanMs(name: String) = sp.filter(_.name == name).map(_.ms).sum
    Map(
      "spark.planning_ms" -> planning,
      "spark.jobs" -> jobs.size.toDouble,
      "spark.job_ms" -> jobMs,
      "spark.driver_gap_ms" -> math.max(0.0, (r.end - r.start) - jobMs),
      "spark.exec_cpu_ms" -> st.map(_.cpuNs).sum / 1e6,
      "spark.shuffle_bytes" -> st.map(_.shuffleWrite).sum.toDouble,
      "sources.call_ms" -> spanMs("sources.call"),
      "sources.collect_ms" -> spanMs("sources.collect"),
      "operators.call_ms" -> spanMs("operators.call"),
      "operators.collect_ms" -> spanMs("operators.collect"),
      "functions.embed_ms" -> spanMs("functions.embed"),
      "fs.read_ops" -> r.fs(0).toDouble,
      "fs.write_ops" -> r.fs(1).toDouble,
      "fs.bytes_read" -> r.fs(2).toDouble,
      "fs.bytes_written" -> r.fs(3).toDouble)
  }

  val OpLayerKeys: Seq[String] = Seq("spark.planning_ms", "spark.driver_gap_ms", "spark.jobs",
    "spark.job_ms", "spark.exec_cpu_ms", "spark.shuffle_bytes", "sources.call_ms",
    "sources.collect_ms", "operators.call_ms", "operators.collect_ms", "functions.embed_ms",
    "fs.read_ops", "fs.write_ops", "fs.bytes_read", "fs.bytes_written")

  private def means(rows: Seq[Map[String, Double]]): ListMap[String, Double] =
    ListMap(OpLayerKeys.map(k =>
      k -> (if (rows.isEmpty) 0.0 else rows.map(_.getOrElse(k, 0.0)).sum / rows.size)): _*)

  /** first operation of each class, warm-up included */
  private def coldMs: Map[String, Double] =
    all.groupBy(_.cls).map { case (c, rs) => c -> rs.minBy(_.start).latencyMs }

  private def overheadPct: Double = {
    val ok = measured.filter(_.ok)
    val (t, u) = ok.partition(_.traced)
    if (t.isEmpty || u.isEmpty) 0.0
    else {
      // per class, so a class mix that differs between the halves
      // does not read as overhead; weighted by traced count
      val ratios = t.groupBy(_.cls).toSeq.flatMap { case (c, ts) =>
        val us = u.filter(_.cls == c)
        if (us.isEmpty) None
        else Some((Stats.median(lat(ts)) / Stats.median(lat(us)), ts.size))
      }
      if (ratios.isEmpty) 0.0 else (ratios.map(r => r._1 * r._2).sum / ratios.map(_._2).sum - 1) * 100
    }
  }

  def perLayer(p: Probe): (ListMap[String, Double], ListMap[String, ListMap[String, Double]]) = {
    org.apache.spark.PerfbenchBus.drain(h.spark.sparkContext)
    val traced = measured.filter(_.traced)
    val rows = traced.map(r => r.cls -> opLayers(r, p))
    val perClass = ListMap(rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (c, rs) =>
      val recs = measured.filter(_.cls == c)
      c -> (ListMap("n" -> recs.size.toDouble, "p50_ms" -> med(lat(recs)),
        "cold_ms" -> coldMs.getOrElse(c, 0.0)) ++ means(rs.map(_._2)))
    }: _*)
    val setupMap = setup.toMap
    val cold = coldMs.values.filterNot(_.isInfinite)
    val wl = lat(writes)
    val flat = means(rows.map(_._2)) ++ ListMap(
      "jvm.gc_ms" -> gcMs.toDouble,
      "jvm.jit_ms" -> jitMs.toDouble,
      "setup.session_s" -> setupMap.getOrElse("session", 0.0),
      "setup.corpus_s" -> setupMap.getOrElse("corpus", 0.0),
      "setup.hnsw_s" -> setupMap.getOrElse("hnsw", 0.0),
      "setup.code_s" -> setupMap.getOrElse("code", 0.0),
      "setup.meta_s" -> setupMap.getOrElse("meta", 0.0),
      "setup.sig_s" -> setupMap.getOrElse("sig", 0.0),
      "cold.first_op_ms" -> (if (cold.isEmpty) 0.0 else cold.sum / cold.size),
      "trace.overhead_pct" -> overheadPct,
      "calib.cpu_ms" -> calib("calib.cpu_ms"),
      "calib.spark_job_ms" -> calib("calib.spark_job_ms"),
      "write.max_ms" -> (if (wl.isEmpty) 0.0 else wl.max),
      "write.count" -> wl.size.toDouble,
      "store_bytes_per_user_byte" ->
        (if (x.userBytes == 0) 0.0 else x.storeBytes.toDouble / x.userBytes),
      "failed_frac" -> Stats.failedFrac(lat(all))) ++
      ListMap(Report.Classes.flatMap(c => Report.ClassKeys.map(k =>
        s"$c.$k" -> perClass.get(c).flatMap(_.get(k)).getOrElse(0.0))): _*)
    (flat, perClass)
  }

  def write(): Unit = {
    val failed = all.count(!_.ok)
    // quality gate: every recall class must reach its floor
    val correct = failed == 0 && recallShort.isEmpty && foreground.nonEmpty
    val (layers, perClass) = h.probe.map(perLayer)
      .getOrElse((ListMap.empty[String, Double], ListMap.empty[String, ListMap[String, Double]]))
    val metrics =
      if (a.trace) layers.map { case (k, v) => k -> ListMap("value" -> v, "unit" -> Report.unitOf(k)) }
      else endToEnd.map { case (k, (v, u, _)) => k -> ListMap("value" -> v, "unit" -> u) }

    // human-readable table: every metric with unit and sample count
    println(s"perfbench ${a.workload} seed=${a.seed} seconds=${a.seconds} trace=${if (a.trace) 1 else 0}")
    endToEnd.foreach { case (k, (v, u, n)) => println(f"  $k%-22s $v%14.4f $u%-6s n=$n") }
    val tail = Stats.tailPercentile(latencySamples.size)
    tail.foreach(p => println(f"  tail: p$p%.1f = ${pct(latencySamples, p)}%.4f ms (>=10 samples beyond)"))
    // ingest: each read class's median, besides the pooled percentiles
    if (a.workload == "ingest") foreground.groupBy(_.cls).toSeq.sortBy(_._1).foreach { case (c, rs) =>
      println(f"  ${c + "_p50_ms"}%-22s ${med(lat(rs))}%14.4f ms     n=${rs.size}")
    }
    if (writes.nonEmpty) {
      val wl = lat(writes)
      println(f"  write_p50_ms           ${Stats.median(wl)}%14.4f ms     n=${wl.size}")
      println(f"  write_max_ms           ${wl.max}%14.4f ms     n=${wl.size}")
    }
    recallByClass.foreach { case (c, (r, n)) =>
      println(f"  recall_at_10 $c%-16s $r%9.4f        n=$n floor=${Report.RecallFloor(a.workload).getOrElse(c, 0.0)}")
    }
    recallShort.foreach(m => println(s"  RECALL BELOW FLOOR: $m"))
    println(f"  failed_frac            ${Stats.failedFrac(lat(all))}%14.4f        n=${all.size}")
    all.filterNot(_.ok).take(5).foreach(r => println(s"  FAILED ${r.cls}: ${r.error}"))
    layers.foreach { case (k, v) => println(f"  $k%-28s $v%16.4f ${Report.unitOf(k)}") }

    val counts = ListMap(foreground.groupBy(_.cls).toSeq.sortBy(_._1).map { case (c, rs) =>
      c -> ListMap("n" -> rs.size, "p50_ms" -> med(lat(rs)), "failed" -> rs.count(!_.ok))
    }: _*)
    val result = ListMap[String, Any](
      "env" -> ListMap(env: _*),
      "calibration" -> calibRaw,
      "setup_s" -> ListMap(setup: _*),
      "end_to_end" -> endToEnd.map { case (k, (v, u, n)) =>
        k -> ListMap("value" -> v, "unit" -> u, "samples" -> n) },
      "classes" -> counts,
      "recall" -> recallByClass.map { case (c, (r, n)) => c -> ListMap("mean" -> r, "n" -> n) },
      "writes" -> ListMap("n" -> writes.size, "latencies_ms" -> lat(writes)),
      "failed" -> all.filterNot(_.ok).map(r => ListMap("cls" -> r.cls, "error" -> r.error)),
      "ops" -> h.records.map(r => ListMap("cls" -> r.cls, "client" -> r.client,
        "t_ms" -> (r.start - windowStart), "latency_ms" -> r.latencyMs, "ok" -> r.ok,
        "measured" -> r.measured, "traced" -> r.traced)),
      "per_layer" -> layers,
      "per_class" -> perClass)
    val out = Paths.get(a.out)
    Files.write(out.resolve("result.json"), (Report.json(result) + "\n").getBytes("UTF-8"))
    if (a.trace) {
      val lines = h.tracer.spans.sortBy(s => (s.op, s.start)).map(s => Report.json(ListMap(
        "op" -> s.op, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end)))
      Files.write(out.resolve("spans.jsonl"), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    }
    println(Report.json(ListMap("correct" -> correct, "attempted" -> all.size,
      "failed" -> failed, "metrics" -> metrics)))
    System.out.flush()
  }
}

object Report {
  private val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder()
    .disable(com.fasterxml.jackson.core.json.JsonWriteFeature.WRITE_NAN_AS_STRINGS)
    .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    .build()

  /** one line of JSON; a failed op's +Inf latency is written `Infinity` */
  def json(v: Any): String = mapper.writeValueAsString(v)

  /** the serve classes and ingest ops whose layer split goes into the
    * result line of a traced run (zero where a workload has no such op) */
  val Classes: Seq[String] = Seq("hnsw", "code", "filtered_lang", "filtered_meta", "lookup",
    "dedup", "read_search", "read_filtered", "read_dedup", "read_search_warm", "write")
  val ClassKeys: Seq[String] = Seq("p50_ms", "spark.jobs", "spark.planning_ms",
    "spark.driver_gap_ms", "spark.job_ms", "sources.call_ms", "sources.collect_ms", "fs.read_ops")

  /** Recall floors per recall class: a run whose class mean falls below
    * its floor is not correct. Over five seeds the lowest run means were
    * hnsw 0.23, code 0.65, filtered_lang 0.91, filtered_meta 1.0,
    * read_search 0.95 and read_filtered 1.0; each floor sits three or
    * more standard deviations of a run's class mean below its median, so
    * a correct index does not fail it while a broken one (any ten valid
    * ids score about 0.005) does. A smaller drop shows in the bounded
    * end-to-end recall_at_10. */
  val RecallFloor: Map[String, Map[String, Double]] = Map(
    "serve" -> Map("hnsw" -> 0.1, "code" -> 0.55, "filtered_lang" -> 0.8, "filtered_meta" -> 0.9),
    "ingest" -> Map("read_search" -> 0.85, "read_filtered" -> 0.9))

  def unitOf(k: String): String =
    if (k.endsWith("_ms")) "ms"
    else if (k.endsWith("_s")) "s"
    else if (k.endsWith("_pct")) "%"
    else if (k.contains("bytes_per")) "ratio"
    else if (k.contains("bytes")) "bytes"
    else if (k == "failed_frac") "fraction"
    else "count"
}
