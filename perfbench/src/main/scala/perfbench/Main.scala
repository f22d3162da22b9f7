package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (see perfbench/README.md). One JVM runs one
  * workload: it sets up, warms up, measures for `--seconds`, checks
  * every output, and prints one JSON result as its last stdout line. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, out: String, commit: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(m.getOrElse("workload", ""), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toDouble, m.getOrElse("trace", "0") == "1",
      need("work"), need("out"), m.getOrElse("commit", "unknown"))
  }

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** fixed pure-JVM work, in ms */
  def calibCpuMs(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 40000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42) println("")
    secs(t0) * 1000
  }

  /** median of three tiny Spark jobs, in ms */
  def calibSparkMs(spark: SparkSession): Double =
    Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0, 10000, 1, 2).selectExpr("sum(id)").collect()
      secs(t0) * 1000
    })

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.out))
    Files.createDirectories(Paths.get(a.work, "tmp"))
    val cpu0 = calibCpuMs()
    val tSession = System.nanoTime()
    val spark = session(a.work)
    val sessionS = secs(tSession)
    try runWorkload(a, spark, sessionS, cpu0)
    finally spark.stop()
  }

  def runWorkload(a: Args, spark: SparkSession, sessionS: Double, cpu0: Double): Unit = {
    val spark0 = calibSparkMs(spark)
    val h = new Harness(spark, a.trace)
    val x = new Extra
    // set-up time: the session and the store builds. Generating the
    // tables is the benchmark's own work and stays out of setup_s.
    val setup = mutable.LinkedHashMap.empty[String, Double]
    setup("session") = sessionS
    val sf = s"${a.work}/sf"
    val t0 = System.nanoTime()
    Corpus.writeTables(spark, sf)
    val corpusS = secs(t0)
    val stores = a.workload match {
      case "serve" | "ingest" =>
        Corpus.buildStores(spark, sf, s"${a.work}/stores", withHnsw = a.workload == "serve", setup)
      case other => sys.error(s"unknown workload '$other' (serve, ingest)")
    }
    val setupS = setup.values.sum

    val gc0 = Probe.gcMs(); val jit0 = Probe.jitMs()
    val ms = a.seconds * 1000
    val windowStart = a.workload match {
      case "serve" => Serve.run(h, new Calls(h, sf, stores), a.seed, ms, x)
      case "ingest" => IngestLoad.run(h, new Calls(h, sf, stores), stores, a.seed, ms, x)
    }
    val gcMs = Probe.gcMs() - gc0; val jitMs = Probe.jitMs() - jit0
    val heapMb = Probe.retainedHeapMb()
    val spark1 = calibSparkMs(spark)
    val cpu1 = calibCpuMs()

    val report = new Report(a, h, x, setup.toSeq :+ ("corpus" -> corpusS), setupS, windowStart, gcMs, jitMs, heapMb,
      Map("calib.cpu_ms" -> (cpu0 + cpu1) / 2, "calib.spark_job_ms" -> (spark0 + spark1) / 2),
      Map("cpu_ms_start" -> cpu0, "cpu_ms_end" -> cpu1, "spark_job_ms_start" -> spark0,
        "spark_job_ms_end" -> spark1),
      env(spark, a))
    report.write()
  }

  def env(spark: SparkSession, a: Args): Seq[(String, String)] = Seq(
    "commit" -> a.commit, "workload" -> a.workload, "seed" -> a.seed.toString,
    "seconds" -> a.seconds.toString, "trace" -> (if (a.trace) "1" else "0"),
    "cpus" -> spark.sparkContext.defaultParallelism.toString,
    "master" -> spark.sparkContext.master,
    "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
    "spark_version" -> spark.version,
    "java_version" -> System.getProperty("java.version"),
    "jvm" -> System.getProperty("java.vm.name"),
    "max_heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString)

}
