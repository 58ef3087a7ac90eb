package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** Benchmark entry point.
  *
  * {{{
  * Main --root <checkout> --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * Main --root <checkout> --expect <verify-dump-dir>
  * }}}
  *
  * The last line of standard output is the result object
  * `{"correct", "attempted", "failed", "metrics"}`: end-to-end metrics with
  * `--trace 0`, per-layer metrics with `--trace 1`. Every run also writes a
  * record carrying every metric it measured to `perfbench/out/records/`,
  * and a traced run writes its spans to `perfbench/out/traces/`.
  */
object Main {
  val Workloads: Seq[String] =
    Seq("train_hogwild_small_batch", "train_locked_full_batch", "queries_sf0.1")

  final case class Args(root: Path, workload: String, seed: Long, seconds: Int,
      trace: Boolean, cpus: Int, expect: Option[String])

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val cpus = Runtime.getRuntime.availableProcessors()
    if (kv.contains("expect"))
      Args(Paths.get(need("root")), "", 0, 0, trace = false, cpus, kv.get("expect"))
    else {
      val w = need("workload")
      require(Workloads.contains(w), s"unknown workload $w (want ${Workloads.mkString(", ")})")
      val trace = need("trace")
      require(trace == "0" || trace == "1", s"--trace $trace (want 0 or 1)")
      Args(Paths.get(need("root")), w, need("seed").toLong, need("seconds").toInt,
        trace == "1", cpus, None)
    }
  }

  def dataDir(a: Args): String = a.root.resolve("perfbench/data/sf0.1").toString
  def outDir(a: Args): Path = a.root.resolve("perfbench/out")
  def expectedFile(a: Args): Path = a.root.resolve("perfbench/expected_fingerprints.txt")

  def session(a: Args): SparkSession = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.local.dir", tmp.resolve("spark").toString)
      .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Outcome of the measured part of a run. */
  final case class Outcome(attempted: Int, failed: Int, measured: Measured,
      detail: String)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    a.expect match {
      case Some(dir) => printExpected(a, dir)
      case None => run(a)
    }
  }

  /** Fingerprints of a `graft.Verify` dump, in the format of
    * `expected_fingerprints.txt`. */
  def printExpected(a: Args, dir: String): Unit = {
    val spark = session(a)
    try Queries.All.foreach { case (name, _) =>
      println(s"$name ${Fingerprint.collect(spark.read.parquet(s"$dir/$name")).render}")
    } finally stop(spark)
  }

  def run(a: Args): Unit = {
    val jvmS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val isQueries = a.workload == "queries_sf0.1"
    // set-up, once and cold: JVM start-up, session, inputs and warm-up
    val t0 = System.nanoTime()
    val spark = session(a)
    val probe = new SparkProbe
    spark.sparkContext.addSparkListener(probe)
    var data: Training.Data = null
    var warm: Seq[(Queries.Result, Boolean)] = Nil
    if (isQueries) warm = QueryRun.warmUp(a, spark, probe)
    else {
      data = Training.load(spark, dataDir(a), a.seed)
      for (_ <- 1 to Training.WarmUpPasses)
        Training.pass(data, Training.Shapes(a.workload), probe, data.inferDf)
    }
    val setupS = jvmS + (System.nanoTime() - t0) / 1e9
    val outcome =
      try {
        if (isQueries) QueryRun(a, spark, probe, warm)
        else TrainRun(a, data, probe)
      } finally stop(spark)
    val m = outcome.measured
    m("setup_s") = setupS
    m("peak_live_mb") = Memory.liveHeapPeakMb + Memory.nonHeapPeakMb
    val finite = (if (a.trace) Metrics.PerLayer else Metrics.EndToEnd)
      .forall { case (n, _) => m.get(n).forall(v => !v.isNaN && !v.isInfinite) }
    val correct = outcome.failed == 0 && finite
    writeRecord(a, outcome, correct)
    println(s"""{"correct": $correct, "attempted": ${outcome.attempted}, """ +
      s""""failed": ${outcome.failed}, "metrics": """ +
      m.json(if (a.trace) Metrics.PerLayer else Metrics.EndToEnd) + "}")
  }

  def stem(a: Args): String = {
    val ts = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss")
      .format(java.time.LocalDateTime.now(java.time.ZoneOffset.UTC))
    s"${a.workload}.seed${a.seed}.c${a.cpus}.trace${if (a.trace) 1 else 0}.$ts-" +
      ProcessHandle.current().pid()
  }

  /** One name-keyed record per (workload, run, seed, cpus): runs never
    * overwrite each other. */
  def writeRecord(a: Args, o: Outcome, correct: Boolean): Unit = {
    val dir = outDir(a).resolve("records")
    Files.createDirectories(dir)
    val name = stem(a)
    val json =
      s"""{"workload": ${Json.str(a.workload)}, "seed": ${a.seed}, "cpus": ${a.cpus}, """ +
        s""""trace": ${if (a.trace) 1 else 0}, "seconds": ${a.seconds}, "run": ${Json.str(name)}, """ +
        s""""correct": $correct, "attempted": ${o.attempted}, "failed": ${o.failed}, """ +
        s""""memory_mb": {"rss_peak": ${Json.num(Memory.rssPeakMb)}, """ +
        s""""live_heap_peak": ${Json.num(Memory.liveHeapPeakMb)}, """ +
        s""""non_heap_peak": ${Json.num(Memory.nonHeapPeakMb)}}, """ +
        s""""metrics": ${o.measured.fullJson}, "detail": ${o.detail}}""" + "\n"
    Files.write(dir.resolve(name + ".json"), json.getBytes("UTF-8"))
    if (a.trace) {
      val tdir = outDir(a).resolve("traces")
      Files.createDirectories(tdir)
      Files.write(tdir.resolve(name + ".spans.json"), Tracer.toJson(Tracer.all).getBytes("UTF-8"))
    }
  }
}
