package graft.perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** Medians over the repetitions of a run, per metric name. */
private[perfbench] object Medians {
  def of(samples: Seq[Map[String, Double]]): Map[String, Double] =
    samples.flatMap(_.keys).distinct.map { k =>
      k -> Stats.median(samples.flatMap(_.get(k)))
    }.toMap
}

/** Measured part of a training workload: fit + transform passes until the
  * time is up. A traced run adds, per pass, the traced replica fit and the
  * single-worker baseline, and times the codec and the optimizer once. */
object TrainRun {
  def apply(a: Main.Args, data: Training.Data, probe: SparkProbe): Main.Outcome = {
    val shape = Training.Shapes(a.workload)
    val initial = Training.initialLoss(data)
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    val samples = ArrayBuffer.empty[Map[String, Double]]
    val detail = ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0
    def converged(loss: Double) = Training.converged(loss, initial)
    def check(ok: Boolean, what: => String): Unit =
      if (!ok) { failed += 1; System.err.println(s"[perfbench] $what") }
    var i = 0
    while (i == 0 || System.nanoTime() < deadline) {
      val s = Map.newBuilder[String, Double]
      attempted += 2 // fit, transform
      try {
        val p = Training.pass(data, shape, probe, data.inferDf)
        Memory.sampleLive()
        check(converged(p.finalLoss),
          s"pass $i: fit did not converge: loss ${p.finalLoss} >= untrained $initial")
        check(p.predicted == data.inferRows && p.badPredictions == 0,
          s"pass $i: transform gave ${p.predicted} rows, ${p.badPredictions} null or NaN")
        val untraced = p.samples / p.fitS
        s ++= Seq(
          "work_per_s" -> untraced,
          "out_rows_per_s" -> p.predicted / p.transformS,
          "ml.fit_s" -> p.fitS,
          "ml.transform_s" -> p.transformS,
          "ml.final_loss" -> p.finalLoss,
          "train.spark_tasks" -> p.fitCounters.tasks.toDouble,
          "train.executor_run_ms" -> p.fitCounters.executorRunMs.toDouble,
          "train.gc_ms" -> p.fitCounters.gcMs.toDouble,
          "train.untraced_samples_per_s" -> untraced)
        var d = s"""{"fit_s": ${p.fitS}, "transform_s": ${p.transformS}, """ +
          s""""final_loss": ${Json.num(p.finalLoss)}, "accuracy": ${Json.num(p.correct.toDouble / p.predicted)}"""
        if (a.trace) {
          attempted += 2 // replica fit, local baseline
          val r = Training.replica(data, shape, s"fit-$i")
          val rm = Training.replicaMetrics(r)
          check(r.serverErrors == 0 && converged(r.finalLoss),
            s"pass $i: replica fit: ${r.serverErrors} server errors, loss ${r.finalLoss}")
          val (localRate, localLoss) = Training.local(data, shape)
          check(converged(localLoss), s"pass $i: local fit did not converge: loss $localLoss")
          d += s""", "replica_loss": ${Json.num(r.finalLoss)}, "local_loss": ${Json.num(localLoss)}"""
          s ++= rm
          s ++= Seq(
            "nn.local_samples_per_s" -> localRate,
            "nn.local_final_loss" -> localLoss,
            "train.tracing_overhead_pct" ->
              100.0 * (1.0 - rm("train.traced_samples_per_s") / untraced))
        }
        detail += d + "}"
      } catch {
        case e: Throwable =>
          failed += 2
          System.err.println(s"[perfbench] training pass $i failed: $e")
      }
      samples += s.result()
      i += 1
    }
    val m = new Measured
    Medians.of(samples.toSeq).foreach { case (k, v) => m(k) = v }
    if (a.trace) Training.codecAndOptimizer(data, shape).foreach { case (k, v) => m(k) = v }
    m("failed_ratio") = failed.toDouble / attempted
    Main.Outcome(attempted, failed, m,
      s"""{"initial_loss": ${Json.num(initial)}, "passes": ${detail.mkString("[", ", ", "]")}}""")
  }
}

/** Measured part of `queries_sf0.1`: passes over the query set, in the
  * seed's order, until the time is up. In a pass each query runs
  * [[Repeats]] times in a row, every result is checked, and the fastest run
  * sets the query's figures, so a plan's first, colder run does not. Set-up
  * has already run the light half once ([[warmUp]]): those queries are
  * short enough that, cold, they would time the JVM's own warm-up, and the
  * seed's order would decide which of them pay for it. */
object QueryRun {
  val Repeats = 2

  /** Set-up warm-up: one checked run of every light query, in a fixed
    * order. */
  def warmUp(a: Main.Args, spark: SparkSession, probe: SparkProbe): Seq[(Queries.Result, Boolean)] = {
    val expected = Queries.expected(Main.expectedFile(a))
    Queries.Light.map { case (name, family) =>
      checked(a, spark, probe, expected, name, family, s"$name#warm")
    }
  }

  /** Runs one query, releases what it left behind and compares its
    * fingerprint with the expected one. */
  private def checked(a: Main.Args, spark: SparkSession, probe: SparkProbe,
      expected: Map[String, String], name: String, family: String,
      traceId: String, sampleMemory: Boolean = false): (Queries.Result, Boolean) = {
    val r = Tracer.span(s"query.$name", traceId, 0L) { _ =>
      Queries.run(spark, probe, Main.dataDir(a), name, family)
    }
    if (sampleMemory) Memory.sampleLive()
    Queries.release(spark)
    val ok = r.fingerprint.map(_.render) == expected.get(name)
    if (!ok) System.err.println(s"[perfbench] $name failed: " +
      r.error.getOrElse(s"fingerprint ${r.fingerprint.map(_.render).orNull} " +
        s"!= expected ${expected.getOrElse(name, "none")}"))
    (r, ok)
  }

  def apply(a: Main.Args, spark: SparkSession, probe: SparkProbe,
      warm: Seq[(Queries.Result, Boolean)]): Main.Outcome = {
    val expected = Queries.expected(Main.expectedFile(a))
    val order = Queries.order(a.seed)
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    val samples = ArrayBuffer.empty[Map[String, Double]]
    var first: Seq[(Queries.Result, Boolean)] = Nil
    var attempted = warm.size
    var failed = warm.count(!_._2)
    var i = 0
    while (i == 0 || System.nanoTime() < deadline) {
      val results = order.map { case (name, family) =>
        val reps = (1 to Repeats).map { rep =>
          checked(a, spark, probe, expected, name, family, s"$name#$i.$rep",
            sampleMemory = rep == Repeats)
        }
        attempted += reps.size
        failed += reps.count(!_._2)
        (reps.map(_._1).minBy(_.wallS), reps.forall(_._2))
      }
      if (i == 0) first = results
      samples += passMetrics(results.map(_._1), a.cpus)
      i += 1
    }
    val m = new Measured
    Medians.of(samples.toSeq).foreach { case (k, v) => m(k) = v }
    m("failed_ratio") = failed.toDouble / attempted
    val detail = first.map { case (r, ok) =>
      s"${Json.str(r.name)}: {${Json.str("wall_s")}: ${r.wallS}, " +
        s"${Json.str("fingerprint")}: ${r.fingerprint.map(f => Json.str(f.render)).getOrElse("null")}, " +
        s"${Json.str("ok")}: $ok}"
    }.mkString("{", ", ", "}")
    Main.Outcome(attempted, failed, m, detail)
  }

  /** Metrics of one pass. The two end-to-end figures each cover one half
    * of the set: `work_per_s` is the light half's queries per second,
    * `out_rows_per_s` the heavy half's result rows per second. */
  def passMetrics(rs: Seq[Queries.Result], cpus: Int): Map[String, Double] = {
    val wall = rs.map(_.wallS).sum
    val c = rs.map(_.counters).foldLeft(SparkProbe.Zero)(_ + _)
    val (heavy, light) = rs.partition(r => Queries.Heavy.exists(_._1 == r.name))
    Map(
      "work_per_s" -> light.size / light.map(_.wallS).sum,
      "out_rows_per_s" ->
        heavy.flatMap(_.fingerprint).map(_.rows).sum / heavy.map(_.wallS).sum,
      "operators.query_set_s" -> wall,
      "operators.query_p50_s" -> Stats.median(rs.map(_.wallS)),
      "operators.plan_sort_aggregates" -> rs.map(_.sortAggregates).sum.toDouble,
      "operators.plan_exchanges" -> rs.map(_.exchanges).sum.toDouble,
      "spark.jobs" -> c.jobs.toDouble,
      "spark.stages" -> c.stages.toDouble,
      "spark.tasks" -> c.tasks.toDouble,
      "spark.sched_gap_ms" ->
        rs.map(r => r.wallS * 1000.0 * cpus - r.counters.executorRunMs).sum,
      "spark.shuffle_write_bytes" -> c.shuffleWriteBytes.toDouble,
      "spark.fetch_wait_ms" -> c.fetchWaitMs.toDouble,
      "spark.spill_bytes" -> c.spillBytes.toDouble,
      "spark.gc_ms" -> c.gcMs.toDouble,
      "sources.scan_bytes" -> c.scanBytes.toDouble,
      "sources.records_read" -> c.recordsRead.toDouble) ++
      Queries.Families.map { f =>
        s"operators.${f}_s" -> rs.filter(_.family == f).map(_.wallS).sum
      }
  }
}
