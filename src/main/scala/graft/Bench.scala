package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  * The same line is also written to SPARK_GRAFT_BENCH_OUT (default
  * `bench_out.json` in the working dir) so consumers never have to scrape
  * it out of sbt log noise.
  *
  * SPARK_GRAFT_BENCH_REPEAT (default 2) re-runs each query N times and
  * reports the per-query MINIMUM — the standard estimator for plan cost
  * on a shared machine, since contention and GC pauses only ever ADD
  * time. (Round 4 vs round 5 driver runs of IDENTICAL code measured
  * 274 s vs 466 s single-pass; best-of-2 collapses that.)
  *
  * Between queries the harness unpersists leftover block-manager state
  * (localCheckpoint RDDs from the iterated/dual-consumer queries) and
  * clears the SQL cache, and periodically drops a System.gc() so the
  * ContextCleaner can reclaim dead broadcasts — otherwise state from 60+
  * queries accumulates in one JVM and later queries pay the GC bill of
  * earlier ones.
  *
  * local[32] with shuffle.partitions matched to cores (not 200 — empty
  * partitions are pure scheduler overhead at this scale) and AQE on so
  * skewed shuffles re-plan at runtime, the same knobs a real cluster run
  * would set per executor count.
  */
object Bench {
  /** One execution of a query: wall seconds (-1 = failed), shuffle WRITE
    * bytes moved, and input bytes read off the scans — the two byte
    * gauges are plan-deterministic for fixed data, which is what makes
    * them gateable without ambient-noise tolerance bands. */
  private[graft] case class Run(sec: Double, shuffle: Long, scan: Long)

  /** Per-query budget record. `sec` is the wall-clock record (best known
    * across driver rounds — gated at 5× but only for queries whose
    * budget is ≥1 s; below that the wall gate was noise-dominated, r14's
    * 29 ambient-only breaches). `shuffleMb`/`scanMb` are the
    * DETERMINISTIC gauges (gated at 1.5× + 1 MB slack for AQE wobble,
    * every query). Flat legacy entries (a bare number) parse as
    * sec-only. */
  private[graft] case class QBudget(sec: Option[Double],
      shuffleMb: Option[Double], scanMb: Option[Double])

  /** Parse bench_budget.json — either the legacy flat `{"q": 1.2}` or
    * the structured `{"q": {"sec":1.2,"shuffle_mb":3.4,"scan_mb":5.6}}`
    * form, mixed freely. */
  private[graft] def parseBudgets(txt: String): Map[String, QBudget] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    def num(v: JValue): Option[Double] = v match {
      case JDouble(d) => Some(d)
      case JInt(i) => Some(i.toDouble)
      case JDecimal(d) => Some(d.toDouble)
      case JLong(l) => Some(l.toDouble)
      case _ => None
    }
    JsonMethods.parse(txt) match {
      case JObject(fields) => fields.collect {
        case (name, o: JObject) =>
          val m = o.obj.toMap
          name -> QBudget(m.get("sec").flatMap(num),
            m.get("shuffle_mb").flatMap(num), m.get("scan_mb").flatMap(num))
        case (name, v) if num(v).isDefined =>
          name -> QBudget(num(v), None, None)
      }.toMap
      case _ => Map.empty
    }
  }

  /** The STRICT-mode breach rule, pure so BenchSpec pins it. Wall-clock
    * (5×) applies only when the sec budget is ≥1 s — under that, r14
    * measured the gate fires on ambient drift alone. The byte gauges
    * apply to every query: they are deterministic, so a breach is a plan
    * change, not noise. Returns human-readable breach descriptions. */
  private[graft] def breaches(sec: Double, shuffle: Option[Long],
      scan: Option[Long], b: QBudget): Seq[String] = {
    val wall = for {
      bs <- b.sec if bs >= 1.0 && sec >= 0 && sec > 5 * bs
    } yield f"wall $sec%.2f s > 5x budget $bs%.2f s"
    def bytesBreach(kind: String, got: Option[Long], budMb: Option[Double]) =
      for {
        bm <- budMb; g <- got
        lim = (bm * 1.5 * 1e6 + 1e6)
        if g > lim
      } yield f"$kind ${g / 1e6}%.1f MB > 1.5x budget $bm%.1f MB"
    (wall.toSeq ++ bytesBreach("shuffle", shuffle, b.shuffleMb) ++
      bytesBreach("scan", scan, b.scanMb))
  }

  /** Best (minimum) of the successful timings; -1 if every run failed.
    * Package-visible so BenchSpec pins the estimator (round 6 shipped a
    * broken call site of this exact helper — it now has a test). */
  private[graft] def best(xs: Seq[Double]): Double = {
    val ok = xs.filter(_ >= 0)
    if (ok.isEmpty) -1.0 else ok.min
  }

  /** Noise defense for the per-query loop: run `runOnce` `repeat` times,
    * and if the best SUCCESSFUL timing still exceeds 5× the query's
    * wall budget, run up to `maxRetries` more times. BENCH_r10 carried
    * three false overruns (layout_partition_prune 2.33 s vs 0.44 s in
    * the same-round clean run) — ambient noise on a shared box only ever
    * ADDS time, so extra samples can only move the minimum toward the
    * true plan cost, never away from it. Only wall-gated queries (sec
    * budget ≥1 s) retry: the byte gauges are deterministic and gain
    * nothing from resampling. Returns all runs plus how many retries
    * were taken (surfaced in the output JSON so a retried query is
    * distinguishable from a clean one). */
  private[graft] def runsWithRetry(
      runOnce: () => Run,
      repeat: Int,
      budget: Option[Double],
      maxRetries: Int = 2): (Seq[Run], Int) = {
    var runs = Vector.fill(repeat)(runOnce())
    var retries = 0
    def over: Boolean = budget.exists { b =>
      val s = best(runs.map(_.sec)); s >= 0 && s > 5 * b
    }
    while (retries < maxRetries && over) {
      runs = runs :+ runOnce()
      retries += 1
    }
    (runs, retries)
  }

  /** Minimum metric over SUCCESSFUL runs only — a run that failed
    * mid-shuffle under-reports its volume, so failed runs must not
    * contribute (they did in r10). None when every run failed, mirroring
    * the timing's null. */
  private[graft] def bestBytes(runs: Seq[Run], pick: Run => Long): Option[Long] = {
    val ok = runs.collect { case r if r.sec >= 0 => pick(r) }
    if (ok.isEmpty) None else Some(ok.min)
  }

  /** Drop cross-query JVM state: localCheckpoint RDD blocks (the
    * iterated connected-components rounds and the dual-consumer dedup
    * checkpoints are persisted until GC'd) and any cached plans. Cheap —
    * unpersist is async, clearCache on an empty cache is a no-op. */
  private def releaseState(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
  }

  /** Running total of shuffle WRITE bytes across all completed stages —
    * the per-query delta is the bytes a query actually moved through
    * exchanges, the number that becomes network traffic on a real
    * cluster. Stage-level `taskMetrics` are scheduler-accumulated, so
    * one listener counter covers every job a query spawns (including
    * localCheckpoint materializations, which are part of its cost). */
  private class ShuffleTally extends org.apache.spark.scheduler.SparkListener {
    val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
    /** Input bytes read by scans — the second deterministic per-query
      * gauge (a scan reading more than budget means pruning/pushdown
      * regressed, the thing wall-clock can't see under ambient noise). */
    val scanBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    override def onStageCompleted(
        s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      val m = s.stageInfo.taskMetrics
      if (m != null) {
        bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        scanBytes.addAndGet(m.inputMetrics.bytesRead)
      }
    }
  }

  /** Listener events are delivered async; drain the bus so the tally is
    * current before snapshotting. `listenerBus` is private[spark] in
    * Scala but public in bytecode — reflection keeps this a measurement
    * concern with zero library-code impact; on any failure fall back to
    * a short sleep (worst case: a few KB attributed one query late). */
  private def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    try {
      val bus = sc.getClass.getMethods.find(_.getName == "listenerBus").get.invoke(sc)
      bus.getClass.getMethods
        .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
        .map(_.invoke(bus))
        .getOrElse(bus.getClass.getMethods
          .filter(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 1)
          .head.invoke(bus, java.lang.Long.valueOf(5000L)))
      ()
    } catch { case _: Throwable => Thread.sleep(300) }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val repeat = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEAT", "2").toInt.max(1)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // deterministic run order; ML training last so its server/port
    // lifecycle can't interfere with the relational timings
    // SPARK_GRAFT_ONLY=a,b,c restricts the run to the named queries —
    // the per-query budget iteration loop; full-surface totals only come
    // from unfiltered runs.
    val only = sys.env.get("SPARK_GRAFT_ONLY").filter(_.nonEmpty)
      .map(_.split(",").map(_.trim).toSet)
    // SPARK_GRAFT_ORDER=forward|reverse|shuffled:<seed> — sweep-order
    // permutation, the in-sweep-inflation forensics knob (r13 verdict
    // task #2): if a query's cost follows its sweep POSITION across
    // orders, the inflation is cumulative JVM state; if it follows the
    // QUERY, the budget is wrong. Default forward = the driver's order.
    val order = sys.env.getOrElse("SPARK_GRAFT_ORDER", "forward")
    val base = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val permuted = order match {
      case "forward" => base
      case "reverse" => base.reverse
      case s if s.startsWith("shuffled:") =>
        new scala.util.Random(s.stripPrefix("shuffled:").toLong)
          .shuffle(base)
      case other => throw new IllegalArgumentException(
        s"SPARK_GRAFT_ORDER=$other (want forward|reverse|shuffled:<seed>)")
    }
    // ml_train_predict always last: its server/port lifecycle must not
    // interleave with relational timings in any permutation
    val names = permuted.sortBy(n => if (n == "ml_train_predict") 1 else 0)
    // SPARK_GRAFT_EXPLAIN=<dir>: dump each query's formatted physical
    // plan (the evidence behind BASELINE.md's plan-shape claims) instead
    // of timing, then exit.
    sys.env.get("SPARK_GRAFT_EXPLAIN").filter(_.nonEmpty).foreach { dir =>
      new java.io.File(dir).mkdirs()
      names.filter(_ != "ml_train_predict").foreach { name =>
        try {
          val plan = SparkEntry.queries(name)(spark, sfDir)
            .queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/$name.txt"),
            plan.getBytes("UTF-8"))
        } catch { case e: Throwable =>
          System.err.println(s"[bench] explain $name failed: ${e.getMessage}")
        }
      }
      spark.stop()
      return
    }
    // Warm the JVM so the first timed query isn't charged for session
    // startup: run every query once against the tiny sf0.001 tables,
    // which JIT-compiles each plan's codegen classes at negligible data
    // cost. The warmup reads a DIFFERENT path than the timed runs, so
    // nothing it computes (or caches) is reusable — only compiled code
    // carries over, which is the point. SPARK_GRAFT_WARM_DIR= (empty)
    // disables it for cold-start measurements.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    if (warmDir.nonEmpty) names.foreach { n =>
      try SparkEntry.queries(n)(spark, warmDir).count()
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $n failed: ${e.getMessage}")
      }
    }
    // Per-query budgets load BEFORE the loop so an overrun can trigger an
    // immediate in-place retry (see runsWithRetry) rather than only a
    // post-hoc warning.
    val budgetPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET", "bench_budget.json")
    val budgetFile = new java.io.File(budgetPath)
    val budget: Map[String, QBudget] = if (budgetFile.isFile) {
      val txt = new String(java.nio.file.Files.readAllBytes(budgetFile.toPath), "UTF-8")
      try parseBudgets(txt) catch { case e: Throwable =>
        System.err.println(s"[bench] could not parse $budgetPath: ${e.getMessage}")
        Map.empty
      }
    } else Map.empty
    val tally = new ShuffleTally
    spark.sparkContext.addSparkListener(tally)
    // SPARK_GRAFT_TRACE=1: stderr start/stop markers with epoch millis,
    // for correlating per-query windows against an -Xlog:gc timeline
    // (the r12 in-sweep graph_triangles inflation forensics)
    val trace = sys.env.get("SPARK_GRAFT_TRACE").contains("1")
    val results = names.zipWithIndex.map { case (name, idx) =>
      val fn = SparkEntry.queries(name)
      if (trace) System.err.println(
        s"[trace] ${System.currentTimeMillis()} start $name")
      val runOnce = () => {
        drainListenerBus(spark.sparkContext)
        val b0 = tally.bytes.get()
        val s0 = tally.scanBytes.get()
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
        }
        val sec = (System.nanoTime() - t0) / 1e9
        drainListenerBus(spark.sparkContext)
        Run(if (ok) sec else -1.0,
          tally.bytes.get() - b0, tally.scanBytes.get() - s0)
      }
      // Only wall-gated queries (sec budget >=1 s) take noise-defense
      // retries — the sub-second wall gate was retired as noise-dominated
      val wallBudget = budget.get(name).flatMap(_.sec).filter(_ >= 1.0)
      val (runs, retries) = runsWithRetry(runOnce, repeat, wallBudget)
      if (retries > 0)
        System.err.println(f"[bench] $name over budget after $repeat runs; " +
          f"retried $retries more, best ${best(runs.map(_.sec))}%.2f s")
      releaseState(spark)
      // Every 10th query, force a full GC so the ContextCleaner reclaims
      // dead broadcasts/shuffles before they inflate later timings.
      if ((idx + 1) % 10 == 0) System.gc()
      if (trace) System.err.println(
        s"[trace] ${System.currentTimeMillis()} stop $name " +
          f"best=${best(runs.map(_.sec))}%.3f")
      // Byte gauges are plan-deterministic — min over SUCCESSFUL runs
      // discards stragglers attributed across a run boundary by async
      // delivery and partial deltas from failed runs.
      (name, best(runs.map(_.sec)), runs.count(_.sec < 0),
        bestBytes(runs, _.shuffle), retries, bestBytes(runs, _.scan))
    }
    // An all-failed query reports null (not a -1 sentinel) so consumers
    // summing or plotting per-query values can't mistake it for a timing.
    val qs = results.map { case (k, v, _, _, _, _) =>
        "\"" + k + "\":" + (if (v >= 0) f"$v%.3f" else "null")
      }.mkString("{", ",", "}")
    // A best-of-N over only the successful runs hides flakiness — surface
    // any query that failed at least once so a clean minimum is
    // distinguishable from a partial one.
    val failed = results.collect { case (k, _, nf, _, _, _) if nf > 0 => "\"" + k + s"\":$nf" }
      .mkString("{", ",", "}")
    // Shuffle write bytes per query — the bytes that become NETWORK
    // traffic on a real cluster; time hides them at local[32] where a
    // shuffle is a memory copy, so they're first-class bench output.
    val shuffle = results.map { case (k, _, _, sb, _, _) =>
        "\"" + k + "\":" + sb.map(_.toString).getOrElse("null")
      }.mkString("{", ",", "}")
    // Scan input bytes per query — what the file sources actually read;
    // a pruning/pushdown regression moves this number even when ambient
    // noise hides it in the timing.
    val scan = results.map { case (k, _, _, _, _, sc) =>
        "\"" + k + "\":" + sc.map(_.toString).getOrElse("null")
      }.mkString("{", ",", "}")
    // Queries that needed noise-defense retries — transparency so a
    // retried minimum is auditable against the budget it was checked by.
    val retried = results.collect { case (k, _, _, _, r, _) if r > 0 => "\"" + k + s"\":$r" }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v, _, _, _, _) if v >= 0 => v }.sum
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"failed":$failed,"shuffle_bytes":$shuffle,"scan_bytes":$scan,"retried":$retried,"sf":"$sfDir","repeat":$repeat}"""
    println(line)
    // Per-query lens for a reader of the output's tail: a capture that
    // keeps only the LAST 2000 chars decapitates the full record above,
    // so ONE `per_query_ms` line carries integer milliseconds in
    // sorted-query-name order (~1.6 KB for 343 queries), sized so that it
    // + the final total line fit inside that tail. Its values follow the
    // sorted names of the queries that RAN, so pairing them with
    // SparkEntry.queries.keys.toSeq.sorted recovers per-query seconds
    // only when the line's `n` equals the full query count; under
    // SPARK_GRAFT_ONLY (or any other subset) the positions shift and
    // that pairing is wrong.
    val msArr = results.sortBy(_._1).map { case (_, v, _, _, _, _) =>
      if (v >= 0) math.round(v * 1000).toString else "null"
    }.mkString("[", ",", "]")
    println(s"""{"metric":"per_query_ms","order":"name_asc","n":${results.size},"values":$msArr}""")
    // The full line above grew past the driver's tail-capture window as
    // the query surface did (BENCH_r07 scraped a decapitated line →
    // parsed:null). Print a compact total-only record LAST so a
    // tail-anchored scraper always gets one complete JSON line; the full
    // per-query record stays in the line above and in SPARK_GRAFT_BENCH_OUT.
    val nFailed = results.count(r => r._3 > 0)
    println(
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","n_queries":${results.size},"n_failed":$nFailed,"sf":"$sfDir","repeat":$repeat,"full":"$outPath"}""")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    // Per-query regression budgets (see QBudget/breaches): wall-clock at
    // 5× for queries budgeted ≥1 s (retry-defended), and the
    // DETERMINISTIC shuffle/scan byte gauges at 1.5×+1 MB for every
    // query — r14's 29 sub-second wall breaches were all ambient drift,
    // so the small-query gate now rides on bytes, which only move when
    // the plan does. Warn always; with SPARK_GRAFT_BENCH_BUDGET_STRICT=1
    // (local runs only — the driver harness must never fail on ambient
    // noise) the process exits 3 so a regression like round 8's 24 s
    // graph_pagerank surfaces BEFORE the driver run.
    if (budget.nonEmpty) {
      val over = results.flatMap { case (name, sec, _, sb, _, sc) =>
        budget.get(name).toSeq.flatMap(b =>
          breaches(sec, sb, sc, b).map(msg => (name, msg)))
      }
      over.foreach { case (n, msg) =>
        System.err.println(s"[bench] BUDGET EXCEEDED: $n — $msg (survived retries)")
      }
      if (over.nonEmpty && sys.env.get("SPARK_GRAFT_BENCH_BUDGET_STRICT").contains("1")) {
        spark.stop(); sys.exit(3)
      }
    }
    spark.stop()
  }
}
