package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import java.sql.Timestamp
import java.nio.file.Files

/** Streaming results cross-checked against the batch twins — the batch
  * queries act as the oracle for the unbounded plan. */
class EventStreamSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private def eventsBatch = {
    import spark.implicits._
    // deterministic miniature of the events table: 3 users, gaps > 30 min
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rows = Seq(
      // user 1: two sessions of 2 and 1 events
      (1L, new Timestamp(base), 1L, "click", 1.0, "{}"),
      (2L, new Timestamp(base + 10 * 60 * 1000), 1L, "view", 2.0, "{}"),
      (3L, new Timestamp(base + 80 * 60 * 1000), 1L, "click", 3.0, "{}"),
      // user 2: one session of 3 events
      (4L, new Timestamp(base + 5 * 60 * 1000), 2L, "view", 4.0, "{}"),
      (5L, new Timestamp(base + 20 * 60 * 1000), 2L, "view", 5.0, "{}"),
      (6L, new Timestamp(base + 40 * 60 * 1000), 2L, "purchase", 6.0, "{}"),
      // user 3: single event
      (7L, new Timestamp(base + 3 * 60 * 60 * 1000), 3L, "error", 7.0, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  test("streaming hourly agg matches batch groupBy") {
    val dir = Files.createTempDirectory("evt_stream").toString
    eventsBatch.coalesce(1).write.mode("overwrite").parquet(dir)
    val q = EventStream.hourlyAgg(EventStream.readEvents(spark, dir))
      .writeStream.format("memory").queryName("hourly")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // append mode only emits closed windows; re-run with complete mode
    } finally q.stop()

    val q2 = EventStream.hourlyAgg(EventStream.readEvents(spark, dir))
      .writeStream.format("memory").queryName("hourly_c")
      .outputMode("complete").start()
    try {
      q2.processAllAvailable()
      val streamed = spark.sql(
        "SELECT hour, event_type, n, sum_value FROM hourly_c ORDER BY hour, event_type")
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      val batch = eventsBatch
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
        .orderBy(col("hour"), col("event_type"))
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      // decimal-cast sums: stream and batch agree bit-for-bit, not ≈
      assert(streamed.toSeq == batch.toSeq)
    } finally q2.stop()
  }

  test("stageEvents lets the real (nanos) events table stream") {
    val staging = Files.createTempDirectory("evt_staged").toString
    EventStream.stageEvents(spark, "/root/testdata/sf0.001", staging)
    val q = EventStream.hourlyAgg(EventStream.readEvents(spark, staging))
      .writeStream.format("memory").queryName("staged_hourly")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamWindows = spark.sql("SELECT count(*) FROM staged_hourly").head().getLong(0)
      val batchWindows = graft.operators.Tables.events(spark, "/root/testdata/sf0.001")
        .groupBy(date_trunc("hour", col("ts")), col("event_type")).count().count()
      assert(streamWindows == batchWindows)
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch inequality join") {
    val staging = Files.createTempDirectory("evt_conv").toString
    EventStream.stageEvents(spark, "/root/testdata/sf0.001", staging)
    val joined = EventStream.conversionJoin(
      EventStream.readEvents(spark, staging),
      EventStream.readEvents(spark, staging))
    val q = joined.writeStream.format("memory").queryName("conv_join")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT user_id, click_id, purchase_id FROM conv_join")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val ev = graft.operators.Tables.events(spark, "/root/testdata/sf0.001")
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          unix_micros(col("ts")).as("c_us"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
          unix_micros(col("ts")).as("p_us"))
      val batch = c.join(p, c("user_id") === p("p_user") &&
          p("p_us") > c("c_us") && p("p_us") <= c("c_us") + 3600000000L)
        .select(col("user_id"), col("click_id"), col("purchase_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch,
        s"stream-only: ${streamed.diff(batch)}; batch-only: ${batch.diff(streamed)}")
      assert(streamed.nonEmpty, "expected at least one conversion pair")
    } finally q.stop()
  }

  test("dedupEvents keeps the batch first-per-bucket counts on the real events table") {
    val staging = Files.createTempDirectory("evt_dedup").toString
    EventStream.stageEvents(spark, "/root/testdata/sf0.001", staging)
    val q = EventStream.dedupEvents(EventStream.readEvents(spark, staging))
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT event_type, COUNT(*) AS n FROM dedup GROUP BY event_type")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val batch = graft.operators.EventOps.queries("events_dedup_window")(
        spark, "/root/testdata/sf0.001")
        .collect().map(r => r.getAs[String]("event_type") -> r.getAs[Long]("n_kept")).toMap
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
      assert(streamed.values.sum > 0)
    } finally q.stop()
  }

  test("abReadout equals the batch Welch t-test row on the real events table") {
    val staging = Files.createTempDirectory("evt_ab").toString
    EventStream.stageEvents(spark, "/root/testdata/sf0.001", staging)
    val q = graft.operators.EventOps.welch(EventStream.readEvents(spark, staging))
      .writeStream.format("memory").queryName("ab_readout")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT n0, n1, m0, m1, v0, v1, t, df FROM ab_readout").collect()
      val batch = graft.operators.EventOps.queries("events_ab_welch")(
        spark, "/root/testdata/sf0.001").collect()
      assert(streamed.length == 1 && batch.length == 1)
      // bit-for-bit: decimal moment sums are order-independent, so the
      // state-store accumulation path changes nothing
      assert(streamed.head.toSeq == batch.head.toSeq,
        s"streamed=${streamed.head} batch=${batch.head}")
    } finally q.stop()
  }

  test("kAnonCells + readout equals the batch k-anonymity report bit-for-bit") {
    val staging = Files.createTempDirectory("evt_kanon").toString
    EventStream.stageEvents(spark, "/root/testdata/sf0.001", staging)
    val q = graft.operators.EventOps.kAnonCells(EventStream.readEvents(spark, staging))
      .writeStream.format("memory").queryName("kanon_cells")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = graft.operators.EventOps.kAnonReport(spark.table("kanon_cells"))
        .collect().map(_.toSeq)
      val batch = graft.operators.EventOps.queries("events_k_anonymity")(
        spark, "/root/testdata/sf0.001").collect().map(_.toSeq)
      assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq,
        s"streamed=${streamed.toSeq} batch=${batch.toSeq}")
    } finally q.stop()
  }

  test("ateCells + readout equals the batch stratified ATE bit-for-bit") {
    val staging = Files.createTempDirectory("evt_ate").toString
    EventStream.stageEvents(spark, "/root/testdata/sf0.001", staging)
    val q = graft.operators.MlOps.ateCells(EventStream.readEvents(spark, staging))
      .writeStream.format("memory").queryName("ate_cells")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = EventStream.ateReadout(spark.table("ate_cells"))
        .collect().map(_.toSeq)
      val batch = graft.operators.MlOps.queries("ml_stratified_ate")(
        spark, "/root/testdata/sf0.001").collect().map(_.toSeq)
      assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq,
        s"streamed=${streamed.toSeq} batch=${batch.toSeq}")
    } finally q.stop()
  }

  test("srmCells + readout equals the batch SRM guardrail bit-for-bit") {
    val staging = Files.createTempDirectory("evt_srm").toString
    EventStream.stageEvents(spark, "/root/testdata/sf0.001", staging)
    val q = EventStream.srmCells(EventStream.readEvents(spark, staging))
      .writeStream.format("memory").queryName("srm_cells")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = EventStream.srmReadout(spark.table("srm_cells"))
        .collect().map(_.toSeq)
      val batch = graft.operators.EventOps.queries("events_srm_check")(
        spark, "/root/testdata/sf0.001").collect().map(_.toSeq)
      assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq,
        s"streamed=${streamed.toSeq} batch=${batch.toSeq}")
    } finally q.stop()
  }

  test("psiCells + readout equals the batch PSI drift report bit-for-bit") {
    val staging = Files.createTempDirectory("evt_psi").toString
    EventStream.stageEvents(spark, "/root/testdata/sf0.001", staging)
    // the batch twin's reference window ends at the fixed calendar cut;
    // the monitor takes the same boundary as its a-priori parameter
    val cutUs = spark.sql("SELECT unix_micros(TIMESTAMP '2024-01-16')")
      .head.getLong(0)
    val q = EventStream.psiCells(EventStream.readEvents(spark, staging), cutUs)
      .writeStream.format("memory").queryName("psi_cells")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = EventStream.psiReadout(spark.table("psi_cells"))
        .collect().map(_.toSeq)
      val batch = graft.operators.MlOps.queries("ml_psi_drift")(
        spark, "/root/testdata/sf0.001").collect().map(_.toSeq)
      assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq,
        s"streamed=${streamed.toSeq} batch=${batch.toSeq}")
    } finally q.stop()
  }

  test("didReadout equals the batch diff-in-diff row bit-for-bit") {
    val staging = Files.createTempDirectory("evt_did").toString
    EventStream.stageEvents(spark, "/root/testdata/sf0.001", staging)
    val span = spark.read.parquet(staging)
      .selectExpr("min(unix_micros(ts)) AS lo", "max(unix_micros(ts)) AS hi")
      .head
    val cutUs = span.getLong(0) + (span.getLong(1) - span.getLong(0)) / 2
    val q = graft.operators.EventOps.didCells(
      EventStream.readEvents(spark, staging), unix_micros(col("ts")) >= cutUs)
      .writeStream.format("memory").queryName("did_readout")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("did_readout").collect()
      val batch = graft.operators.EventOps.queries("events_diff_in_diff")(
        spark, "/root/testdata/sf0.001").collect()
      assert(streamed.length == 1 && batch.length == 1)
      assert(streamed.head.toSeq == batch.head.toSeq,
        s"streamed=${streamed.head} batch=${batch.head}")
    } finally q.stop()
  }

  test("cupedUserState + readout equals the batch CUPED rows bit-for-bit") {
    val staging = Files.createTempDirectory("evt_cuped").toString
    EventStream.stageEvents(spark, "/root/testdata/sf0.001", staging)
    // the batch twin cuts at the data-span midpoint; the stream takes
    // the cut as the parameter an experiment would know a priori
    val span = spark.read.parquet(staging)
      .selectExpr("min(unix_micros(ts)) AS lo", "max(unix_micros(ts)) AS hi")
      .head
    val cutUs = span.getLong(0) + (span.getLong(1) - span.getLong(0)) / 2
    val q = EventStream.cupedUserState(EventStream.readEvents(spark, staging), cutUs)
      .writeStream.format("memory").queryName("cuped_state")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = EventStream.cupedReadout(spark.table("cuped_state"))
        .collect().map(_.toSeq)
      val batch = graft.operators.EventOps.queries("events_cuped")(
        spark, "/root/testdata/sf0.001").collect().map(_.toSeq)
      assert(streamed.length == 2 && batch.length == 2)
      // bit-for-bit: the per-user moment sums are exact decimals, so
      // the state-store accumulation path changes nothing; the readout
      // runs the batch query's own EventOps.cupedArms kernel
      assert(streamed.toSeq == batch.toSeq,
        s"streamed=${streamed.toSeq} batch=${batch.toSeq}")
    } finally q.stop()
  }

  test("funnelStages matches the batch min-ts funnel on the real events table") {
    import spark.implicits._
    val staging = Files.createTempDirectory("evt_funnel").toString
    EventStream.stageEvents(spark, "/root/testdata/sf0.001", staging)
    val evs = EventStream.readEvents(spark, staging)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[EventStream.Ev]
    val q = EventStream.funnelStages(evs)
      .writeStream.format("memory").queryName("funnel")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT stage, COUNT(DISTINCT user_id) AS n FROM funnel GROUP BY stage")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val batch = graft.operators.EventOps.queries("events_funnel")(
        spark, "/root/testdata/sf0.001").head()
      assert(streamed.getOrElse("view", 0L) == batch.getAs[Long]("viewed"))
      assert(streamed.getOrElse("click_after_view", 0L) ==
        batch.getAs[Long]("clicked_after_view"))
      assert(streamed.getOrElse("purchase_after_click", 0L) ==
        batch.getAs[Long]("purchased_after_click"))
      assert(streamed("view") > 0)
    } finally q.stop()
  }

  test("transitionPairs chains across micro-batches and matches the batch lag") {
    import spark.implicits._
    val dir = Files.createTempDirectory("evt_trans").toString
    val all = eventsBatch
    // batch 1: the four earliest events; batch 2: the rest — so user 1's
    // view→click and user 2's view→purchase pairs can ONLY come from the
    // stored per-user state chaining across the batch boundary
    all.filter(col("event_id") <= 2 || col("event_id") === 4 || col("event_id") === 5)
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val evs = EventStream.readEvents(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[EventStream.Ev]
    val q = EventStream.transitionPairs(evs)
      .writeStream.format("memory").queryName("trans")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      all.filter(col("event_id") === 3 || col("event_id") === 6 || col("event_id") === 7)
        .coalesce(1).write.mode("append").parquet(dir)
      q.processAllAvailable()
      val streamed = spark.sql("SELECT user_id, prev, next FROM trans")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .groupBy(identity).view.mapValues(_.length).toMap
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val batch = all
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("user_id"), col("prev"), col("event_type"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .groupBy(identity).view.mapValues(_.length).toMap
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
      // the cross-batch chain specifically
      assert(streamed.contains((1L, "view", "click")), s"got $streamed")
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionization closes sessions on gaps") {
    import spark.implicits._
    val dir = Files.createTempDirectory("evt_sess").toString
    eventsBatch.coalesce(1).write.mode("overwrite").parquet(dir)
    val evs = EventStream.readEvents(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[EventStream.Ev]
    val q = EventStream.sessionize(evs)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val out = spark.sql("SELECT user_id, n_events FROM sessions ORDER BY user_id, n_events")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      // closed mid-stream (not watermark-flushed): user 1's first session
      // (2 events) closes when its 80-minute-later event arrives in the
      // same batch. Open sessions await watermark advance.
      assert(out.contains((1L, 2L)), s"got ${out.toSeq}")
    } finally q.stop()
  }

  test("burstPeaks periods reproduce the batch RANGE-frame peaks on the real events table") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val staging = Files.createTempDirectory("evt_burst").toString
    EventStream.stageEvents(spark, sf, staging)
    val evs = EventStream.readEvents(spark, staging)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[EventStream.Ev]
    val q = EventStream.burstPeaks(evs)
      .writeStream.format("memory").queryName("bursts")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // two far-future sentinel batches: the first advances the watermark
      // past every real user's quiet-timeout, the second triggers the
      // timed-out state flush (timeouts fire on the batch AFTER the
      // watermark advance)
      val maxTs = graft.operators.Tables.events(spark, sf)
        .agg(max(col("ts"))).head().getTimestamp(0).getTime
      for (k <- 1 to 2) {
        Seq((900000L + k, new Timestamp(maxTs + k * 300L * 3600 * 1000),
            999999L, "view", 0.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .coalesce(1).write.mode("append").parquet(staging)
        q.processAllAvailable()
      }
      // streamed per-user aggregate over emitted periods: total events,
      // global peak = max period peak, earliest global-peak moment
      val periods = spark.sql(
        "SELECT user_id, n_events, peak_1h, peak_at_us FROM bursts")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .filter(_._1 != 999999L)
        .groupBy(_._1)
      val streamed = periods.map { case (u, rows) =>
        val peak = rows.map(_._3).max
        u -> (rows.map(_._2).sum, peak,
          rows.filter(_._3 == peak).map(_._4).min)
      }
      // batch expected: the events_burst window without the top-50 limit
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("us"))
        .rangeBetween(-3599999999L, 0)
      val batch = graft.operators.Tables.events(spark, sf)
        .select(col("user_id"), unix_micros(col("ts")).as("us"))
        .withColumn("roll", count(lit(1)).over(w))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          min(struct((-col("roll")).as("nr"), col("us").as("us"))).as("b"))
        .select(col("user_id"), col("n"), (-col("b.nr")).as("peak"), col("b.us"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      assert(streamed.keySet == batch.keySet,
        s"user sets differ: ${streamed.keySet.size} vs ${batch.keySet.size}")
      streamed.foreach { case (u, s) =>
        assert(s == batch(u), s"user $u: streamed=$s batch=${batch(u)}")
      }
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming quantile sketch equals the batch aggregate after state-store round-trips") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val dir = Files.createTempDirectory("evt_quant").toString
    val ev = graft.operators.Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    // two micro-batches so the histogram buffer must round-trip the
    // streaming state store between them
    ev.filter(col("event_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(dir)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id LONG, ts TIMESTAMP, event_type STRING, value DOUBLE")
    val q = EventStream.valueQuantiles(
        spark.readStream.schema(schema).parquet(dir))
      .select(col("event_type"), explode(col("qs")).as("r"))
      .select(col("event_type"), col("r.prob"), col("r.q"))
      .writeStream.format("memory").queryName("quant_stream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      ev.filter(col("event_id") % 2 === 1).coalesce(1)
        .write.mode("append").parquet(dir)
      q.processAllAvailable()
      val streamed = spark.sql("SELECT * FROM quant_stream")
        .as[(String, Double, Double)].collect().toSet
      val batch = EventStream.valueQuantiles(ev)
        .select(col("event_type"), explode(col("qs")).as("r"))
        .select(col("event_type"), col("r.prob"), col("r.q"))
        .as[(String, Double, Double)].collect().toSet
      assert(streamed == batch,
        s"stream-batch diff: ${(streamed -- batch) ++ (batch -- streamed)}")
      assert(streamed.size == 20) // 5 types x 4 probs
      // exact regime really held: batch output equals plain quantile_cont
      // (Spark's percentile) over the rounded values
      val exact = graft.operators.Tables.events(spark, sf)
        .select(col("event_type"), round(col("value"), 0).as("v"))
        .groupBy(col("event_type"))
        .agg(expr("percentile(v, array(0.25, 0.5, 0.75, 0.95))").as("qs"))
        .select(col("event_type"), posexplode(col("qs")))
        .select(col("event_type"), col("col"))
        .as[(String, Double)].collect().toSet
      assert(batch.map { case (t, _, v) => (t, v) } == exact)
    } finally q.stop()
  }

  test("valueQuantiles exact regime holds at the LARGEST fixture: domain fits capacity with headroom") {
    // the spec that catches the silent exact→approximate crossover the
    // sf0.001 pin above cannot see: the per-type distinct ROUNDED value
    // count at sf0.1 must sit well under the default capacity, or the
    // stream==batch invariant stops being structural
    val maxDistinct = graft.operators.Tables
      .events(spark, "/root/testdata/sf0.1")
      .select(col("event_type"), round(col("value"), 0).as("v"))
      .groupBy(col("event_type"))
      .agg(count_distinct(col("v")).as("d"))
      .agg(max(col("d"))).head().getLong(0)
    assert(maxDistinct * 2 <= 2048,
      s"rounded-value domain ($maxDistinct distinct) is within 2x of the " +
        "default sketch capacity — raise the valueQuantiles default or " +
        "demote the exact-regime pin to a property gate")
  }
}
