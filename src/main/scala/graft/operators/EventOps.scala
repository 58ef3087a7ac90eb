package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Event-stream analytics over `events` (batch here; the same transforms
  * run under Structured Streaming in [[graft.streaming.EventStream]]).
  *
  * The events parquet carries nanosecond timestamps; Spark reads them at
  * microsecond precision, so the oracle SQL casts TIMESTAMP_NS →
  * TIMESTAMP up front to compare at the same precision.
  */
object EventOps {
  import Tables._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // SCD2 dimension build — the temporal-table maintenance shape: each
    // user's event_type stream read as a change log, consecutive equal
    // states run-length-compressed (lag change detection under the
    // (ts, event_id) total order), each surviving change opening a
    // type-2 version row [valid_from, valid_to) with lead(ts) closing
    // it and the open version flagged current. Everything is user-
    // partitioned windows — embarrassingly parallel across dimension
    // keys at any scale, no self-join (the naive build is log ⋈ log on
    // "next change", which this lead() replaces). user_id < 25 bounds
    // the emitted dimension for the gate; production emits all keys.
    "events_scd2" -> { (s, dir) =>
      val byOrd = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      events(s, dir).filter(col("user_id") < 25)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev", lag(col("event_type"), 1).over(byOrd))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
        .select(col("user_id"),
          row_number().over(byOrd).cast("long").as("version"),
          col("event_type").as("state"),
          col("ts").as("valid_from"),
          lead(col("ts"), 1).over(byOrd).as("valid_to"))
        .withColumn("is_current", col("valid_to").isNull)
        .orderBy(col("user_id"), col("version"))
    },
    // Point-in-time lookup against the SCD2 dimension — the join that
    // makes a type-2 table worth building: each purchase fact finds THE
    // version valid at its event time (valid_from <= ts < valid_to,
    // open version catching the tail). Because versions partition each
    // user's timeline from their first event, every fact matches
    // exactly once — boundary ties resolve identically in both engines
    // (integer-microsecond comparisons, half-open intervals). The plan
    // is an equi-join on the dimension key with the range predicate as
    // residual — at scale both sides bucket by the key and the interval
    // check stays row-local, never a BNLJ (plan-gated).
    "events_scd2_lookup" -> { (s, dir) =>
      val dim = queries("events_scd2")(s, dir)
        .select(col("user_id").as("d_user"), col("state"),
          col("valid_from"), col("valid_to"))
      val facts = events(s, dir)
        .filter(col("user_id") < 25 && col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      facts.join(dim, col("user_id") === col("d_user") &&
          col("valid_from") <= col("ts") &&
          (col("valid_to").isNull || col("ts") < col("valid_to")))
        .groupBy(col("state"))
        .agg(count(lit(1)).as("n_purchases"),
          round(sum(col("value").cast("decimal(18,4)")), 2)
            .cast("double").as("sum_value"))
        .orderBy(col("state"))
    },
    // tumbling-hour aggregation per event type
    "events_hourly" -> { (s, dir) =>
      events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
        .orderBy(col("hour"), col("event_type"))
    },
    // Seasonal-naive forecast backtest: predict each (type, hour) total
    // by the SAME HOUR LAST WEEK, score MAE and WAPE per type — the
    // baseline every forecasting pipeline must beat before a model earns
    // its keep, and the backtest join shape (align t with t−lag) is the
    // general one. The corpus collapses to the hourly grid in one
    // partial-aggregated pass; the self-join aligns grid rows by pure
    // timestamp arithmetic (hour + 7 days — no engine-specific week
    // semantics), so it's grid-sized, never corpus-sized. Hours missing
    // from either side are not scored (naive has no prediction there).
    // Error sums accumulate in exact decimal; each metric is one double
    // division at the end.
    "events_forecast_naive" -> { (s, dir) =>
      val hourly = events(s, dir)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
        .agg(sum(col("value").cast("decimal(18,4)")).as("v"))
      val fc = hourly.select(col("event_type"),
        (col("hour") + expr("INTERVAL 7 DAYS")).as("hour"), col("v").as("pred"))
      hourly.join(fc, Seq("event_type", "hour"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_hours"),
          DetMean.mean6(sum(abs(col("v") - col("pred"))
            .cast("decimal(28,10)")), count(lit(1))).as("mae"),
          round(sum(abs(col("v") - col("pred"))).cast("double") /
            sum(col("v")).cast("double"), 6).as("wape"))
        .orderBy(col("event_type"))
    },
    // Spark's NATIVE session-window operator under the hash gate:
    // `session_window(ts, gap)` merges events whose start falls inside
    // the running session's [first, last+gap) window — the engine-level
    // twin of events_sessions' hand-built gap islands (note the boundary
    // difference: the native operator CLOSES a session when the next
    // event is >= gap away, the island build when it is > gap — the
    // oracle replays >= , pinning the operator's exact boundary rule).
    // Output is the session-level table (start/end/size per user) a
    // warehouse materializes. Scale: session_window aggregates
    // partition-local per user exactly like the window formulation, and
    // the SAME expression runs under Structured Streaming with
    // watermark-expired state — the operator exists precisely so
    // sessionization needs no custom state machine.
    "events_session_window" -> { (s, dir) =>
      events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
        .select(col("user_id"), col("first_ts"), col("last_ts"),
          col("n_events"))
        .orderBy(col("user_id"), col("first_ts"))
    },
    // Event-feed SLA monitor — the quality_constraints sibling for
    // STREAMS: per event type, (a) freshness = minutes between the
    // type's last event and the feed's watermark (a stalled producer
    // shows here first), (b) volume stability = how many of the type's
    // days fall outside mean±3σ of its own daily volume (exact decimal
    // moments — the q_corr_qty_disc discipline), (c) validity = null/
    // non-positive values and empty props. One corpus pass collapses to
    // type×day cells; every check runs on that grid and the one-row
    // watermark broadcast. This is the report a pipeline pages on.
    "events_sla_monitor" -> { (s, dir) =>
      val wm = events(s, dir).agg(max(unix_micros(col("ts"))).as("wm_us"))
      val daily = events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("n"),
          max(unix_micros(col("ts"))).as("last_us"),
          sum(when(col("value").isNull || col("value") <= 0, 1L)
            .otherwise(0L)).as("bad_value"),
          sum(when(col("props").isNull || col("props") === "", 1L)
            .otherwise(0L)).as("empty_props"))
      val stats = daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          sum(col("n")).cast("long").as("n_events"),
          max(col("last_us")).as("type_last_us"),
          sum(col("bad_value")).cast("long").as("bad_value"),
          sum(col("empty_props")).cast("long").as("empty_props"),
          sum(col("n").cast("decimal(18,0)")).as("sn"),
          sum((col("n") * col("n")).cast("decimal(28,0)")).as("sn2"))
        .withColumn("mu", col("sn").cast("double") / col("n_days"))
        .withColumn("sd", sqrt(col("sn2").cast("double") / col("n_days") -
          (col("sn").cast("double") / col("n_days")) *
            (col("sn").cast("double") / col("n_days"))))
      daily.join(broadcast(stats.select(col("event_type"), col("mu"), col("sd"))),
          "event_type")
        .groupBy(col("event_type"))
        .agg(sum(when(abs(col("n") - col("mu")) > lit(3.0) * col("sd"), 1L)
          .otherwise(0L)).cast("long").as("anomalous_days"))
        .join(stats.drop("mu", "sd", "sn", "sn2"), "event_type")
        .crossJoin(broadcast(wm))
        .select(col("event_type"), col("n_days"), col("n_events"),
          expr("(wm_us - type_last_us) div 60000000").as("freshness_min"),
          col("anomalous_days"), col("bad_value"), col("empty_props"))
        .orderBy(col("event_type"))
    },
    // Time-decayed engagement features: per user, the exponentially
    // decayed event count and spend at the corpus-end snapshot
    // (half-life ≈ 7 days via e^(−age_days/10)) — the recency weighting
    // every ranking/churn feature store carries, where "active
    // yesterday" must outscore "active last month". Age is exact
    // integer microseconds off a broadcast one-row snapshot; each
    // decay term rounds to 10dp and sums in exact decimal (the
    // ml_psi_drift discipline — identical engine-side exp() inputs,
    // order-independent reduction). One partial-aggregated pass; the
    // snapshot max(ts) broadcasts back, never re-scanned per row.
    "events_decay_features" -> { (s, dir) =>
      val snap = events(s, dir).agg(max(unix_micros(col("ts"))).as("snap_us"))
      events(s, dir)
        .select(col("user_id"), col("event_type"), col("value"),
          unix_micros(col("ts")).as("us"))
        .crossJoin(broadcast(snap))
        .withColumn("age_days",
          (col("snap_us") - col("us")).cast("double") / 86400000000.0)
        .withColumn("decay",
          round(exp(-col("age_days") / 10.0), 10).cast("decimal(20,10)"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("decay")), 6).cast("double").as("decayed_count"),
          round(sum(when(col("event_type") === "purchase",
            round(col("decay").cast("double") * round(col("value"), 6), 10)
              .cast("decimal(24,10)")).otherwise(lit(0).cast("decimal(24,10)"))), 6)
            .cast("double").as("decayed_spend"))
        .orderBy(col("user_id"))
    },
    // Spark's native SLIDING window operator under the hash gate:
    // `window(ts, '1 hour', '30 minutes')` assigns every event to the
    // two overlapping hour windows covering it — the streaming
    // windowed-agg primitive (events_hourly gates tumbling via
    // date_trunc; events_burst gates the per-row RANGE frame; this
    // pins the engine's slide-duplication rule itself). The oracle
    // replays the assignment arithmetic: window starts are the
    // 30-minute grid points floor(t) and floor(t)−30 min — with a
    // 1-hour width every event lands in exactly those two, which the
    // hash gate proves against the operator's own output. Same
    // expression runs under Structured Streaming with watermark
    // eviction.
    "events_sliding_native" -> { (s, dir) =>
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("w_start"), col("w.end").as("w_end"),
          col("event_type"), col("n"))
        .orderBy(col("w_start"), col("event_type"))
    },
    // Sequential pattern mining (lite): the most common 3-step event-type
    // paths users actually walk — the "view → click → purchase vs
    // view → error → view" table product analytics reads before
    // funnel design, one order up from events_transitions' Markov
    // pairs. Paths come from each user's time-ordered stream via two
    // lead windows (state = one user's partition); support counts both
    // total occurrences and distinct walkers. Top-15 via orderBy+limit
    // → TakeOrderedAndProject, never a global sort of the path table.
    "events_path_trigrams" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("e1"))
        .withColumn("e2", lead(col("e1"), 1).over(w))
        .withColumn("e3", lead(col("e1"), 2).over(w))
        .filter(col("e3").isNotNull)
        .select(col("user_id"),
          concat_ws(">", col("e1"), col("e2"), col("e3")).as("path"))
        .groupBy(col("path"))
        .agg(count(lit(1)).as("n_occ"),
          count_distinct(col("user_id")).as("n_users"))
        .orderBy(col("n_occ").desc, col("path"))
        .limit(15)
    },
    // Peak concurrency (sweep line, part 2): the maximum number of
    // SIMULTANEOUSLY open [ts, ts+value s) intervals per event type —
    // capacity planning's headline number (connection pools, stream
    // shards, GPU slots), and the overlap-DEPTH complement of
    // events_interval_union's overlap-LENGTH. Each interval emits a
    // +1/−1 boundary mark; depth is the running sum over (t, d)-ordered
    // marks (ends sort before starts at equal t — half-open semantics),
    // and the answer is the max prefix sum. Permutation of equal-key
    // marks can reorder INTERMEDIATE depths but never the max or the
    // counts, so the output is deterministic under any partitioning.
    // Scale: partitioned by type; 2 rows per event through one window.
    "events_peak_concurrency" -> { (s, dir) =>
      val iv = events(s, dir).select(col("event_type"),
        unix_micros(col("ts")).as("st"),
        (unix_micros(col("ts")) +
          round(col("value"), 0).cast("long") * 1000000L).as("en"))
      val marks = iv.select(col("event_type"), col("st").as("t"), lit(1L).as("d"))
        .unionByName(iv.select(col("event_type"), col("en").as("t"),
          lit(-1L).as("d")))
      val w = Window.partitionBy(col("event_type")).orderBy(col("t"), col("d"))
        .rowsBetween(Window.unboundedPreceding, 0)
      marks.withColumn("depth", sum(col("d")).over(w))
        .groupBy(col("event_type"))
        .agg(max(col("depth")).as("peak_concurrency"),
          sum(when(col("d") === 1L, 1L).otherwise(0L)).cast("long")
            .as("n_intervals"))
        .orderBy(col("event_type"))
    },
    // Longest daily-activity streak per user — the gaps-and-islands
    // idiom on the DATE grid (consecutive days collapse to one anchor
    // because day-index minus per-user rank is constant exactly along a
    // run): the engagement metric behind every "N-day streak" feature
    // and a third islands variant alongside gap-based sessions and
    // overlap-based interval unions. Day indexes are integer diffs from
    // a fixed epoch so both engines do pure integer arithmetic. Scale:
    // the corpus collapses to distinct (user, day) first; everything
    // after runs on that dimension-sized table, windowed per user.
    "events_streak" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("d"))
      events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
        .withColumn("idx",
          datediff(col("d"), lit("2024-01-01").cast("date")).cast("long"))
        .withColumn("anchor", col("idx") - row_number().over(w))
        .groupBy(col("user_id"), col("anchor"))
        .agg(count(lit(1)).as("len"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_streaks"),
          max(col("len")).as("longest_streak"),
          sum(col("len")).cast("long").as("active_days"))
        .orderBy(col("user_id"))
    },
    // Interval OVERLAP join (range×range — the third sweep-line-family
    // member after union length and concurrency depth, and the join
    // shape Flink ships as "interval join"): every (error, purchase)
    // interval pair of the same user that truly overlaps, with the
    // overlap length. A naive formulation is a per-user cross join with
    // a range predicate — Spark plans BNLJ, quadratic death at scale.
    // The scale shape: treat each event as busy for value-MINUTES (the
    // seconds reading yields a near-empty join on this fixture — a
    // duration scale chosen so the chunk machinery is actually
    // exercised: ~8 h max spans ~9 chunks), explode each interval to
    // the 1-hour time CHUNKS it covers, equi-join on (user, chunk) —
    // hash-joinable, AQE-splittable — then verify true overlap. The canonical-chunk filter (pair admitted only in the
    // chunk holding max(st_a, st_b)) makes each pair appear EXACTLY
    // once with no distinct pass. The oracle replays the quadratic
    // range join — fine for DuckDB at test scale, which is the point.
    "events_overlap_join" -> { (s, dir) =>
      val C = 3600000000L
      def ivs(t: String, p: String) = events(s, dir)
        .filter(col("event_type") === t)
        .select(col("user_id"), col("event_id").as(s"${p}_id"),
          unix_micros(col("ts")).as(s"${p}_st"),
          (unix_micros(col("ts")) +
            round(col("value"), 0).cast("long") * 60000000L).as(s"${p}_en"))
      val a = ivs("error", "a").withColumn("chunk",
        explode(sequence(expr(s"a_st div $C"), expr(s"a_en div $C"))))
      val b = ivs("purchase", "b").withColumn("chunk",
        explode(sequence(expr(s"b_st div $C"), expr(s"b_en div $C"))))
      a.join(b, Seq("user_id", "chunk"))
        .filter(col("a_st") < col("b_en") && col("b_st") < col("a_en") &&
          col("chunk") === expr(s"greatest(a_st, b_st) div $C"))
        .select(col("user_id"), col("a_id"), col("b_id"),
          (least(col("a_en"), col("b_en")) -
            greatest(col("a_st"), col("b_st"))).as("overlap_us"))
        .orderBy(col("user_id"), col("a_id"), col("b_id"))
    },
    // Robust anomaly gate: median / MAD per event type (the
    // events_anomaly_zscore twin that heavy tails can't poison — one
    // 490-unit spike moves a mean+stddev gate's own threshold, not the
    // median's). Outlier rule: 0.6745·|v−med| > 3.5·MAD (Iglewicz-
    // Hoaglin modified z-score), kept MULTIPLICATIVE so neither engine
    // divides by a possibly-zero MAD; both comparison sides round to 6dp
    // so boundary cases bin identically. Three passes (median, MAD,
    // count) but each collapses partial-aggregated per type and the
    // per-type stats broadcast back. Exact `percentile` buffers
    // value→count per type — bounded by distinct 6dp values here; the
    // 100 TB production twin swaps in approx_percentile exactly as
    // text_quality_gate_approx does for the quality gate.
    "events_anomaly_mad" -> { (s, dir) =>
      val e = events(s, dir)
        .select(col("event_type"), round(col("value"), 6).as("v"))
      val med = e.groupBy(col("event_type"))
        .agg(round(expr("percentile(v, 0.5)"), 6).as("med"))
      val dev = e.join(broadcast(med), "event_type")
        .select(col("event_type"), col("med"),
          round(abs(col("v") - col("med")), 6).as("ad"))
      val st = dev.groupBy(col("event_type"))
        .agg(round(expr("percentile(ad, 0.5)"), 6).as("mad"),
          max(col("med")).as("med"))
      dev.select(col("event_type"), col("ad"))
        .join(broadcast(st), "event_type")
        .groupBy(col("event_type"), col("med"), col("mad"))
        .agg(count(lit(1)).as("n"),
          sum(when(round(lit(0.6745) * col("ad"), 6) >
            round(lit(3.5) * col("mad"), 6), 1L).otherwise(0L))
            .cast("long").as("n_outliers"))
        .orderBy(col("event_type"))
    },
    // Lorenz curve + Gini coefficient of event volume across users — the
    // concentration diagnostic ("do 10% of users produce 90% of the
    // traffic?") that sizes rate limits, skew salting, and abuse review.
    // The corpus collapses to per-user counts in one partial-aggregated
    // pass; the rank window then runs over the USER table (dimension-
    // sized — a single-partition window over users, never events; at
    // catalog scale this is the same posture as vocab ranking). Gini via
    // the rank identity G = 2·Σ(i·x_i)/(n·Σx) − (n+1)/n with ascending
    // ranks — pure integer sums until two final double divisions. Output
    // is the decile Lorenz table with the scalar Gini broadcast onto
    // every row.
    "events_user_gini" -> { (s, dir) =>
      val byN = Window.orderBy(col("n"), col("user_id"))
      val cnt = events(s, dir)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(byN).cast("long"))
      val tot = cnt.agg(count(lit(1)).as("nu"), sum(col("n")).as("s"),
          sum(col("rk") * col("n")).as("t"))
        .select(col("nu"), col("s"),
          round(lit(2.0) * col("t") / (col("nu") * col("s")) -
            (col("nu") + lit(1.0)) / col("nu"), 6).as("gini"))
      cnt.crossJoin(broadcast(tot))
        .withColumn("decile", ceil(col("rk") * 10 / col("nu")).cast("long"))
        .groupBy(col("decile"), col("nu"), col("s"), col("gini"))
        .agg(count(lit(1)).as("n_users"), sum(col("n")).as("n_events"))
        .select(col("decile"), col("n_users"), col("n_events"),
          round(col("n_events").cast("double") / col("s"), 6).as("share"),
          col("gini"))
        .orderBy(col("decile"))
    },
    // Multi-touch attribution: every purchase distributes conversion
    // credit over the click/view touches of the SAME user in the
    // trailing 24 h — first-touch, last-touch, and linear (1/k each)
    // models side by side, the marketing-analytics join shape. The
    // touch↔conversion pairing is a per-user time-range join (bounded
    // window, so pair volume is conversions × per-user touch rate, never
    // corpus²); position models are rank windows PER CONVERSION (state =
    // one conversion's touches); linear credit sums exact 10dp decimals
    // so the k-way splits re-total deterministically. Conversions with
    // no in-window touch simply don't attribute (the unattributed count
    // is the complement of n_conversions covered — auditable from
    // events_funnel). Output: per touch channel, volume + credit under
    // each model.
    "events_attribution" -> { (s, dir) =>
      val e = events(s, dir)
      val conv = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("cu"), col("event_id").as("cid"),
          unix_micros(col("ts")).as("cts"))
      val touch = e.filter(col("event_type").isin("click", "view"))
        .select(col("user_id").as("tu"), col("event_id").as("tid"),
          col("event_type").as("channel"), unix_micros(col("ts")).as("tts"))
      val pairs = conv.join(touch,
        col("cu") === col("tu") &&
          col("tts") < col("cts") &&
          col("tts") >= col("cts") - lit(86400000000L))
      val perConv = Window.partitionBy(col("cid"))
      val asc = Window.partitionBy(col("cid")).orderBy(col("tts"), col("tid"))
      val desc = Window.partitionBy(col("cid")).orderBy(col("tts").desc, col("tid").desc)
      pairs
        .withColumn("k", count(lit(1)).over(perConv))
        .withColumn("first_t", when(row_number().over(asc) === 1, 1L).otherwise(0L))
        .withColumn("last_t", when(row_number().over(desc) === 1, 1L).otherwise(0L))
        .withColumn("lin", round(lit(1.0) / col("k"), 10).cast("decimal(20,10)"))
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("n_touches"),
          count_distinct(col("cid")).as("n_conversions"),
          sum(col("first_t")).cast("long").as("first_touch"),
          sum(col("last_t")).cast("long").as("last_touch"),
          round(sum(col("lin")), 6).cast("double").as("linear_credit"))
        .orderBy(col("channel"))
    },
    // Interval-union coverage (sweep line): treat each event as a busy
    // interval [ts, ts + value seconds] and compute each user's UNION
    // length — overlapping intervals must not double-count, the classic
    // gaps-and-islands shape that sessionization (gap rule) does NOT
    // cover: islands here are bridged by INTERVAL OVERLAP, not by
    // event proximity. One pass: per user in start order, an interval
    // opens a new island iff its start clears the running max of all
    // previous ends (a rows-frame max — order-insensitive within the
    // frame, made deterministic by the (st, event_id) total order);
    // island ids are the prefix sum of those breaks. All arithmetic in
    // integer microseconds. Scale: partitioned by user, window state is
    // one user's rows; the double groupBy after it is partial-aggregated
    // on the same key.
    "events_interval_union" -> { (s, dir) =>
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("st"), col("event_id"))
      val iv = events(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("st"),
          (unix_micros(col("ts")) +
            round(col("value"), 0).cast("long") * 1000000L).as("en"))
      iv.withColumn("max_prev_en",
          max(col("en")).over(byUser.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("new_island",
          when(col("max_prev_en").isNull || col("st") > col("max_prev_en"), 1L)
            .otherwise(0L))
        .withColumn("island", sum(col("new_island")).over(
          byUser.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("island"))
        .agg((max(col("en")) - min(col("st"))).as("covered_us"),
          count(lit(1)).as("n_iv"))
        .groupBy(col("user_id"))
        .agg(sum(col("n_iv")).cast("long").as("n_intervals"),
          count(lit(1)).as("n_islands"),
          sum(col("covered_us")).cast("long").as("covered_us"))
        .orderBy(col("user_id"))
    },
    // burst detection: each user's PEAK 1-hour event rate, via a sliding
    // RANGE frame over microsecond offsets — the time-valued frame shape
    // (a ROWS frame counts rows, not time; a tumbling date_trunc bucket
    // splits a burst straddling the hour boundary — only RANGE over the
    // time axis sees every trailing-60-min window). Rate limiting, bot
    // flagging, and crawler QoS all read exactly this report. The frame
    // is (t − 1 h, t]: offsets in integer microseconds so both engines
    // bound the frame with exact arithmetic, RANGE peers (equal-ts
    // events) counted together deterministically. Scale: partitions by
    // user — series-parallel, state is one frame's rows; peak-moment
    // argmax is min(struct(−roll, us)), one aggregation, no re-window.
    "events_burst" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
        .rangeBetween(-3599999999L, 0)
      events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("us"))
        .withColumn("roll", count(lit(1)).over(w))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          min(struct((-col("roll")).as("nr"), col("us").as("us"))).as("b"))
        .select(col("user_id"), col("n_events"),
          (-col("b.nr")).as("peak_1h"), col("b.us").as("peak_at_us"))
        .orderBy(col("peak_1h").desc, col("user_id"))
        .limit(50)
    },
    // calendar densification (gap filling): purchase counts per hour
    // INCLUDING the silent hours as explicit zero rows — time-series
    // consumers (charting, anomaly detection, forecasting feeds) need
    // the gaps materialized, and a groupBy alone cannot produce rows
    // for hours it never saw. The hour grid is generated from the
    // observed min/max (one 1-row aggregate, broadcast) via sequence +
    // explode — bounded by the calendar, not the data — and the
    // per-hour aggregate left-joins onto it. Same grid-broadcast
    // discipline as events_active_users: the big side is reduced
    // BEFORE it meets the grid.
    "events_gap_fill" -> { (s, dir) =>
      val purch = events(s, dir).filter(col("event_type") === "purchase")
        .select(date_trunc("hour", col("ts")).as("h"), col("value"))
      val agg = purch.groupBy(col("h"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(18,4)")), 2)
            .cast("double").as("sum_value"))
      val bounds = purch.agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
      val grid = bounds.select(explode(sequence(col("lo"), col("hi"),
        expr("interval 1 hour"))).as("h"))
      grid.join(agg, Seq("h"), "left")
        .select(col("h"),
          coalesce(col("n"), lit(0L)).as("n"),
          coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
        .orderBy(col("h"))
    },
    // LOCF forward fill — the OTHER densification semantics: where
    // `events_gap_fill` writes zeros into silent hours, sensor/balance
    // series want the last observation carried forward. Per-user DAILY
    // grid (users × observed day span), left-joined with the per-day
    // aggregate, then `last(..., ignoreNulls)` over an unbounded-
    // preceding row frame picks the most recent real value. The window
    // partitions by user_id — grid-sized input, embarrassingly parallel
    // across series at any scale; days before a user's first
    // observation stay 0 via the coalesce.
    "events_locf" -> { (s, dir) =>
      val f = events(s, dir)
        .filter(col("user_id") < 50 && col("event_type") === "purchase")
        .select(col("user_id"), date_trunc("day", col("ts")).as("d"),
          col("value"))
      val daily = f.groupBy(col("user_id"), col("d"))
        .agg(round(sum(col("value").cast("decimal(18,4)")), 2)
          .cast("double").as("day_value"))
      val bounds = f.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"),
          expr("interval 1 day"))).as("d"))
      val grid = f.select(col("user_id")).distinct()
        .crossJoin(broadcast(bounds))
      val w = Window.partitionBy(col("user_id")).orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(daily, Seq("user_id", "d"), "left")
        .select(col("user_id"), col("d"),
          coalesce(last(col("day_value"), ignoreNulls = true).over(w),
            lit(0.0)).as("locf_value"))
        .orderBy(col("user_id"), col("d"))
    },
    // anomaly flagging over the densified series: per hour, z-score of
    // the purchase count against the TRAILING 24h window (gap-filled
    // first — without zero rows a silent hour would vanish from both
    // the window and the verdict, exactly the hours an anomaly monitor
    // exists to catch). Emits flagged hours (|z| >= 2). The window is
    // a single ordered series — grid-sized input (the per-hour
    // aggregate), not events; with many series the same window
    // partitions by series id and scales horizontally. Counts are
    // integers, so mean/stddev sums are exact in double and both
    // engines compute identical z at 4dp.
    "events_anomaly_zscore" -> { (s, dir) =>
      val w = Window.orderBy(col("h")).rowsBetween(-24, -1)
      queries("events_gap_fill")(s, dir)
        .withColumn("mu", avg(col("n")).over(w))
        .withColumn("sd", stddev_samp(col("n")).over(w))
        .filter(col("sd").isNotNull && col("sd") > 0)
        .withColumn("z", round((col("n") - col("mu")) / col("sd"), 4))
        .filter(abs(col("z")) >= 2)
        .select(col("h"), col("n"), round(col("mu"), 4).as("mu_24h"), col("z"))
        .orderBy(col("h"))
    },
    // engagement: DAU + trailing-7-day distinct actives per day. The
    // scale discipline is the ORDER of reduction: events collapse to
    // one row per (day, user) FIRST — corpus-sized work, one exact
    // aggregation — and every rolling computation runs on that user-day
    // table, which is bounded by users × days, orders of magnitude
    // below event count. The trailing window is then a broadcast of the
    // tiny day grid (365 rows/year regardless of data size) onto the
    // user-day table: the big side streams map-side, no range shuffle.
    // (A per-day distinct-over-ROWS window can't express distinct-over-
    // time-range; recomputing from user-days is the exact formulation
    // that parallelizes.)
    // DAU/MAU stickiness — the engagement KPI product teams actually
    // track (what share of the monthly audience shows up on a given
    // day): DAU over trailing-28-day distinct actives, per day. Same
    // reduce-before-grid shape as events_active_users: events collapse
    // ONCE to the (day, user) table, the tiny day grid broadcasts onto
    // it for the rolling distinct (28 rows/day of grid at any corpus
    // size — never a range-shuffled window over raw events); at 100 TB
    // the HLL twin's daily sketches replace the re-distinct, plan
    // unchanged. Integer counts; the ratio divides once at 6dp.
    "events_dau_stickiness" -> { (s, dir) =>
      val ud = events(s, dir)
        .select(to_date(col("ts")).as("d"), col("user_id")).distinct()
        .localCheckpoint() // 2 consumers: DAU + the rolling join
      val dau = ud.groupBy(col("d"))
        .agg(countDistinct(col("user_id")).as("dau"))
      val grid = dau.select(col("d").as("gd"))
      val mau = broadcast(grid)
        .join(ud, datediff(col("gd"), col("d")).between(0, 27))
        .groupBy(col("gd"))
        .agg(countDistinct(col("user_id")).as("mau28"))
      dau.join(mau, col("d") === col("gd"))
        .select(col("d"), col("dau"), col("mau28"),
          round(col("dau").cast("double") / col("mau28"), 6)
            .as("stickiness"))
        .orderBy(col("d"))
    },
    "events_active_users" -> { (s, dir) =>
      val ud = events(s, dir)
        .select(to_date(col("ts")).as("d"), col("user_id")).distinct()
      val dau = ud.groupBy(col("d"))
        .agg(countDistinct(col("user_id")).as("dau"))
      val grid = dau.select(col("d").as("gd"))
      val wau = broadcast(grid)
        .join(ud, datediff(col("gd"), col("d")).between(0, 6))
        .groupBy(col("gd"))
        .agg(countDistinct(col("user_id")).as("wau7"))
      dau.join(wau, col("d") === col("gd"))
        .select(col("d"), col("dau"), col("wau7"))
        .orderBy(col("d"))
    },
    // sketch-union twin of events_active_users: the exact WAU above
    // re-joins the (day, user) distinct stream against a 7-day grid and
    // re-distincts — a 7× re-scan of corpus-sized distinct state. The
    // production shape at 100 TB: ONE DataSketches HLL sketch per day
    // (`hll_sketch_agg`), WAU = estimate of the UNION of the 7 daily
    // sketches (`hll_union_agg`) — daily sketches are KB-sized,
    // mergeable, and reusable across every rolling horizon (WAU/MAU/
    // arbitrary windows) without touching raw events again. No oracle
    // (DuckDB's approx_count_distinct is a different HLL
    // implementation); EventsHllSpec pins both estimates against the
    // exact twin (DataSketches runs exact sparse mode at fixture
    // cardinalities, and ≤2% at promotion scale).
    "events_active_users_hll" -> { (s, dir) =>
      val daily = events(s, dir)
        .groupBy(to_date(col("ts")).as("d"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      val grid = daily.select(col("d").as("gd"))
      val wau = broadcast(grid)
        .join(daily, datediff(col("gd"), col("d")).between(0, 6))
        .groupBy(col("gd"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("wau7_est"))
      daily.select(col("d"), hll_sketch_estimate(col("sk")).as("dau_est"))
        .join(wau, col("d") === col("gd"))
        .select(col("d"), col("dau_est"), col("wau7_est"))
        .orderBy(col("d"))
    },
    // sketch-union twin of events_dau_stickiness (the claim the r12
    // verdict asked to GATE): the exact twin re-distincts the trailing
    // 28-day user set per day — 28× re-scan of corpus-sized distinct
    // state — while the 100 TB shape is ONE DataSketches HLL per day,
    // MAU28 = estimate of the union of 28 daily sketches: KB-sized,
    // mergeable, reusable across every horizon without touching raw
    // events again. No oracle (DuckDB's approx_count_distinct is a
    // different HLL implementation); EventsHllSpec pins DAU/MAU28/
    // stickiness against the exact twin — equal in sparse mode at
    // fixture cardinalities, ≤2% past dense promotion.
    "events_dau_stickiness_hll" -> { (s, dir) =>
      val daily = events(s, dir)
        .groupBy(to_date(col("ts")).as("d"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      val grid = daily.select(col("d").as("gd"))
      val mau = broadcast(grid)
        .join(daily, datediff(col("gd"), col("d")).between(0, 27))
        .groupBy(col("gd"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("mau28_est"))
      daily.select(col("d"), hll_sketch_estimate(col("sk")).as("dau_est"))
        .join(mau, col("d") === col("gd"))
        .select(col("d"), col("dau_est"), col("mau28_est"),
          round(col("dau_est").cast("double") / col("mau28_est"), 6)
            .as("stickiness_est"))
        .orderBy(col("d"))
    },
    // sessionization: 30-minute inactivity gap splits sessions
    "events_sessions" -> { (s, dir) =>
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val withGap = events(s, dir)
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L, 1)
            .otherwise(0))
        .withColumn("sess_id", sum(col("new_sess")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val perSession = withGap.groupBy(col("user_id"), col("sess_id"))
        .agg(count(lit(1)).as("sess_events"))
      perSession.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("sess_events")).cast("long").as("n_events"),
          max(col("sess_events")).cast("long").as("max_session_events"))
        .orderBy(col("user_id"))
    },
    // weekly COHORT RETENTION: users grouped by their first-activity
    // week, counted active per subsequent week offset — the retention
    // matrix every activation dashboard draws. Week offsets come from
    // integer day arithmetic (both endpoints week-truncated, so the /7
    // is exact), not engine-specific week-diff semantics.
    "events_cohort_retention" -> { (s, dir) =>
      val e = events(s, dir)
        .select(col("user_id"),
          to_date(date_trunc("week", col("ts"))).as("wk"))
        .distinct()
      val cohort = e.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
      e.join(cohort, "user_id")
        .withColumn("week_offset",
          (datediff(col("wk"), col("cohort_wk")) / 7).cast("long"))
        .groupBy(col("cohort_wk"), col("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .orderBy(col("cohort_wk"), col("week_offset"))
    },
    // Cohort LIFETIME VALUE — the revenue sibling of
    // events_cohort_retention: per (signup-week cohort, week age),
    // cumulative purchase value per cohort member. Retention says who
    // comes back; the LTV curve says what they're WORTH as they age —
    // the payback-period table growth spend is planned against. Cohort
    // from ALL event types (first touch), value from purchases only;
    // week arithmetic stays exact (date_trunc week is Monday-anchored
    // in both engines, offsets are day-diffs div 7 on multiples of 7);
    // money through the decimal-sum discipline, cumulative via a
    // cohort-keyed running window over the collapsed (cohort, age)
    // table (cohorts×ages rows — broadcast-sized, the corpus never
    // re-sorts). Per-member normalization divides by the FIXED cohort
    // head-count (a cohort's denominator never changes as it ages).
    "events_cohort_ltv" -> { (s, dir) =>
      val e = events(s, dir)
      val cohort = e.groupBy(col("user_id"))
        .agg(to_date(date_trunc("week", min(col("ts")))).as("cohort_wk"))
      val sizes = cohort.groupBy(col("cohort_wk"))
        .agg(count(lit(1)).as("cohort_size"))
      val purch = e.filter(col("event_type") === "purchase")
        .select(col("user_id"),
          to_date(date_trunc("week", col("ts"))).as("wk"), col("value"))
        .join(cohort, "user_id")
        .withColumn("age_wk", (datediff(col("wk"), col("cohort_wk")) / 7).cast("long"))
        .groupBy(col("cohort_wk"), col("age_wk"))
        .agg(sum(col("value").cast("decimal(18,4)")).as("wk_value"),
          countDistinct(col("user_id")).as("n_buyers"))
      val w = Window.partitionBy(col("cohort_wk")).orderBy(col("age_wk"))
        .rowsBetween(Window.unboundedPreceding, 0)
      purch
        .withColumn("cum_value", sum(col("wk_value")).over(w))
        .join(sizes, "cohort_wk")
        .select(col("cohort_wk"), col("age_wk"), col("cohort_size"),
          col("n_buyers"),
          round(col("cum_value"), 2).cast("double").as("cum_value"),
          // per-member LTV in exact integer MICRO-units (floor): the
          // decimal/double quotient can land exactly on a 6dp rounding
          // tie (denominators 2^k·5^m), where the engines' round
          // implementations disagree — integer floor division cannot
          expr("CAST(cum_value * 1000000 AS BIGINT) div cohort_size")
            .as("ltv_micros_per_user"))
        .orderBy(col("cohort_wk"), col("age_wk"))
    },
    // conversion FUNNEL: users reaching view → click-after-view →
    // purchase-after-click, each stage ordered by event time. The
    // min-timestamp chaining shape (aggregate per stage, join, strict
    // ts inequality) is one scan per stage with partial aggregation —
    // no per-user event sorting, no window over the full stream.
    "events_funnel" -> { (s, dir) =>
      val e = events(s, dir).select(col("user_id"), col("event_type"), col("ts"))
      val v = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
      val c = e.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("ts") > col("v_ts"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("c_ts"))
      val p = e.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(col("ts") > col("c_ts"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
      v.agg(count(lit(1)).as("viewed"))
        .crossJoin(c.agg(count(lit(1)).as("clicked_after_view")))
        .crossJoin(p.agg(count(lit(1)).as("purchased_after_click")))
    },
    // Funnel conversion LATENCY — the time dimension events_funnel's
    // counts omit: for each user who advanced a step (first view →
    // first subsequent click → first subsequent purchase, the same
    // strictly-ordered min-ts chain), how long did the step take?
    // Reported per step as exact integer-microsecond aggregates with
    // ONE double division at the end (the events_dwell discipline —
    // no per-row float accumulation to drift under repartitioning).
    // The p50-class latency is what an activation team actually
    // tunes; avg/max is the deterministic cross-engine core of it.
    // Scale: three user-keyed min-aggregations + two user-key joins —
    // the same one-shuffle-per-step shape as events_funnel.
    "events_funnel_latency" -> { (s, dir) =>
      val e = events(s, dir).select(col("user_id"), col("event_type"), col("ts"))
      val v = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
      val c = e.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("ts") > col("v_ts"))
        .groupBy(col("user_id"), col("v_ts")).agg(min(col("ts")).as("c_ts"))
      val p = e.filter(col("event_type") === "purchase")
        .join(c.select(col("user_id"), col("c_ts")), "user_id")
        .filter(col("ts") > col("c_ts"))
        .groupBy(col("user_id"), col("c_ts")).agg(min(col("ts")).as("p_ts"))
      val s1 = c.select(lit("1_view_to_click").as("step"),
        (unix_micros(col("c_ts")) - unix_micros(col("v_ts"))).as("gap_us"))
      val s2 = p.select(lit("2_click_to_purchase").as("step"),
        (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("gap_us"))
      s1.unionByName(s2)
        .groupBy(col("step"))
        .agg(count(lit(1)).as("n_users"),
          round(sum(col("gap_us")).cast("double") / count(lit(1)) / 1000000.0, 6)
            .as("avg_gap_s"),
          max(col("gap_us")).as("max_gap_us"))
        .orderBy(col("step"))
    },
    // sessionization via Spark's BUILT-IN session_window — the twin of
    // the hand-rolled gaps-and-islands `events_sessions` above, proving
    // the built-in's merge semantics against the same DuckDB islands
    // oracle. One boundary difference is inherent: session_window's
    // windows are [ts, ts+gap), so an event exactly `gap` after its
    // predecessor starts a NEW session (oracle uses >=), while the
    // lag-based version keeps it (oracle uses >). At scale the built-in
    // is one session-merging aggregation instead of two window passes +
    // two aggregations — fewer shuffles, and it works unchanged in
    // Structured Streaming with a watermark.
    "events_sessions_sw" -> { (s, dir) =>
      val perSession = events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("sess_events"))
      perSession.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("sess_events")).cast("long").as("n_events"),
          max(col("sess_events")).cast("long").as("max_session_events"))
        .orderBy(col("user_id"))
    },
    // as-of join: for each purchase, the most recent prior click by the
    // same user. Spark lacks ASOF JOIN; composed from a running
    // conditional max over an ordered window (preference (a): existing
    // ops express the semantics, no custom plan needed). Exact integer
    // sums keep the oracle bit-stable.
    "events_asof_join" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .withColumn("last_click_us",
          max(when(col("event_type") === "click", unix_micros(col("ts")))).over(w))
        .filter(col("event_type") === "purchase")
        .withColumn("gap_us",
          when(col("last_click_us").isNotNull &&
            (unix_micros(col("ts")) > col("last_click_us")),
            unix_micros(col("ts")) - col("last_click_us")))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_purchases"),
          count(col("gap_us")).as("n_matched"),
          coalesce(sum(col("gap_us")), lit(0L)).cast("long").as("sum_gap_us"))
        .orderBy(col("user_id"))
    },
    // as-of semantics through the custom Catalyst operator
    // (graft.plans.AsOfJoinExec — merge exec, SMJ distribution) with
    // STRICT time inequality: matching on (p_ts - 1µs) means the newest
    // click strictly before the purchase wins, which is tie-proof — the
    // window variant above resolves same-microsecond click/purchase
    // ties by event_id order, a detail the merge operator deliberately
    // doesn't replicate. The oracle is a correlated max-subquery with
    // the same strict semantics, hash-checked in DuckDB.
    "events_asof_custom" -> { (s, dir) =>
      val ev = events(s, dir).filter(col("event_type").isin("click", "purchase"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          (col("ts") - expr("INTERVAL 1 MICROSECOND")).as("p_cut"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      graft.plans.AsOfJoin.asof(purchases, clicks, "p_user", "c_user", "p_cut", "c_ts")
        .withColumn("gap_us",
          when(col("c_ts").isNotNull,
            unix_micros(col("p_ts")) - unix_micros(col("c_ts"))))
        .groupBy(col("p_user").as("user_id"))
        .agg(count(lit(1)).as("n_purchases"),
          count(col("gap_us")).as("n_matched"),
          coalesce(sum(col("gap_us")), lit(0L)).cast("long").as("sum_gap_us"))
        .orderBy(col("user_id"))
    },
    // FORWARD as-of with a tolerance through the same custom operator —
    // the click-to-conversion shape: for each click, the EARLIEST
    // purchase at-or-after it, but only within 1 hour (pandas
    // merge_asof direction='forward', tolerance). Promotes the exec's
    // direction/tolerance parameters (unit-tested in AsOfJoinSpec)
    // under the DuckDB oracle: a correlated MIN-subquery with the same
    // inclusive bounds. Same O(n+m)-per-partition merge at scale.
    "events_asof_fwd" -> { (s, dir) =>
      val ev = events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      graft.plans.AsOfJoin.asof(clicks, purchases,
          "c_user", "p_user", "c_ts", "p_ts",
          tolerance = 3600L * 1000000L, direction = "forward")
        .withColumn("gap_us",
          when(col("p_ts").isNotNull,
            unix_micros(col("p_ts")) - unix_micros(col("c_ts"))))
        .groupBy(col("c_user").as("user_id"))
        .agg(count(lit(1)).as("n_clicks"),
          count(col("gap_us")).as("n_converted"),
          coalesce(sum(col("gap_us")), lit(0L)).cast("long").as("sum_gap_us"))
        .orderBy(col("user_id"))
    },
    // NEAREST as-of with a tolerance — the third direction of the
    // custom merge exec (pandas merge_asof direction='nearest'): for
    // each purchase, the click with the smallest |gap| within 30
    // minutes, either side; exact-distance ties break BACKWARD
    // (deterministic, matching the exec). n_back splits the matches by
    // side so the oracle checks the tie-break rule itself, not just the
    // gap sums. Same O(n+m)-per-partition merge at scale — both
    // candidate directions fall out of one sorted pass.
    "events_asof_near" -> { (s, dir) =>
      val ev = events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      graft.plans.AsOfJoin.asof(purchases, clicks,
          "p_user", "c_user", "p_ts", "c_ts",
          tolerance = 1800L * 1000000L, direction = "nearest")
        .withColumn("gap_us",
          when(col("c_ts").isNotNull,
            abs(unix_micros(col("p_ts")) - unix_micros(col("c_ts")))))
        .withColumn("is_back",
          col("c_ts").isNotNull && col("c_ts") <= col("p_ts"))
        .groupBy(col("p_user").as("user_id"))
        .agg(count(lit(1)).as("n_purchases"),
          count(col("gap_us")).as("n_matched"),
          sum(when(col("is_back"), 1L).otherwise(0L)).cast("long").as("n_back"),
          coalesce(sum(col("gap_us")), lit(0L)).cast("long").as("sum_gap_us"))
        .orderBy(col("user_id"))
    },
    // scalar JSON + date functions over the props column
    "events_json_props" -> { (s, dir) =>
      events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"),
          // cast to long: DuckDB's year()/month() return BIGINT
          year(col("ts")).cast("long").as("y"),
          month(col("ts")).cast("long").as("m"))
        .groupBy(col("event_type"), col("y"), col("m"))
        .agg(count(lit(1)).as("n"),
          sum(col("k")).cast("long").as("sum_k"),
          max(col("k")).cast("long").as("max_k"))
        .orderBy(col("event_type"), col("y"), col("m"))
    },
    // the Spark 4 VARIANT twin of events_json_props: parse_json once
    // into the binary variant encoding, then variant_get typed paths —
    // the modern semi-structured path (vs per-access get_json_object
    // string re-parsing; with shredding, variant subfields
    // column-prune/push down like real columns at the scan). Same
    // semantics, same oracle shape — DuckDB replays via its own JSON
    // extraction, which is the point: the encoding is an engine-side
    // optimization, not a semantics change.
    "events_props_variant" -> { (s, dir) =>
      events(s, dir)
        .select(col("event_type"),
          variant_get(parse_json(col("props")), "$.k", "long").as("k"),
          year(col("ts")).cast("long").as("y"),
          month(col("ts")).cast("long").as("m"))
        .groupBy(col("event_type"), col("y"), col("m"))
        .agg(count(lit(1)).as("n"),
          sum(col("k")).cast("long").as("sum_k"),
          max(col("k")).cast("long").as("max_k"))
        .orderBy(col("event_type"), col("y"), col("m"))
    },
    // range join: purchases within the hour after each click, per user.
    // The naive inequality join is a nested-loop plan in Spark; instead
    // band the time axis — each purchase lands in ONE hour bucket, each
    // click probes its own bucket and the next (a fixed 2-way explode),
    // and the exact range predicate refines the equi-join candidates.
    // The join becomes a plain hash join on (user_id, bucket) that
    // shuffles linearly and never degenerates, because a candidate pair
    // must share a bucket and buckets are bounded by the range width.
    "events_range_join" -> { (s, dir) =>
      val HourUs = 3600000000L
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          unix_micros(col("ts")).as("c_us"))
        .withColumn("bucket", expr(s"c_us div $HourUs"))
        .withColumn("bucket", explode(array(col("bucket"), col("bucket") + 1)))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), unix_micros(col("ts")).as("p_us"))
        .withColumn("bucket", expr(s"p_us div $HourUs"))
      clicks.join(purchases,
          clicks("user_id") === purchases("p_user") &&
            clicks("bucket") === purchases("bucket"))
        .filter(col("p_us") > col("c_us") && col("p_us") <= col("c_us") + HourUs)
        .groupBy(col("user_id"))
        .agg(countDistinct(col("click_id")).as("n_converting_clicks"),
          count(lit(1)).as("n_pairs"))
        .orderBy(col("user_id"))
    },
    // pivot: per-user event-type counts as columns. Values are declared
    // explicitly — a two-pass pivot (distinct scan to discover values,
    // then the real aggregation) is a full extra read at 100 TB, and an
    // open value set would make the output schema data-dependent.
    // Compiles to ONE partial/final aggregation with conditional
    // counters, exactly the CASE-WHEN form of the oracle.
    "events_pivot_types" -> { (s, dir) =>
      val types = Seq("click", "error", "purchase", "signup", "view")
      events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .select(col("user_id") +: types.map(t =>
          coalesce(col(t), lit(0L)).cast("long").as(s"n_$t")): _*)
        .orderBy(col("user_id"))
    },
    // top event value per user via window rank (late-data-free batch shape)
    "events_top_per_user" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id"))
      events(s, dir)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("user_id"), col("event_id"), col("event_type"),
          round(col("value"), 2).as("top_value"))
        .orderBy(col("user_id"))
    },
    // skew-safe dimension join under the oracle gate: Layout.saltedJoin
    // spreads each user_id over 8 subkeys before the shuffle — the knob
    // for when one hot key (a bot user) would pin a single reducer. The
    // oracle is the PLAIN join, so this row staying green proves salting
    // is semantics-free; the plan shows the join keyed on
    // (user_id, __graft_salt). At 100 TB you'd reserve this for measured
    // hot keys (Layout.skewReport) and let AQE handle the long tail.
    "events_salted_join" -> { (s, dir) =>
      val cust = customer(s, dir)
        .select(col("c_custkey").as("user_id"), col("c_nationkey"))
      Layout.saltedJoin(events(s, dir), cust, "user_id", salts = 8)
        .groupBy(col("c_nationkey").cast("long").as("nationkey"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
        .orderBy(col("nationkey"))
    },
    // the pre-salting diagnostic under the same gate: Layout.skewReport's
    // hottest keys with counts — the report that decides whether
    // events_salted_join's treatment is warranted. One partial-aggregated
    // pass + distributed top-k (TakeOrderedAndProject).
    "events_skew_report" -> { (s, dir) =>
      Layout.skewReport(events(s, dir), "user_id", topN = 10)
    },
    // Markov transition matrix over per-user event streams: P(next |
    // prev) for every adjacent event-type pair — the one-step sibling of
    // ml_sequence_pairs' 3-gram contexts, and the model behind "what do
    // users do after X" product questions. Scale shape: ONE user-keyed
    // shuffle (the lag window — per-task state is one user's stream),
    // then everything collapses to the |types|² matrix, on which the
    // row-normalizing window is free. Ties at identical ts break on
    // event_id in both engines (the established events-ts idiom);
    // probabilities round to 6dp from an exact bigint/bigint ratio.
    "events_transitions" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val pairs = events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNotNull)
        .groupBy(col("prev"), col("event_type").as("next"))
        .agg(count(lit(1)).as("n"))
      pairs
        .withColumn("p", round(col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy(col("prev"))), 6))
        .orderBy(col("prev"), col("next"))
    },
    // Entropy rate of the first-order behavior Markov chain — how
    // predictable is the next event given the current one? Per state:
    // H(next|prev) = −Σ p·ln p over the transition row; the rate
    // weights each state's entropy by its empirical frequency (the
    // stationary estimate). This is the single number behind "is this
    // traffic bot-like" (near 0) vs "random" (near ln|types|), and the
    // information-theoretic summary of events_transitions' matrix.
    // Same one-shuffle user-keyed lag as the matrix; everything after
    // runs on the ≤|types|² count table, with terms rounded to 10dp
    // and summed in exact decimal (order-independent under any
    // partitioning).
    "events_markov_entropy" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wp = Window.partitionBy(col("prev"))
      val wall = Window.partitionBy()
      val c = events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNotNull)
        .groupBy(col("prev"), col("event_type").as("next"))
        .agg(count(lit(1)).as("n"))
      val per = c
        .withColumn("np", sum(col("n")).over(wp))
        .withColumn("tot", sum(col("n")).over(wall))
        .withColumn("hterm", round(
          -(col("n").cast("double") / col("np")) *
            log(col("n").cast("double") / col("np")), 10)
          .cast("decimal(20,10)"))
        .groupBy(col("prev"), col("np"), col("tot"))
        .agg(sum(col("hterm")).as("hd"))
      per
        .withColumn("rterm", round(
          col("np").cast("double") / col("tot") * col("hd").cast("double"), 10)
          .cast("decimal(20,10)"))
        .select(col("prev"), col("np").as("n"),
          round(col("hd"), 6).cast("double").as("h"),
          round(sum(col("rterm")).over(Window.partitionBy()), 6)
            .cast("double").as("entropy_rate"))
        .orderBy(col("prev"))
    },
    // Dwell time: how long until the user's NEXT event, by current
    // event type — the engagement metric behind "which screens do users
    // linger on". Same one-shuffle lead-window shape as
    // events_transitions; gaps stay exact integer microseconds through
    // the aggregation (the sum is exact, the average divides once at
    // the end — no per-row float accumulation to drift under
    // repartitioning), max reported exact.
    "events_dwell" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("next_us", lead(unix_micros(col("ts")), 1).over(w))
        .filter(col("next_us").isNotNull)
        .withColumn("gap_us", col("next_us") - unix_micros(col("ts")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("gap_us")).cast("double") / count(lit(1)) / 1000000.0, 6)
            .as("avg_gap_s"),
          max(col("gap_us")).as("max_gap_us"))
        .orderBy(col("event_type"))
    },
    // Windowed event deduplication: telemetry pipelines receive the
    // same logical event more than once (client retries, at-least-once
    // buses); the standard fix keeps the FIRST event per
    // (user, type, 5-minute bucket). Bucketing — not a kept-chain scan
    // — is the formulation that distributes: one window keyed by the
    // dedup key, per-task state one key's bucket, and the same key set
    // feeds Spark's dropDuplicatesWithinWatermark in the streaming twin
    // (EventStream.dedupEvents, spec-pinned equal). Reports per-type
    // raw/kept/dup-rate.
    "events_dedup_window" -> { (s, dir) =>
      val bucket = expr("unix_micros(ts) div 300000000")
      val w = Window.partitionBy(col("user_id"), col("event_type"), col("bucket"))
        .orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .withColumn("bucket", bucket)
        .withColumn("rk", row_number().over(w))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_raw"),
          sum(when(col("rk") === 1, 1L).otherwise(0L)).as("n_kept"))
        .select(col("event_type"), col("n_raw"), col("n_kept"),
          round((col("n_raw") - col("n_kept")).cast("double") / col("n_raw"), 6)
            .as("dup_rate"))
        .orderBy(col("event_type"))
    },
    // Seasonality matrix: activity by (day-of-week, hour-of-day) — the
    // load-shape profile behind capacity planning and anomaly
    // baselines. Both coordinates come from pure UTC epoch arithmetic
    // (integer div/mod on microseconds, day 0 anchored so column `dow`
    // is a stable 0..6 cycle) instead of engine calendar functions,
    // whose week-start conventions differ — the cross-engine-safe
    // formulation. One partial-aggregated pass to a ≤168-row matrix.
    "events_seasonality" -> { (s, dir) =>
      events(s, dir)
        .select(expr("((unix_micros(ts) div 86400000000) + 4) % 7").as("dow"),
          expr("(unix_micros(ts) div 3600000000) % 24").as("hour"),
          col("value"))
        .groupBy(col("dow"), col("hour"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(18,4)")), 2)
            .cast("double").as("sum_value"))
        .orderBy(col("dow"), col("hour"))
    },
    // Per-user journey export — the feature-store row a behavioral
    // model trains on: activity span, event volume, spend, session
    // count (30-min gaps), and modal event type, one wide row per user.
    // Three user-keyed aggregations reusing one shuffle key (AQE reuses
    // the exchange), never a corpus-wide window; the modal type is the
    // min(struct(-n, type)) argmax idiom — one aggregation, no rank
    // window. The first 20 users bound the output (driver compare),
    // with the predicate pushed to the scan.
    "events_user_journey" -> { (s, dir) =>
      val e = events(s, dir).filter(col("user_id") < 20)
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val sess = e
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L, 1L)
            .otherwise(0L))
        .groupBy(col("user_id")).agg(sum(col("new_sess")).as("n_sessions"))
      val top = e.groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("tn"))
        .groupBy(col("user_id"))
        .agg(min(struct((-col("tn")).as("neg"), col("event_type").as("t"))).as("m"))
        .select(col("user_id"), col("m.t").as("top_type"))
      e.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"),
          round(sum(col("value").cast("decimal(18,4)")), 2)
            .cast("double").as("total_value"))
        .join(sess, "user_id")
        .join(top, "user_id")
        .orderBy(col("user_id"))
    },
    // Numeric-value histogram per event type (50-unit buckets) — the
    // distribution profile behind alerting thresholds and partition
    // sizing. Pure codegen bucket projection + one partial-aggregated
    // count; value rounds to 6dp before the bucket floor so both
    // engines bucket identical doubles (the emb_value_hist discipline).
    "events_value_buckets" -> { (s, dir) =>
      events(s, dir)
        .select(col("event_type"),
          floor(round(col("value"), 6) / 50).cast("long").as("bucket"),
          col("value"))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("n"),
          round(min(col("value")), 6).as("min_v"),
          round(max(col("value")), 6).as("max_v"))
        .orderBy(col("event_type"), col("bucket"))
    },
    // Trailing exponential smoothing (EWMA, α=0.7) of each user's value
    // series — the denoised signal feeding alerting/forecasting. The
    // recursive y_t = αx_t + (1−α)y_{t−1} is a prefix-product, which no
    // SQL window computes directly; a 16-row trailing frame carries
    // ≥ 1−0.3¹⁶ ≈ 1−4e−9 of the weight mass, so the windowed form
    // Σ α(1−α)^(n−i)·x_i / (1−(1−α)^n) over ROWS 15 PRECEDING is the
    // truncated-kernel equivalent both engines can evaluate on an
    // explicit array (collect_list over the frame + an indexed-lambda
    // fold — identical left-to-right summation order on both sides).
    // Scale: partitioned by user, state = one 16-element array per row,
    // no corpus shuffle beyond the user partitioning; at 100 TB the
    // same frame runs inside each user's time-sorted partition.
    "events_ewma" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id")).rowsBetween(-15, 0)
      events(s, dir)
        .withColumn("vs", collect_list(col("value")).over(w))
        .select(col("user_id"), col("ts"),
          round(
            expr("""aggregate(
              zip_with(vs, sequence(1, size(vs)),
                (x, i) -> x * 0.7d * power(0.3d, size(vs) - i)),
              0d, (a, x) -> a + x)""")
              / (lit(1.0) - pow(lit(0.3), size(col("vs")))), 6).as("ewma"))
        .orderBy(col("user_id"), col("ts"))
    },
    // Lag-1 / lag-24 autocorrelation of the hourly arrival series — the
    // periodicity diagnostic behind seasonality modeling: r(1) ≈ local
    // persistence, r(24) ≈ daily cycle strength (this corpus's hourly
    // load is near-white, so both hover near 0 — the number says so
    // instead of the eye). The series densifies over the full
    // min..max hour grid (gaps are real zeros, not missing rows —
    // skipping them biases r upward), built by exploding one
    // broadcast bounds row; the Pearson terms are EXACT integer sums
    // (Σx, Σxy, Σx² over bigint counts) with one double division at
    // the end, so the result is identical under any partitioning —
    // corr() itself accumulates doubles in partition order and would
    // not be. Scale: the corpus collapses to ≤|hours| rows in one
    // partial-aggregated pass; the self-join and moment sums run on
    // the tiny series table.
    "events_autocorr" -> { (s, dir) =>
      val hrs = events(s, dir)
        .select(expr("unix_micros(ts) div 3600000000").as("h"))
        .groupBy(col("h")).agg(count(lit(1)).as("c"))
      val grid = hrs.agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("h"))
      val series = grid.join(hrs, Seq("h"), "left")
        .select(col("h"), coalesce(col("c"), lit(0L)).as("c"))
      val x = series.select(col("h"), col("c").as("x"),
        explode(array(lit(1L), lit(24L))).as("k"))
      val pairs = x.join(
        series.select(col("h").as("h2"), col("c").as("y")),
        col("h2") === col("h") + col("k"))
      pairs.groupBy(col("k"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("k"), col("n_pairs"),
          round((col("n_pairs") * col("sxy") - col("sx") * col("sy")).cast("double") /
            sqrt((col("n_pairs") * col("sxx") - col("sx") * col("sx")).cast("double") *
              (col("n_pairs") * col("syy") - col("sy") * col("sy")).cast("double")), 6)
            .as("r"))
        .orderBy(col("k"))
    },
    // RFM segmentation (recency / frequency / monetary quintiles) — the
    // classic lifecycle-marketing cut of an event log. Quintiles are
    // ntile(5) over the USER-level aggregate (corpus collapses to one
    // row per user first), fully tie-broken by user_id so both engines
    // assign identical quintiles; monetary sums in exact decimal so the
    // ordering ntile depends on is reproducible. Output = the 5×5×5
    // segment-occupancy grid. Scale: the three global ntile sorts run
    // over the user table (corpus-sublinear but still growing) — at
    // real scale the same cut uses approx-quantile boundaries instead
    // of a global sort; the segment semantics are unchanged.
    "events_rfm" -> { (s, dir) =>
      val m = events(s, dir).groupBy(col("user_id"))
        .agg(max(col("ts")).as("last_ts"), count(lit(1)).as("freq"),
          sum(col("value").cast("decimal(18,4)")).as("mon"))
      val q = m.select(col("user_id"),
        ntile(5).over(Window.orderBy(col("last_ts").desc, col("user_id")))
          .cast("long").as("r_q"),
        ntile(5).over(Window.orderBy(col("freq").desc, col("user_id")))
          .cast("long").as("f_q"),
        ntile(5).over(Window.orderBy(col("mon").desc, col("user_id")))
          .cast("long").as("m_q"))
      q.groupBy(col("r_q"), col("f_q"), col("m_q"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("r_q"), col("f_q"), col("m_q"))
    },
    // CUSUM changepoint detection on each event type's hourly arrival
    // series: cusum_t = Σ(n_i − μ) up to hour t (written cum_n − t·μ so
    // both engines do the identical exact-integer cumsum and one final
    // double multiply), changepoint = the hour of max |cusum| (Page
    // 1954's level-shift estimator). Scale: the corpus collapses to
    // type×hour counts in one partial-aggregated pass; every window
    // after that runs on the bounded hourly series, and the argmax is a
    // row_number over it — no second corpus pass, no driver state.
    "events_changepoint" -> { (s, dir) =>
      val wAll = Window.partitionBy(col("event_type"))
      val wOrd = Window.partitionBy(col("event_type")).orderBy(col("hr"))
      val c = events(s, dir)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("n"))
        .withColumn("mu", avg(col("n")).over(wAll))
        .withColumn("cum_n", sum(col("n")).over(wOrd))
        .withColumn("rn", row_number().over(wOrd))
        .select(col("event_type"), col("hr"),
          round(col("cum_n") - col("rn") * col("mu"), 6).as("cusum"))
      val pk = Window.partitionBy(col("event_type"))
        .orderBy(abs(col("cusum")).desc, col("hr"))
      c.withColumn("pk", row_number().over(pk)).filter(col("pk") === 1)
        .select(col("event_type"), col("hr").as("peak_hr"),
          col("cusum").as("peak_cusum"))
        .orderBy(col("event_type"))
    },
    // CUPED variance-reduced experiment readout (Deng, Xu, Kohavi &
    // Walker 2013, WSDM: "Improving the Sensitivity of Online
    // Controlled Experiments") — the adjustment every large A/B
    // platform applies before the t-test: regress the experiment
    // metric Y on the PRE-period covariate X (same metric, before the
    // split instant) and analyze Y' = Y − θ(X − X̄), which strips the
    // between-user variance X explains. The stream splits at the exact
    // mid-span microsecond (integer div — the ml_time_split rule); X/Y
    // are per-user 6dp mean values per side; users present on both
    // sides enroll; arm assignment is user_id % 2 (hash-by-entity, the
    // ml_crossval_folds rule). θ = cov(X,Y)/var(X) from exact decimal
    // moment sums over the pooled enrollment. Output per arm: size,
    // raw and adjusted means (they differ — the adjustment recenters
    // each user), and raw vs adjusted variance — the variance ratio IS
    // the sensitivity win the method buys.
    //
    // Scale shape: two partial-aggregated corpus passes collapse to
    // per-user rows (entity-bounded); θ is a five-sum aggregate over
    // that table broadcast back as one row; the arm readout is a
    // 2-row groupBy. Nothing after the per-user collapse exceeds user
    // cardinality. Determinism: integer-microsecond cut; 6dp means;
    // products of 6dp values multiplied EXACTLY in decimal domain
    // (DetMean.prod12 — never rounded, the r12 tie-class fix); θ and
    // its inputs each pinned at 10dp in one evaluation order.
    "events_cuped" -> { (s, dir) =>
      val ev = events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("us"), col("value"))
      val span = ev.agg(min(col("us")).as("lo"), max(col("us")).as("hi"))
      val cut = ev.crossJoin(broadcast(span))
        .withColumn("cut", expr("lo + (hi - lo) div 2"))
      def side(pre: Boolean) = cut
        .filter(if (pre) col("us") < col("cut") else col("us") >= col("cut"))
        .groupBy(col("user_id"))
        .agg(DetMean.mean6(sum(DetMean.el10(col("value"))), count(lit(1)))
          .as(if (pre) "x" else "y"))
      // user-bounded; materialized because BOTH the θ moment pass and
      // the per-user adjustment consume it — without this the two
      // corpus collapses would replay once per consumer (4 scans)
      cupedArms(side(pre = true).join(side(pre = false), Seq("user_id"))
        .localCheckpoint())
    },
    // Difference-in-differences (Card & Krueger 1994 shape) — the
    // quasi-experimental estimator for a rollout with no randomized
    // holdout: did = (treated_post − treated_pre) − (control_post −
    // control_pre), which nets out both the stable group difference
    // and the common time trend. Period splits at the exact mid-span
    // microsecond (integer div), treatment is user_id % 2 (the
    // entity-hash rule). One row out: the four cell sizes and 6dp
    // means, and the estimate.
    //
    // Scale shape: the whole 2×2 is ONE conditional-aggregation pass —
    // four filtered decimal sums and counts partial-aggregate map-side
    // to a single row; no join, no shuffle beyond the final 1-row
    // merge. The only prerequisite pass is the 2-value span agg
    // broadcast back as the cut. This is the shape that makes DiD free
    // at 100 TB: it rides any existing scan.
    "events_diff_in_diff" -> { (s, dir) =>
      val ev = events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("us"), col("value"))
      val span = ev.agg(min(col("us")).as("lo"), max(col("us")).as("hi"))
      didCells(ev.crossJoin(broadcast(span))
        .withColumn("cut", expr("lo + (hi - lo) div 2")),
        post = col("us") >= col("cut"))
    },
    // k-anonymity audit (Sweeney 2002, IJUFKS) — the privacy gate a
    // training-data release runs over its quasi-identifiers: with QI =
    // (event_type, hour-of-day, value decade), every row should hide
    // in a group of ≥ k peers. Per event_type: the realized k (the
    // SMALLEST group), group count, and the row count + share sitting
    // in groups below k=5 — the re-identification exposure the release
    // either fixes (coarsen the QI) or suppresses.
    //
    // Scale shape: one partial-aggregated pass collapses the corpus to
    // QI-group rows (bounded by |types|·24·|decades|, catalog-small);
    // the audit is then a groupBy over THAT table. Nothing downstream
    // of the first agg is corpus-sized. Determinism: the QI is all
    // integer/string (hour int, floor(value/10) int), counts exact.
    "events_k_anonymity" -> { (s, dir) =>
      kAnonReport(kAnonCells(events(s, dir)))
    },
    // Automation/bot detection by inter-arrival regularity — the
    // data-quality gate an event pipeline runs before any behavioral
    // metric: humans are bursty (coefficient of variation of the gaps
    // between their events ≈ 1 for a Poisson process, higher with
    // sessions), schedulers and replay bots are metronomic (CV → 0).
    // Per user with ≥ 10 events: gap mean/std (exact integer-microsecond
    // moment sums), CV = std/mean; flagged iff CV < 0.3. Output per
    // event-volume decile of users: user count, flagged count, mean CV
    // — the report that says how much of the corpus is machines. The
    // clean fixture is Poisson-like (CV ≈ 1 throughout), so one
    // deterministic metronomic user (9001: 50 events at exactly 1 s) is
    // PLANTED in both engines — the planted-dirt discipline that keeps
    // the flag path under the hash gate instead of vacuously green.
    //
    // Scale shape: gaps are one lag window per user (entity-partitioned,
    // embarrassingly parallel); everything after collapses to per-user
    // rows then to 10 decile rows. Integer microsecond arithmetic until
    // the final divisions; std via the decimal moment discipline;
    // decile = ntile-free exact rank mapping ((rk−1)·10 div n) so both
    // engines cut identically.
    "events_bot_detect" -> { (s, dir) =>
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val bot = s.range(1, 51).select(
        lit(9001L).as("user_id"),
        (col("id") + 9000000L).as("event_id"),
        (col("id") * 1000000L).as("us"))
      val gaps = events(s, dir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
        .unionByName(bot)
        .withColumn("gap", col("us") - lag(col("us"), 1).over(byUser))
        .filter(col("gap").isNotNull)
      val perUser = gaps.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_gaps"),
          sum(col("gap")).as("sg"),
          sum(col("gap").cast("decimal(38,0)") * col("gap")).as("sgg"))
        .filter(col("n_gaps") >= 10)
        .withColumn("mean_g", round(col("sg").cast("double") / col("n_gaps"), 6))
        .withColumn("var_g", greatest(round(
          col("sgg").cast("double") / col("n_gaps") -
            col("mean_g") * col("mean_g"), 6), lit(0.0)))
        .withColumn("cv", round(sqrt(col("var_g")) / col("mean_g"), 6))
      val rk = Window.orderBy(col("n_gaps"), col("user_id"))
      val n = Window.partitionBy()
      perUser
        .withColumn("rk", row_number().over(rk).cast("long"))
        .withColumn("nall", count(lit(1)).over(n))
        .withColumn("decile", expr("(rk - 1) * 10 div nall"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_users"),
          sum(when(col("cv") < 0.3, 1L).otherwise(0L)).as("n_flagged"),
          DetMean.mean6(sum(DetMean.el10(col("cv"))), count(lit(1)))
            .as("mean_cv"))
        .orderBy(col("decile"))
    },
    // l-diversity audit (Machanavajjhala et al. 2007, TKDD) — the
    // companion gate to events_k_anonymity: k-anonymity only says each
    // row hides among k peers; if all k peers share the SAME sensitive
    // value the attacker still learns it (the homogeneity attack).
    // Here QI = (event_type, hour-of-day) and the sensitive attribute
    // is the value decade; per event_type: the realized l (minimum
    // distinct sensitive values over its QI groups), group count, and
    // the count + share of groups below l = 3 — the table that decides
    // whether the release needs further generalization.
    //
    // Scale shape: one pass collapses the corpus to (QI, sensitive)
    // rows (partial-agged map-side, bounded by |types|·24·|decades|);
    // the distinct-per-group count and the audit are groupBys over
    // that bounded table. All integers except the final 6dp share.
    "events_l_diversity" -> { (s, dir) =>
      val cells = events(s, dir)
        .groupBy(col("event_type"), hour(col("ts")).as("hr"),
          floor(col("value") / 10.0).as("sv"))
        .agg(count(lit(1)).as("n"))
      val groups = cells.groupBy(col("event_type"), col("hr"))
        .agg(count(lit(1)).as("l"))
      groups.groupBy(col("event_type"))
        .agg(min(col("l")).as("min_l"),
          count(lit(1)).as("n_groups"),
          sum(when(col("l") < 3, 1L).otherwise(0L)).as("weak_groups"))
        .withColumn("weak_share",
          round(col("weak_groups").cast("double") / col("n_groups"), 6))
        .orderBy(col("event_type"))
    },
    // Welch's unequal-variance t statistic (Welch 1947, Biometrika) —
    // the significance readout on the events_cuped experiment: arms by
    // user_id % 2, metric = raw event value, t = (m₁−m₀)/√(v₁/n₁+v₀/n₀)
    // with the Welch–Satterthwaite degrees of freedom. The one-row
    // output is what a decision gate consumes; CUPED upstream shrinks
    // the v's, this turns them into a test statistic.
    //
    // Scale shape: the entire readout is ONE conditional-aggregation
    // corpus pass — six filtered sums/counts partial-aggregate map-side
    // to a single row; every downstream quantity (means, Bessel
    // variances, t, df) is driver-free scalar algebra over that row.
    // Determinism: exact decimal moment sums; means/variances pinned at
    // 6dp BEFORE the t/df arithmetic, which is then a fixed-order chain
    // of double ops rounded 6dp (t) and 2dp (df).
    // Qini / uplift-by-decile curve (Radcliffe 2007) — the evaluation
    // readout for targeting models: rank users by an uplift score,
    // then per score-decile compare treated vs control response and
    // accumulate the Qini statistic Q(k) = R_t − R_c·N_t/N_c from the
    // top decile down. A model that targets well shows its uplift
    // concentrated in the top deciles; a flat curve says the score
    // carries no heterogeneity. Score here is a deterministic
    // engagement proxy (pre-purchase view+click volume), response is
    // fast conversion (first purchase within 3 days of first
    // activity), treatment the standard user-hash arm.
    //
    // Scale shape: ONE per-user corpus aggregation; decile boundaries
    // via one exact-percentile fold broadcast back (never a global
    // rank window); the curve is cumulative windows over ≤10 rows.
    // Determinism: integer counts; rates/Qini divide once, round 6dp;
    // zero-arm deciles emit NULL on both engines.
    "events_qini_curve" -> { (s, dir) =>
      val per = events(s, dir)
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type").isin("view", "click"), 1L)
            .otherwise(0L)).as("score"),
          min(unix_micros(col("ts"))).as("t0"),
          min(when(col("event_type") === "purchase",
            unix_micros(col("ts")))).as("tp"))
        .select(col("user_id"), col("score"),
          when(col("tp").isNotNull &&
            col("tp") - col("t0") < 259200000000L, 1L).otherwise(0L)
            .as("resp"),
          (col("user_id") % 2 === 1).cast("int").as("t"))
        .localCheckpoint() // 2 consumers: boundaries + binning
      val b = per.agg(expr("percentile(score, array(0.1D, 0.2D, 0.3D, " +
        "0.4D, 0.5D, 0.6D, 0.7D, 0.8D, 0.9D))").as("qs"))
      val binned = per.crossJoin(broadcast(b))
        .withColumn("decile", lit(1) +
          (1 to 9).map(i =>
            (col("score") > element_at(col("qs"), i)).cast("int"))
            .reduce(_ + _))
      val cells = binned.groupBy(col("decile"))
        .agg(sum(when(col("t") === 1, 1L).otherwise(0L)).as("n_t"),
          sum(when(col("t") === 0, 1L).otherwise(0L)).as("n_c"),
          sum(when(col("t") === 1, col("resp")).otherwise(0L)).as("r_t"),
          sum(when(col("t") === 0, col("resp")).otherwise(0L)).as("r_c"))
      val w = org.apache.spark.sql.expressions.Window
      val wC = w.orderBy(col("decile").desc)
        .rowsBetween(w.unboundedPreceding, 0)
      cells
        .withColumn("ct", sum(col("n_t")).over(wC))
        .withColumn("cc", sum(col("n_c")).over(wC))
        .withColumn("crt", sum(col("r_t")).over(wC))
        .withColumn("crc", sum(col("r_c")).over(wC))
        .select(col("decile"), col("n_t"), col("n_c"),
          when(col("n_t") > 0,
            round(col("r_t").cast("double") / col("n_t"), 6))
            .as("resp_rate_t"),
          when(col("n_c") > 0,
            round(col("r_c").cast("double") / col("n_c"), 6))
            .as("resp_rate_c"),
          when(col("cc") > 0, round(col("crt") -
            col("crc") * col("ct").cast("double") / col("cc"), 6))
            .as("qini_cum"))
        .orderBy(col("decile").desc)
    },
    // Exponential inter-arrival fit — the Poisson-process sanity check
    // behind every rate-based alert threshold: per event type, fit
    // λ̂ = 1/mean to the PER-USER inter-arrival gaps and report the
    // binned KS distance between the empirical gap distribution and
    // Exp(λ̂). A large ks_exp says arrivals are bursty/periodic, and
    // rate-based anomaly thresholds calibrated on a Poisson assumption
    // will page wrong — the readout that justifies (or vetoes) the
    // events_anomaly_* thresholds upstream.
    //
    // Scale shape: gaps come from user-keyed lag windows (per-task
    // state = one user's stream, embarrassingly parallel — never a
    // type-global ordering); gaps collapse to type × ≤721 minute bins
    // map-side; the ECDF-vs-CDF sweep runs on the bin table.
    // Determinism: integer micros gaps; λ̂ is one double division of
    // exact integers rounded 10dp; both CDFs evaluate at integer bin
    // edges with identical double exp.
    "events_interarrival_fit" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
      val wU = w.partitionBy(col("event_type"), col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val gaps = events(s, dir)
        .select(col("event_type"), col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"))
        .withColumn("prev", lag(col("us"), 1).over(wU))
        .filter(col("prev").isNotNull)
        .select(col("event_type"), (col("us") - col("prev")).as("gap_us"))
        .localCheckpoint() // 2 consumers: moments + the binned ECDF
      val stats = gaps.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_gaps"), sum(col("gap_us")).as("sum_us"))
        .withColumn("lambda_s",
          round(lit(1.0e6) * col("n_gaps") / col("sum_us"), 10))
      val binned = gaps.select(col("event_type"),
          least(lit(720L), expr("gap_us div 60000000")).as("bin"))
        .groupBy(col("event_type"), col("bin")).agg(count(lit(1)).as("nb"))
      val wc = w.partitionBy(col("event_type")).orderBy(col("bin"))
        .rowsBetween(w.unboundedPreceding, 0)
      binned.join(broadcast(stats), "event_type")
        .withColumn("cum", sum(col("nb")).over(wc))
        .withColumn("ecdf", round(col("cum").cast("double") / col("n_gaps"), 10))
        .withColumn("fexp", round(lit(1.0) -
          exp(-col("lambda_s") * ((col("bin") + 1) * lit(60.0))), 10))
        .groupBy(col("event_type"), col("n_gaps"), col("lambda_s"))
        .agg(round(max(abs(col("ecdf") - col("fexp"))), 6).as("ks_exp"))
        .select(col("event_type"), col("n_gaps"),
          round(col("lambda_s"), 6).as("lambda_per_s"), col("ks_exp"))
        .orderBy(col("event_type"))
    },
    // RFM segmentation (recency / frequency / monetary quartiles) —
    // the classic behavioral-cohort operator: every user lands in one
    // of 64 "rQfQmQ" cells, and the cell census is what lifecycle
    // campaigns and churn models key off. Recency = days since the
    // user's last event (integer micros → integer-div days against the
    // corpus max), frequency/monetary over purchase events only.
    // Quartile BOUNDARIES come from one exact-percentile aggregation
    // and broadcast back onto the user table (the text_quality_gate
    // shape) — never an ntile window, which would serialize the user
    // table through one task at scale.
    //
    // Scale shape: events collapse per-user in one keyed corpus pass;
    // the boundary row is O(1); segmentation is a codegen projection;
    // the census is a ≤64-row aggregation. Determinism: monetary sums
    // as exact decimals → 6dp; Spark's exact percentile matches
    // DuckDB's quantile_cont bit-for-bit (established q-gate
    // discipline); strict > comparisons against identical boundaries.
    "events_rfm_segments" -> { (s, dir) =>
      val per = events(s, dir)
        .groupBy(col("user_id"))
        .agg(max(unix_micros(col("ts"))).as("last_us"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("f"),
          round(coalesce(sum(when(col("event_type") === "purchase",
            DetMean.el10(col("value")))).cast("double"), lit(0.0)), 6)
            .as("m"))
      val g = per.agg(max(col("last_us")).as("gmax"))
      val rfm = per.crossJoin(broadcast(g))
        .withColumn("r", expr("(gmax - last_us) div 86400000000"))
        .select(col("user_id"), col("r"), col("f"), col("m"))
        .localCheckpoint() // 2 consumers: boundaries + segmentation
      val b = rfm.agg(
        expr("percentile(r, array(0.25D, 0.5D, 0.75D))").as("qr"),
        expr("percentile(f, array(0.25D, 0.5D, 0.75D))").as("qf"),
        expr("percentile(m, array(0.25D, 0.5D, 0.75D))").as("qm"))
      def quart(c: org.apache.spark.sql.Column, q: String) =
        lit(1) + (c > element_at(col(q), 1)).cast("int") +
          (c > element_at(col(q), 2)).cast("int") +
          (c > element_at(col(q), 3)).cast("int")
      rfm.crossJoin(broadcast(b))
        .select(concat(lit("r"), quart(col("r"), "qr"),
          lit("f"), quart(col("f"), "qf"),
          lit("m"), quart(col("m"), "qm")).as("segment"), col("f"))
        .groupBy(col("segment"))
        .agg(count(lit(1)).as("n_users"), sum(col("f")).as("n_purchases"))
        .orderBy(col("segment"))
    },
    // Sample-ratio mismatch (SRM) guardrail — the χ² check every
    // experimentation platform runs BEFORE reading any metric: if the
    // 50/50 user-hash split didn't deliver 50/50 traffic, the
    // assignment machinery is broken and every downstream readout
    // (Welch, CUPED, DiD, mSPRT — all keyed off user_id % 2 here) is
    // invalid. One conditional-aggregation pass to per-type arm
    // counts; χ² against the exact-half expectation with the df=1
    // α=.05 critical value as the flag. Integer counts; the χ²
    // divides once and rounds 6dp.
    "events_srm_check" -> { (s, dir) =>
      val treated = col("user_id") % 2 === 1
      srmChi2(events(s, dir)
        .groupBy(col("event_type"))
        .agg(sum(when(!treated, 1L).otherwise(0L)).as("n0"),
          sum(when(treated, 1L).otherwise(0L)).as("n1")))
    },
    // Power analysis / minimum-detectable-effect table per event type:
    // n per arm = 2σ²(z_{1-α/2}+z_{1-β})²/δ² (two-sided α=.05, 80%
    // power — the standard two-sample means formula), evaluated over a
    // relative-MDE grid (0.5%…10% of the type's own mean). This is the
    // BEFORE-the-experiment operator: the Welch/mSPRT readouts say what
    // happened, this says how long you must run to see an effect of a
    // given size. σ² and the mean come from the same one-pass moment
    // aggregation as the Welch readout; the grid is a 5-literal
    // explode, so output is types × 5 rows at any corpus size.
    // Determinism: moments via exact decimal sums at 6dp; δ and the
    // ceiling argument round 10dp before CEIL so both engines land the
    // same integer.
    "events_power_mde" -> { (s, dir) =>
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(DetMean.el10(col("value"))).as("sy"),
          sum(DetMean.el10(col("value") * col("value"))).as("syy"))
        .withColumn("m", DetMean.mean6(col("sy"), col("n")))
        .withColumn("s2", round((col("syy").cast("double") -
          col("n") * col("m") * col("m")) / (col("n") - 1), 6))
        .select(col("event_type"), col("m"), col("s2"),
          explode(typedLit(Seq(0.005, 0.01, 0.02, 0.05, 0.1))).as("mde_rel"))
        .withColumn("delta", round(col("m") * col("mde_rel"), 10))
        .withColumn("n_per_arm", ceil(round(
          lit(2.0) * col("s2") * lit((1.959964 + 0.841621) *
            (1.959964 + 0.841621)) / (col("delta") * col("delta")), 10))
          .cast("long"))
        .select(col("event_type"), col("mde_rel"), col("m").as("mean"),
          col("s2").as("variance"), col("delta"), col("n_per_arm"))
        .orderBy(col("event_type"), col("mde_rel"))
    },
    // Mann–Kendall trend test + Theil–Sen slope per event type over
    // the daily-mean series — the distribution-free "is this metric
    // actually trending" readout (Mann 1945, Kendall 1975; Sen 1968),
    // robust where OLS on dailies is wrecked by one outlier day. S is
    // the pairwise sign sum, z its continuity-corrected normal score
    // (no-ties variance — daily means at 6dp make exact ties
    // measure-zero), and the Sen slope the exact median of all
    // pairwise slopes.
    //
    // Scale shape: the corpus collapses to (type, day) means in ONE
    // partial-aggregated pass; everything pairwise runs on the
    // ≤ span-in-days table (≤31 rows/type here, 365/yr at any corpus
    // size) — the reduce-before-pairs rule that keeps an O(n²)
    // statistic catalog-bounded. Determinism: exact-decimal daily
    // means at 6dp; slopes round 10dp (ordering ties break by day
    // pair); the median is an exact order statistic, never an engine
    // quantile; z and var_s round at 6dp.
    "events_trend_mk" -> { (s, dir) =>
      val daily = events(s, dir)
        .groupBy(col("event_type"),
          expr("unix_micros(date_trunc('DAY', ts)) div 86400000000").as("d"))
        .agg(DetMean.mean6(sum(DetMean.el10(col("value"))),
          count(lit(1))).as("m"))
        // 3 consumers (both pair sides + n_days): pin ONE corpus pass
        .localCheckpoint()
      val a = daily.select(col("event_type"), col("d").as("d1"),
        col("m").as("m1"))
      val b = daily.select(col("event_type"), col("d").as("d2"),
        col("m").as("m2"))
      val pairs = a.join(b, Seq("event_type")).filter(col("d1") < col("d2"))
        .withColumn("sgn", signum(col("m2") - col("m1")).cast("long"))
        .withColumn("slope", round((col("m2") - col("m1")) /
          (col("d2") - col("d1")), 10))
      val wOrd = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
        .orderBy(col("slope"), col("d1"), col("d2"))
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
      val med = pairs.withColumn("rn", row_number().over(wOrd))
        .withColumn("np", count(lit(1)).over(wAll))
        .filter(col("rn") === expr("(np + 1) div 2") ||
          col("rn") === expr("(np + 2) div 2"))
        .groupBy(col("event_type"))
        .agg(round(avg(col("slope")), 6).as("sen_slope"))
      val sstat = pairs.groupBy(col("event_type"))
        .agg(sum(col("sgn")).as("s_stat"))
      val nd = daily.groupBy(col("event_type")).agg(count(lit(1)).as("n_days"))
      nd.join(sstat, "event_type").join(med, "event_type")
        .withColumn("var_s", col("n_days") * (col("n_days") - 1) *
          (lit(2) * col("n_days") + 5) / lit(18.0))
        .withColumn("z", round(
          when(col("s_stat") > 0, (col("s_stat") - 1) / sqrt(col("var_s")))
            .when(col("s_stat") < 0, (col("s_stat") + 1) / sqrt(col("var_s")))
            .otherwise(lit(0.0)), 6))
        .select(col("event_type"), col("n_days"), col("s_stat"),
          round(col("var_s"), 6).as("var_s"), col("z"), col("sen_slope"))
        .orderBy(col("event_type"))
    },
    // Kaplan–Meier survival estimator (Kaplan & Meier 1958) for
    // time-to-first-purchase: per user, the clock starts at their
    // first event; users who never purchase are right-censored at
    // their last event — exactly the conversion-lag readout a growth
    // team plots, with censoring handled correctly instead of dropped
    // (the naive mean-lag-among-converters is biased low). Risk sets
    // count censored users until their censor time; the survival curve
    // is the product-limit Π(1 − d_i/n_i) at event times.
    //
    // Scale shape: events collapse per-user in one keyed aggregation
    // (the corpus pass), durations collapse to ≤ observation-span-in-
    // days rows, and the curve is two windows over that day table —
    // corpus-sized work is exactly one groupBy at any scale.
    // Determinism: integer micros → integer-div days; each hazard
    // factor divides integers once and rounds 10dp; the product runs
    // as exp of an exact-decimal ln sum (the text_perplexity rule);
    // the all-deaths terminal row (factor 0, ln −∞) is carried as an
    // explicit zero flag instead of a non-finite term.
    "events_kaplan_meier" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
      val per = events(s, dir)
        .groupBy(col("user_id"))
        .agg(min(unix_micros(col("ts"))).as("t0"),
          min(when(col("event_type") === "purchase",
            unix_micros(col("ts")))).as("tp"),
          max(unix_micros(col("ts"))).as("tmax"))
        .select(col("tp").isNotNull.as("obs"),
          expr("(coalesce(tp, tmax) - t0) div 86400000000").as("t"))
      val byT = per.groupBy(col("t"))
        .agg(sum(when(col("obs"), 1L).otherwise(0L)).as("d"),
          sum(when(!col("obs"), 1L).otherwise(0L)).as("c"))
      val wDesc = w.orderBy(col("t").desc).rowsBetween(w.unboundedPreceding, 0)
      val wAsc = w.orderBy(col("t")).rowsBetween(w.unboundedPreceding, 0)
      byT.withColumn("n_risk", sum(col("d") + col("c")).over(wDesc))
        .filter(col("d") > 0)
        .withColumn("lnf", when(col("d") < col("n_risk"),
          round(log(lit(1.0) -
            round(col("d").cast("double") / col("n_risk"), 10)), 10)))
        .withColumn("zc", sum(when(col("d") === col("n_risk"), 1L)
          .otherwise(0L)).over(wAsc))
        .withColumn("survival", when(col("zc") > 0, lit(0.0))
          .otherwise(round(exp(sum(col("lnf").cast("decimal(28,10)"))
            .over(wAsc).cast("double")), 6)))
        .select(col("t").as("t_days"), col("n_risk"), col("d").as("n_events"),
          col("c").as("n_censored"), col("survival"))
        .orderBy(col("t_days"))
    },
    // Always-valid inference for the running A/B test: the mixture
    // sequential probability ratio test (mSPRT — Johari, Koomen,
    // Pekelis & Walsh 2017, the "peeking" paper), per event type.
    // The fixed-n Welch readout (events_ab_welch) is only valid at a
    // pre-committed sample size; an experimenter who looks every day
    // needs a p-value that stays valid under continuous monitoring.
    // With a normal mixture prior N(0, τ²) over the effect, the
    // likelihood ratio is Λ = √(V/(V+τ²))·exp(δ̂²τ²/(2V(V+τ²))) with
    // V = s²_pooled·(1/n0+1/n1); p_av = min(1, 1/Λ) is always-valid.
    // τ² = s²_pooled (the unit-information prior) keeps the prior
    // scale data-free. Reported as ln Λ (never overflows) + p.
    //
    // Scale shape: identical to the Welch readout — ONE conditional-
    // aggregation corpus pass to per-type moment rows, then scalar
    // algebra; partial-aggregates map-side at any scale. Determinism:
    // exact decimal moment sums, means/variances at 6dp, V at 10dp,
    // ln Λ and p at 6dp (fixed-order double chain on both engines).
    "events_always_valid_p" -> { (s, dir) =>
      val treated = col("user_id") % 2 === 1
      def cnt(c: org.apache.spark.sql.Column) = sum(when(c, 1L))
      def s1(c: org.apache.spark.sql.Column) =
        sum(when(c, DetMean.el10(col("value"))))
      def s2(c: org.apache.spark.sql.Column) =
        sum(when(c, DetMean.el10(col("value") * col("value"))))
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(cnt(!treated).as("n0"), cnt(treated).as("n1"),
          s1(!treated).as("sy0"), s1(treated).as("sy1"),
          s2(!treated).as("syy0"), s2(treated).as("syy1"))
        .withColumn("m0", DetMean.mean6(col("sy0"), col("n0")))
        .withColumn("m1", DetMean.mean6(col("sy1"), col("n1")))
        .withColumn("v0", round((col("syy0").cast("double") -
          col("n0") * col("m0") * col("m0")) / (col("n0") - 1), 6))
        .withColumn("v1", round((col("syy1").cast("double") -
          col("n1") * col("m1") * col("m1")) / (col("n1") - 1), 6))
        .withColumn("s2p", round(((col("n0") - 1) * col("v0") +
          (col("n1") - 1) * col("v1")) / (col("n0") + col("n1") - 2), 6))
        .withColumn("vv", round(col("s2p") *
          (lit(1.0) / col("n0") + lit(1.0) / col("n1")), 10))
        .withColumn("delta", round(col("m1") - col("m0"), 6))
        .withColumn("ln_lambda", round(
          lit(0.5) * log(col("vv") / (col("vv") + col("s2p"))) +
            col("delta") * col("delta") * col("s2p") /
              (lit(2.0) * col("vv") * (col("vv") + col("s2p"))), 6))
        .withColumn("p_always_valid",
          round(least(lit(1.0), exp(-col("ln_lambda"))), 6))
        .select(col("event_type"), col("n0"), col("n1"), col("delta"),
          col("ln_lambda"), col("p_always_valid"))
        .orderBy(col("event_type"))
    },
    "events_ab_welch" -> { (s, dir) => welch(events(s, dir)) })

  // --- stream/batch twin kernels -------------------------------------
  // Each finishing algebra below is written once. Its batch query above
  // and its live readout in graft.streaming.EventStream both call it, so
  // the oracle that checks the batch query pins the stream's rounding
  // lattice too. Each side keeps only its own accumulation.

  /** One-row Welch t-test over `ev` (`events_ab_welch`): arms by
    * user_id % 2, six conditional moment sums, the t/df algebra as a
    * projection over them. Given a streaming `ev` it runs as an
    * unbounded aggregation (complete mode, one global group): the state
    * store keeps the six sums, and after every micro-batch the sink
    * holds exactly the decision row the batch query computes over the
    * data seen so far. Moment sums are exact decimals (order-
    * independent), so stream == batch bit-for-bit at any cut; the state
    * is six numbers regardless of corpus size. */
  def welch(ev: DataFrame): DataFrame = {
    val treated = col("user_id") % 2 === 1
    def cnt(c: Column) = sum(when(c, 1L))
    def s1(c: Column) = sum(when(c, DetMean.el10(col("value"))))
    def s2(c: Column) =
      sum(when(c, DetMean.el10(col("value") * col("value"))))
    ev
      .agg(cnt(!treated).as("n0"), cnt(treated).as("n1"),
        s1(!treated).as("sy0"), s1(treated).as("sy1"),
        s2(!treated).as("syy0"), s2(treated).as("syy1"))
      .withColumn("m0", DetMean.mean6(col("sy0"), col("n0")))
      .withColumn("m1", DetMean.mean6(col("sy1"), col("n1")))
      .withColumn("v0", round((col("syy0").cast("double") -
        col("n0") * col("m0") * col("m0")) / (col("n0") - 1), 6))
      .withColumn("v1", round((col("syy1").cast("double") -
        col("n1") * col("m1") * col("m1")) / (col("n1") - 1), 6))
      .withColumn("se0", col("v0") / col("n0"))
      .withColumn("se1", col("v1") / col("n1"))
      .withColumn("t", round((col("m1") - col("m0")) /
        sqrt(col("se1") + col("se0")), 6))
      .withColumn("df", round(
        (col("se1") + col("se0")) * (col("se1") + col("se0")) /
          (col("se1") * col("se1") / (col("n1") - 1) +
           col("se0") * col("se0") / (col("n0") - 1)), 2))
      .select(col("n0"), col("n1"), col("m0"), col("m1"),
        col("v0"), col("v1"), col("t"), col("df"))
  }

  /** `events_k_anonymity`'s quasi-identifier group sizes
    * ((event_type, hour, value-bucket) → count) as ONE keyed
    * aggregation. As a streaming aggregation its state is bounded by the
    * quasi-identifier DOMAIN (types × 24 hours × buckets), not the
    * stream length; counts are exact integers, so stream == batch
    * bit-for-bit at any cut. */
  def kAnonCells(ev: DataFrame): DataFrame =
    ev.groupBy(col("event_type"), hour(col("ts")).as("hr"),
        floor(col("value") / 10.0).as("vbucket"))
      .agg(count(lit(1)).as("gsize"))

  /** The per-type release report over [[kAnonCells]]: realized k,
    * group count, and the rows (and share) sitting in groups below
    * k = 5. */
  def kAnonReport(cells: DataFrame): DataFrame =
    cells.groupBy(col("event_type"))
      .agg(min(col("gsize")).as("k"),
        count(lit(1)).as("n_groups"),
        sum(col("gsize")).as("n_rows"),
        sum(when(col("gsize") < 5, col("gsize")).otherwise(0L))
          .as("rows_at_risk"))
      .withColumn("risk_share",
        round(col("rows_at_risk").cast("double") / col("n_rows"), 6))
      .orderBy(col("event_type"))

  /** `events_srm_check`'s χ² tail over per-type arm counts
    * `(event_type, n0, n1)`: χ² against the exact-half expectation,
    * flagged at the df=1 α=.05 critical value. */
  def srmChi2(counts: DataFrame): DataFrame =
    counts
      .withColumn("e", (col("n0") + col("n1")).cast("double") / 2)
      .withColumn("chi2", round(
        (col("n0") - col("e")) * (col("n0") - col("e")) / col("e") +
          (col("n1") - col("e")) * (col("n1") - col("e")) / col("e"), 6))
      .select(col("event_type"), col("n0"), col("n1"), col("chi2"),
        (col("chi2") > 3.841459).as("srm_flag"))
      .orderBy(col("event_type"))

  /** `events_diff_in_diff`'s 2×2: arm (user_id % 2) × period (`post`),
    * four cell sizes, four 6dp cell means and the estimate, in one
    * global aggregation. The batch query passes `post` against the
    * mid-span cut it derives from the data; a live experiment knows its
    * exposure cut a priori and passes `unix_micros(ts) >= cutUs`. DiD
    * is LINEAR in the events, so as a streaming aggregation the state
    * is eight exact-decimal moment sums at any stream length, and
    * stream == batch bit-for-bit at any cut. */
  def didCells(ev: DataFrame, post: Column): DataFrame = {
    val treated = col("user_id") % 2 === 1
    def cellMean(c: Column) = DetMean.mean6(
      sum(when(c, DetMean.el10(col("value")))), sum(when(c, 1L)))
    ev.agg(
        sum(when(!treated && !post, 1L)).as("n_c_pre"),
        sum(when(!treated && post, 1L)).as("n_c_post"),
        sum(when(treated && !post, 1L)).as("n_t_pre"),
        sum(when(treated && post, 1L)).as("n_t_post"),
        cellMean(!treated && !post).as("m_c_pre"),
        cellMean(!treated && post).as("m_c_post"),
        cellMean(treated && !post).as("m_t_pre"),
        cellMean(treated && post).as("m_t_post"))
      .withColumn("did", round((col("m_t_post") - col("m_t_pre")) -
        (col("m_c_post") - col("m_c_pre")), 6))
  }

  /** `events_cuped`'s finishing algebra over a MATERIALIZED per-user
    * table `(user_id, x, y)` of 6dp pre/post means: θ from five
    * user-bounded moment sums (10dp path), the per-user adjustment, two
    * arm rows at 6dp. The caller materializes `ux` because both the θ
    * pass and the adjustment consume it. */
  def cupedArms(ux: DataFrame): DataFrame = {
    val mom = ux.agg(count(lit(1)).as("n"),
      sum(DetMean.el10(col("x"))).as("sx"),
      sum(DetMean.el10(col("y"))).as("sy"),
      sum(DetMean.prod12(col("x"), col("x"))).as("sxx"),
      sum(DetMean.prod12(col("x"), col("y"))).as("sxy"))
    val theta = mom
      .withColumn("mx", round(col("sx").cast("double") / col("n"), 10))
      .withColumn("my", round(col("sy").cast("double") / col("n"), 10))
      .withColumn("cov", round(col("sxy").cast("double") / col("n") -
        col("mx") * col("my"), 10))
      .withColumn("varx", round(col("sxx").cast("double") / col("n") -
        col("mx") * col("mx"), 10))
      .withColumn("theta", round(col("cov") / col("varx"), 10))
      .select(col("mx"), col("theta"))
    ux.crossJoin(broadcast(theta))
      .withColumn("yadj",
        round(col("y") - col("theta") * (col("x") - col("mx")), 6))
      .withColumn("arm", col("user_id") % 2)
      .groupBy(col("arm"))
      .agg(count(lit(1)).as("n_users"),
        sum(DetMean.el10(col("y"))).as("sy"),
        sum(DetMean.prod12(col("y"), col("y"))).as("syy"),
        sum(DetMean.el10(col("yadj"))).as("sa"),
        sum(DetMean.prod12(col("yadj"), col("yadj"))).as("saa"))
      .withColumn("mean_y", DetMean.mean6(col("sy"), col("n_users")))
      .withColumn("mean_y_adj", DetMean.mean6(col("sa"), col("n_users")))
      .select(col("arm"), col("n_users"), col("mean_y"), col("mean_y_adj"),
        round(col("syy").cast("double") / col("n_users") -
          col("mean_y") * col("mean_y"), 6).as("var_y"),
        round(col("saa").cast("double") / col("n_users") -
          col("mean_y_adj") * col("mean_y_adj"), 6).as("var_y_adj"))
      .orderBy(col("arm"))
  }

  private val asOfOracle: String =
    """WITH ce AS (
      |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS tsu
      |  FROM events WHERE event_type IN ('click', 'purchase')),
      |m AS (
      |  SELECT user_id, event_type, epoch_us(tsu) AS ts_us,
      |    MAX(CASE WHEN event_type = 'click' THEN epoch_us(tsu) END)
      |      OVER (PARTITION BY user_id ORDER BY tsu, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_us
      |  FROM ce),
      |p AS (
      |  SELECT user_id,
      |    CASE WHEN last_click_us IS NOT NULL AND ts_us > last_click_us
      |         THEN ts_us - last_click_us END AS gap_us
      |  FROM m WHERE event_type = 'purchase')
      |SELECT user_id, COUNT(*) AS n_purchases, COUNT(gap_us) AS n_matched,
      |  CAST(COALESCE(SUM(gap_us), 0) AS BIGINT) AS sum_gap_us
      |FROM p
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "events_bot_detect" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events
        |  UNION ALL
        |  SELECT CAST(9001 AS BIGINT), CAST(9000000 + i AS BIGINT),
        |    CAST(i * 1000000 AS BIGINT)
        |  FROM range(1, 51) t(i)),
        |gaps AS (
        |  SELECT user_id,
        |    us - LAG(us) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id) AS gap
        |  FROM ev),
        |pu AS (
        |  SELECT user_id, COUNT(*) AS n_gaps,
        |    CAST(SUM(gap) AS BIGINT) AS sg,
        |    SUM(CAST(gap AS DECIMAL(38,0)) * gap) AS sgg
        |  FROM gaps WHERE gap IS NOT NULL
        |  GROUP BY user_id HAVING COUNT(*) >= 10),
        |cvt AS (
        |  SELECT user_id, n_gaps,
        |    ROUND(CAST(sg AS DOUBLE) / n_gaps, 6) AS mean_g,
        |    sgg
        |  FROM pu),
        |cv2 AS (
        |  SELECT user_id, n_gaps, mean_g,
        |    GREATEST(ROUND(CAST(sgg AS DOUBLE) / n_gaps
        |      - mean_g * mean_g, 6), CAST(0.0 AS DOUBLE)) AS var_g
        |  FROM cvt),
        |cvs AS (
        |  SELECT user_id, n_gaps,
        |    ROUND(sqrt(var_g) / mean_g, 6) AS cv
        |  FROM cv2),
        |dd AS (
        |  SELECT cv,
        |    (ROW_NUMBER() OVER (ORDER BY n_gaps, user_id) - 1) * 10
        |      // COUNT(*) OVER () AS decile
        |  FROM cvs)
        |SELECT decile, COUNT(*) AS n_users,
        |  CAST(SUM(CASE WHEN cv < 0.3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_flagged,
        |  ROUND(CAST(SUM(CAST(ROUND(cv, 10) AS DECIMAL(28,10)))
        |    AS DOUBLE) / COUNT(*), 6) AS mean_cv
        |FROM dd
        |GROUP BY decile
        |ORDER BY decile""".stripMargin,
    "events_l_diversity" ->
      """WITH cells AS (
        |  SELECT event_type, hour(CAST(ts AS TIMESTAMP)) AS hr,
        |    FLOOR(value / 10.0) AS sv, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2, 3),
        |g AS (
        |  SELECT event_type, hr, COUNT(*) AS l
        |  FROM cells GROUP BY event_type, hr),
        |a AS (
        |  SELECT event_type, CAST(MIN(l) AS BIGINT) AS min_l,
        |    COUNT(*) AS n_groups,
        |    CAST(SUM(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS weak_groups
        |  FROM g GROUP BY event_type)
        |SELECT *, ROUND(CAST(weak_groups AS DOUBLE) / n_groups, 6)
        |  AS weak_share
        |FROM a
        |ORDER BY event_type""".stripMargin,
    "events_qini_curve" ->
      """WITH per AS (
        |  SELECT user_id,
        |    CAST(SUM(CASE WHEN event_type IN ('view', 'click')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS score,
        |    MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS t0,
        |    MIN(CASE WHEN event_type = 'purchase'
        |        THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS tp
        |  FROM events GROUP BY user_id),
        |u AS (
        |  SELECT user_id, score,
        |    CASE WHEN tp IS NOT NULL AND tp - t0 < 259200000000
        |         THEN 1 ELSE 0 END AS resp,
        |    CAST(user_id % 2 = 1 AS INT) AS t
        |  FROM per),
        |b AS (
        |  SELECT quantile_cont(score,
        |    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
        |  FROM u),
        |binned AS (
        |  SELECT u.*, 1 + CAST(score > qs[1] AS INT) + CAST(score > qs[2]
        |    AS INT) + CAST(score > qs[3] AS INT) + CAST(score > qs[4] AS INT)
        |    + CAST(score > qs[5] AS INT) + CAST(score > qs[6] AS INT)
        |    + CAST(score > qs[7] AS INT) + CAST(score > qs[8] AS INT)
        |    + CAST(score > qs[9] AS INT) AS decile
        |  FROM u, b),
        |cells AS (
        |  SELECT decile,
        |    CAST(SUM(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
        |    CAST(SUM(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
        |    CAST(SUM(CASE WHEN t = 1 THEN resp ELSE 0 END) AS BIGINT) AS r_t,
        |    CAST(SUM(CASE WHEN t = 0 THEN resp ELSE 0 END) AS BIGINT) AS r_c
        |  FROM binned GROUP BY decile),
        |c AS (
        |  SELECT *,
        |    CAST(SUM(n_t) OVER (ORDER BY decile DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS ct,
        |    CAST(SUM(n_c) OVER (ORDER BY decile DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cc,
        |    CAST(SUM(r_t) OVER (ORDER BY decile DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS crt,
        |    CAST(SUM(r_c) OVER (ORDER BY decile DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS crc
        |  FROM cells)
        |SELECT decile, n_t, n_c,
        |  CASE WHEN n_t > 0 THEN ROUND(r_t * 1.0 / n_t, 6) END
        |    AS resp_rate_t,
        |  CASE WHEN n_c > 0 THEN ROUND(r_c * 1.0 / n_c, 6) END
        |    AS resp_rate_c,
        |  CASE WHEN cc > 0 THEN ROUND(crt - crc * ct * 1.0 / cc, 6) END
        |    AS qini_cum
        |FROM c
        |ORDER BY decile DESC""".stripMargin,
    "events_interarrival_fit" ->
      """WITH ev AS (
        |  SELECT event_type, user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events),
        |g0 AS (
        |  SELECT event_type,
        |    us - LAG(us) OVER (PARTITION BY event_type, user_id
        |      ORDER BY us, event_id) AS gap_us
        |  FROM ev),
        |gaps AS (SELECT event_type, gap_us FROM g0 WHERE gap_us IS NOT NULL),
        |stats AS (
        |  SELECT event_type, COUNT(*) AS n_gaps,
        |    CAST(SUM(gap_us) AS BIGINT) AS sum_us
        |  FROM gaps GROUP BY event_type),
        |lam AS (
        |  SELECT event_type, n_gaps,
        |    ROUND(1.0e6 * n_gaps / sum_us, 10) AS lambda_s
        |  FROM stats),
        |binned AS (
        |  SELECT event_type, LEAST(720, gap_us // 60000000) AS bin,
        |    COUNT(*) AS nb
        |  FROM gaps GROUP BY event_type, LEAST(720, gap_us // 60000000)),
        |c AS (
        |  SELECT b.event_type, b.bin, l.n_gaps, l.lambda_s,
        |    CAST(SUM(nb) OVER (PARTITION BY b.event_type ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum
        |  FROM binned b JOIN lam l ON b.event_type = l.event_type),
        |k AS (
        |  SELECT event_type, n_gaps, lambda_s,
        |    ROUND(cum * 1.0 / n_gaps, 10) AS ecdf,
        |    ROUND(1.0 - exp(-lambda_s * ((bin + 1) * 60.0)), 10) AS fexp
        |  FROM c)
        |SELECT event_type, n_gaps, ROUND(lambda_s, 6) AS lambda_per_s,
        |  ROUND(MAX(abs(ecdf - fexp)), 6) AS ks_exp
        |FROM k
        |GROUP BY event_type, n_gaps, lambda_s
        |ORDER BY event_type""".stripMargin,
    "events_rfm_segments" ->
      """WITH per AS (
        |  SELECT user_id,
        |    MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS f,
        |    ROUND(COALESCE(CAST(SUM(CASE WHEN event_type = 'purchase'
        |      THEN CAST(ROUND(value, 10) AS DECIMAL(28,10)) END) AS DOUBLE),
        |      0.0), 6) AS m
        |  FROM events GROUP BY user_id),
        |g AS (SELECT MAX(last_us) AS gmax FROM per),
        |rfm AS (
        |  SELECT user_id, (g.gmax - last_us) // 86400000000 AS r, f, m
        |  FROM per, g),
        |b AS (
        |  SELECT quantile_cont(r, [0.25, 0.5, 0.75]) AS qr,
        |    quantile_cont(f, [0.25, 0.5, 0.75]) AS qf,
        |    quantile_cont(m, [0.25, 0.5, 0.75]) AS qm
        |  FROM rfm),
        |seg AS (
        |  SELECT 'r' || (1 + CAST(r > qr[1] AS INT) + CAST(r > qr[2] AS INT)
        |      + CAST(r > qr[3] AS INT))
        |    || 'f' || (1 + CAST(f > qf[1] AS INT) + CAST(f > qf[2] AS INT)
        |      + CAST(f > qf[3] AS INT))
        |    || 'm' || (1 + CAST(m > qm[1] AS INT) + CAST(m > qm[2] AS INT)
        |      + CAST(m > qm[3] AS INT)) AS segment, f
        |  FROM rfm, b)
        |SELECT segment, COUNT(*) AS n_users, CAST(SUM(f) AS BIGINT)
        |  AS n_purchases
        |FROM seg GROUP BY segment
        |ORDER BY segment""".stripMargin,
    "events_srm_check" ->
      """WITH a AS (
        |  SELECT event_type,
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n0,
        |    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n1
        |  FROM events GROUP BY event_type),
        |c AS (
        |  SELECT event_type, n0, n1, (n0 + n1) / 2.0 AS e FROM a)
        |SELECT event_type, n0, n1,
        |  ROUND((n0 - e) * (n0 - e) / e + (n1 - e) * (n1 - e) / e, 6) AS chi2,
        |  ROUND((n0 - e) * (n0 - e) / e + (n1 - e) * (n1 - e) / e, 6)
        |    > 3.841459 AS srm_flag
        |FROM c
        |ORDER BY event_type""".stripMargin,
    "events_power_mde" ->
      """WITH mom AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    SUM(CAST(ROUND(value, 10) AS DECIMAL(28,10))) AS sy,
        |    SUM(CAST(ROUND(value * value, 10) AS DECIMAL(28,10))) AS syy
        |  FROM events GROUP BY event_type),
        |s AS (
        |  SELECT event_type,
        |    ROUND(CAST(sy AS DOUBLE) / n, 6) AS m, n, syy
        |  FROM mom),
        |v AS (
        |  SELECT event_type, m,
        |    ROUND((CAST(syy AS DOUBLE) - n * m * m) / (n - 1), 6) AS s2
        |  FROM s),
        |g AS (
        |  SELECT v.*, mde_rel FROM v,
        |    (SELECT CAST(unnest([0.005, 0.01, 0.02, 0.05, 0.1]) AS DOUBLE)
        |       AS mde_rel)),
        |d AS (
        |  SELECT event_type, mde_rel, m, s2,
        |    ROUND(m * mde_rel, 10) AS delta
        |  FROM g)
        |SELECT event_type, mde_rel, m AS mean, s2 AS variance, delta,
        |  CAST(CEIL(ROUND(2.0 * s2 * ((1.959964 + 0.841621) *
        |    (1.959964 + 0.841621)) / (delta * delta), 10)) AS BIGINT)
        |    AS n_per_arm
        |FROM d
        |ORDER BY event_type, mde_rel""".stripMargin,
    "events_trend_mk" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP))) // 86400000000
        |      AS d,
        |    ROUND(CAST(SUM(CAST(ROUND(value, 10) AS DECIMAL(28,10)))
        |      AS DOUBLE) / COUNT(*), 6) AS m
        |  FROM events GROUP BY event_type,
        |    epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP))) // 86400000000),
        |pairs AS (
        |  SELECT a.event_type, a.d AS d1, b.d AS d2,
        |    CAST(sign(b.m - a.m) AS BIGINT) AS sgn,
        |    ROUND((b.m - a.m) / (b.d - a.d), 10) AS slope
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND a.d < b.d),
        |med AS (
        |  SELECT event_type, ROUND(AVG(slope), 6) AS sen_slope
        |  FROM (
        |    SELECT event_type, slope,
        |      ROW_NUMBER() OVER (PARTITION BY event_type
        |        ORDER BY slope, d1, d2) AS rn,
        |      COUNT(*) OVER (PARTITION BY event_type) AS np
        |    FROM pairs)
        |  WHERE rn = (np + 1) // 2 OR rn = (np + 2) // 2
        |  GROUP BY event_type),
        |sstat AS (
        |  SELECT event_type, CAST(SUM(sgn) AS BIGINT) AS s_stat
        |  FROM pairs GROUP BY event_type),
        |nd AS (
        |  SELECT event_type, COUNT(*) AS n_days FROM daily GROUP BY event_type),
        |j AS (
        |  SELECT nd.event_type, nd.n_days, sstat.s_stat, med.sen_slope,
        |    nd.n_days * (nd.n_days - 1) * (2 * nd.n_days + 5) / 18.0 AS var_s
        |  FROM nd JOIN sstat ON nd.event_type = sstat.event_type
        |    JOIN med ON nd.event_type = med.event_type)
        |SELECT event_type, n_days, s_stat, ROUND(var_s, 6) AS var_s,
        |  ROUND(CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s)
        |             WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s)
        |             ELSE 0.0 END, 6) AS z,
        |  sen_slope
        |FROM j
        |ORDER BY event_type""".stripMargin,
    "events_kaplan_meier" ->
      """WITH per AS (
        |  SELECT user_id,
        |    MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS t0,
        |    MIN(CASE WHEN event_type = 'purchase'
        |        THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS tp,
        |    MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS tmax
        |  FROM events GROUP BY user_id),
        |durs AS (
        |  SELECT tp IS NOT NULL AS obs,
        |    (COALESCE(tp, tmax) - t0) // 86400000000 AS t
        |  FROM per),
        |byt AS (
        |  SELECT t,
        |    CAST(SUM(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(SUM(CASE WHEN obs THEN 0 ELSE 1 END) AS BIGINT) AS c
        |  FROM durs GROUP BY t),
        |risk AS (
        |  SELECT *, CAST(SUM(d + c) OVER (ORDER BY t DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS n_risk
        |  FROM byt),
        |ev AS (
        |  SELECT *,
        |    CASE WHEN d < n_risk
        |      THEN ROUND(ln(1.0 - ROUND(d * 1.0 / n_risk, 10)), 10) END AS lnf,
        |    CASE WHEN d = n_risk THEN 1 ELSE 0 END AS z
        |  FROM risk WHERE d > 0),
        |s AS (
        |  SELECT *,
        |    SUM(z) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS zc,
        |    CAST(SUM(CAST(lnf AS DECIMAL(28,10))) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |      AS lns
        |  FROM ev)
        |SELECT t AS t_days, n_risk, d AS n_events, c AS n_censored,
        |  CASE WHEN zc > 0 THEN 0.0 ELSE ROUND(exp(lns), 6) END AS survival
        |FROM s
        |ORDER BY t_days""".stripMargin,
    "events_always_valid_p" ->
      """WITH mom AS (
        |  SELECT event_type,
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 END) AS BIGINT) AS n0,
        |    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 END) AS BIGINT) AS n1,
        |    SUM(CASE WHEN user_id % 2 = 0
        |      THEN CAST(ROUND(value, 10) AS DECIMAL(28,10)) END) AS sy0,
        |    SUM(CASE WHEN user_id % 2 = 1
        |      THEN CAST(ROUND(value, 10) AS DECIMAL(28,10)) END) AS sy1,
        |    SUM(CASE WHEN user_id % 2 = 0
        |      THEN CAST(ROUND(value * value, 10) AS DECIMAL(28,10)) END) AS syy0,
        |    SUM(CASE WHEN user_id % 2 = 1
        |      THEN CAST(ROUND(value * value, 10) AS DECIMAL(28,10)) END) AS syy1
        |  FROM events GROUP BY event_type),
        |m AS (
        |  SELECT event_type, n0, n1,
        |    ROUND(CAST(sy0 AS DOUBLE) / n0, 6) AS m0,
        |    ROUND(CAST(sy1 AS DOUBLE) / n1, 6) AS m1,
        |    syy0, syy1
        |  FROM mom),
        |v AS (
        |  SELECT event_type, n0, n1, m0, m1,
        |    ROUND((CAST(syy0 AS DOUBLE) - n0 * m0 * m0) / (n0 - 1), 6) AS v0,
        |    ROUND((CAST(syy1 AS DOUBLE) - n1 * m1 * m1) / (n1 - 1), 6) AS v1
        |  FROM m),
        |pool AS (
        |  SELECT event_type, n0, n1, m0, m1,
        |    ROUND(((n0 - 1) * v0 + (n1 - 1) * v1) / (n0 + n1 - 2), 6) AS s2p
        |  FROM v),
        |lam AS (
        |  SELECT event_type, n0, n1, s2p,
        |    ROUND(s2p * (1.0 / n0 + 1.0 / n1), 10) AS vv,
        |    ROUND(m1 - m0, 6) AS delta
        |  FROM pool)
        |SELECT event_type, n0, n1, delta,
        |  ROUND(0.5 * ln(vv / (vv + s2p)) +
        |    delta * delta * s2p / (2.0 * vv * (vv + s2p)), 6) AS ln_lambda,
        |  ROUND(LEAST(1.0, exp(-(ROUND(0.5 * ln(vv / (vv + s2p)) +
        |    delta * delta * s2p / (2.0 * vv * (vv + s2p)), 6)))), 6)
        |    AS p_always_valid
        |FROM lam
        |ORDER BY event_type""".stripMargin,
    "events_ab_welch" ->
      """WITH mom AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 END) AS BIGINT) AS n0,
        |    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 END) AS BIGINT) AS n1,
        |    SUM(CASE WHEN user_id % 2 = 0
        |      THEN CAST(ROUND(value, 10) AS DECIMAL(28,10)) END) AS sy0,
        |    SUM(CASE WHEN user_id % 2 = 1
        |      THEN CAST(ROUND(value, 10) AS DECIMAL(28,10)) END) AS sy1,
        |    SUM(CASE WHEN user_id % 2 = 0
        |      THEN CAST(ROUND(value * value, 10) AS DECIMAL(28,10)) END) AS syy0,
        |    SUM(CASE WHEN user_id % 2 = 1
        |      THEN CAST(ROUND(value * value, 10) AS DECIMAL(28,10)) END) AS syy1
        |  FROM events),
        |m AS (
        |  SELECT n0, n1,
        |    ROUND(CAST(sy0 AS DOUBLE) / n0, 6) AS m0,
        |    ROUND(CAST(sy1 AS DOUBLE) / n1, 6) AS m1,
        |    syy0, syy1
        |  FROM mom),
        |v AS (
        |  SELECT n0, n1, m0, m1,
        |    ROUND((CAST(syy0 AS DOUBLE) - n0 * m0 * m0) / (n0 - 1), 6) AS v0,
        |    ROUND((CAST(syy1 AS DOUBLE) - n1 * m1 * m1) / (n1 - 1), 6) AS v1
        |  FROM m),
        |se AS (
        |  SELECT n0, n1, m0, m1, v0, v1,
        |    v0 / n0 AS se0, v1 / n1 AS se1
        |  FROM v)
        |SELECT n0, n1, m0, m1, v0, v1,
        |  ROUND((m1 - m0) / sqrt(se1 + se0), 6) AS t,
        |  ROUND((se1 + se0) * (se1 + se0)
        |    / (se1 * se1 / (n1 - 1) + se0 * se0 / (n0 - 1)), 2) AS df
        |FROM se""".stripMargin,
    "events_cuped" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, value
        |  FROM events),
        |sp AS (SELECT MIN(us) AS lo, MAX(us) AS hi FROM ev),
        |cutv AS (SELECT lo + (hi - lo) // 2 AS cut FROM sp),
        |px AS (
        |  SELECT user_id,
        |    ROUND(CAST(SUM(CAST(ROUND(value, 10) AS DECIMAL(28,10)))
        |      AS DOUBLE) / COUNT(*), 6) AS x
        |  FROM ev, cutv WHERE us < cut GROUP BY user_id),
        |py AS (
        |  SELECT user_id,
        |    ROUND(CAST(SUM(CAST(ROUND(value, 10) AS DECIMAL(28,10)))
        |      AS DOUBLE) / COUNT(*), 6) AS y
        |  FROM ev, cutv WHERE us >= cut GROUP BY user_id),
        |ux AS (SELECT px.user_id, x, y FROM px JOIN py USING (user_id)),
        |mom AS (
        |  SELECT COUNT(*) AS n,
        |    SUM(CAST(ROUND(x, 10) AS DECIMAL(28,10))) AS sx,
        |    SUM(CAST(ROUND(y, 10) AS DECIMAL(28,10))) AS sy,
        |    SUM(CAST(x AS DECIMAL(18,6)) * CAST(x AS DECIMAL(18,6))) AS sxx,
        |    SUM(CAST(x AS DECIMAL(18,6)) * CAST(y AS DECIMAL(18,6))) AS sxy
        |  FROM ux),
        |m1 AS (
        |  SELECT n, sxx, sxy,
        |    ROUND(CAST(sx AS DOUBLE) / n, 10) AS mx,
        |    ROUND(CAST(sy AS DOUBLE) / n, 10) AS my
        |  FROM mom),
        |m2 AS (
        |  SELECT mx,
        |    ROUND(CAST(sxy AS DOUBLE) / n - mx * my, 10) AS cov,
        |    ROUND(CAST(sxx AS DOUBLE) / n - mx * mx, 10) AS varx
        |  FROM m1),
        |th AS (SELECT mx, ROUND(cov / varx, 10) AS theta FROM m2),
        |adj AS (
        |  SELECT user_id % 2 AS arm, y,
        |    ROUND(y - theta * (x - mx), 6) AS yadj
        |  FROM ux, th),
        |g AS (
        |  SELECT arm, COUNT(*) AS n_users,
        |    SUM(CAST(ROUND(y, 10) AS DECIMAL(28,10))) AS sy,
        |    SUM(CAST(y AS DECIMAL(18,6)) * CAST(y AS DECIMAL(18,6))) AS syy,
        |    SUM(CAST(ROUND(yadj, 10) AS DECIMAL(28,10))) AS sa,
        |    SUM(CAST(yadj AS DECIMAL(18,6)) * CAST(yadj AS DECIMAL(18,6))) AS saa
        |  FROM adj GROUP BY arm),
        |g2 AS (
        |  SELECT arm, n_users, syy, saa,
        |    ROUND(CAST(sy AS DOUBLE) / n_users, 6) AS mean_y,
        |    ROUND(CAST(sa AS DOUBLE) / n_users, 6) AS mean_y_adj
        |  FROM g)
        |SELECT arm, n_users, mean_y, mean_y_adj,
        |  ROUND(CAST(syy AS DOUBLE) / n_users - mean_y * mean_y, 6) AS var_y,
        |  ROUND(CAST(saa AS DOUBLE) / n_users - mean_y_adj * mean_y_adj, 6)
        |    AS var_y_adj
        |FROM g2
        |ORDER BY arm""".stripMargin,
    "events_diff_in_diff" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, value
        |  FROM events),
        |sp AS (SELECT MIN(us) AS lo, MAX(us) AS hi FROM ev),
        |cutv AS (SELECT lo + (hi - lo) // 2 AS cut FROM sp),
        |cells AS (
        |  SELECT (user_id % 2 = 1) AS treated, (us >= cut) AS post,
        |    value
        |  FROM ev, cutv),
        |agged AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN NOT treated AND NOT post THEN 1 END)
        |      AS BIGINT) AS n_c_pre,
        |    CAST(SUM(CASE WHEN NOT treated AND post THEN 1 END)
        |      AS BIGINT) AS n_c_post,
        |    CAST(SUM(CASE WHEN treated AND NOT post THEN 1 END)
        |      AS BIGINT) AS n_t_pre,
        |    CAST(SUM(CASE WHEN treated AND post THEN 1 END)
        |      AS BIGINT) AS n_t_post,
        |    ROUND(CAST(SUM(CASE WHEN NOT treated AND NOT post
        |        THEN CAST(ROUND(value, 10) AS DECIMAL(28,10)) END)
        |      AS DOUBLE) / SUM(CASE WHEN NOT treated AND NOT post
        |        THEN 1 END), 6) AS m_c_pre,
        |    ROUND(CAST(SUM(CASE WHEN NOT treated AND post
        |        THEN CAST(ROUND(value, 10) AS DECIMAL(28,10)) END)
        |      AS DOUBLE) / SUM(CASE WHEN NOT treated AND post
        |        THEN 1 END), 6) AS m_c_post,
        |    ROUND(CAST(SUM(CASE WHEN treated AND NOT post
        |        THEN CAST(ROUND(value, 10) AS DECIMAL(28,10)) END)
        |      AS DOUBLE) / SUM(CASE WHEN treated AND NOT post
        |        THEN 1 END), 6) AS m_t_pre,
        |    ROUND(CAST(SUM(CASE WHEN treated AND post
        |        THEN CAST(ROUND(value, 10) AS DECIMAL(28,10)) END)
        |      AS DOUBLE) / SUM(CASE WHEN treated AND post
        |        THEN 1 END), 6) AS m_t_post
        |  FROM cells)
        |SELECT *, ROUND((m_t_post - m_t_pre) - (m_c_post - m_c_pre), 6)
        |  AS did
        |FROM agged""".stripMargin,
    "events_k_anonymity" ->
      """WITH g AS (
        |  SELECT event_type, hour(CAST(ts AS TIMESTAMP)) AS hr,
        |    FLOOR(value / 10.0) AS vbucket, COUNT(*) AS gsize
        |  FROM events GROUP BY 1, 2, 3),
        |a AS (
        |  SELECT event_type, CAST(MIN(gsize) AS BIGINT) AS k,
        |    COUNT(*) AS n_groups,
        |    CAST(SUM(gsize) AS BIGINT) AS n_rows,
        |    CAST(SUM(CASE WHEN gsize < 5 THEN gsize ELSE 0 END)
        |      AS BIGINT) AS rows_at_risk
        |  FROM g GROUP BY event_type)
        |SELECT *, ROUND(CAST(rows_at_risk AS DOUBLE) / n_rows, 6)
        |  AS risk_share
        |FROM a
        |ORDER BY event_type""".stripMargin,
    "events_scd2" ->
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
        |  FROM events WHERE user_id < 25),
        |ch AS (
        |  SELECT user_id, ts, event_id, event_type FROM (
        |    SELECT user_id, ts, event_id, event_type,
        |      lag(event_type) OVER (
        |        PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |    FROM e)
        |  WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id,
        |  CAST(row_number() OVER w AS BIGINT) AS version,
        |  event_type AS state,
        |  ts AS valid_from,
        |  lead(ts) OVER w AS valid_to,
        |  (lead(ts) OVER w IS NULL) AS is_current
        |FROM ch
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, version""".stripMargin,
    "events_scd2_lookup" ->
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
        |  FROM events WHERE user_id < 25),
        |ch AS (
        |  SELECT user_id, ts, event_id, event_type FROM (
        |    SELECT user_id, ts, event_id, event_type,
        |      lag(event_type) OVER (
        |        PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |    FROM e)
        |  WHERE prev IS NULL OR prev <> event_type),
        |dim AS (
        |  SELECT user_id, event_type AS state, ts AS valid_from,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS valid_to
        |  FROM ch),
        |f AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |  FROM events WHERE user_id < 25 AND event_type = 'purchase')
        |SELECT d.state, CAST(COUNT(*) AS BIGINT) AS n_purchases,
        |  CAST(ROUND(SUM(CAST(f.value AS DECIMAL(18,4))), 2) AS DOUBLE)
        |    AS sum_value
        |FROM f JOIN dim d ON f.user_id = d.user_id
        |  AND d.valid_from <= f.ts
        |  AND (d.valid_to IS NULL OR f.ts < d.valid_to)
        |GROUP BY d.state ORDER BY d.state""".stripMargin,
    "events_markov_entropy" ->
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lag(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev
        |  FROM events),
        |c AS (
        |  SELECT prev, event_type AS next, COUNT(*) AS n
        |  FROM seq WHERE prev IS NOT NULL
        |  GROUP BY prev, event_type),
        |g AS (
        |  SELECT prev, next, n,
        |    SUM(n) OVER (PARTITION BY prev) AS np,
        |    SUM(n) OVER () AS tot
        |  FROM c),
        |t AS (
        |  SELECT prev, np, tot,
        |    CAST(ROUND(
        |      -(CAST(n AS DOUBLE) / np) * LN(CAST(n AS DOUBLE) / np), 10)
        |      AS DECIMAL(20,10)) AS hterm
        |  FROM g),
        |per AS (
        |  SELECT prev, np, tot, SUM(hterm) AS hd
        |  FROM t GROUP BY prev, np, tot),
        |r AS (
        |  SELECT prev, np, hd,
        |    CAST(ROUND(CAST(np AS DOUBLE) / tot * CAST(hd AS DOUBLE), 10)
        |      AS DECIMAL(20,10)) AS rterm
        |  FROM per)
        |SELECT prev, CAST(np AS BIGINT) AS n,
        |  CAST(ROUND(hd, 6) AS DOUBLE) AS h,
        |  CAST(ROUND(SUM(rterm) OVER (), 6) AS DOUBLE) AS entropy_rate
        |FROM r
        |ORDER BY prev""".stripMargin,
    "events_funnel_latency" ->
      """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS tsu FROM events),
        |v AS (SELECT user_id, MIN(tsu) AS v_ts FROM e WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, v_ts, MIN(tsu) AS c_ts FROM e JOIN v ON v.user_id = e.user_id
        |      WHERE event_type = 'click' AND tsu > v_ts GROUP BY e.user_id, v_ts),
        |p AS (SELECT e.user_id, c.c_ts, MIN(tsu) AS p_ts FROM e JOIN c ON c.user_id = e.user_id
        |      WHERE event_type = 'purchase' AND tsu > c.c_ts GROUP BY e.user_id, c.c_ts),
        |g AS (
        |  SELECT '1_view_to_click' AS step,
        |    epoch_us(c_ts) - epoch_us(v_ts) AS gap_us FROM c
        |  UNION ALL
        |  SELECT '2_click_to_purchase' AS step,
        |    epoch_us(p_ts) - epoch_us(c_ts) AS gap_us FROM p)
        |SELECT step, COUNT(*) AS n_users,
        |  ROUND(CAST(SUM(gap_us) AS DOUBLE) / COUNT(*) / 1000000.0, 6) AS avg_gap_s,
        |  CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
        |FROM g
        |GROUP BY step
        |ORDER BY step""".stripMargin,
    "events_autocorr" ->
      """WITH hrs AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h,
        |    COUNT(*) AS c
        |  FROM events GROUP BY 1),
        |b AS (SELECT MIN(h) AS lo, MAX(h) AS hi FROM hrs),
        |grid AS (SELECT unnest(range(lo, hi + 1)) AS h FROM b),
        |series AS (
        |  SELECT g.h, COALESCE(hrs.c, 0) AS c
        |  FROM grid g LEFT JOIN hrs ON hrs.h = g.h),
        |pairs AS (
        |  SELECT CAST(k.k AS BIGINT) AS k, x.c AS x, y.c AS y
        |  FROM (VALUES (1), (24)) k(k)
        |  JOIN series x ON TRUE
        |  JOIN series y ON y.h = x.h + k.k),
        |m AS (
        |  SELECT k, COUNT(*) AS n_pairs,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x * y) AS BIGINT) AS sxy,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx,
        |    CAST(SUM(y * y) AS BIGINT) AS syy
        |  FROM pairs GROUP BY k)
        |SELECT k, n_pairs,
        |  ROUND(CAST(n_pairs * sxy - sx * sy AS DOUBLE) /
        |    SQRT(CAST(n_pairs * sxx - sx * sx AS DOUBLE) *
        |         CAST(n_pairs * syy - sy * sy AS DOUBLE)), 6) AS r
        |FROM m
        |ORDER BY k""".stripMargin,
    "events_transitions" ->
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lag(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev
        |  FROM events),
        |m AS (
        |  SELECT prev, event_type AS next, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM seq WHERE prev IS NOT NULL
        |  GROUP BY prev, event_type)
        |SELECT prev, next, n,
        |  ROUND(CAST(n AS DOUBLE) /
        |    SUM(n) OVER (PARTITION BY prev), 6) AS p
        |FROM m
        |ORDER BY prev, next""".stripMargin,
    "events_dedup_window" ->
      """WITH b AS (
        |  SELECT event_type,
        |    ROW_NUMBER() OVER (
        |      PARTITION BY user_id, event_type,
        |        epoch_us(CAST(ts AS TIMESTAMP)) // 300000000
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rk
        |  FROM events)
        |SELECT event_type, COUNT(*) AS n_raw,
        |  CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  ROUND(CAST(COUNT(*) - SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*), 6) AS dup_rate
        |FROM b
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "events_seasonality" ->
      """SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 + 4) % 7 AS dow,
        |  (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24 AS hour,
        |  COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY dow, hour
        |ORDER BY dow, hour""".stripMargin,
    "events_user_journey" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, value,
        |    CAST(ts AS TIMESTAMP) AS tsu
        |  FROM events WHERE user_id < 20),
        |sess AS (
        |  SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions
        |  FROM (
        |    SELECT user_id,
        |      CASE WHEN lag(tsu) OVER w IS NULL
        |             OR epoch_us(tsu) - epoch_us(lag(tsu) OVER w) > 1800000000
        |           THEN 1 ELSE 0 END AS new_sess
        |    FROM e
        |    WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id))
        |  GROUP BY user_id),
        |top AS (
        |  SELECT user_id, event_type AS top_type FROM (
        |    SELECT user_id, event_type,
        |      ROW_NUMBER() OVER (PARTITION BY user_id
        |        ORDER BY COUNT(*) DESC, event_type) AS rn
        |    FROM e GROUP BY user_id, event_type) t
        |  WHERE rn = 1),
        |agg AS (
        |  SELECT user_id, COUNT(*) AS n_events,
        |    MIN(tsu) AS first_ts, MAX(tsu) AS last_ts,
        |    CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value
        |  FROM e GROUP BY user_id)
        |SELECT a.user_id, a.n_events, a.first_ts, a.last_ts, a.total_value,
        |  s.n_sessions, t.top_type
        |FROM agg a JOIN sess s ON a.user_id = s.user_id
        |JOIN top t ON a.user_id = t.user_id
        |ORDER BY a.user_id""".stripMargin,
    "events_value_buckets" ->
      """SELECT event_type,
        |  CAST(FLOOR(ROUND(value, 6) / 50) AS BIGINT) AS bucket,
        |  COUNT(*) AS n,
        |  ROUND(MIN(value), 6) AS min_v,
        |  ROUND(MAX(value), 6) AS max_v
        |FROM events
        |GROUP BY event_type, bucket
        |ORDER BY event_type, bucket""".stripMargin,
    "events_dwell" ->
      """WITH seq AS (
        |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    lead(epoch_us(CAST(ts AS TIMESTAMP)), 1) OVER (
        |      PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS next_us
        |  FROM events),
        |g AS (
        |  SELECT event_type, next_us - us AS gap_us
        |  FROM seq WHERE next_us IS NOT NULL)
        |SELECT event_type, COUNT(*) AS n,
        |  ROUND(CAST(SUM(gap_us) AS DOUBLE) / COUNT(*) / 1000000.0, 6) AS avg_gap_s,
        |  CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
        |FROM g
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "events_salted_join" ->
      """SELECT CAST(c.c_nationkey AS BIGINT) AS nationkey,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1
        |ORDER BY nationkey""".stripMargin,
    "events_skew_report" ->
      """SELECT user_id, COUNT(*) AS n
        |FROM events
        |GROUP BY user_id
        |ORDER BY n DESC, user_id
        |LIMIT 10""".stripMargin,
    "events_hourly" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY hour, event_type""".stripMargin,
    "events_burst" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |r AS (
        |  SELECT user_id, us,
        |    COUNT(*) OVER (PARTITION BY user_id ORDER BY us
        |      RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW) AS roll
        |  FROM e),
        |p AS (
        |  SELECT user_id, us, roll,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY roll DESC, us) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n_events
        |  FROM r)
        |SELECT user_id, n_events, roll AS peak_1h, us AS peak_at_us
        |FROM p WHERE rn = 1
        |ORDER BY peak_1h DESC, user_id
        |LIMIT 50""".stripMargin,
    "events_anomaly_zscore" ->
      """WITH p AS (
        |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h, value
        |  FROM events WHERE event_type = 'purchase'),
        |agg AS (
        |  SELECT h, COUNT(*) AS n FROM p GROUP BY h),
        |grid AS (
        |  SELECT unnest(generate_series((SELECT MIN(h) FROM p),
        |    (SELECT MAX(h) FROM p), INTERVAL 1 HOUR)) AS h),
        |filled AS (
        |  SELECT grid.h AS h, COALESCE(agg.n, 0) AS n
        |  FROM grid LEFT JOIN agg ON agg.h = grid.h),
        |scored AS (
        |  SELECT h, n,
        |    AVG(n) OVER w AS mu,
        |    STDDEV_SAMP(n) OVER w AS sd
        |  FROM filled
        |  WINDOW w AS (ORDER BY h ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT h, n, ROUND(mu, 4) AS mu_24h, ROUND((n - mu) / sd, 4) AS z
        |FROM scored
        |WHERE sd IS NOT NULL AND sd > 0 AND ABS(ROUND((n - mu) / sd, 4)) >= 2
        |ORDER BY h""".stripMargin,
    "events_locf" ->
      """WITH f AS (
        |  SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS d, value
        |  FROM events WHERE user_id < 50 AND event_type = 'purchase'),
        |daily AS (
        |  SELECT user_id, d,
        |    CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS day_value
        |  FROM f GROUP BY user_id, d),
        |grid AS (
        |  SELECT unnest(generate_series(MIN(d), MAX(d), INTERVAL 1 DAY)) AS d
        |  FROM f),
        |g AS (
        |  SELECT u.user_id, grid.d
        |  FROM (SELECT DISTINCT user_id FROM f) u CROSS JOIN grid)
        |SELECT g.user_id, g.d,
        |  COALESCE(LAST_VALUE(daily.day_value IGNORE NULLS) OVER (
        |    PARTITION BY g.user_id ORDER BY g.d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0) AS locf_value
        |FROM g LEFT JOIN daily ON daily.user_id = g.user_id AND daily.d = g.d
        |ORDER BY g.user_id, g.d""".stripMargin,
    "events_gap_fill" ->
      """WITH p AS (
        |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h, value
        |  FROM events WHERE event_type = 'purchase'),
        |agg AS (
        |  SELECT h, COUNT(*) AS n,
        |    CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
        |  FROM p GROUP BY h),
        |grid AS (
        |  SELECT unnest(generate_series((SELECT MIN(h) FROM p),
        |    (SELECT MAX(h) FROM p), INTERVAL 1 HOUR)) AS h)
        |SELECT grid.h AS h, COALESCE(agg.n, 0) AS n,
        |  COALESCE(agg.sum_value, 0.0) AS sum_value
        |FROM grid LEFT JOIN agg ON agg.h = grid.h
        |ORDER BY grid.h""".stripMargin,
    "events_dau_stickiness" ->
      """WITH ud AS (
        |  SELECT DISTINCT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS d,
        |    user_id
        |  FROM events),
        |dau AS (SELECT d, COUNT(DISTINCT user_id) AS dau FROM ud GROUP BY d),
        |mau AS (
        |  SELECT g.d, COUNT(DISTINCT ud.user_id) AS mau28
        |  FROM (SELECT d FROM dau) g
        |  JOIN ud ON ud.d BETWEEN g.d - 27 AND g.d
        |  GROUP BY g.d)
        |SELECT dau.d AS d, dau.dau, mau.mau28,
        |  ROUND(dau.dau * 1.0 / mau.mau28, 6) AS stickiness
        |FROM dau JOIN mau ON mau.d = dau.d
        |ORDER BY dau.d""".stripMargin,
    "events_active_users" ->
      """WITH ud AS (
        |  SELECT DISTINCT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS d,
        |    user_id
        |  FROM events),
        |dau AS (SELECT d, COUNT(DISTINCT user_id) AS dau FROM ud GROUP BY d),
        |wau AS (
        |  SELECT g.d, COUNT(DISTINCT ud.user_id) AS wau7
        |  FROM (SELECT d FROM dau) g
        |  JOIN ud ON ud.d BETWEEN g.d - 6 AND g.d
        |  GROUP BY g.d)
        |SELECT dau.d AS d, dau.dau, wau.wau7
        |FROM dau JOIN wau ON wau.d = dau.d
        |ORDER BY dau.d""".stripMargin,
    "events_sla_monitor" ->
      """WITH wm AS (
        |  SELECT MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS wm_us FROM events),
        |daily AS (
        |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
        |    COUNT(*) AS n,
        |    MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us,
        |    SUM(CASE WHEN value IS NULL OR value <= 0 THEN 1 ELSE 0 END)
        |      AS bad_value,
        |    SUM(CASE WHEN props IS NULL OR props = '' THEN 1 ELSE 0 END)
        |      AS empty_props
        |  FROM events GROUP BY 1, 2),
        |st AS (
        |  SELECT event_type, COUNT(*) AS n_days,
        |    CAST(SUM(n) AS BIGINT) AS n_events,
        |    MAX(last_us) AS type_last_us,
        |    CAST(SUM(bad_value) AS BIGINT) AS bad_value,
        |    CAST(SUM(empty_props) AS BIGINT) AS empty_props,
        |    CAST(SUM(CAST(n AS DECIMAL(18,0))) AS DOUBLE) / COUNT(*) AS mu,
        |    SQRT(CAST(SUM(CAST(n * n AS DECIMAL(28,0))) AS DOUBLE) / COUNT(*)
        |      - (CAST(SUM(CAST(n AS DECIMAL(18,0))) AS DOUBLE) / COUNT(*))
        |        * (CAST(SUM(CAST(n AS DECIMAL(18,0))) AS DOUBLE) / COUNT(*)))
        |      AS sd
        |  FROM daily GROUP BY event_type),
        |anom AS (
        |  SELECT d.event_type,
        |    CAST(SUM(CASE WHEN ABS(d.n - st.mu) > 3.0 * st.sd
        |             THEN 1 ELSE 0 END) AS BIGINT) AS anomalous_days
        |  FROM daily d JOIN st ON d.event_type = st.event_type
        |  GROUP BY d.event_type)
        |SELECT st.event_type, st.n_days, st.n_events,
        |  (wm_us - type_last_us) // 60000000 AS freshness_min,
        |  anom.anomalous_days, st.bad_value, st.empty_props
        |FROM st JOIN anom ON st.event_type = anom.event_type, wm
        |ORDER BY st.event_type""".stripMargin,
    "events_decay_features" ->
      """WITH snap AS (
        |  SELECT MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS snap_us FROM events),
        |d AS (
        |  SELECT user_id, event_type, value,
        |    CAST(ROUND(exp(-(CAST(snap_us - epoch_us(CAST(ts AS TIMESTAMP))
        |      AS DOUBLE) / 86400000000.0) / 10.0), 10) AS DECIMAL(20,10)) AS decay
        |  FROM events, snap)
        |SELECT user_id, COUNT(*) AS n_events,
        |  CAST(ROUND(SUM(decay), 6) AS DOUBLE) AS decayed_count,
        |  CAST(ROUND(SUM(CASE WHEN event_type = 'purchase'
        |    THEN CAST(ROUND(CAST(decay AS DOUBLE) * ROUND(value, 6), 10)
        |         AS DECIMAL(24,10))
        |    ELSE CAST(0 AS DECIMAL(24,10)) END), 6) AS DOUBLE) AS decayed_spend
        |FROM d GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    "events_sliding_native" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events),
        |arms AS (
        |  SELECT event_type,
        |    us // 1800000000 * 1800000000 AS ws FROM e
        |  UNION ALL
        |  SELECT event_type,
        |    (us // 1800000000 - 1) * 1800000000 AS ws FROM e)
        |SELECT make_timestamp(ws) AS w_start,
        |  make_timestamp(ws + 3600000000) AS w_end,
        |  event_type, COUNT(*) AS n
        |FROM arms
        |GROUP BY 1, 2, 3
        |ORDER BY w_start, event_type""".stripMargin,
    "events_session_window" ->
      """WITH g AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS tsu,
        |    lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_ts
        |  FROM events),
    |m AS (
        |  SELECT user_id, event_id, tsu,
        |    CASE WHEN prev_ts IS NULL
        |           OR epoch_us(tsu) - epoch_us(prev_ts) >= 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM g),
        |sess AS (
        |  SELECT user_id, tsu,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY tsu, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM m)
        |SELECT user_id, MIN(tsu) AS first_ts, MAX(tsu) AS last_ts,
        |  COUNT(*) AS n_events
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, first_ts""".stripMargin,
    "events_path_trigrams" ->
      """WITH o AS (
        |  SELECT user_id, event_type AS e1,
        |    LEAD(event_type, 1) OVER w AS e2,
        |    LEAD(event_type, 2) OVER w AS e3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id
        |               ORDER BY CAST(ts AS TIMESTAMP), event_id)),
        |p AS (
        |  SELECT user_id, e1 || '>' || e2 || '>' || e3 AS path
        |  FROM o WHERE e3 IS NOT NULL)
        |SELECT path, COUNT(*) AS n_occ,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM p GROUP BY path
        |ORDER BY n_occ DESC, path
        |LIMIT 15""".stripMargin,
    "events_overlap_join" ->
      """WITH a AS (
        |  SELECT user_id, event_id AS a_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS a_st,
        |    epoch_us(CAST(ts AS TIMESTAMP))
        |      + CAST(ROUND(value, 0) AS BIGINT) * 60000000 AS a_en
        |  FROM events WHERE event_type = 'error'),
        |b AS (
        |  SELECT user_id, event_id AS b_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS b_st,
        |    epoch_us(CAST(ts AS TIMESTAMP))
        |      + CAST(ROUND(value, 0) AS BIGINT) * 60000000 AS b_en
        |  FROM events WHERE event_type = 'purchase')
        |SELECT a.user_id, a_id, b_id,
        |  LEAST(a_en, b_en) - GREATEST(a_st, b_st) AS overlap_us
        |FROM a JOIN b ON a.user_id = b.user_id
        |  AND a_st < b_en AND b_st < a_en
        |ORDER BY a.user_id, a_id, b_id""".stripMargin,
    "events_peak_concurrency" ->
      """WITH iv AS (
        |  SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS st,
        |    epoch_us(CAST(ts AS TIMESTAMP))
        |      + CAST(ROUND(value, 0) AS BIGINT) * 1000000 AS en
        |  FROM events),
        |marks AS (
        |  SELECT event_type, st AS t, 1 AS d FROM iv
        |  UNION ALL
        |  SELECT event_type, en AS t, -1 AS d FROM iv),
        |depth AS (
        |  SELECT event_type, d,
        |    SUM(d) OVER (PARTITION BY event_type ORDER BY t, d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS depth
        |  FROM marks)
        |SELECT event_type,
        |  CAST(MAX(depth) AS BIGINT) AS peak_concurrency,
        |  CAST(SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_intervals
        |FROM depth GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "events_streak" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
        |  FROM events),
        |g AS (
        |  SELECT user_id,
        |    date_diff('day', DATE '2024-01-01', d)
        |      - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS anchor
        |  FROM days),
        |runs AS (
        |  SELECT user_id, anchor, COUNT(*) AS len
        |  FROM g GROUP BY 1, 2)
        |SELECT user_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_streaks,
        |  CAST(MAX(len) AS BIGINT) AS longest_streak,
        |  CAST(SUM(len) AS BIGINT) AS active_days
        |FROM runs GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    "events_anomaly_mad" ->
      """WITH e AS (
        |  SELECT event_type, ROUND(value, 6) AS v FROM events),
        |med AS (
        |  SELECT event_type, ROUND(quantile_cont(v, 0.5), 6) AS med
        |  FROM e GROUP BY 1),
        |dev AS (
        |  SELECT e.event_type, med.med, ROUND(ABS(v - med.med), 6) AS ad
        |  FROM e JOIN med ON e.event_type = med.event_type),
        |st AS (
        |  SELECT event_type, ROUND(quantile_cont(ad, 0.5), 6) AS mad,
        |    MAX(med) AS med
        |  FROM dev GROUP BY 1)
        |SELECT d.event_type, st.med, st.mad,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN ROUND(0.6745 * d.ad, 6) > ROUND(3.5 * st.mad, 6)
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM dev d JOIN st ON d.event_type = st.event_type
        |GROUP BY 1, 2, 3
        |ORDER BY 1""".stripMargin,
    "events_user_gini" ->
      """WITH cnt AS (
        |  SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id),
        |rk AS (
        |  SELECT user_id, n,
        |    ROW_NUMBER() OVER (ORDER BY n, user_id) AS rk
        |  FROM cnt),
        |tot AS (
        |  SELECT COUNT(*) AS nu, SUM(n) AS s,
        |    ROUND(2.0 * SUM(rk * n) / (COUNT(*) * SUM(n))
        |      - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini
        |  FROM rk)
        |SELECT CAST(CEIL(rk * 10.0 / nu) AS BIGINT) AS decile,
        |  CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(SUM(n) AS BIGINT) AS n_events,
        |  ROUND(CAST(SUM(n) AS DOUBLE) / MAX(s), 6) AS share,
        |  gini
        |FROM rk, tot
        |GROUP BY 1, gini
        |ORDER BY 1""".stripMargin,
    "events_attribution" ->
      """WITH conv AS (
        |  SELECT user_id AS cu, event_id AS cid,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS cts
        |  FROM events WHERE event_type = 'purchase'),
        |touch AS (
        |  SELECT user_id AS tu, event_id AS tid, event_type AS channel,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS tts
        |  FROM events WHERE event_type IN ('click', 'view')),
        |pairs AS (
        |  SELECT cid, tid, channel, tts
        |  FROM conv JOIN touch ON cu = tu
        |    AND tts < cts AND tts >= cts - 86400000000),
        |m AS (
        |  SELECT channel, cid,
        |    COUNT(*) OVER (PARTITION BY cid) AS k,
        |    CASE WHEN ROW_NUMBER() OVER (PARTITION BY cid
        |      ORDER BY tts, tid) = 1 THEN 1 ELSE 0 END AS first_t,
        |    CASE WHEN ROW_NUMBER() OVER (PARTITION BY cid
        |      ORDER BY tts DESC, tid DESC) = 1 THEN 1 ELSE 0 END AS last_t
        |  FROM pairs)
        |SELECT channel,
        |  CAST(COUNT(*) AS BIGINT) AS n_touches,
        |  CAST(COUNT(DISTINCT cid) AS BIGINT) AS n_conversions,
        |  CAST(SUM(first_t) AS BIGINT) AS first_touch,
        |  CAST(SUM(last_t) AS BIGINT) AS last_touch,
        |  CAST(ROUND(SUM(CAST(ROUND(1.0 / k, 10) AS DECIMAL(20,10))), 6)
        |    AS DOUBLE) AS linear_credit
        |FROM m GROUP BY channel
        |ORDER BY channel""".stripMargin,
    "events_forecast_naive" ->
      """WITH h AS (
        |  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
        |    SUM(CAST(value AS DECIMAL(18,4))) AS v
        |  FROM events GROUP BY 1, 2),
        |j AS (
        |  SELECT a.event_type, a.v AS actual, f.v AS pred
        |  FROM h a JOIN h f ON a.event_type = f.event_type
        |    AND f.hour + INTERVAL 7 DAY = a.hour)
        |SELECT event_type, COUNT(*) AS n_hours,
        |  ROUND(CAST(SUM(CAST(ABS(actual - pred) AS DECIMAL(28,10)))
        |    AS DOUBLE) / COUNT(*), 6) AS mae,
        |  ROUND(CAST(SUM(ABS(actual - pred)) AS DOUBLE)
        |    / CAST(SUM(actual) AS DOUBLE), 6) AS wape
        |FROM j GROUP BY 1
        |ORDER BY 1""".stripMargin,
    "events_interval_union" ->
      """WITH iv AS (
        |  SELECT user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS st,
        |    epoch_us(CAST(ts AS TIMESTAMP))
        |      + CAST(ROUND(value, 0) AS BIGINT) * 1000000 AS en
        |  FROM events),
        |m AS (
        |  SELECT user_id, event_id, st, en,
        |    MAX(en) OVER (PARTITION BY user_id ORDER BY st, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_prev_en
        |  FROM iv),
        |f AS (
        |  SELECT user_id, event_id, st, en,
        |    CASE WHEN max_prev_en IS NULL OR st > max_prev_en
        |         THEN 1 ELSE 0 END AS new_island
        |  FROM m),
        |isl AS (
        |  SELECT user_id, st, en,
        |    SUM(new_island) OVER (PARTITION BY user_id ORDER BY st, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM f),
        |per AS (
        |  SELECT user_id, island,
        |    MAX(en) - MIN(st) AS covered_us, COUNT(*) AS n_iv
        |  FROM isl GROUP BY 1, 2)
        |SELECT user_id,
        |  CAST(SUM(n_iv) AS BIGINT) AS n_intervals,
        |  CAST(COUNT(*) AS BIGINT) AS n_islands,
        |  CAST(SUM(covered_us) AS BIGINT) AS covered_us
        |FROM per GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    "events_sessions" ->
      """WITH g AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS tsu,
        |    lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_ts
        |  FROM events),
        |m AS (
        |  SELECT user_id, event_id, tsu,
        |    CASE WHEN prev_ts IS NULL OR epoch_us(tsu) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM g),
        |sess AS (
        |  SELECT user_id,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY tsu, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM m),
        |per AS (SELECT user_id, sess_id, COUNT(*) AS sess_events
        |        FROM sess GROUP BY user_id, sess_id)
        |SELECT user_id, COUNT(*) AS n_sessions,
        |  CAST(SUM(sess_events) AS BIGINT) AS n_events,
        |  CAST(MAX(sess_events) AS BIGINT) AS max_session_events
        |FROM per
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    "events_cohort_retention" ->
      """WITH e AS (
        |  SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS wk
        |  FROM events),
        |c AS (SELECT user_id, MIN(wk) AS cohort_wk FROM e GROUP BY user_id)
        |SELECT cohort_wk,
        |  CAST(date_diff('day', cohort_wk, wk) // 7 AS BIGINT) AS week_offset,
        |  COUNT(DISTINCT user_id) AS n_active
        |FROM e JOIN c USING (user_id)
        |GROUP BY cohort_wk, week_offset
        |ORDER BY cohort_wk, week_offset""".stripMargin,
    "events_cohort_ltv" ->
      """WITH cohort AS (
        |  SELECT user_id,
        |    CAST(date_trunc('week', MIN(CAST(ts AS TIMESTAMP))) AS DATE) AS cohort_wk
        |  FROM events GROUP BY user_id),
        |sizes AS (SELECT cohort_wk, COUNT(*) AS cohort_size FROM cohort GROUP BY 1),
        |p AS (
        |  SELECT c.cohort_wk,
        |    CAST(date_diff('day', c.cohort_wk,
        |      CAST(date_trunc('week', CAST(e.ts AS TIMESTAMP)) AS DATE)) // 7
        |      AS BIGINT) AS age_wk,
        |    e.value, e.user_id
        |  FROM events e JOIN cohort c USING (user_id)
        |  WHERE e.event_type = 'purchase'),
        |wkagg AS (
        |  SELECT cohort_wk, age_wk,
        |    SUM(CAST(value AS DECIMAL(18,4))) AS wk_value,
        |    COUNT(DISTINCT user_id) AS n_buyers
        |  FROM p GROUP BY 1, 2),
        |cum AS (
        |  SELECT cohort_wk, age_wk, n_buyers,
        |    SUM(wk_value) OVER (PARTITION BY cohort_wk ORDER BY age_wk
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_value
        |  FROM wkagg)
        |SELECT cu.cohort_wk, age_wk, s.cohort_size, n_buyers,
        |  CAST(ROUND(cum_value, 2) AS DOUBLE) AS cum_value,
        |  CAST(cum_value * 1000000 AS BIGINT) // s.cohort_size AS ltv_micros_per_user
        |FROM cum cu JOIN sizes s ON s.cohort_wk = cu.cohort_wk
        |ORDER BY cu.cohort_wk, age_wk""".stripMargin,
    "events_funnel" ->
      """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS tsu FROM events),
        |v AS (SELECT user_id, MIN(tsu) AS v_ts FROM e WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, MIN(tsu) AS c_ts FROM e JOIN v ON v.user_id = e.user_id
        |      WHERE event_type = 'click' AND tsu > v_ts GROUP BY e.user_id),
        |p AS (SELECT e.user_id, MIN(tsu) AS p_ts FROM e JOIN c ON c.user_id = e.user_id
        |      WHERE event_type = 'purchase' AND tsu > c_ts GROUP BY e.user_id)
        |SELECT (SELECT COUNT(*) FROM v) AS viewed,
        |       (SELECT COUNT(*) FROM c) AS clicked_after_view,
        |       (SELECT COUNT(*) FROM p) AS purchased_after_click""".stripMargin,
    "events_sessions_sw" ->
      """WITH g AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS tsu,
        |    lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_ts
        |  FROM events),
        |m AS (
        |  SELECT user_id, event_id, tsu,
        |    CASE WHEN prev_ts IS NULL OR epoch_us(tsu) - epoch_us(prev_ts) >= 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM g),
        |sess AS (
        |  SELECT user_id,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY tsu, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM m),
        |per AS (SELECT user_id, sess_id, COUNT(*) AS sess_events
        |        FROM sess GROUP BY user_id, sess_id)
        |SELECT user_id, COUNT(*) AS n_sessions,
        |  CAST(SUM(sess_events) AS BIGINT) AS n_events,
        |  CAST(MAX(sess_events) AS BIGINT) AS max_session_events
        |FROM per
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    "events_asof_join" -> asOfOracle,
    // strict-inequality as-of (tie-proof) — correlated max-subquery
    // oracle, independent of the window formulation
    "events_asof_custom" ->
      """WITH purchases AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS tsu
        |  FROM events WHERE event_type = 'purchase'),
        |clicks AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS tsu
        |  FROM events WHERE event_type = 'click'),
        |g AS (
        |  SELECT p.user_id,
        |    epoch_us(p.tsu) - (SELECT MAX(epoch_us(c.tsu)) FROM clicks c
        |                       WHERE c.user_id = p.user_id AND c.tsu < p.tsu) AS gap_us
        |  FROM purchases p)
        |SELECT user_id, COUNT(*) AS n_purchases, COUNT(gap_us) AS n_matched,
        |  CAST(COALESCE(SUM(gap_us), 0) AS BIGINT) AS sum_gap_us
        |FROM g
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    "events_asof_fwd" ->
      """WITH clicks AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS tsu
        |  FROM events WHERE event_type = 'click'),
        |purchases AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS tsu
        |  FROM events WHERE event_type = 'purchase'),
        |g AS (
        |  SELECT c.user_id,
        |    (SELECT MIN(epoch_us(p.tsu)) FROM purchases p
        |     WHERE p.user_id = c.user_id AND p.tsu >= c.tsu
        |       AND p.tsu <= c.tsu + INTERVAL 1 HOUR)
        |      - epoch_us(c.tsu) AS gap_us
        |  FROM clicks c)
        |SELECT user_id, COUNT(*) AS n_clicks, COUNT(gap_us) AS n_converted,
        |  CAST(COALESCE(SUM(gap_us), 0) AS BIGINT) AS sum_gap_us
        |FROM g
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    // nearest-direction as-of: per purchase, the back candidate is the
    // newest click <= p_ts and the forward candidate the earliest click
    // > p_ts, both within 30 min; smaller |gap| wins, ties backward —
    // exactly the merge exec's decision rule
    "events_asof_near" ->
      """WITH purchases AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS tsu
        |  FROM events WHERE event_type = 'purchase'),
        |clicks AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS tsu
        |  FROM events WHERE event_type = 'click'),
        |cand AS (
        |  SELECT p.user_id, epoch_us(p.tsu) AS p_us,
        |    (SELECT MAX(epoch_us(c.tsu)) FROM clicks c
        |     WHERE c.user_id = p.user_id AND c.tsu <= p.tsu
        |       AND c.tsu >= p.tsu - INTERVAL 30 MINUTE) AS b_us,
        |    (SELECT MIN(epoch_us(c.tsu)) FROM clicks c
        |     WHERE c.user_id = p.user_id AND c.tsu > p.tsu
        |       AND c.tsu <= p.tsu + INTERVAL 30 MINUTE) AS f_us
        |  FROM purchases p),
        |pick AS (
        |  SELECT user_id,
        |    CASE WHEN b_us IS NULL AND f_us IS NULL THEN NULL
        |         WHEN f_us IS NULL THEN p_us - b_us
        |         WHEN b_us IS NULL THEN f_us - p_us
        |         WHEN p_us - b_us <= f_us - p_us THEN p_us - b_us
        |         ELSE f_us - p_us END AS gap_us,
        |    CASE WHEN b_us IS NULL AND f_us IS NULL THEN 0
        |         WHEN f_us IS NULL THEN 1
        |         WHEN b_us IS NULL THEN 0
        |         WHEN p_us - b_us <= f_us - p_us THEN 1
        |         ELSE 0 END AS is_back
        |  FROM cand)
        |SELECT user_id, COUNT(*) AS n_purchases, COUNT(gap_us) AS n_matched,
        |  CAST(SUM(is_back) AS BIGINT) AS n_back,
        |  CAST(COALESCE(SUM(gap_us), 0) AS BIGINT) AS sum_gap_us
        |FROM pick
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    "events_json_props" ->
      """SELECT event_type, year(CAST(ts AS TIMESTAMP)) AS y,
        |  month(CAST(ts AS TIMESTAMP)) AS m, COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
        |FROM events
        |GROUP BY 1, 2, 3
        |ORDER BY event_type, y, m""".stripMargin,
    "events_props_variant" ->
      """SELECT event_type, year(CAST(ts AS TIMESTAMP)) AS y,
        |  month(CAST(ts AS TIMESTAMP)) AS m, COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
        |FROM events
        |GROUP BY 1, 2, 3
        |ORDER BY event_type, y, m""".stripMargin,
    "events_pivot_types" ->
      """SELECT user_id,
        |  COUNT(*) FILTER (WHERE event_type = 'click') AS n_click,
        |  COUNT(*) FILTER (WHERE event_type = 'error') AS n_error,
        |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
        |  COUNT(*) FILTER (WHERE event_type = 'signup') AS n_signup,
        |  COUNT(*) FILTER (WHERE event_type = 'view') AS n_view
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    // plain inequality join — DuckDB's IEJoin handles it natively, so
    // the oracle needs none of the bucketing the Spark side uses
    "events_range_join" ->
      """WITH c AS (
        |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS c_us
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS p_us
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c.user_id AS user_id, COUNT(DISTINCT c.event_id) AS n_converting_clicks,
        |  COUNT(*) AS n_pairs
        |FROM c JOIN p ON p.user_id = c.user_id
        |  AND p.p_us > c.c_us AND p.p_us <= c.c_us + 3600000000
        |GROUP BY c.user_id
        |ORDER BY c.user_id""".stripMargin,
    "events_top_per_user" ->
      """SELECT user_id, event_id, event_type, ROUND(value, 2) AS top_value FROM (
        |  SELECT user_id, event_id, event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rk
        |  FROM events) t
        |WHERE rk = 1
        |ORDER BY user_id""".stripMargin,
    // DuckDB lambdas index from 1 (Spark's zip_with sequence is built
    // 1-based to match); len(vs)−i exponents are therefore identical,
    // and list_sum folds left-to-right like Spark's aggregate().
    "events_ewma" ->
      """WITH w AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS tsu,
        |    list(value) OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id
        |      ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS vs
        |  FROM events)
        |SELECT user_id, tsu AS ts,
        |  ROUND(list_sum(list_transform(vs,
        |      (x, i) -> x * 0.7 * power(0.3, len(vs) - i)))
        |    / (1 - power(0.3, len(vs))), 6) AS ewma
        |FROM w
        |ORDER BY user_id, ts""".stripMargin,
    "events_rfm" ->
      """WITH m AS (
        |  SELECT user_id, MAX(CAST(ts AS TIMESTAMP)) AS last_ts,
        |    COUNT(*) AS freq,
        |    SUM(CAST(value AS DECIMAL(18,4))) AS mon
        |  FROM events GROUP BY user_id),
        |q AS (
        |  SELECT user_id,
        |    CAST(ntile(5) OVER (ORDER BY last_ts DESC, user_id) AS BIGINT) AS r_q,
        |    CAST(ntile(5) OVER (ORDER BY freq DESC, user_id) AS BIGINT) AS f_q,
        |    CAST(ntile(5) OVER (ORDER BY mon DESC, user_id) AS BIGINT) AS m_q
        |  FROM m)
        |SELECT r_q, f_q, m_q, COUNT(*) AS n_users
        |FROM q GROUP BY r_q, f_q, m_q
        |ORDER BY r_q, f_q, m_q""".stripMargin,
    "events_changepoint" ->
      """WITH h AS (
        |  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |s AS (
        |  SELECT event_type, hr,
        |    AVG(n) OVER (PARTITION BY event_type) AS mu,
        |    SUM(n) OVER (PARTITION BY event_type ORDER BY hr) AS cum_n,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hr) AS rn
        |  FROM h),
        |c AS (
        |  SELECT event_type, hr, ROUND(cum_n - rn * mu, 6) AS cusum FROM s),
        |k AS (
        |  SELECT event_type, hr, cusum,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY ABS(cusum) DESC, hr) AS pk
        |  FROM c)
        |SELECT event_type, hr AS peak_hr, cusum AS peak_cusum
        |FROM k WHERE pk = 1
        |ORDER BY event_type""".stripMargin)
}
