package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ml.SparkAsyncDL
import graft.nn.NetSpec

/** ML-adjacent query surface: feature preparation (SQL-expressible, so the
  * oracle can replay it) and end-to-end train+predict on the embeddings
  * table (nondeterministic by design — hogwild — so queries-only, no
  * oracle entry, per the driver contract).
  */
object MlOps {
  /** 3dp score bin of an ALREADY-6dp-rounded probability, computed in
    * EXACT DECIMAL domain: a 6dp value binned at 3dp in double domain
    * faces reachable digit-4 ties of exactly 500 (the r12 cross-engine
    * rounding class — flagged by OracleRoundingAuditSpec), while the
    * decimal hop rounds the same finite value identically on both
    * engines (HALF_UP = half-away-from-zero for the positive scores
    * here). Oracle mirror:
    * `CAST(ROUND(CAST(p6 AS DECIMAL(18,6)), 3) AS DOUBLE)`. */
  private def bin3(p6: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.round(p6.cast("decimal(18,6)"), 3)
      .cast("double")
  import Tables._
  import VectorOps._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // L1-normalized feature assembly from raw columns (VectorAssembler +
    // Normalizer(p=1) as pure SQL — the reference composes exactly these,
    // examples/autoencoder_example.py:27-28). The components are projected
    // as scalar doubles (f1, f2) rather than one array column: the
    // driver's compare canonicalizes rows by sorting every column, which
    // an array column breaks.
    "ml_feature_prep" -> { (s, dir) =>
      val total = abs(col("c_acctbal")) + abs(col("c_nationkey").cast("double"))
      // zero-norm guard: ANSI mode (Spark 4 default) turns x/0 into a
      // runtime crash; emit a zero vector instead, mirrored in the oracle
      def norm(x: Column): Column =
        when(total === 0.0, 0.0).otherwise(round(x / total, 6))
      customer(s, dir)
        .select(col("c_custkey"),
          norm(col("c_acctbal")).as("f1"),
          norm(col("c_nationkey").cast("double")).as("f2"))
        .orderBy(col("c_custkey"))
    },
    // per-class embedding statistics (labels as the training target)
    "ml_label_stats" -> { (s, dir) =>
      val v = col("embedding").cast("array<double>")
      embeddings(s, dir)
        .select(col("label"),
          element_at(v, 1).as("e1"),
          sqrt(dot(v, v)).as("l2norm"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          DetMean.mean6(sum(DetMean.el10(col("e1"))),
            count(lit(1))).as("avg_first"),
          DetMean.mean6(sum(DetMean.el10(col("l2norm"))),
            count(lit(1))).as("avg_norm"))
        .orderBy(col("label"))
    },
    // Temporal train/test split + leakage audit: split the event stream
    // at the 80%-of-span instant (exact integer-microsecond arithmetic,
    // lo + (hi−lo)·4 div 5 — the sampling-family determinism rule: no
    // quantile estimate, no RNG) and report the one row an ML owner
    // signs off on — split sizes, distinct users per side, and USER
    // OVERLAP across the cut. Temporal leakage via entities that
    // straddle the split is the classic way behavioral models cheat;
    // for user-level targets this overlap rate IS the leakage estimate,
    // and group-aware splitting (hash the user, not the clock —
    // ml_crossval_folds' rule) is the fix the number argues for. Scale:
    // one bounds aggregate broadcasts back as a one-row stat; the audit
    // is two distinct-aggregations and a semi join, all user-keyed.
    "ml_time_split" -> { (s, dir) =>
      val ev = events(s, dir)
        .select(unix_micros(col("ts")).as("us"), col("user_id"))
      val cut = ev.agg(min(col("us")).as("lo"), max(col("us")).as("hi"))
        .select((col("lo") + expr("(hi - lo) * 4 div 5")).as("cut"))
      val parts = ev.crossJoin(broadcast(cut))
      val train = parts.filter(col("us") <= col("cut"))
      val test = parts.filter(col("us") > col("cut"))
      val trainU = train.select(col("user_id")).distinct()
      val testU = test.select(col("user_id")).distinct()
      val overlap = trainU.join(testU, Seq("user_id"), "semi")
        .agg(count(lit(1)).as("users_overlap"))
      train.agg(count(lit(1)).as("n_train")).crossJoin(
          test.agg(count(lit(1)).as("n_test")))
        .crossJoin(trainU.agg(count(lit(1)).as("users_train")))
        .crossJoin(testU.agg(count(lit(1)).as("users_test")))
        .crossJoin(overlap)
        .select(col("n_train"), col("n_test"), col("users_train"),
          col("users_test"), col("users_overlap"),
          round(col("users_overlap").cast("double") / col("users_test"), 6)
            .as("leak_rate"))
    },
    // Contrastive training triplets over the embedding corpus — the
    // batch-construction step behind every contrastive/metric-learning
    // run (SimCLR/InfoNCE-style): per anchor, a same-label POSITIVE and
    // k sampled NEGATIVES, with the per-anchor margin and the HARD
    // negative (highest-cosine impostor) mined in the same pass. No RNG
    // anywhere — the sampling-family determinism rule: the positive is
    // the next same-label vec_id (cyclic via first_value wrap), and
    // negatives come from a multiplicative integer hash
    // (anchor·2654435761 + j·40503) mod N, reproducible across re-runs,
    // partitionings, and engines in exact BIGINT arithmetic (no
    // hex-string conversion, which DuckDB lacks). Hash negatives may
    // occasionally share the anchor's label (false-negative rate
    // ~1/|labels|) — standard in-batch-negatives behavior, accepted and
    // deterministic. Scale shape: one label-keyed window for positives,
    // negatives explode 4× then JOIN the corpus by id (shuffle joins
    // carry only the sampled ids + vectors, anchor-bounded not
    // corpus²); the corpus row count rides along as a broadcast one-row
    // stat. Per-anchor reduction: decimal-exact mean of 6dp-rounded
    // cosines, hard negative via one max(struct) argmax.
    "ml_contrastive_pairs" -> { (s, dir) =>
      val cos = graft.functions.VectorFunctions.cosine_sim _
      val e = embeddings(s, dir).select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      val n = e.agg(count(lit(1)).as("n"))
      val wl = org.apache.spark.sql.expressions.Window
        .partitionBy(col("label")).orderBy(col("vec_id"))
      val anchors = e
        .withColumn("pos_id", coalesce(lead(col("vec_id"), 1).over(wl),
          first(col("vec_id")).over(wl)))
        .filter(col("vec_id") % 5 === 0)
        .select(col("vec_id").as("anchor_id"), col("v").as("av"), col("pos_id"))
      val withPos = anchors
        .join(e.select(col("vec_id").as("pos_id"), col("v").as("pv")), "pos_id")
        .select(col("anchor_id"), col("pos_id"),
          round(cos(col("av"), col("pv")), 6).as("cos_pos"), col("av"))
      val negs = withPos
        .crossJoin(broadcast(n))
        .select(col("anchor_id"), col("pos_id"), col("cos_pos"), col("av"),
          col("n"), explode(sequence(lit(1), lit(4))).as("j"))
        .withColumn("neg_id",
          (col("anchor_id") * lit(2654435761L) + col("j") * lit(40503L)) % col("n"))
        .join(e.select(col("vec_id").as("neg_id"), col("v").as("nv")), "neg_id")
        .select(col("anchor_id"), col("pos_id"), col("cos_pos"), col("neg_id"),
          round(cos(col("av"), col("nv")), 6).as("cos_neg"))
      negs.groupBy(col("anchor_id"), col("pos_id"), col("cos_pos"))
        .agg(
          // mean of 4 = decimal-exact sum × decimal 0.25, ROUNDED IN THE
          // DECIMAL DOMAIN: both engines round decimals half-away-from-
          // zero, whereas rounding after a double cast diverges exactly
          // on scale-8 ties (x.xxxxxx50 — hit at sf0.001 row 44)
          round(sum(col("cos_neg").cast("decimal(18,6)")) *
              lit(new java.math.BigDecimal("0.25")), 6)
            .cast("double").as("avg_neg_cos"),
          max(struct(col("cos_neg").as("c"), (-col("neg_id")).as("ni"))).as("h"))
        .select(col("anchor_id"), col("pos_id"), col("cos_pos"),
          col("avg_neg_cos"),
          (-col("h.ni")).as("hard_neg_id"), col("h.c").as("hard_neg_cos"),
          round(col("cos_pos") - col("avg_neg_cos"), 6).as("margin"))
        .orderBy(col("anchor_id"))
    },
    // Next-event training pairs: the (context, next) transition table a
    // sequence model trains on, from per-user chronological event-type
    // streams — the event-log-to-training-data export every behavioral
    // model pipeline starts with. Scale shape: ONE user-keyed shuffle
    // (the lag window; per-task state is one user's stream), then the
    // aggregation collapses to ≤ |types|^4 rows — broadcast-sized
    // regardless of corpus. Ordering ties at micro precision break on
    // event_id in BOTH engines (the established events-ts idiom).
    "ml_sequence_pairs" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("c1", lag(col("event_type"), 3).over(w))
        .withColumn("c2", lag(col("event_type"), 2).over(w))
        .withColumn("c3", lag(col("event_type"), 1).over(w))
        .filter(col("c1").isNotNull)
        .groupBy(
          concat_ws(",", col("c1"), col("c2"), col("c3")).as("context"),
          col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("context"), col("next_type"))
        .limit(50)
    },
    // Hashing-trick featurization (the HashingTF shape): words map to a
    // 256-bucket feature space via the first two md5 hex chars, emitted
    // as the sparse (doc, bucket, count) triples a downstream trainer
    // consumes. The trick is WHY it scales: no vocabulary to build,
    // broadcast, or keep consistent across a 100 TB corpus — the
    // feature id is a pure projection, so the whole featurizer is one
    // codegen'd map + one partial-aggregated count. md5 (not hash())
    // because the oracle must land in identical buckets.
    "ml_feature_hash" -> { (s, dir) =>
      documents(s, dir)
        .filter(col("doc_id") < 20)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .select(col("doc_id"), substring(md5(col("word")), 1, 2).as("bucket"))
        .groupBy(col("doc_id"), col("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("doc_id"), col("bucket"))
    },
    // Deterministic k-fold assignment + per-fold balance audit: fold =
    // first md5 hex digit of the row id, mod 5 — hash-split, not RNG, so
    // the folds are stable under re-runs, retries, and any partitioning
    // (the same determinism rule as the sampling family). The audit
    // (count, label mean, distinct labels per fold) is what you check
    // BEFORE trusting cross-validation: a skewed fold invalidates the
    // whole CV estimate. One partial-aggregated pass.
    "ml_crossval_folds" -> { (s, dir) =>
      val h = ascii(substring(md5(col("vec_id").cast("string")), 1, 1))
      val hv = when(h >= 97, h - 87).otherwise(h - 48)
      embeddings(s, dir)
        .select((hv % 5).cast("long").as("fold"), col("label"))
        .groupBy(col("fold"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("label")), 6).as("avg_label"),
          countDistinct(col("label")).as("n_labels"))
        .orderBy(col("fold"))
    },
    // Precision/recall curve over the calibration probe at ten
    // thresholds — completes the eval family (confusion matrix = one
    // operating point; this is all of them). The threshold fan-out is
    // a row-local explode of a 10-element literal (corpus×10 rows into
    // a partial-aggregated count — never a per-threshold corpus scan),
    // and the divisions guard the empty-prediction edge with NULL, the
    // convention both engines share.
    "ml_pr_curve" -> { (s, dir) =>
      val v = col("embedding").cast("array<double>")
      val logit = round(aggregate(slice(v, 1, 4), lit(0.0), (a, x) => a + x), 6)
      val p = round(lit(1.0) / (lit(1.0) + exp(-logit)), 6)
      val scored = embeddings(s, dir)
        .select(p.as("p"), when(col("label") >= 5, 1L).otherwise(0L).as("pos"))
        .select(col("p"), col("pos"),
          explode(sequence(lit(0), lit(9))).as("ti"))
      scored
        .groupBy((col("ti").cast("double") / 10).as("threshold"))
        .agg(sum(when(col("p") >= col("ti").cast("double") / 10, col("pos"))).as("tp"),
          sum(when(col("p") >= col("ti").cast("double") / 10, 1L).otherwise(0L)).as("pp"),
          sum(col("pos")).as("ap"))
        .select(col("threshold"), col("tp").cast("long").as("tp"),
          col("pp").cast("long").as("pp"),
          round(when(col("pp") > 0, col("tp").cast("double") / col("pp")), 6)
            .as("prec"),
          round(col("tp").cast("double") / col("ap"), 6).as("recall"))
        .orderBy(col("threshold"))
    },
    // Binned ROC-AUC over the calibration probe: trapezoid area over
    // the ROC curve built from 3dp score bins. Binning is the
    // scale-honest formulation — an exact rank-statistic AUC needs a
    // GLOBAL rank window (one-task corpus serialization), while the
    // bin table is ≤1000 rows wherever the corpus size goes, and 3dp
    // bins bound the area error at ~1e-3, far below model-comparison
    // noise. Trapezoid terms round to 6dp and sum as exact DECIMAL on
    // the tiny bin table. Completes the eval family: confusion matrix
    // (one point), PR curve (ten points), AUC (the integral).
    "ml_auc" -> { (s, dir) =>
      val v = col("embedding").cast("array<double>")
      val logit = round(aggregate(slice(v, 1, 4), lit(0.0), (a, x) => a + x), 6)
      val p = round(lit(1.0) / (lit(1.0) + exp(-logit)), 6)
      val bins = embeddings(s, dir)
        .select(bin3(p).as("pb"),
          when(col("label") >= 5, 1L).otherwise(0L).as("pos"))
        .groupBy(col("pb"))
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("npos"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("pb").desc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val tot = bins.agg(sum(col("n")).as("alln"), sum(col("npos")).as("allpos"))
      val roc = bins.crossJoin(broadcast(tot))
        .withColumn("cum_pos", sum(col("npos")).over(w))
        .withColumn("cum_n", sum(col("n")).over(w))
        .select(col("pb"),
          (col("cum_pos").cast("double") / col("allpos")).as("tpr"),
          ((col("cum_n") - col("cum_pos")).cast("double") /
            (col("alln") - col("allpos"))).as("fpr"))
      val lw = org.apache.spark.sql.expressions.Window.orderBy(col("pb").desc)
      roc
        .withColumn("term", round(
          (col("fpr") - lag(col("fpr"), 1, 0.0).over(lw)) *
            (col("tpr") + lag(col("tpr"), 1, 0.0).over(lw)) / 2, 6))
        .agg(round(sum(col("term").cast("decimal(18,6)")).cast("double"), 6)
          .as("auc"),
          count(lit(1)).as("n_bins"))
    },
    // Learning curve — AUC as a function of training-set size, the
    // sample-efficiency read ("is more data still buying accuracy?")
    // that decides whether a 100 TB corpus needs MORE collection or
    // better curation. Five NESTED subsets (20..100%) carved by a
    // byte-valued md5 hash of vec_id (b*100 < frac*256 — exact integer
    // compare, deterministic in both engines, and each arm is a strict
    // superset of the previous, the property a learning curve needs).
    // One corpus scan: rows explode into their member arms, every arm
    // rides the same binned-ROC discipline as ml_auc with frac joining
    // the partition keys — the ROC windows run over the BIN table
    // (≤ arms × 1001 rows), never the corpus.
    "ml_learning_curve" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val v = col("embedding").cast("array<double>")
      val logit = round(aggregate(slice(v, 1, 4), lit(0.0), (a, x) => a + x), 6)
      val p = round(lit(1.0) / (lit(1.0) + exp(-logit)), 6)
      val hx: Column => Column = a => when(a >= 97, a - 87).otherwise(a - 48)
      val hexAt: Int => Column = i =>
        hx(ascii(substring(md5(col("vec_id").cast("string")), i, 1)))
      val b = hexAt(1) * 16 + hexAt(2)
      val arms = embeddings(s, dir)
        .select(bin3(p).as("pb"),
          when(col("label") >= 5, 1L).otherwise(0L).as("pos"), b.as("b"))
        .select(explode(array(Seq(20, 40, 60, 80, 100).map(lit): _*)).as("frac"),
          col("pb"), col("pos"), col("b"))
        .filter(col("b") * 100 < col("frac") * 256)
      val bins = arms.groupBy(col("frac"), col("pb"))
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("npos"))
      val tot = bins.groupBy(col("frac"))
        .agg(sum(col("n")).as("n_rows"), sum(col("npos")).as("allpos"))
      val w = Window.partitionBy(col("frac")).orderBy(col("pb").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      val lw = Window.partitionBy(col("frac")).orderBy(col("pb").desc)
      bins.join(broadcast(tot), Seq("frac"))
        .withColumn("cum_pos", sum(col("npos")).over(w))
        .withColumn("cum_n", sum(col("n")).over(w))
        .select(col("frac"), col("pb"), col("n_rows"),
          (col("cum_pos").cast("double") / col("allpos")).as("tpr"),
          ((col("cum_n") - col("cum_pos")).cast("double") /
            (col("n_rows") - col("allpos"))).as("fpr"))
        .withColumn("term", round(
          (col("fpr") - lag(col("fpr"), 1, 0.0).over(lw)) *
            (col("tpr") + lag(col("tpr"), 1, 0.0).over(lw)) / 2, 6))
        .groupBy(col("frac"))
        .agg(max(col("n_rows")).as("n_rows"),
          round(sum(col("term").cast("decimal(18,6)")).cast("double"), 6)
            .as("auc"))
        .orderBy(col("frac"))
    },
    // Winsorization — the robust-preprocessing step between raw values
    // and a scaler: clip each event type's values at its own exact
    // p05/p95 (heavy tails poison mean/std scalers; clipping at
    // percentiles bounds the damage without dropping rows). Report:
    // clip bounds, rows clipped each side, decimal-exact mean before/
    // after — the audit a feature pipeline logs per run. Exact
    // percentile buffers value→count per type (bounded by distinct 6dp
    // values; approx_percentile is the corpus-cardinality swap, as
    // text_quality_gate_approx demonstrates); the bounds broadcast
    // back onto one clipping pass.
    "ml_winsorize" -> { (s, dir) =>
      val e = events(s, dir)
        .select(col("event_type"), round(col("value"), 6).as("v"))
      val bounds = e.groupBy(col("event_type"))
        .agg(round(expr("percentile(v, 0.05)"), 6).as("lo"),
          round(expr("percentile(v, 0.95)"), 6).as("hi"))
      e.join(broadcast(bounds), "event_type")
        .withColumn("w", least(greatest(col("v"), col("lo")), col("hi")))
        .groupBy(col("event_type"), col("lo"), col("hi"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("v") < col("lo"), 1L).otherwise(0L)).cast("long")
            .as("clipped_low"),
          sum(when(col("v") > col("hi"), 1L).otherwise(0L)).cast("long")
            .as("clipped_high"),
          DetMean.mean6(sum(DetMean.el10(col("v"))),
            count(lit(1))).as("mean_raw"),
          DetMean.mean6(sum(DetMean.el10(col("w"))),
            count(lit(1))).as("mean_winsorized"))
        .orderBy(col("event_type"))
    },
    // Feature-ablation importance: ROC-AUC of the probe with each input
    // dimension knocked out, versus the full probe — the deterministic
    // stand-in for permutation importance (ablation needs no RNG, so
    // the oracle can replay it; the ranking it produces is the same
    // "which feature pays rent" signal). Scale shape: ONE corpus scan
    // serves all five arms — each row explodes to (arm, binned-score)
    // pairs in a single projection, one partial-aggregated groupBy
    // builds all arms' bins, and every window after that runs
    // PARTITIONED BY ARM on the ≤1000-row-per-arm bin table. Adding
    // arms (more features) widens the explode, never adds scans.
    "ml_permutation_importance" -> { (s, dir) =>
      val arms = Seq("none" -> Seq(1, 2, 3, 4), "drop_1" -> Seq(2, 3, 4),
        "drop_2" -> Seq(1, 3, 4), "drop_3" -> Seq(1, 2, 4),
        "drop_4" -> Seq(1, 2, 3))
      val v = col("embedding").cast("array<double>")
      def pb(ds: Seq[Int]) = {
        val logit = round(ds.map(i => element_at(v, i)).reduce(_ + _), 6)
        bin3(round(lit(1.0) / (lit(1.0) + exp(-logit)), 6))
      }
      val armArr = array(arms.map { case (n, ds) =>
        struct(lit(n).as("ablated"), pb(ds).as("pb")) }: _*)
      // localCheckpoint is what makes "one corpus scan" literal: the bin
      // table has four downstream consumers (tot, roc, aucs, full), and
      // un-materialized each would recompute the scan+explode pipeline
      // (plan-gated: exactly one FileScan of embeddings)
      val bins = embeddings(s, dir)
        .select(explode(armArr).as("a"),
          when(col("label") >= 5, 1L).otherwise(0L).as("pos"))
        .select(col("a.ablated").as("ablated"), col("a.pb").as("pb"), col("pos"))
        .groupBy(col("ablated"), col("pb"))
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("npos"))
        .localCheckpoint()
      val tot = bins.groupBy(col("ablated"))
        .agg(sum(col("n")).as("alln"), sum(col("npos")).as("allpos"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("ablated")).orderBy(col("pb").desc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val lw = org.apache.spark.sql.expressions.Window
        .partitionBy(col("ablated")).orderBy(col("pb").desc)
      val roc = bins.join(broadcast(tot), "ablated")
        .withColumn("cum_pos", sum(col("npos")).over(w))
        .withColumn("cum_n", sum(col("n")).over(w))
        .select(col("ablated"), col("pb"),
          (col("cum_pos").cast("double") / col("allpos")).as("tpr"),
          ((col("cum_n") - col("cum_pos")).cast("double") /
            (col("alln") - col("allpos"))).as("fpr"))
      val aucs = roc
        .withColumn("term", round(
          (col("fpr") - lag(col("fpr"), 1, 0.0).over(lw)) *
            (col("tpr") + lag(col("tpr"), 1, 0.0).over(lw)) / 2, 6))
        .groupBy(col("ablated"))
        .agg(round(sum(col("term").cast("decimal(18,6)")).cast("double"), 6)
          .as("auc"))
      val full = aucs.filter(col("ablated") === "none")
        .select(col("auc").as("full_auc"))
      aucs.crossJoin(broadcast(full))
        .select(col("ablated"), col("auc"),
          round(col("full_auc") - col("auc"), 6).as("delta"))
        .orderBy(col("ablated"))
    },
    // Embedding drift monitor: per-dimension two-sample z statistic
    // between the label<5 and label≥5 populations — the check a feature
    // store runs between snapshots ("did any dimension's distribution
    // move?"), here parameterized by label so the oracle can replay the
    // split. Decimal-moment sums per (group, dim) — 2×64 rows out of
    // one partial-aggregated pass — then the z projection on the tiny
    // stats table; the top-10 most-shifted dimensions surface.
    "ml_embedding_drift" -> { (s, dir) =>
      val e = embeddings(s, dir)
        .select(when(col("label") >= 5, 1).otherwise(0).as("grp"),
          posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "x")))
      // moments in EXACT integer arithmetic (the text_heaps_law
      // discipline — round(x*x, 6) of double products is the cross-
      // engine rounding-tie class): 6dp values become ×10⁶ BIGINTs,
      // Σx/Σx² are BIGINT sums (|x|<1 ⇒ x6²<10¹² — a 100 TB group
      // would widen the sum to DECIMAL(38,0), same exactness), and
      // mu/varp are closed-form double projections of exact integers.
      def i6(c: org.apache.spark.sql.Column) =
        (round(c, 6).cast("decimal(18,6)") * lit(1000000)).cast("long")
      val st = e.groupBy(col("grp"), col("pos"))
        .agg(count(lit(1)).as("n"), sum(i6(col("x"))).as("sx6"),
          sum(i6(col("x")) * i6(col("x"))).as("sx212"))
        .select(col("grp"), col("pos"), col("n"),
          (col("sx6").cast("double") /
            (col("n").cast("double") * lit(1e6))).as("mu"),
          (col("sx212").cast("double") /
            (col("n").cast("double") * lit(1e12)) -
            (col("sx6").cast("double") / (col("n").cast("double") * lit(1e6))) *
            (col("sx6").cast("double") / (col("n").cast("double") * lit(1e6))))
            .as("varp"))
      val a = st.filter(col("grp") === 0)
        .select(col("pos"), col("n").as("n0"), col("mu").as("mu0"), col("varp").as("v0"))
      val b = st.filter(col("grp") === 1)
        .select(col("pos").as("pos1"), col("n").as("n1"), col("mu").as("mu1"), col("varp").as("v1"))
      a.join(b, col("pos") === col("pos1"))
        .select(col("pos").cast("long").as("pos"),
          round(abs(col("mu1") - col("mu0")) /
            sqrt(col("v0") / col("n0") + col("v1") / col("n1")), 6).as("drift_z"))
        .orderBy(col("drift_z").desc, col("pos"))
        .limit(10)
    },
    // Confusion matrix for a deterministic linear probe (sum of the
    // first 8 embedding dims vs the binary label split) — the eval
    // primitive every model pipeline ends with, shaped for scale: one
    // codegen'd projection, one 4-cell aggregation, the total joins
    // back as a window over 4 rows. The probe is deliberately literal
    // (no trained weights) so the oracle replays it exactly; swap in a
    // model's scores and the plan is unchanged.
    "ml_confusion_matrix" -> { (s, dir) =>
      val v = col("embedding").cast("array<double>")
      val score = round(aggregate(slice(v, 1, 8), lit(0.0), (a, x) => a + x), 6)
      embeddings(s, dir)
        .select(when(col("label") >= 5, 1).otherwise(0).as("actual"),
          when(score > 0, 1).otherwise(0).as("predicted"))
        .groupBy(col("actual"), col("predicted"))
        .agg(count(lit(1)).as("n"))
        .withColumn("frac", round(col("n").cast("double") /
          sum(col("n")).over(org.apache.spark.sql.expressions.Window
            .partitionBy()), 6))
        .orderBy(col("actual"), col("predicted"))
    },
    // Calibration (reliability) bins: sigmoid of a 4-dim literal probe,
    // binned at 0.1 — does predicted probability match observed
    // positive rate per bin? The logit rounds to 6dp BEFORE the
    // sigmoid (both engines exp identical doubles — the
    // text_quality_score discipline) and the per-bin mean score sums
    // as exact DECIMAL, so the whole diagram is engine-exact. One
    // projection + one ≤10-row aggregation.
    "ml_calibration_bins" -> { (s, dir) =>
      val v = col("embedding").cast("array<double>")
      val logit = round(aggregate(slice(v, 1, 4), lit(0.0), (a, x) => a + x), 6)
      val p = round(lit(1.0) / (lit(1.0) + exp(-logit)), 6)
      embeddings(s, dir)
        .select(floor(p * 10).cast("long").as("bin"), p.as("p"),
          when(col("label") >= 5, 1L).otherwise(0L).as("pos"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          DetMean.mean6(sum(DetMean.el10(col("p"))),
            count(lit(1))).as("avg_score"),
          DetMean.mean6(sum(DetMean.el10(col("pos"))),
            count(lit(1))).as("frac_pos"))
        .orderBy(col("bin"))
    },
    // Kolmogorov–Smirnov drift statistic per event type between the
    // reference window (first half of the month) and the current one —
    // the distribution-free companion to ml_psi_drift: PSI weights the
    // whole density shift, KS reports the single worst ECDF gap, the
    // number a two-sample test would threshold. Values bin to integer
    // units (floor of the 6dp-rounded value — the PSI discipline, fixed
    // bins so both windows and both engines bin identically), the two
    // ECDFs accumulate as exact BIGINT cumulative counts over one
    // bin-ordered window per type, and each gap divides integers once
    // (no float accumulation anywhere — the division is the only
    // floating step, identical under any partitioning). Scale: corpus
    // collapses to type×bin counts in one partial-aggregated pass; the
    // window runs over the ≤~600-row-per-type bin table, not events.
    "ml_ks_drift" -> { (s, dir) =>
      val wc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("bin"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val wt = org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))
      events(s, dir)
        .select(col("event_type"),
          when(col("ts") < lit("2024-01-16").cast("timestamp"), lit("a"))
            .otherwise(lit("b")).as("half"),
          floor(round(col("value"), 6)).cast("long").as("bin"))
        .groupBy(col("event_type"), col("bin"))
        .agg(sum(when(col("half") === "a", 1L).otherwise(0L)).as("na"),
          sum(when(col("half") === "b", 1L).otherwise(0L)).as("nb"))
        .withColumn("ca", sum(col("na")).over(wc))
        .withColumn("cb", sum(col("nb")).over(wc))
        .withColumn("ta", sum(col("na")).over(wt))
        .withColumn("tb", sum(col("nb")).over(wt))
        .withColumn("gap", round(abs(
          col("ca").cast("double") / col("ta") -
            col("cb").cast("double") / col("tb")), 6))
        .groupBy(col("event_type"), col("ta"), col("tb"))
        .agg(max(col("gap")).as("ks"))
        .select(col("event_type"), col("ks"),
          col("ta").as("n_ref"), col("tb").as("n_cur"))
        .orderBy(col("event_type"))
    },
    // Cumulative gain / lift table over the calibration probe — the
    // targeting curve behind "mail the top decile": order the scored
    // population best-first, report what fraction of all positives each
    // cumulative score bucket captures (gain) and its rate multiple
    // over the base rate (lift). Buckets are the same 0.1-wide score
    // bins as ml_calibration_bins (fixed bins, not ntile — a global
    // rank window serializes the corpus into one task; the bin table
    // is ≤10 rows at any corpus size). Cumulative counts are exact
    // BIGINT window sums over the bin table; each gain/lift divides
    // integers once at the end.
    "ml_lift_gain" -> { (s, dir) =>
      val v = col("embedding").cast("array<double>")
      val logit = round(aggregate(slice(v, 1, 4), lit(0.0), (a, x) => a + x), 6)
      val p = round(lit(1.0) / (lit(1.0) + exp(-logit)), 6)
      val wc = org.apache.spark.sql.expressions.Window.orderBy(col("bucket").desc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val wt = org.apache.spark.sql.expressions.Window.partitionBy()
      embeddings(s, dir)
        .select(floor(p * 10).cast("long").as("bucket"),
          when(col("label") >= 5, 1L).otherwise(0L).as("pos"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("npos"))
        .withColumn("cum_n", sum(col("n")).over(wc))
        .withColumn("cum_pos", sum(col("npos")).over(wc))
        .withColumn("tot_n", sum(col("n")).over(wt))
        .withColumn("tot_pos", sum(col("npos")).over(wt))
        .select(col("bucket"), col("n"), col("npos"),
          round(col("cum_pos").cast("double") / col("tot_pos"), 6).as("cum_gain"),
          round(col("cum_pos").cast("double") * col("tot_n") /
            (col("cum_n") * col("tot_pos")), 6).as("cum_lift"))
        .orderBy(col("bucket").desc)
    },
    // Smoothed mean-target encoding of a categorical feature — the
    // leakage-safe categorical featurizer (CatBoost-style m-estimate):
    // encode customer nation by mean order value, shrunk toward the
    // global mean with m=10 pseudo-observations so rare categories
    // don't memorize their few targets. Money sums in exact
    // DECIMAL(28,2) (o_totalprice carries 2dp — the decimal-sum
    // determinism rule), the global mean rides along as a broadcast
    // one-row stat, and each encoding divides once. One orders-sized
    // aggregation keyed by the ≤25-row category; everything after runs
    // on the category table.
    "ml_target_encode" -> { (s, dir) =>
      val joined = orders(s, dir).select(col("o_custkey"), col("o_totalprice"))
        .join(customer(s, dir).select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
      val per = joined.groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(28,2)")).cast("double").as("s"))
      val tot = per.agg(sum(col("n")).as("tn"),
        round(sum(col("s").cast("decimal(28,2)")).cast("double"), 2).as("ts"))
      per.crossJoin(broadcast(tot))
        .select(col("c_nationkey"), col("n"),
          round(col("s") / col("n"), 6).as("raw_mean"),
          round((col("s") + lit(10.0) * (col("ts") / col("tn"))) /
            (col("n") + 10), 6).as("encoded"))
        .orderBy(col("c_nationkey"))
    },
    // Weight-of-evidence / information-value table over the calibration
    // probe — the credit-scoring featurizer: per score bucket, WoE =
    // ln(P(bucket|pos)/P(bucket|neg)) with Laplace 0.5-smoothing over
    // the 10-bucket grid (so empty-side buckets stay finite), and IV =
    // Σ (p−q)·WoE surfaces as a window total on every row (IV > 0.3 =
    // strong predictor). Terms round to 10dp and sum in exact decimal
    // (the ml_psi_drift discipline — order-independent under any
    // partitioning). One corpus pass to 10 cells; the rest is bucket
    // arithmetic.
    "ml_woe_iv" -> { (s, dir) =>
      val v = col("embedding").cast("array<double>")
      val logit = round(aggregate(slice(v, 1, 4), lit(0.0), (a, x) => a + x), 6)
      val p = round(lit(1.0) / (lit(1.0) + exp(-logit)), 6)
      val wt = org.apache.spark.sql.expressions.Window.partitionBy()
      embeddings(s, dir)
        .select(floor(p * 10).cast("long").as("bucket"),
          when(col("label") >= 5, 1L).otherwise(0L).as("pos"))
        .groupBy(col("bucket"))
        .agg(sum(col("pos")).as("npos"),
          sum(lit(1L) - col("pos")).as("nneg"))
        .withColumn("tp", sum(col("npos")).over(wt))
        .withColumn("tn", sum(col("nneg")).over(wt))
        .withColumn("pg", (col("npos") + 0.5) / (col("tp") + 5.0))
        .withColumn("pb", (col("nneg") + 0.5) / (col("tn") + 5.0))
        .withColumn("woe", round(log(col("pg") / col("pb")), 6))
        .withColumn("term",
          round((col("pg") - col("pb")) * log(col("pg") / col("pb")), 10)
            .cast("decimal(20,10)"))
        .withColumn("iv", round(sum(col("term")).over(wt), 6).cast("double"))
        .select(col("bucket"), col("npos"), col("nneg"), col("woe"), col("iv"))
        .orderBy(col("bucket"))
    },
    // Mutual information between the bucketed probe score and the class
    // label — the model-free dependence measure feature selection ranks
    // by (0 = independent): MI = Σ_xy p(x,y)·ln(p(x,y)/(p(x)p(y))) over
    // observed cells. The joint table is ≤ buckets×labels cells out of
    // one partial-aggregated corpus pass; marginals are window sums
    // over that tiny table, each term is pure integer arithmetic inside
    // one ln (counts, not pre-divided probabilities — ln((nxy·N)/(nx·ny))
    // keeps the float work to a single expression), terms round to 10dp
    // and sum in exact decimal.
    "ml_mutual_info" -> { (s, dir) =>
      val v = col("embedding").cast("array<double>")
      val logit = round(aggregate(slice(v, 1, 4), lit(0.0), (a, x) => a + x), 6)
      val p = round(lit(1.0) / (lit(1.0) + exp(-logit)), 6)
      val wx = org.apache.spark.sql.expressions.Window.partitionBy(col("bucket"))
      val wy = org.apache.spark.sql.expressions.Window.partitionBy(col("label"))
      val wt = org.apache.spark.sql.expressions.Window.partitionBy()
      embeddings(s, dir)
        .select(floor(p * 10).cast("long").as("bucket"), col("label"))
        .groupBy(col("bucket"), col("label"))
        .agg(count(lit(1)).as("nxy"))
        .withColumn("nx", sum(col("nxy")).over(wx))
        .withColumn("ny", sum(col("nxy")).over(wy))
        .withColumn("nn", sum(col("nxy")).over(wt))
        .withColumn("term", round(
          col("nxy").cast("double") / col("nn") *
            log(col("nxy").cast("double") * col("nn") /
              (col("nx").cast("double") * col("ny"))), 10)
          .cast("decimal(20,10)"))
        .agg(round(sum(col("term")), 6).cast("double").as("mi"),
          count(lit(1)).as("n_cells"))
    },
    // Chi-squared independence test over the (lang, source) contingency
    // table of documents — the categorical-feature relevance screen
    // (is a doc's language informative about its feed, or can the
    // column be dropped?) and the classic stratification audit. The
    // full grid matters: a zero-observed cell still contributes E to
    // the statistic, so the table is densified by crossing the two
    // broadcast-tiny level dimensions before the left join (same grid
    // discipline as ml_psi_drift). One corpus pass collapses to
    // |langs|×|sources| cells; expected counts are window sums over
    // that grid in pure integer arithmetic until the single division;
    // terms round to 10dp and sum in exact decimal. Output: the
    // statistic, degrees of freedom, Cramér's V (the [0,1] effect
    // size that makes the number comparable across grids), and cell
    // count — the one-row scorecard a feature-selection pass ranks by.
    "ml_chi2" -> { (s, dir) =>
      val wl = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
      val ws = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
      val wt = org.apache.spark.sql.expressions.Window.partitionBy()
      val d = documents(s, dir)
      val obs = d.groupBy(col("lang"), col("source")).agg(count(lit(1)).as("o"))
      val grid = d.select(col("lang")).distinct()
        .crossJoin(broadcast(d.select(col("source")).distinct()))
      grid.join(obs, Seq("lang", "source"), "left")
        .withColumn("o", coalesce(col("o"), lit(0L)))
        .withColumn("nl", sum(col("o")).over(wl))
        .withColumn("ns", sum(col("o")).over(ws))
        .withColumn("nn", sum(col("o")).over(wt))
        .withColumn("e",
          col("nl").cast("double") * col("ns") / col("nn"))
        .withColumn("term",
          round((col("o") - col("e")) * (col("o") - col("e")) / col("e"), 10)
            .cast("decimal(20,10)"))
        .agg(round(sum(col("term")), 6).cast("double").as("chi2"),
          ((countDistinct(col("lang")) - 1) *
            (countDistinct(col("source")) - 1)).as("dof"),
          count(lit(1)).as("n_cells"),
          first(col("nn")).as("nn"),
          least(countDistinct(col("lang")),
            countDistinct(col("source"))).minus(1).as("mindim"))
        .select(col("chi2"), col("dof"),
          round(sqrt(col("chi2") / (col("nn") * col("mindim"))), 6)
            .as("cramers_v"),
          col("n_cells"))
    },
    // flagship train+predict: binary target from label, tiny net, hogwild.
    // Nondeterministic → no oracle (rows-only check).
    "ml_train_predict" -> { (s, dir) =>
      val df = embeddings(s, dir)
        .select(col("vec_id"), col("embedding"),
          when(col("label") >= 5, 1.0).otherwise(0.0).as("target"))
      val est = new SparkAsyncDL()
        .setInputCol("embedding").setLabelCol("target")
        .setNetSpec(NetSpec.input(64).dense(16, "tanh").dense(1, "sigmoid").loss("mse"))
        .setTfOptimizer("adam").setTfLearningRate(0.05)
        // full-batch: one weight pull + gradient post per partition per
        // iter (the 64-row sweep re-pulled weights per batch — hundreds
        // of driver round-trips for a bench-flagship that needs ten)
        .setIters(10).setMiniBatchSize(-1).setPartitions(4).setPort(5210)
      val model = est.fit(df)
      model.transform(df)
        .select(col("vec_id"), col("target"),
          when(col("predicted") > 0.5, 1.0).otherwise(0.0).as("pred_class"))
        .orderBy(col("vec_id"))
    },
    // Population-stability-index drift monitor: per event type, compare
    // the value distribution of the reference window (first half of the
    // month) against the current window over a FIXED 10-bin grid
    // (width-60 bins, clamped; fixed bins — not quantiles — so the two
    // windows bin identically and the monitor is reproducible), with
    // Laplace 0.5-smoothing over the full grid so empty bins stay
    // defined. PSI = Σ (p−q)·ln(p/q); terms round to 10 dp and sum in
    // exact decimal so the 10-term reduction is order-independent under
    // any partitioning (the q_corr_qty_disc discipline — double sums
    // accumulate in partition order and would not be reproducible).
    // Scale: corpus collapses to type×half×bin counts in one
    // partial-aggregated pass; everything after runs on the ≤10-row-
    // per-type grid. The companion ml_embedding_drift monitors feature
    // vectors; this is the per-feature scalar twin production scorecards
    // alert on (PSI > 0.25 = retrain).
    "ml_psi_drift" -> { (s, dir) =>
      val ev = events(s, dir).select(col("event_type"),
        when(col("ts") < lit("2024-01-16").cast("timestamp"), lit("a"))
          .otherwise(lit("b")).as("half"),
        least(lit(9L), greatest(lit(0L),
          floor(round(col("value"), 6) / 60).cast("long"))).as("bin"))
      val c = ev.groupBy(col("event_type"), col("bin"))
        .agg(sum(when(col("half") === "a", 1L).otherwise(0L)).as("na"),
          sum(when(col("half") === "b", 1L).otherwise(0L)).as("nb"))
      val grid = ev.select(col("event_type")).distinct()
        .crossJoin(s.range(10).select(col("id").as("bin")))
      psiReport(grid.join(c, Seq("event_type", "bin"), "left")
        .select(col("event_type"), col("bin"),
          coalesce(col("na"), lit(0L)).as("na"),
          coalesce(col("nb"), lit(0L)).as("nb")))
    },
    // Split-conformal prediction intervals (Vovk et al.; Lei et al. 2018
    // JASA) — the distribution-free uncertainty wrapper every deployed
    // regressor needs: calibrate on one half, get finite-sample ±q̂
    // intervals with guaranteed ≥90% coverage on the other. Groups are
    // event_type; the point predictor is the calibration group mean (any
    // model slots in — the conformal machinery is what's under test);
    // split is the deterministic even/odd event_id hash. q̂ is the
    // ⌈(n_cal+1)·0.9⌉-th smallest absolute residual — computed by EXACT
    // integer ceiling ((n+1)·9+9) div 10 (a float 0.9 multiply ties at
    // decade boundaries and DuckDB's decimal literal would round it
    // differently) and an exact order statistic via row_number (no
    // engine quantile-definition drift). Output per group: split sizes,
    // the predictor, q̂, and the realized test coverage — which the
    // conformal guarantee says should land ≥ 0.9 up to finite-sample
    // noise.
    //
    // Scale shape: one scan computes residuals against broadcast
    // group means (group-cardinality bounded); the order statistic is a
    // per-type window sort — exact, and the right shape while per-type
    // calibration rows fit a partition. At 100 TB calibration the
    // q_quantile_sketch UDAF is the drop-in approximate twin (same
    // query, mergeable sketch instead of the sort).
    "ml_conformal_interval" -> { (s, dir) =>
      val ev = events(s, dir).select(col("event_type"), col("event_id"),
        col("value"), (col("event_id") % 2 === 0).as("is_cal"))
      val pred = ev.filter(col("is_cal"))
        .groupBy(col("event_type"))
        .agg(DetMean.mean6(sum(DetMean.el10(col("value"))), count(lit(1)))
            .as("pred"),
          count(lit(1)).as("n_cal"))
      val withRes = ev.join(broadcast(pred), Seq("event_type"))
        .withColumn("r", round(abs(col("value") - col("pred")), 6))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("r"), col("event_id"))
      // rank = ceil((n_cal+1)*0.9), CLAMPED to n_cal: for n_cal < 9 the
      // raw rank exceeds the group and would silently drop it from the
      // output (r11 ADVICE); the clamp is the standard small-n conformal
      // convention (q-hat = max residual). No-op on groups with n_cal ≥ 9.
      val qhat = withRes.filter(col("is_cal"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === least(expr("(n_cal + 1) * 9 div 10 + " +
          "CASE WHEN (n_cal + 1) * 9 % 10 = 0 THEN 0 ELSE 1 END"),
          col("n_cal")))
        .select(col("event_type"), col("r").as("qhat"))
      withRes.filter(!col("is_cal"))
        .join(broadcast(qhat), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("r") <= col("qhat"), 1L).otherwise(0L)).as("n_in"),
          first(col("pred")).as("pred"), first(col("n_cal")).as("n_cal"),
          first(col("qhat")).as("qhat"))
        .select(col("event_type"), col("n_cal"), col("n_test"),
          col("pred"), col("qhat"),
          round(col("n_in").cast("double") / col("n_test"), 6).as("coverage"))
        .orderBy(col("event_type"))
    },
    // Histogram-based GBDT split finding (Chen & Guestrin 2016, KDD:
    // XGBoost §3.3 approximate algorithm; LightGBM's histogram mode) —
    // THE distributed gradient-boosting primitive: bin each feature,
    // build per-(feature, bin) gradient histograms map-side, scan the
    // B-bin cumulative sums for the best variance-reducing split. One
    // root-node split pass over lineitem with label y = extendedprice
    // and features (discount, quantity, tax), B = 16 equal-width bins
    // from the exact per-feature [min, max]. Gain for a split after bin
    // b is the SSE reduction syL²/nL + syR²/nR − syT²/nT, reported
    // RELATIVE (×nT/syT², dimensionless O(0.01)) so the 6dp rounding
    // discipline applies. Output: per feature the argmax bin, the
    // left/right row counts, and the relative gain.
    //
    // Scale shape: the stack is row-local (one scan, 3× rows) and
    // collapses immediately via map-side partial agg to ≤ 3·B = 48
    // histogram rows — the exact shape that lets XGBoost scale: workers
    // ship B-sized arrays, never rows. The min/max pre-pass is its own
    // partial agg (3 rows, broadcast back). Everything after the
    // histogram groupBy is constant-size. Determinism: bin ids from one
    // fixed-order double expression ((x−mn)·16/(mx−mn), mirrored
    // verbatim in the oracle); histogram sums exact DECIMAL(28,2) (the
    // label has 2dp); gains are divisions of exact sums in one pinned
    // evaluation order, rounded 6dp; argmax ranks on the ROUNDED gain
    // with bin as tie-break.
    "ml_gbdt_split" -> { (s, dir) =>
      val B = 16
      val stacked = lineitem(s, dir).selectExpr(
        "stack(3, 'discount', l_discount, 'quantity', l_quantity, 'tax', l_tax) AS (feature, x)",
        "l_extendedprice AS y")
      val minmax = stacked.groupBy(col("feature"))
        .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      val hist = stacked.join(broadcast(minmax), Seq("feature"))
        .withColumn("bin",
          when(col("x") === col("mx"), lit(B - 1).cast("long"))
            .otherwise(floor((col("x") - col("mn")) * lit(B.toDouble) /
              (col("mx") - col("mn")))))
        .groupBy(col("feature"), col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("y").cast("decimal(28,2)")).as("sy"))
      val wc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("feature")).orderBy(col("bin"))
      val wt = org.apache.spark.sql.expressions.Window
        .partitionBy(col("feature"))
      val g = hist
        .withColumn("nL", sum(col("n")).over(wc))
        .withColumn("syL", sum(col("sy")).over(wc))
        .withColumn("nT", sum(col("n")).over(wt))
        .withColumn("syT", sum(col("sy")).over(wt))
        .filter(col("nL") < col("nT"))
        .withColumn("gain", round(
          (col("syL").cast("double") * col("syL").cast("double") / col("nL") +
            (col("syT") - col("syL")).cast("double") *
              (col("syT") - col("syL")).cast("double") / (col("nT") - col("nL")) -
            col("syT").cast("double") * col("syT").cast("double") / col("nT")) *
            col("nT").cast("double") /
            (col("syT").cast("double") * col("syT").cast("double")), 6))
      val rk = org.apache.spark.sql.expressions.Window
        .partitionBy(col("feature")).orderBy(col("gain").desc, col("bin"))
      g.withColumn("rk", row_number().over(rk))
        .filter(col("rk") === 1)
        .select(col("feature"), col("bin").as("split_bin"),
          col("nL").as("n_left"), (col("nT") - col("nL")).as("n_right"),
          col("gain"))
        .orderBy(col("feature"))
    },
    // Bradley–Terry preference strengths (Bradley & Terry 1952; Hunter
    // 2004 MM algorithm) — the model behind RLHF reward-model data
    // audits and chatbot-arena leaderboards: turn pairwise "A beat B"
    // counts into per-item strengths. Comparisons are synthesized the
    // way a preference pipeline would from implicit feedback: each user
    // is a judge, event_type i beats j for that judge iff the user's
    // 6dp mean value on i exceeds that on j (ties discarded). Two MM
    // iterations from the uniform start s⁰=1 — each is
    // sᵢ ← Wᵢ / Σ_{j≠i} nᵢⱼ/(sᵢ+sⱼ), normalized to mean 1. Output per
    // event_type: games, wins, and the two strength iterates (their
    // ordering is the leaderboard).
    //
    // Scale shape: the corpus collapses map-side to (user, type) means
    // — the only big shuffle; the per-judge pairing is a self-join on
    // user_id producing k²-bounded rows per user (k = |event_type|,
    // catalog-bounded) that partial-aggregates straight down to the
    // k×k win matrix. Both MM iterations are joins OVER that k²-row
    // matrix with a k-row broadcast — driver-free, constant-size.
    // Determinism: wins/games are exact integers; s¹ = 2W/G is one
    // division rounded 10dp; the s² denominator sums k rationals of
    // 10dp-rounded inputs as exact decimals before one final division.
    "ml_bradley_terry" -> { (s, dir) =>
      val perUT = events(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(DetMean.mean6(sum(DetMean.el10(col("value"))), count(lit(1)))
          .as("m"))
      val pairs = perUT.select(col("user_id"), col("event_type").as("ta"),
          col("m").as("ma"))
        .join(perUT.select(col("user_id"), col("event_type").as("tb"),
          col("m").as("mb")), Seq("user_id"))
        .filter(col("ta") < col("tb") && col("ma") =!= col("mb"))
      // k×k win matrix (both orientations, so per-type sums are one
      // groupBy): n games and wins of `ti` against `tj`
      val halfM = pairs.groupBy(col("ta"), col("tb"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("ma") > col("mb"), 1L).otherwise(0L)).as("w"))
      val m = halfM.select(col("ta").as("ti"), col("tb").as("tj"),
          col("n"), col("w"))
        .unionAll(halfM.select(col("tb").as("ti"), col("ta").as("tj"),
          col("n"), (col("n") - col("w")).as("w")))
        .localCheckpoint()
      val tot = m.groupBy(col("ti"))
        .agg(sum(col("n")).as("games"), sum(col("w")).as("wins"))
      // iteration 1 from s=1: denom = G/2 exactly, so s̃¹ = 2W/G; then
      // normalize to mean 1 (k-row stats, exact decimal sum)
      val s1raw = tot.withColumn("s1r",
        round(lit(2.0) * col("wins") / col("games"), 10))
      val z1 = s1raw.agg(
        DetMean.mean6(sum(DetMean.el10(col("s1r"))), count(lit(1))).as("z1"),
        count(lit(1)).as("k"))
      val s1 = s1raw.crossJoin(broadcast(z1))
        .withColumn("s1", round(col("s1r") / col("z1"), 10))
        .select(col("ti"), col("games"), col("wins"), col("s1"))
        .localCheckpoint()
      // iteration 2: sᵢ ← Wᵢ / Σⱼ nᵢⱼ/(s1ᵢ+s1ⱼ), normalized again
      val denom = m.join(broadcast(s1.select(col("ti"), col("s1"))), Seq("ti"))
        .join(broadcast(s1.select(col("ti").as("tj"), col("s1").as("s1j"))),
          Seq("tj"))
        .groupBy(col("ti"))
        .agg(sum(round(col("n") / (col("s1") + col("s1j")), 10)
          .cast("decimal(28,10)")).as("d"))
      val s2raw = s1.join(broadcast(denom), Seq("ti"))
        .withColumn("s2r", round(col("wins") / col("d").cast("double"), 10))
      val z2 = s2raw.agg(
        DetMean.mean6(sum(DetMean.el10(col("s2r"))), count(lit(1))).as("z2"))
      s2raw.crossJoin(broadcast(z2))
        .select(col("ti").as("event_type"), col("games"), col("wins"),
          round(col("s1"), 6).as("s1"),
          round(col("s2r") / col("z2"), 6).as("s2"))
        .orderBy(col("event_type"))
    },
    // Murphy decomposition of the Brier score (Murphy 1973, J. Appl.
    // Meteorology) — the calibration readout that says WHY a
    // probabilistic classifier's squared error is what it is:
    // Brier = reliability − resolution + uncertainty, where reliability
    // is miscalibration (bin forecast vs bin outcome rate), resolution
    // is how far bin outcome rates spread from the base rate (the
    // discriminative signal), and uncertainty is the irreducible
    // ȳ(1−ȳ). Same score/label/bin setup as ml_auc and
    // ml_calibration_bins; the Brier here uses the bin-mean forecast so
    // the three-term identity is EXACT, and all four numbers come out
    // of one row — the identity itself rides the hash gate.
    //
    // Scale shape: the corpus collapses map-side to ≤10³ score bins
    // carrying (n, npos, Σp); every term is then a decimal-sum fold
    // over bins with one broadcast base-rate row. Determinism: bin
    // means one division rounded 10dp; per-bin terms exact products of
    // those rounded 10dp into decimal sums; finals at 6dp.
    "ml_brier_decomposition" -> { (s, dir) =>
      val v = col("embedding").cast("array<double>")
      val logit = round(aggregate(slice(v, 1, 4), lit(0.0), (a, x) => a + x), 6)
      val p = round(lit(1.0) / (lit(1.0) + exp(-logit)), 6)
      val bins = embeddings(s, dir)
        .select(bin3(p).as("pb"),
          when(col("label") >= 5, 1L).otherwise(0L).as("pos"))
        .groupBy(col("pb"))
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("npos"),
          sum(DetMean.el10(col("pb"))).as("sp"))
      val base = bins.agg(sum(col("n")).as("nt"), sum(col("npos")).as("post"))
        .withColumn("ybar", round(col("post").cast("double") / col("nt"), 10))
      // per-bin terms multiply EXACTLY in decimal domain: pk/yk/ybar are
      // 10dp, so differences are exact 10dp and squares exact 20dp —
      // rounding the double product at 10dp (the old shape) was the r12
      // cross-engine tie class
      def d10(c: org.apache.spark.sql.Column) = c.cast("decimal(12,10)")
      val nD = col("n").cast("decimal(10,0)")
      bins.crossJoin(broadcast(base))
        .withColumn("pk", round(col("sp").cast("double") / col("n"), 10))
        .withColumn("yk", round(col("npos").cast("double") / col("n"), 10))
        .agg(max(col("nt")).as("n"),
          round(max(col("ybar")), 6).as("base_rate"),
          round(sum(nD * d10(col("pk") - col("yk")) *
              d10(col("pk") - col("yk")))
            .cast("double") / max(col("nt")), 6).as("reliability"),
          round(sum(nD * d10(col("yk") - col("ybar")) *
              d10(col("yk") - col("ybar")))
            .cast("double") / max(col("nt")), 6).as("resolution"),
          round(max(col("ybar")) * (lit(1.0) - max(col("ybar"))), 6)
            .as("uncertainty"),
          round(sum(nD * d10(col("pk")) * d10(col("pk")) -
              lit(2).cast("decimal(2,0)") * col("npos").cast("decimal(10,0)") *
                d10(col("pk")) + col("npos").cast("decimal(10,0)"))
            .cast("double") / max(col("nt")), 6).as("brier"))
    },
    // DeLong AUC standard error (DeLong, DeLong & Clarke-Pearson 1988,
    // Biometrics) — the CI machinery behind every "is model A really
    // better" call: AUC as the mean of per-positive placement values
    // V10 (share of negatives scored below, ties at ½ — the midrank
    // convention), SE² = S10/m + S01/n from the placement variances.
    // Same score/label setup as ml_auc (sigmoid of the first 4
    // embedding dims, 3dp score bins, label ≥ 5), so the two queries
    // together are the headline metric AND its uncertainty.
    //
    // Scale shape: placements come from the BINNED score table — the
    // corpus collapses to ≤10³ bins map-side, and every positive in a
    // bin shares one placement value, so the O(m·n) pairwise definition
    // becomes two cumulative windows over bins (the standard midrank
    // identity). Everything after the first groupBy is bin-cardinality
    // work. Determinism: integer cumulative counts, placements one
    // division rounded 10dp, count-weighted moments as exact decimal
    // sums, final auc/se at 6dp.
    "ml_auc_delong" -> { (s, dir) =>
      val v = col("embedding").cast("array<double>")
      val logit = round(aggregate(slice(v, 1, 4), lit(0.0), (a, x) => a + x), 6)
      val p = round(lit(1.0) / (lit(1.0) + exp(-logit)), 6)
      val uA = org.apache.spark.sql.expressions.Window.orderBy(col("pb"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val uD = org.apache.spark.sql.expressions.Window.orderBy(col("pb").desc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val bins = embeddings(s, dir)
        .select(bin3(p).as("pb"),
          when(col("label") >= 5, 1L).otherwise(0L).as("pos"))
        .groupBy(col("pb"))
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("npos"))
        .withColumn("nneg", col("n") - col("npos"))
      val tot = bins.agg(sum(col("npos")).as("m"), sum(col("nneg")).as("nn"))
      val pl = bins.crossJoin(broadcast(tot))
        .withColumn("neg_below", coalesce(sum(col("nneg")).over(uA), lit(0L)))
        .withColumn("pos_above", coalesce(sum(col("npos")).over(uD), lit(0L)))
        .withColumn("v10", round(
          (col("neg_below") + lit(0.5) * col("nneg")) / col("nn"), 10))
        .withColumn("v01", round(
          (col("pos_above") + lit(0.5) * col("npos")) / col("m"), 10))
        .localCheckpoint()
      val aucDf = pl.agg(
        round(sum(round(col("npos") * col("v10"), 10).cast("decimal(28,10)"))
          .cast("double") / max(col("m")), 10).as("auc"))
      // placement deviations are exact 10dp (v10/v01/auc all 10dp), so
      // their squares multiply EXACTLY in decimal domain — rounding the
      // 20-digit double product at 10dp was the r12 cross-engine tie
      // class. npos·v10 (the auc numerator above) is int×10dp = exact
      // 10dp, so its dsum round is a no-op and stays.
      def d10(c: org.apache.spark.sql.Column) = c.cast("decimal(12,10)")
      pl.crossJoin(broadcast(aucDf))
        .agg(max(col("m")).as("n_pos"), max(col("nn")).as("n_neg"),
          max(col("auc")).as("auc_r"),
          round(sum(col("npos").cast("decimal(10,0)") *
              d10(col("v10") - col("auc")) * d10(col("v10") - col("auc")))
            .cast("double") / (max(col("m")) - 1), 10).as("s10"),
          round(sum(col("nneg").cast("decimal(10,0)") *
              d10(col("v01") - col("auc")) * d10(col("v01") - col("auc")))
            .cast("double") / (max(col("nn")) - 1), 10).as("s01"))
        .select(col("n_pos"), col("n_neg"),
          round(col("auc_r"), 6).as("auc"),
          round(sqrt(col("s10") / col("n_pos") + col("s01") / col("n_neg")), 6)
            .as("se"))
    },
    // Cox calibration regression (Cox 1958) — the two-number summary
    // of the reliability diagram: count-weighted least squares of the
    // per-bin outcome rate on the bin score. slope ≈ 1 & intercept ≈ 0
    // is calibrated; slope < 1 means overconfident tails (shrink the
    // logits), intercept ≠ 0 a base-rate shift — the recalibration
    // parameters a deployer would actually fit, where ml_brier /
    // ml_calibration_bins only score the miscalibration.
    //
    // Scale shape: the corpus collapses map-side to ≤10³ score bins;
    // the regression is one decimal-moment fold over bins (the
    // text_zipf_slope discipline: 10dp terms, exact decimal sums,
    // closed form, finals 6dp).
    "ml_calibration_slope" -> { (s, dir) =>
      val v = col("embedding").cast("array<double>")
      val logit = round(aggregate(slice(v, 1, 4), lit(0.0), (a, x) => a + x), 6)
      val p = round(lit(1.0) / (lit(1.0) + exp(-logit)), 6)
      val bins = embeddings(s, dir)
        .select(bin3(p).as("pb"),
          when(col("label") >= 5, 1L).otherwise(0L).as("pos"))
        .groupBy(col("pb"))
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("npos"))
        .withColumn("yk", round(col("npos").cast("double") / col("n"), 10))
      def dsum(c: org.apache.spark.sql.Column) =
        sum(round(c, 10).cast("decimal(28,10)")).cast("double")
      val nt = col("nt").cast("double")
      val slope = round((nt * col("sxy") - col("sx") * col("sy")) /
        (nt * col("sx2") - col("sx") * col("sx")), 6)
      bins.agg(sum(col("n")).as("nt"),
          dsum(col("n") * col("pb")).as("sx"),
          dsum(col("n") * col("yk")).as("sy"),
          // n·pb·yk has 13 exact fractional digits (int × 3dp × 10dp) —
          // rounding the double product at 10dp is the r12 cross-engine
          // tie class; multiply exactly in decimal domain instead. The
          // other three terms are ≤10dp exact, so their dsum round is a
          // no-op by construction.
          sum(col("n").cast("decimal(10,0)") * col("pb").cast("decimal(4,3)") *
            col("yk").cast("decimal(11,10)")).cast("double").as("sxy"),
          dsum(col("n") * col("pb") * col("pb")).as("sx2"))
        .select(col("nt").as("n"), slope.as("slope"),
          round((col("sy") - slope * col("sx")) / nt, 6).as("intercept"))
    },
    // Group-fairness audit — demographic parity and equalized odds for
    // the standard probe across deterministic cohorts (vec_id % 3):
    // per-cohort selection rate, TPR, FPR, plus the corpus-level gaps
    // (max−min selection rate = demographic-parity gap; max of the
    // TPR/FPR spreads = equalized-odds gap). This is the pre-deploy
    // audit row a model gate reads; swap the cohort column for a real
    // protected attribute and the plan is unchanged.
    //
    // Scale shape: ONE conditional-aggregation corpus pass to 3 cohort
    // rows; the gap fold runs over those rows and broadcasts back.
    // Integer counts; each rate divides once and rounds 6dp; gaps are
    // differences of already-rounded rates.
    "ml_fairness_audit" -> { (s, dir) =>
      val v = col("embedding").cast("array<double>")
      val logit = round(aggregate(slice(v, 1, 4), lit(0.0), (a, x) => a + x), 6)
      val pred = logit > 0
      val truth = col("label") >= 5
      val per = embeddings(s, dir)
        .groupBy((col("vec_id") % 3).as("cohort"))
        .agg(count(lit(1)).as("n"),
          sum(when(pred, 1L).otherwise(0L)).as("npred"),
          sum(when(pred && truth, 1L).otherwise(0L)).as("tp"),
          sum(when(truth, 1L).otherwise(0L)).as("npos"),
          sum(when(pred && !truth, 1L).otherwise(0L)).as("fp"))
        .withColumn("sel_rate",
          round(col("npred").cast("double") / col("n"), 6))
        .withColumn("tpr",
          round(col("tp").cast("double") / col("npos"), 6))
        .withColumn("fpr", round(col("fp").cast("double") /
          (col("n") - col("npos")), 6))
        .localCheckpoint() // 2 consumers: rows + the gap fold
      val gaps = per.agg(
        round(max(col("sel_rate")) - min(col("sel_rate")), 6).as("dp_gap"),
        round(greatest(max(col("tpr")) - min(col("tpr")),
          max(col("fpr")) - min(col("fpr"))), 6).as("eo_gap"))
      per.crossJoin(broadcast(gaps))
        .select(col("cohort"), col("n"), col("sel_rate"), col("tpr"),
          col("fpr"), col("dp_gap"), col("eo_gap"))
        .orderBy(col("cohort"))
    },
    // McNemar's paired test (McNemar 1947, continuity-corrected) — the
    // correct way to compare two classifiers evaluated on the SAME
    // examples: only the discordant pairs carry information (b = A
    // right where B wrong, c = the reverse); a two-proportion z-test
    // on accuracies ignores the pairing and overstates significance.
    // The two deterministic probes are the repo's literal scorers over
    // disjoint embedding slices (dims 1–4 vs 5–8, threshold 0), truth
    // is the label ≥ 5 split — so the discordance pattern is
    // oracle-replayable. χ² = (|b−c|−1)²/(b+c) against df=1.
    //
    // Scale shape: ONE conditional-aggregation corpus pass to the four
    // concordance cells; everything after is scalar algebra on one
    // row. Integer counts; the χ² divides once, rounds 6dp.
    "ml_mcnemar" -> { (s, dir) =>
      val v = col("embedding").cast("array<double>")
      def logit(lo: Int) =
        round(aggregate(slice(v, lo, 4), lit(0.0), (a, x) => a + x), 6)
      val truth = col("label") >= 5
      val okA = (logit(1) > 0) === truth
      val okB = (logit(5) > 0) === truth
      embeddings(s, dir)
        .agg(count(lit(1)).as("n"),
          sum(when(okA && okB, 1L).otherwise(0L)).as("both_right"),
          sum(when(okA && !okB, 1L).otherwise(0L)).as("b"),
          sum(when(!okA && okB, 1L).otherwise(0L)).as("c"),
          sum(when(!okA && !okB, 1L).otherwise(0L)).as("both_wrong"))
        .withColumn("mcnemar_chi2", round(
          (abs(col("b") - col("c")) - 1) * (abs(col("b") - col("c")) - 1) /
            (col("b") + col("c")).cast("double"), 6))
        .select(col("n"), col("both_right"), col("b"), col("c"),
          col("both_wrong"), col("mcnemar_chi2"),
          (col("mcnemar_chi2") > 3.841459).as("differ_flag"))
    },
    // Cohen's kappa (Cohen 1960) — chance-corrected inter-annotator
    // agreement, the gate every labeling/eval pipeline runs before
    // trusting its labels (raw agreement flatters whenever the label
    // distribution is skewed; kappa subtracts the agreement two
    // independent annotators with these marginals would reach by
    // luck). Annotator 1 is the stored label; annotator 2 is a
    // deterministic perturbation (every 5th vec bumps its label one
    // class) so the oracle can replay the disagreement pattern exactly.
    //
    // Scale shape: the corpus collapses map-side to the ≤k² confusion
    // matrix; totals, marginals, and p_e are folds over ≤k² rows with
    // one broadcast total — nothing after the first groupBy exceeds
    // label-domain cardinality. Determinism: integer counts; p_o/p_e
    // divide once and round 10dp; kappa rounds 6dp.
    "ml_cohens_kappa" -> { (s, dir) =>
      val a2 = when(col("vec_id") % 5 === 0, (col("label") + 1) % 10)
        .otherwise(col("label"))
      val conf = embeddings(s, dir)
        .select(col("label").as("a1"), a2.as("a2"))
        .groupBy(col("a1"), col("a2")).agg(count(lit(1)).as("n"))
        // 3 consumers (totals + both marginals): pin ONE corpus pass
        .localCheckpoint()
      val tot = conf.agg(sum(col("n")).as("nt"),
        sum(when(col("a1") === col("a2"), col("n")).otherwise(0L)).as("agree"))
      val m1 = conf.groupBy(col("a1")).agg(sum(col("n")).as("n1"))
      val m2 = conf.groupBy(col("a2")).agg(sum(col("n")).as("n2"))
      val pe = m1.join(m2, col("a1") === col("a2"))
        .crossJoin(broadcast(tot))
        .agg(round(sum((col("n1") * col("n2")).cast("decimal(28,0)"))
          .cast("double") / (max(col("nt")) * max(col("nt"))), 10).as("pe"))
      tot.crossJoin(broadcast(pe))
        .select(col("nt").as("n"),
          round(col("agree").cast("double") / col("nt"), 10).as("po_r"),
          col("pe"))
        .select(col("n"),
          // exact-decimal re-round: po_r is a FINITE 10dp value, so a
          // double-domain 6dp round faces reachable digit-7 ties
          round(col("po_r").cast("decimal(28,10)"), 6).cast("double").as("po"),
          round(col("pe").cast("decimal(28,10)"), 6).cast("double").as("pe"),
          round((col("po_r") - col("pe")) / (lit(1.0) - col("pe")), 6)
            .as("kappa"))
    },
    // Average precision / area under the precision–recall curve over
    // the shared calibration probe (sigmoid of the first 4 embedding
    // dims, 3dp score bins, positives = label ≥ 5) — the ranking
    // metric that, unlike ROC-AUC (ml_auc_delong), gives no credit for
    // true negatives and so is the one that moves when the positive
    // class is rare. AP = Σ_k ΔR_k·P_k over score-descending bins (the
    // interpolation-free step integral, so both engines agree exactly);
    // best_f1 reports the operating point a deployer would pick off the
    // same curve.
    //
    // Scale shape: the corpus collapses map-side to ≤10³ score bins;
    // the curve is two cumulative windows over bins and the AP a
    // decimal-sum fold — the ml_auc_delong cost structure exactly.
    // Determinism: integer cumulative counts; precision/recall divide
    // once and round 10dp; AP terms round 10dp into an exact decimal
    // sum; finals at 6dp.
    "ml_pr_auc" -> { (s, dir) =>
      val v = col("embedding").cast("array<double>")
      val logit = round(aggregate(slice(v, 1, 4), lit(0.0), (a, x) => a + x), 6)
      val p = round(lit(1.0) / (lit(1.0) + exp(-logit)), 6)
      val wD = org.apache.spark.sql.expressions.Window.orderBy(col("pb").desc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val bins = embeddings(s, dir)
        .select(bin3(p).as("pb"),
          when(col("label") >= 5, 1L).otherwise(0L).as("pos"))
        .groupBy(col("pb"))
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("npos"))
        // 2 consumers (totals + curve): pin ONE corpus pass
        .localCheckpoint()
      val tot = bins.agg(sum(col("npos")).as("m"),
        sum(col("n") - col("npos")).as("nn"))
      bins.crossJoin(broadcast(tot))
        .withColumn("tp", sum(col("npos")).over(wD))
        .withColumn("cn", sum(col("n")).over(wD))
        .withColumn("prec", round(col("tp").cast("double") / col("cn"), 10))
        .withColumn("rec", round(col("tp").cast("double") / col("m"), 10))
        .agg(max(col("m")).as("n_pos"), max(col("nn")).as("n_neg"),
          round(sum(round(col("npos") * col("prec"), 10)
              .cast("decimal(28,10)"))
            .cast("double") / max(col("m")), 6).as("avg_precision"),
          round(max(when(col("tp") > 0,
            round(lit(2.0) * col("prec") * col("rec") /
              (col("prec") + col("rec")), 10))), 6).as("best_f1"))
    },
    // Exact 1-D Wasserstein-1 drift (Kantorovich–Rubinstein; the earth
    // mover's distance scipy.stats.wasserstein_distance computes) —
    // completes the drift trio: KS (worst-case CDF gap, ml_ks_drift),
    // PSI (binned likelihood shift, ml_psi_drift), and W₁ = ∫|F_ref −
    // F_cur| dv, which unlike both of those is in METRIC UNITS of the
    // feature ("values moved 3.2 units on average") and sees mass
    // transport KS's sup-norm collapses. Same time-split as PSI
    // (ref = before 2024-01-16). Computed EXACTLY from the closed form
    // over distinct values — no binning, no sampling: cumulative counts
    // per side × the gap to the next distinct value.
    //
    // Scale shape: the corpus collapses map-side to (type, distinct
    // 6dp value) rows with two conditional counts; everything after is
    // windows over that collapsed table, partitioned by type and
    // value-ordered (the same per-type sort KS already pays — at
    // 100 TB the q_quantile_sketch UDAF is the mergeable approximate
    // twin). Determinism: integer cumulative counts, one double
    // division per side, per-interval contribution rounded 10dp into
    // an exact decimal sum, final 6dp.
    "ml_wasserstein_drift" -> { (s, dir) =>
      val wOrd = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("v"))
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
      events(s, dir)
        .select(col("event_type"),
          when(col("ts") < lit("2024-01-16").cast("timestamp"), lit("a"))
            .otherwise(lit("b")).as("half"),
          round(col("value"), 6).as("v"))
        .groupBy(col("event_type"), col("v"))
        .agg(sum(when(col("half") === "a", 1L).otherwise(0L)).as("na"),
          sum(when(col("half") === "b", 1L).otherwise(0L)).as("nb"))
        .withColumn("ca", sum(col("na")).over(wOrd))
        .withColumn("cb", sum(col("nb")).over(wOrd))
        .withColumn("ta", sum(col("na")).over(wAll))
        .withColumn("tb", sum(col("nb")).over(wAll))
        .withColumn("nextv", lead(col("v"), 1).over(wOrd))
        .filter(col("nextv").isNotNull)
        .withColumn("contrib", round(
          abs(col("ca").cast("double") / col("ta") -
            col("cb").cast("double") / col("tb")) *
            (col("nextv") - col("v")), 10).cast("decimal(28,10)"))
        .groupBy(col("event_type"), col("ta"), col("tb"))
        .agg(round(sum(col("contrib")), 6).cast("double").as("w1"))
        .select(col("event_type"), col("ta").as("n_ref"),
          col("tb").as("n_cur"), col("w1"))
        .orderBy(col("event_type"))
    },
    // Stratified average-treatment-effect estimate (Rosenbaum & Rubin
    // 1983's stratification on discrete covariates — the exact-weights
    // special case of inverse-propensity weighting): with treatment
    // T = event_id % 3 = 0 and stratum x = event_type, the ATE is
    // Σₓ P(x)·(m₁(x) − m₀(x)). Per stratum: size share, realized
    // propensity P(T|x), the two arm means, the in-stratum effect, and
    // its P(x)-weighted contribution — the audit table a causal readout
    // publishes (strata with extreme propensities are where IPW blows
    // up; here they're visible per row).
    //
    // Scale shape: ONE conditional-aggregation corpus pass collapses to
    // |event_type| rows (partial-agged map-side); the corpus total is a
    // 1-row broadcast back onto them. No join touches corpus-sized
    // data. Determinism: exact counts and decimal sums; each mean one
    // 6dp division; share/propensity 6dp; contribution = share·diff
    // rounded 6dp.
    "ml_stratified_ate" -> { (s, dir) =>
      val strata = ateCells(events(s, dir))
      val tot = strata.agg(sum(col("n")).as("n_all"))
      ateReport(strata.crossJoin(broadcast(tot)))
    })

  // --- stream/batch twin kernels -------------------------------------
  // Written once; the batch query above and its live readout in
  // graft.streaming.EventStream both call them (see EventOps' kernels).

  /** `ml_stratified_ate`'s per-stratum (event_type) treated/control
    * moment sums as ONE keyed aggregation. As a streaming aggregation
    * the state is bounded by the stratum domain; decimal moment sums
    * are order-independent, so stream == batch bit-for-bit at any
    * cut. */
  def ateCells(ev: DataFrame): DataFrame = {
    val t = col("event_id") % 3 === 0
    ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(t, 1L)).as("n_treated"),
        sum(when(t, DetMean.el10(col("value")))).as("sy1"),
        sum(when(!t, DetMean.el10(col("value")))).as("sy0"))
  }

  /** The share/propensity/effect table over [[ateCells]] rows that
    * also carry the corpus total `n_all`. Each side attaches `n_all`
    * its own way: the batch query broadcasts a 1-row total, a live
    * readout sums over a window on the ≤|types|-row cell table. */
  def ateReport(strata: DataFrame): DataFrame =
    strata
      .withColumn("share",
        round(col("n").cast("double") / col("n_all"), 6))
      .withColumn("propensity",
        round(col("n_treated").cast("double") / col("n"), 6))
      .withColumn("m_treated",
        DetMean.mean6(col("sy1"), col("n_treated")))
      .withColumn("m_control",
        DetMean.mean6(col("sy0"), col("n") - col("n_treated")))
      .withColumn("effect", round(col("m_treated") - col("m_control"), 6))
      .select(col("event_type"), col("n"), col("share"), col("propensity"),
        col("m_treated"), col("m_control"), col("effect"),
        round(col("share") * col("effect"), 6).as("ate_contrib"))
      .orderBy(col("event_type"))

  /** `ml_psi_drift`'s smoothed-PSI tail over the DENSIFIED per-type
    * grid `(event_type, bin, na, nb)` (all 10 bins present, missing
    * counts 0): +0.5/+5.0 Laplace smoothing, 10dp terms into an exact
    * decimal sum. The batch query densifies with a grid join; a live
    * readout densifies through a per-type map. */
  def psiReport(dense: DataFrame): DataFrame = {
    val t = org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))
    dense
      .withColumn("ta", sum(col("na")).over(t))
      .withColumn("tb", sum(col("nb")).over(t))
      .withColumn("p", (col("na") + 0.5) / (col("ta") + 5.0))
      .withColumn("q", (col("nb") + 0.5) / (col("tb") + 5.0))
      .withColumn("term",
        round((col("p") - col("q")) * log(col("p") / col("q")), 10)
          .cast("decimal(20,10)"))
      .groupBy(col("event_type"), col("ta"), col("tb"))
      .agg(round(sum(col("term")), 6).cast("double").as("psi"))
      .select(col("event_type"), col("psi"),
        col("ta").as("n_ref"), col("tb").as("n_cur"))
      .orderBy(col("event_type"))
  }

  val oracles: Map[String, String] = Map(
    "ml_brier_decomposition" ->
      """WITH sc AS (
        |  SELECT CAST(ROUND(CAST(ROUND(1.0 / (1.0 + exp(-ROUND(list_sum(list_transform(
        |      embedding[1:4], x -> CAST(x AS DOUBLE))), 6))), 6)
        |    AS DECIMAL(18,6)), 3) AS DOUBLE) AS pb,
        |    CASE WHEN label >= 5 THEN 1 ELSE 0 END AS pos
        |  FROM embeddings),
        |bins AS (
        |  SELECT pb, COUNT(*) AS n, CAST(SUM(pos) AS BIGINT) AS npos,
        |    SUM(CAST(ROUND(pb, 10) AS DECIMAL(28,10))) AS sp
        |  FROM sc GROUP BY pb),
        |base AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS nt,
        |    ROUND(CAST(SUM(npos) AS DOUBLE) / SUM(n), 10) AS ybar
        |  FROM bins),
        |k AS (
        |  SELECT b.n, b.npos, base.nt, base.ybar,
        |    ROUND(CAST(b.sp AS DOUBLE) / b.n, 10) AS pk,
        |    ROUND(CAST(b.npos AS DOUBLE) / b.n, 10) AS yk
        |  FROM bins b, base)
        |SELECT MAX(nt) AS n,
        |  ROUND(MAX(ybar), 6) AS base_rate,
        |  ROUND(CAST(SUM(CAST(n AS DECIMAL(10,0))
        |    * CAST(pk - yk AS DECIMAL(12,10))
        |    * CAST(pk - yk AS DECIMAL(12,10)))
        |    AS DOUBLE) / MAX(nt), 6) AS reliability,
        |  ROUND(CAST(SUM(CAST(n AS DECIMAL(10,0))
        |    * CAST(yk - ybar AS DECIMAL(12,10))
        |    * CAST(yk - ybar AS DECIMAL(12,10)))
        |    AS DOUBLE) / MAX(nt), 6) AS resolution,
        |  ROUND(MAX(ybar) * (1.0 - MAX(ybar)), 6) AS uncertainty,
        |  ROUND(CAST(SUM(CAST(n AS DECIMAL(10,0))
        |      * CAST(pk AS DECIMAL(12,10)) * CAST(pk AS DECIMAL(12,10))
        |      - CAST(2 AS DECIMAL(2,0)) * CAST(npos AS DECIMAL(10,0))
        |        * CAST(pk AS DECIMAL(12,10))
        |      + CAST(npos AS DECIMAL(10,0)))
        |    AS DOUBLE) / MAX(nt), 6) AS brier
        |FROM k""".stripMargin,
    "ml_auc_delong" ->
      """WITH sc AS (
        |  SELECT CAST(ROUND(CAST(ROUND(1.0 / (1.0 + exp(-ROUND(list_sum(list_transform(
        |      embedding[1:4], x -> CAST(x AS DOUBLE))), 6))), 6)
        |    AS DECIMAL(18,6)), 3) AS DOUBLE) AS pb,
        |    CASE WHEN label >= 5 THEN 1 ELSE 0 END AS pos
        |  FROM embeddings),
        |bins AS (
        |  SELECT pb, COUNT(*) AS n,
        |    CAST(SUM(pos) AS BIGINT) AS npos,
        |    COUNT(*) - CAST(SUM(pos) AS BIGINT) AS nneg
        |  FROM sc GROUP BY pb),
        |tot AS (
        |  SELECT CAST(SUM(npos) AS BIGINT) AS m,
        |    CAST(SUM(nneg) AS BIGINT) AS nn
        |  FROM bins),
        |pl AS (
        |  SELECT b.*, t.m, t.nn,
        |    COALESCE(CAST(SUM(nneg) OVER (ORDER BY pb
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS neg_below,
        |    COALESCE(CAST(SUM(npos) OVER (ORDER BY pb DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS pos_above
        |  FROM bins b, tot t),
        |v AS (
        |  SELECT *,
        |    ROUND((neg_below + CAST(0.5 AS DOUBLE) * nneg) / nn, 10) AS v10,
        |    ROUND((pos_above + CAST(0.5 AS DOUBLE) * npos) / m, 10) AS v01
        |  FROM pl),
        |a AS (
        |  SELECT ROUND(CAST(SUM(CAST(ROUND(npos * v10, 10)
        |      AS DECIMAL(28,10))) AS DOUBLE) / MAX(m), 10) AS auc
        |  FROM v),
        |s AS (
        |  SELECT MAX(v.m) AS n_pos, MAX(v.nn) AS n_neg, MAX(a.auc) AS auc_r,
        |    ROUND(CAST(SUM(CAST(nneg AS DECIMAL(10,0))
        |      * CAST(v01 - a.auc AS DECIMAL(12,10))
        |      * CAST(v01 - a.auc AS DECIMAL(12,10)))
        |      AS DOUBLE) / (MAX(v.nn) - 1), 10) AS s01,
        |    ROUND(CAST(SUM(CAST(npos AS DECIMAL(10,0))
        |      * CAST(v10 - a.auc AS DECIMAL(12,10))
        |      * CAST(v10 - a.auc AS DECIMAL(12,10)))
        |      AS DOUBLE) / (MAX(v.m) - 1), 10) AS s10
        |  FROM v, a)
        |SELECT n_pos, n_neg, ROUND(auc_r, 6) AS auc,
        |  ROUND(sqrt(s10 / n_pos + s01 / n_neg), 6) AS se
        |FROM s""".stripMargin,
    "ml_calibration_slope" ->
      """WITH sc AS (
        |  SELECT CAST(ROUND(CAST(ROUND(1.0 / (1.0 + exp(-ROUND(list_sum(list_transform(
        |      embedding[1:4], x -> CAST(x AS DOUBLE))), 6))), 6)
        |    AS DECIMAL(18,6)), 3) AS DOUBLE) AS pb,
        |    CASE WHEN label >= 5 THEN 1 ELSE 0 END AS pos
        |  FROM embeddings),
        |bins AS (
        |  SELECT pb, COUNT(*) AS n, CAST(SUM(pos) AS BIGINT) AS npos
        |  FROM sc GROUP BY pb),
        |y AS (
        |  SELECT pb, n, ROUND(npos * 1.0 / n, 10) AS yk FROM bins),
        |m AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS nt,
        |    CAST(SUM(CAST(ROUND(n * pb, 10) AS DECIMAL(28,10))) AS DOUBLE)
        |      AS sx,
        |    CAST(SUM(CAST(ROUND(n * yk, 10) AS DECIMAL(28,10))) AS DOUBLE)
        |      AS sy,
        |    CAST(SUM(CAST(n AS DECIMAL(10,0)) * CAST(pb AS DECIMAL(4,3))
        |      * CAST(yk AS DECIMAL(11,10))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(ROUND(n * pb * pb, 10) AS DECIMAL(28,10)))
        |      AS DOUBLE) AS sx2
        |  FROM y)
        |SELECT nt AS n,
        |  ROUND((CAST(nt AS DOUBLE) * sxy - sx * sy)
        |    / (CAST(nt AS DOUBLE) * sx2 - sx * sx), 6) AS slope,
        |  ROUND((sy - ROUND((CAST(nt AS DOUBLE) * sxy - sx * sy)
        |    / (CAST(nt AS DOUBLE) * sx2 - sx * sx), 6) * sx)
        |    / CAST(nt AS DOUBLE), 6) AS intercept
        |FROM m""".stripMargin,
    "ml_fairness_audit" ->
      """WITH per AS (
        |  SELECT vec_id % 3 AS cohort, COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN pred THEN 1 ELSE 0 END) AS BIGINT) AS npred,
        |    CAST(SUM(CASE WHEN pred AND truth THEN 1 ELSE 0 END) AS BIGINT)
        |      AS tp,
        |    CAST(SUM(CASE WHEN truth THEN 1 ELSE 0 END) AS BIGINT) AS npos,
        |    CAST(SUM(CASE WHEN pred AND NOT truth THEN 1 ELSE 0 END)
        |      AS BIGINT) AS fp
        |  FROM (
        |    SELECT vec_id,
        |      ROUND(list_sum(list_transform(embedding[1:4],
        |        x -> CAST(x AS DOUBLE))), 6) > 0 AS pred,
        |      label >= 5 AS truth
        |    FROM embeddings)
        |  GROUP BY vec_id % 3),
        |r AS (
        |  SELECT cohort, n,
        |    ROUND(npred * 1.0 / n, 6) AS sel_rate,
        |    ROUND(tp * 1.0 / npos, 6) AS tpr,
        |    ROUND(fp * 1.0 / (n - npos), 6) AS fpr
        |  FROM per),
        |g AS (
        |  SELECT ROUND(MAX(sel_rate) - MIN(sel_rate), 6) AS dp_gap,
        |    ROUND(GREATEST(MAX(tpr) - MIN(tpr), MAX(fpr) - MIN(fpr)), 6)
        |      AS eo_gap
        |  FROM r)
        |SELECT cohort, n, sel_rate, tpr, fpr, dp_gap, eo_gap
        |FROM r, g
        |ORDER BY cohort""".stripMargin,
    "ml_mcnemar" ->
      """WITH sc AS (
        |  SELECT
        |    (ROUND(list_sum(list_transform(embedding[1:4],
        |       x -> CAST(x AS DOUBLE))), 6) > 0) = (label >= 5) AS oka,
        |    (ROUND(list_sum(list_transform(embedding[5:8],
        |       x -> CAST(x AS DOUBLE))), 6) > 0) = (label >= 5) AS okb
        |  FROM embeddings),
        |cells AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN oka AND okb THEN 1 ELSE 0 END) AS BIGINT)
        |      AS both_right,
        |    CAST(SUM(CASE WHEN oka AND NOT okb THEN 1 ELSE 0 END) AS BIGINT)
        |      AS b,
        |    CAST(SUM(CASE WHEN NOT oka AND okb THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c,
        |    CAST(SUM(CASE WHEN NOT oka AND NOT okb THEN 1 ELSE 0 END)
        |      AS BIGINT) AS both_wrong
        |  FROM sc)
        |SELECT n, both_right, b, c, both_wrong,
        |  ROUND((abs(b - c) - 1) * (abs(b - c) - 1) * 1.0 / (b + c), 6)
        |    AS mcnemar_chi2,
        |  ROUND((abs(b - c) - 1) * (abs(b - c) - 1) * 1.0 / (b + c), 6)
        |    > 3.841459 AS differ_flag
        |FROM cells""".stripMargin,
    "ml_cohens_kappa" ->
      """WITH lab AS (
        |  SELECT label AS a1,
        |    CASE WHEN vec_id % 5 = 0 THEN (label + 1) % 10 ELSE label END AS a2
        |  FROM embeddings),
        |conf AS (SELECT a1, a2, COUNT(*) AS n FROM lab GROUP BY a1, a2),
        |tot AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS nt,
        |    CAST(SUM(CASE WHEN a1 = a2 THEN n ELSE 0 END) AS BIGINT) AS agree
        |  FROM conf),
        |m1 AS (SELECT a1, CAST(SUM(n) AS BIGINT) AS n1 FROM conf GROUP BY a1),
        |m2 AS (SELECT a2, CAST(SUM(n) AS BIGINT) AS n2 FROM conf GROUP BY a2),
        |pe AS (
        |  SELECT ROUND(CAST(SUM(CAST(n1 * n2 AS DECIMAL(28,0))) AS DOUBLE)
        |    / (t.nt * t.nt), 10) AS pe
        |  FROM m1 JOIN m2 ON m1.a1 = m2.a2, tot t GROUP BY t.nt)
        |SELECT t.nt AS n,
        |  CAST(ROUND(CAST(ROUND(t.agree * 1.0 / t.nt, 10)
        |    AS DECIMAL(28,10)), 6) AS DOUBLE) AS po,
        |  CAST(ROUND(CAST(pe.pe AS DECIMAL(28,10)), 6) AS DOUBLE) AS pe,
        |  ROUND((ROUND(t.agree * 1.0 / t.nt, 10) - pe.pe) / (1.0 - pe.pe), 6)
        |    AS kappa
        |FROM tot t, pe""".stripMargin,
    "ml_pr_auc" ->
      """WITH sc AS (
        |  SELECT CAST(ROUND(CAST(ROUND(1.0 / (1.0 + exp(-ROUND(list_sum(list_transform(
        |      embedding[1:4], x -> CAST(x AS DOUBLE))), 6))), 6)
        |    AS DECIMAL(18,6)), 3) AS DOUBLE) AS pb,
        |    CASE WHEN label >= 5 THEN 1 ELSE 0 END AS pos
        |  FROM embeddings),
        |bins AS (
        |  SELECT pb, COUNT(*) AS n, CAST(SUM(pos) AS BIGINT) AS npos
        |  FROM sc GROUP BY pb),
        |tot AS (
        |  SELECT CAST(SUM(npos) AS BIGINT) AS m,
        |    CAST(SUM(n - npos) AS BIGINT) AS nn
        |  FROM bins),
        |c AS (
        |  SELECT b.*, t.m, t.nn,
        |    CAST(SUM(npos) OVER (ORDER BY pb DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
        |    CAST(SUM(n) OVER (ORDER BY pb DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cn
        |  FROM bins b, tot t),
        |r AS (
        |  SELECT *, ROUND(tp * 1.0 / cn, 10) AS prec,
        |    ROUND(tp * 1.0 / m, 10) AS rec
        |  FROM c)
        |SELECT MAX(m) AS n_pos, MAX(nn) AS n_neg,
        |  ROUND(CAST(SUM(CAST(ROUND(npos * prec, 10) AS DECIMAL(28,10)))
        |    AS DOUBLE) / MAX(m), 6) AS avg_precision,
        |  ROUND(MAX(CASE WHEN tp > 0
        |    THEN ROUND(2.0 * prec * rec / (prec + rec), 10) END), 6) AS best_f1
        |FROM r""".stripMargin,
    "ml_wasserstein_drift" ->
      """WITH ev AS (
        |  SELECT event_type,
        |    CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16'
        |         THEN 'a' ELSE 'b' END AS half,
        |    ROUND(value, 6) AS v
        |  FROM events),
        |pts AS (
        |  SELECT event_type, v,
        |    CAST(SUM(CASE WHEN half = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(SUM(CASE WHEN half = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS nb
        |  FROM ev GROUP BY event_type, v),
        |c AS (
        |  SELECT event_type, v,
        |    CAST(SUM(na) OVER (PARTITION BY event_type ORDER BY v)
        |      AS BIGINT) AS ca,
        |    CAST(SUM(nb) OVER (PARTITION BY event_type ORDER BY v)
        |      AS BIGINT) AS cb,
        |    CAST(SUM(na) OVER (PARTITION BY event_type) AS BIGINT) AS ta,
        |    CAST(SUM(nb) OVER (PARTITION BY event_type) AS BIGINT) AS tb,
        |    LEAD(v) OVER (PARTITION BY event_type ORDER BY v) AS nextv
        |  FROM pts),
        |k AS (
        |  SELECT event_type, ta, tb,
        |    CAST(ROUND(ABS(CAST(ca AS DOUBLE) / ta - CAST(cb AS DOUBLE) / tb)
        |      * (nextv - v), 10) AS DECIMAL(28,10)) AS contrib
        |  FROM c WHERE nextv IS NOT NULL)
        |SELECT event_type, ta AS n_ref, tb AS n_cur,
        |  CAST(ROUND(SUM(contrib), 6) AS DOUBLE) AS w1
        |FROM k
        |GROUP BY event_type, ta, tb
        |ORDER BY event_type""".stripMargin,
    "ml_stratified_ate" ->
      """WITH strata AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN event_id % 3 = 0 THEN 1 END) AS BIGINT)
        |      AS n_treated,
        |    SUM(CASE WHEN event_id % 3 = 0
        |      THEN CAST(ROUND(value, 10) AS DECIMAL(28,10)) END) AS sy1,
        |    SUM(CASE WHEN event_id % 3 <> 0
        |      THEN CAST(ROUND(value, 10) AS DECIMAL(28,10)) END) AS sy0
        |  FROM events GROUP BY event_type),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_all FROM strata),
        |b AS (
        |  SELECT event_type, n,
        |    ROUND(CAST(n AS DOUBLE) / n_all, 6) AS share,
        |    ROUND(CAST(n_treated AS DOUBLE) / n, 6) AS propensity,
        |    ROUND(CAST(sy1 AS DOUBLE) / n_treated, 6) AS m_treated,
        |    ROUND(CAST(sy0 AS DOUBLE) / (n - n_treated), 6) AS m_control
        |  FROM strata, tot),
        |e AS (
        |  SELECT *, ROUND(m_treated - m_control, 6) AS effect FROM b)
        |SELECT event_type, n, share, propensity, m_treated, m_control,
        |  effect, ROUND(share * effect, 6) AS ate_contrib
        |FROM e
        |ORDER BY event_type""".stripMargin,
    "ml_gbdt_split" ->
      """WITH st AS (
        |  SELECT 'discount' AS feature, l_discount AS x, l_extendedprice AS y
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'quantity', l_quantity, l_extendedprice FROM lineitem
        |  UNION ALL
        |  SELECT 'tax', l_tax, l_extendedprice FROM lineitem),
        |mm AS (
        |  SELECT feature, MIN(x) AS mn, MAX(x) AS mx FROM st GROUP BY feature),
        |h AS (
        |  SELECT feature,
        |    CASE WHEN x = mx THEN CAST(15 AS BIGINT)
        |         ELSE CAST(FLOOR((x - mn) * CAST(16.0 AS DOUBLE) / (mx - mn))
        |           AS BIGINT) END AS bin,
        |    COUNT(*) AS n, SUM(CAST(y AS DECIMAL(28,2))) AS sy
        |  FROM st JOIN mm USING (feature)
        |  GROUP BY 1, 2),
        |c AS (
        |  SELECT feature, bin,
        |    CAST(SUM(n) OVER (PARTITION BY feature ORDER BY bin) AS BIGINT) AS nL,
        |    SUM(sy) OVER (PARTITION BY feature ORDER BY bin) AS syL,
        |    CAST(SUM(n) OVER (PARTITION BY feature) AS BIGINT) AS nT,
        |    SUM(sy) OVER (PARTITION BY feature) AS syT
        |  FROM h),
        |g AS (
        |  SELECT feature, bin, nL, nT - nL AS nR,
        |    ROUND((CAST(syL AS DOUBLE) * CAST(syL AS DOUBLE) / nL
        |      + CAST(syT - syL AS DOUBLE) * CAST(syT - syL AS DOUBLE)
        |        / (nT - nL)
        |      - CAST(syT AS DOUBLE) * CAST(syT AS DOUBLE) / nT)
        |      * CAST(nT AS DOUBLE)
        |      / (CAST(syT AS DOUBLE) * CAST(syT AS DOUBLE)), 6) AS gain
        |  FROM c WHERE nL < nT)
        |SELECT feature, bin AS split_bin, nL AS n_left, nR AS n_right, gain
        |FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY feature
        |    ORDER BY gain DESC, bin) AS rk
        |  FROM g)
        |WHERE rk = 1
        |ORDER BY feature""".stripMargin,
    "ml_bradley_terry" ->
      """WITH put AS (
        |  SELECT user_id, event_type,
        |    ROUND(CAST(SUM(CAST(ROUND(value, 10) AS DECIMAL(28,10)))
        |      AS DOUBLE) / COUNT(*), 6) AS m
        |  FROM events GROUP BY user_id, event_type),
        |pairs AS (
        |  SELECT a.event_type AS ta, b.event_type AS tb, a.m AS ma, b.m AS mb
        |  FROM put a JOIN put b ON a.user_id = b.user_id
        |  WHERE a.event_type < b.event_type AND a.m <> b.m),
        |halfm AS (
        |  SELECT ta, tb, COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN ma > mb THEN 1 ELSE 0 END) AS BIGINT) AS w
        |  FROM pairs GROUP BY ta, tb),
        |m AS (
        |  SELECT ta AS ti, tb AS tj, n, w FROM halfm
        |  UNION ALL SELECT tb, ta, n, n - w FROM halfm),
        |tot AS (
        |  SELECT ti, CAST(SUM(n) AS BIGINT) AS games,
        |    CAST(SUM(w) AS BIGINT) AS wins
        |  FROM m GROUP BY ti),
        |s1raw AS (
        |  SELECT ti, games, wins,
        |    ROUND(CAST(2.0 AS DOUBLE) * wins / games, 10) AS s1r
        |  FROM tot),
        |z1 AS (
        |  SELECT ROUND(CAST(SUM(CAST(ROUND(s1r, 10) AS DECIMAL(28,10)))
        |    AS DOUBLE) / COUNT(*), 6) AS z1
        |  FROM s1raw),
        |s1 AS (
        |  SELECT ti, games, wins, ROUND(s1r / z1.z1, 10) AS s1
        |  FROM s1raw, z1),
        |denom AS (
        |  SELECT m.ti,
        |    SUM(CAST(ROUND(m.n / (si.s1 + sj.s1), 10) AS DECIMAL(28,10)))
        |      AS d
        |  FROM m
        |  JOIN s1 si ON si.ti = m.ti
        |  JOIN s1 sj ON sj.ti = m.tj
        |  GROUP BY m.ti),
        |s2raw AS (
        |  SELECT s1.ti, s1.games, s1.wins, s1.s1,
        |    ROUND(s1.wins / CAST(d.d AS DOUBLE), 10) AS s2r
        |  FROM s1 JOIN denom d ON d.ti = s1.ti),
        |z2 AS (
        |  SELECT ROUND(CAST(SUM(CAST(ROUND(s2r, 10) AS DECIMAL(28,10)))
        |    AS DOUBLE) / COUNT(*), 6) AS z2
        |  FROM s2raw)
        |SELECT ti AS event_type, games, wins,
        |  ROUND(s1, 6) AS s1, ROUND(s2r / z2.z2, 6) AS s2
        |FROM s2raw, z2
        |ORDER BY event_type""".stripMargin,
    "ml_conformal_interval" ->
      """WITH ev AS (
        |  SELECT event_type, event_id, value, (event_id % 2 = 0) AS is_cal
        |  FROM events),
        |pred AS (
        |  SELECT event_type,
        |    ROUND(CAST(SUM(CAST(ROUND(value, 10) AS DECIMAL(28,10)))
        |      AS DOUBLE) / COUNT(*), 6) AS pred,
        |    COUNT(*) AS n_cal
        |  FROM ev WHERE is_cal GROUP BY event_type),
        |res AS (
        |  SELECT e.event_type, e.event_id, e.is_cal,
        |    ROUND(ABS(e.value - p.pred), 6) AS r, p.pred, p.n_cal
        |  FROM ev e JOIN pred p USING (event_type)),
        |qh AS (
        |  SELECT event_type, r AS qhat FROM (
        |    SELECT event_type, r, n_cal,
        |      ROW_NUMBER() OVER (PARTITION BY event_type
        |        ORDER BY r, event_id) AS rk
        |    FROM res WHERE is_cal)
        |  WHERE rk = LEAST((n_cal + 1) * 9 // 10
        |    + CASE WHEN (n_cal + 1) * 9 % 10 = 0 THEN 0 ELSE 1 END, n_cal))
        |SELECT r.event_type, r.n_cal, COUNT(*) AS n_test, r.pred, q.qhat,
        |  ROUND(CAST(SUM(CASE WHEN r.r <= q.qhat THEN 1 ELSE 0 END)
        |    AS DOUBLE) / COUNT(*), 6) AS coverage
        |FROM res r JOIN qh q USING (event_type)
        |WHERE NOT r.is_cal
        |GROUP BY r.event_type, r.n_cal, r.pred, q.qhat
        |ORDER BY r.event_type""".stripMargin,
    "ml_time_split" ->
      """WITH ev AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us, user_id FROM events),
        |cut AS (SELECT MIN(us) + (MAX(us) - MIN(us)) * 4 // 5 AS cut FROM ev),
        |tr AS (SELECT us, user_id FROM ev, cut WHERE us <= cut),
        |te AS (SELECT us, user_id FROM ev, cut WHERE us > cut),
        |tru AS (SELECT DISTINCT user_id FROM tr),
        |teu AS (SELECT DISTINCT user_id FROM te),
        |ov AS (SELECT COUNT(*) AS users_overlap FROM tru
        |       WHERE user_id IN (SELECT user_id FROM teu))
        |SELECT (SELECT COUNT(*) FROM tr) AS n_train,
        |  (SELECT COUNT(*) FROM te) AS n_test,
        |  (SELECT COUNT(*) FROM tru) AS users_train,
        |  (SELECT COUNT(*) FROM teu) AS users_test,
        |  users_overlap,
        |  ROUND(CAST(users_overlap AS DOUBLE) /
        |    (SELECT COUNT(*) FROM teu), 6) AS leak_rate
        |FROM ov""".stripMargin,
    "ml_contrastive_pairs" -> {
      def cosSql(a: String, b: String): String =
        s"ROUND(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})), 6)"
      s"""WITH e AS (SELECT vec_id, label,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |nn AS (SELECT COUNT(*) AS n FROM e),
         |p AS (
         |  SELECT vec_id, label, v,
         |    COALESCE(lead(vec_id, 1) OVER (PARTITION BY label ORDER BY vec_id),
         |      first_value(vec_id) OVER (PARTITION BY label ORDER BY vec_id)) AS pos_id
         |  FROM e),
         |a AS (SELECT vec_id AS anchor_id, v AS av, pos_id FROM p WHERE vec_id % 5 = 0),
         |wp AS (
         |  SELECT anchor_id, a.pos_id, ${cosSql("av", "pe.v")} AS cos_pos, av
         |  FROM a JOIN e pe ON pe.vec_id = a.pos_id),
         |negs AS (
         |  SELECT wp.anchor_id, wp.pos_id, wp.cos_pos,
         |    (wp.anchor_id * 2654435761 + t.j * 40503) % nn.n AS neg_id, wp.av
         |  FROM wp, nn, range(1, 5) t(j)),
         |scored AS (
         |  SELECT anchor_id, pos_id, cos_pos, neg_id,
         |    ${cosSql("av", "ne.v")} AS cos_neg
         |  FROM negs JOIN e ne ON ne.vec_id = negs.neg_id),
         |g AS (
         |  SELECT anchor_id, pos_id, cos_pos,
         |    CAST(ROUND(SUM(CAST(cos_neg AS DECIMAL(18,6))) *
         |      CAST(0.25 AS DECIMAL(3,2)), 6) AS DOUBLE) AS avg_neg_cos
         |  FROM scored GROUP BY 1, 2, 3),
         |h AS (
         |  SELECT anchor_id, neg_id, cos_neg FROM (
         |    SELECT anchor_id, neg_id, cos_neg,
         |      ROW_NUMBER() OVER (PARTITION BY anchor_id
         |        ORDER BY cos_neg DESC, neg_id) AS rn
         |    FROM scored) t WHERE rn = 1)
         |SELECT g.anchor_id, g.pos_id, g.cos_pos, g.avg_neg_cos,
         |  h.neg_id AS hard_neg_id, h.cos_neg AS hard_neg_cos,
         |  ROUND(g.cos_pos - g.avg_neg_cos, 6) AS margin
         |FROM g JOIN h ON h.anchor_id = g.anchor_id
         |ORDER BY g.anchor_id""".stripMargin
    },
    "ml_feature_hash" ->
      """SELECT doc_id, substr(md5(word), 1, 2) AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |      FROM documents WHERE doc_id < 20)
        |GROUP BY doc_id, bucket
        |ORDER BY doc_id, bucket""".stripMargin,
    "ml_crossval_folds" ->
      """WITH f AS (
        |  SELECT (CASE WHEN ascii(substr(md5(CAST(vec_id AS VARCHAR)), 1, 1)) >= 97
        |               THEN ascii(substr(md5(CAST(vec_id AS VARCHAR)), 1, 1)) - 87
        |               ELSE ascii(substr(md5(CAST(vec_id AS VARCHAR)), 1, 1)) - 48
        |          END) % 5 AS fold, label
        |  FROM embeddings)
        |SELECT CAST(fold AS BIGINT) AS fold, COUNT(*) AS n,
        |  ROUND(AVG(label), 6) AS avg_label,
        |  CAST(COUNT(DISTINCT label) AS BIGINT) AS n_labels
        |FROM f
        |GROUP BY fold
        |ORDER BY fold""".stripMargin,
    "ml_auc" ->
      """WITH e AS (
        |  SELECT CAST(ROUND(CAST(ROUND(1.0 / (1.0 + exp(-ROUND(list_sum(list_transform(
        |      embedding[1:4], x -> CAST(x AS DOUBLE))), 6))), 6)
        |    AS DECIMAL(18,6)), 3) AS DOUBLE) AS pb,
        |    CASE WHEN label >= 5 THEN 1 ELSE 0 END AS pos
        |  FROM embeddings),
        |bins AS (
        |  SELECT pb, COUNT(*) AS n, SUM(pos) AS npos FROM e GROUP BY pb),
        |tot AS (SELECT SUM(n) AS alln, SUM(npos) AS allpos FROM bins),
        |roc AS (
        |  SELECT pb,
        |    CAST(SUM(npos) OVER w AS DOUBLE) / (SELECT allpos FROM tot) AS tpr,
        |    CAST(SUM(n) OVER w - SUM(npos) OVER w AS DOUBLE)
        |      / ((SELECT alln FROM tot) - (SELECT allpos FROM tot)) AS fpr
        |  FROM bins
        |  WINDOW w AS (ORDER BY pb DESC
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |terms AS (
        |  SELECT ROUND(
        |    (fpr - COALESCE(lag(fpr) OVER (ORDER BY pb DESC), 0.0)) *
        |    (tpr + COALESCE(lag(tpr) OVER (ORDER BY pb DESC), 0.0)) / 2, 6) AS term
        |  FROM roc)
        |SELECT ROUND(CAST(SUM(CAST(term AS DECIMAL(18,6))) AS DOUBLE), 6) AS auc,
        |  COUNT(*) AS n_bins
        |FROM terms""".stripMargin,
    "ml_learning_curve" ->
      """WITH e AS (
        |  SELECT CAST(ROUND(CAST(ROUND(1.0 / (1.0 + exp(-ROUND(list_sum(list_transform(
        |      embedding[1:4], x -> CAST(x AS DOUBLE))), 6))), 6)
        |    AS DECIMAL(18,6)), 3) AS DOUBLE) AS pb,
        |    CASE WHEN label >= 5 THEN 1 ELSE 0 END AS pos,
        |    (CASE WHEN ascii(substring(md5(CAST(vec_id AS VARCHAR)), 1, 1)) >= 97
        |          THEN ascii(substring(md5(CAST(vec_id AS VARCHAR)), 1, 1)) - 87
        |          ELSE ascii(substring(md5(CAST(vec_id AS VARCHAR)), 1, 1)) - 48
        |     END) * 16 +
        |    (CASE WHEN ascii(substring(md5(CAST(vec_id AS VARCHAR)), 2, 1)) >= 97
        |          THEN ascii(substring(md5(CAST(vec_id AS VARCHAR)), 2, 1)) - 87
        |          ELSE ascii(substring(md5(CAST(vec_id AS VARCHAR)), 2, 1)) - 48
        |     END) AS b
        |  FROM embeddings),
        |arms AS (
        |  SELECT t.frac, e.pb, e.pos FROM e,
        |    (SELECT unnest([20, 40, 60, 80, 100]) AS frac) t
        |  WHERE e.b * 100 < t.frac * 256),
        |bins AS (
        |  SELECT frac, pb, COUNT(*) AS n, SUM(pos) AS npos
        |  FROM arms GROUP BY frac, pb),
        |tot AS (
        |  SELECT frac, SUM(n) AS n_rows, SUM(npos) AS allpos
        |  FROM bins GROUP BY frac),
        |roc AS (
        |  SELECT b.frac, b.pb, t.n_rows,
        |    CAST(SUM(b.npos) OVER w AS DOUBLE) / t.allpos AS tpr,
        |    CAST(SUM(b.n) OVER w - SUM(b.npos) OVER w AS DOUBLE)
        |      / (t.n_rows - t.allpos) AS fpr
        |  FROM bins b JOIN tot t USING (frac)
        |  WINDOW w AS (PARTITION BY b.frac ORDER BY b.pb DESC
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |terms AS (
        |  SELECT frac, n_rows, ROUND(
        |    (fpr - COALESCE(lag(fpr) OVER lw, 0.0)) *
        |    (tpr + COALESCE(lag(tpr) OVER lw, 0.0)) / 2, 6) AS term
        |  FROM roc
        |  WINDOW lw AS (PARTITION BY frac ORDER BY pb DESC))
        |SELECT frac, CAST(MAX(n_rows) AS BIGINT) AS n_rows,
        |  ROUND(CAST(SUM(CAST(term AS DECIMAL(18,6))) AS DOUBLE), 6) AS auc
        |FROM terms GROUP BY frac ORDER BY frac""".stripMargin,
    "ml_pr_curve" ->
      """WITH e AS (
        |  SELECT ROUND(1.0 / (1.0 + exp(-ROUND(list_sum(list_transform(
        |           embedding[1:4], x -> CAST(x AS DOUBLE))), 6))), 6) AS p,
        |    CASE WHEN label >= 5 THEN 1 ELSE 0 END AS pos
        |  FROM embeddings),
        |x AS (SELECT p, pos, ti FROM e, range(0, 10) t(ti))
        |SELECT CAST(ti AS DOUBLE) / 10 AS threshold,
        |  CAST(SUM(CASE WHEN p >= CAST(ti AS DOUBLE) / 10 THEN pos END) AS BIGINT) AS tp,
        |  CAST(SUM(CASE WHEN p >= CAST(ti AS DOUBLE) / 10 THEN 1 ELSE 0 END) AS BIGINT) AS pp,
        |  ROUND(CASE WHEN SUM(CASE WHEN p >= CAST(ti AS DOUBLE) / 10 THEN 1 ELSE 0 END) > 0
        |        THEN CAST(SUM(CASE WHEN p >= CAST(ti AS DOUBLE) / 10 THEN pos END) AS DOUBLE)
        |             / SUM(CASE WHEN p >= CAST(ti AS DOUBLE) / 10 THEN 1 ELSE 0 END)
        |        END, 6) AS prec,
        |  ROUND(CAST(SUM(CASE WHEN p >= CAST(ti AS DOUBLE) / 10 THEN pos END) AS DOUBLE)
        |    / SUM(pos), 6) AS recall
        |FROM x
        |GROUP BY ti
        |ORDER BY threshold""".stripMargin,
    "ml_winsorize" ->
      """WITH e AS (
        |  SELECT event_type, ROUND(value, 6) AS v FROM events),
        |b AS (
        |  SELECT event_type,
        |    ROUND(quantile_cont(v, 0.05), 6) AS lo,
        |    ROUND(quantile_cont(v, 0.95), 6) AS hi
        |  FROM e GROUP BY 1),
        |c AS (
        |  SELECT e.event_type, b.lo, b.hi, v,
        |    LEAST(GREATEST(v, b.lo), b.hi) AS w
        |  FROM e JOIN b ON e.event_type = b.event_type)
        |SELECT event_type, lo, hi, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN v < lo THEN 1 ELSE 0 END) AS BIGINT)
        |    AS clipped_low,
        |  CAST(SUM(CASE WHEN v > hi THEN 1 ELSE 0 END) AS BIGINT)
        |    AS clipped_high,
        |  ROUND(CAST(SUM(CAST(ROUND(v, 10) AS DECIMAL(28,10))) AS DOUBLE)
        |    / COUNT(*), 6) AS mean_raw,
        |  ROUND(CAST(SUM(CAST(ROUND(w, 10) AS DECIMAL(28,10))) AS DOUBLE)
        |    / COUNT(*), 6) AS mean_winsorized
        |FROM c GROUP BY 1, 2, 3
        |ORDER BY event_type""".stripMargin,
    "ml_permutation_importance" -> {
      val arms = Seq("none" -> Seq(1, 2, 3, 4), "drop_1" -> Seq(2, 3, 4),
        "drop_2" -> Seq(1, 3, 4), "drop_3" -> Seq(1, 2, 4),
        "drop_4" -> Seq(1, 2, 3))
      val armSql = arms.map { case (n, ds) =>
        val sum = ds.map(i => s"CAST(embedding[$i] AS DOUBLE)").mkString(" + ")
        s"""SELECT '$n' AS ablated,
           |    CAST(ROUND(CAST(ROUND(1.0 / (1.0 + exp(-ROUND($sum, 6))), 6)
           |      AS DECIMAL(18,6)), 3) AS DOUBLE) AS pb,
           |    CASE WHEN label >= 5 THEN 1 ELSE 0 END AS pos
           |  FROM embeddings""".stripMargin
      }.mkString("\n  UNION ALL\n  ")
      s"""WITH e AS (
         |  $armSql),
         |bins AS (
         |  SELECT ablated, pb, COUNT(*) AS n, SUM(pos) AS npos
         |  FROM e GROUP BY 1, 2),
         |tot AS (
         |  SELECT ablated, SUM(n) AS alln, SUM(npos) AS allpos
         |  FROM bins GROUP BY 1),
         |roc AS (
         |  SELECT b.ablated, pb,
         |    CAST(SUM(npos) OVER w AS DOUBLE) / t.allpos AS tpr,
         |    CAST(SUM(n) OVER w - SUM(npos) OVER w AS DOUBLE)
         |      / (t.alln - t.allpos) AS fpr
         |  FROM bins b JOIN tot t ON b.ablated = t.ablated
         |  WINDOW w AS (PARTITION BY b.ablated ORDER BY pb DESC
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |terms AS (
         |  SELECT ablated, ROUND(
         |    (fpr - COALESCE(lag(fpr) OVER pw, 0.0)) *
         |    (tpr + COALESCE(lag(tpr) OVER pw, 0.0)) / 2, 6) AS term
         |  FROM roc
         |  WINDOW pw AS (PARTITION BY ablated ORDER BY pb DESC)),
         |aucs AS (
         |  SELECT ablated,
         |    ROUND(CAST(SUM(CAST(term AS DECIMAL(18,6))) AS DOUBLE), 6) AS auc
         |  FROM terms GROUP BY 1),
         |f AS (SELECT auc AS full_auc FROM aucs WHERE ablated = 'none')
         |SELECT ablated, auc, ROUND(full_auc - auc, 6) AS delta
         |FROM aucs, f
         |ORDER BY ablated""".stripMargin
    },
    "ml_embedding_drift" ->
      """WITH ex AS (
        |  SELECT grp, p - 1 AS pos, CAST(embedding[p] AS DOUBLE) AS x
        |  FROM (SELECT CASE WHEN label >= 5 THEN 1 ELSE 0 END AS grp,
        |          embedding, unnest(generate_series(1, len(embedding))) AS p
        |        FROM embeddings)),
        |x6 AS (
        |  SELECT grp, pos,
        |    CAST(CAST(ROUND(x, 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS x6
        |  FROM ex),
        |st AS (
        |  SELECT grp, pos, COUNT(*) AS n,
        |    CAST(SUM(x6) AS BIGINT) AS sx6,
        |    CAST(SUM(x6 * x6) AS BIGINT) AS sx212
        |  FROM x6 GROUP BY grp, pos),
        |mu AS (
        |  SELECT grp, pos, n,
        |    CAST(sx6 AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6) AS mu,
        |    CAST(sx212 AS DOUBLE) / (CAST(n AS DOUBLE) * 1e12)
        |      - (CAST(sx6 AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6))
        |      * (CAST(sx6 AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6)) AS varp
        |  FROM st)
        |SELECT CAST(a.pos AS BIGINT) AS pos,
        |  ROUND(ABS(b.mu - a.mu) / sqrt(a.varp / a.n + b.varp / b.n), 6) AS drift_z
        |FROM mu a JOIN mu b ON a.pos = b.pos AND a.grp = 0 AND b.grp = 1
        |ORDER BY drift_z DESC, pos
        |LIMIT 10""".stripMargin,
    "ml_confusion_matrix" ->
      """WITH e AS (
        |  SELECT CASE WHEN label >= 5 THEN 1 ELSE 0 END AS actual,
        |    CASE WHEN ROUND(list_sum(list_transform(embedding[1:8],
        |           x -> CAST(x AS DOUBLE))), 6) > 0 THEN 1 ELSE 0 END AS predicted
        |  FROM embeddings),
        |m AS (
        |  SELECT actual, predicted, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM e GROUP BY actual, predicted)
        |SELECT actual, predicted, n,
        |  ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (), 6) AS frac
        |FROM m
        |ORDER BY actual, predicted""".stripMargin,
    "ml_calibration_bins" ->
      """WITH e AS (
        |  SELECT ROUND(1.0 / (1.0 + exp(-ROUND(list_sum(list_transform(
        |           embedding[1:4], x -> CAST(x AS DOUBLE))), 6))), 6) AS p,
        |    CASE WHEN label >= 5 THEN 1 ELSE 0 END AS pos
        |  FROM embeddings)
        |SELECT CAST(FLOOR(p * 10) AS BIGINT) AS bin, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(ROUND(p, 10) AS DECIMAL(28,10))) AS DOUBLE)
        |    / COUNT(*), 6) AS avg_score,
        |  ROUND(CAST(SUM(CAST(ROUND(pos, 10) AS DECIMAL(28,10))) AS DOUBLE)
        |    / COUNT(*), 6) AS frac_pos
        |FROM e
        |GROUP BY bin
        |ORDER BY bin""".stripMargin,
    "ml_feature_prep" ->
      """SELECT c_custkey,
        |  CASE WHEN abs(c_acctbal) + abs(CAST(c_nationkey AS DOUBLE)) = 0 THEN 0.0
        |       ELSE ROUND(c_acctbal / (abs(c_acctbal) + abs(CAST(c_nationkey AS DOUBLE))), 6) END AS f1,
        |  CASE WHEN abs(c_acctbal) + abs(CAST(c_nationkey AS DOUBLE)) = 0 THEN 0.0
        |       ELSE ROUND(CAST(c_nationkey AS DOUBLE) / (abs(c_acctbal) + abs(CAST(c_nationkey AS DOUBLE))), 6) END AS f2
        |FROM customer
        |ORDER BY c_custkey""".stripMargin,
    "ml_label_stats" ->
      s"""WITH e AS (SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings)
         |SELECT label, COUNT(*) AS n,
         |  ROUND(CAST(SUM(CAST(ROUND(v[1], 10) AS DECIMAL(28,10)))
         |    AS DOUBLE) / COUNT(*), 6) AS avg_first,
         |  ROUND(CAST(SUM(CAST(ROUND(sqrt(${dotSql("v", "v")}), 10)
         |    AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*), 6) AS avg_norm
         |FROM e
         |GROUP BY label
         |ORDER BY label""".stripMargin,
    "ml_sequence_pairs" ->
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lag(event_type, 3) OVER w AS c1,
        |    lag(event_type, 2) OVER w AS c2,
        |    lag(event_type, 1) OVER w AS c3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id
        |               ORDER BY CAST(ts AS TIMESTAMP), event_id))
        |SELECT c1 || ',' || c2 || ',' || c3 AS context,
        |  event_type AS next_type, COUNT(*) AS n
        |FROM seq WHERE c1 IS NOT NULL
        |GROUP BY 1, 2
        |ORDER BY n DESC, context, next_type
        |LIMIT 50""".stripMargin,
    "ml_ks_drift" ->
      """WITH ev AS (
        |  SELECT event_type,
        |    CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16'
        |         THEN 'a' ELSE 'b' END AS half,
        |    CAST(FLOOR(ROUND(value, 6)) AS BIGINT) AS bin
        |  FROM events),
        |c AS (
        |  SELECT event_type, bin,
        |    SUM(CASE WHEN half = 'a' THEN 1 ELSE 0 END) AS na,
        |    SUM(CASE WHEN half = 'b' THEN 1 ELSE 0 END) AS nb
        |  FROM ev GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, bin, na, nb,
        |    SUM(na) OVER (PARTITION BY event_type ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
        |    SUM(nb) OVER (PARTITION BY event_type ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
        |    SUM(na) OVER (PARTITION BY event_type) AS ta,
        |    SUM(nb) OVER (PARTITION BY event_type) AS tb
        |  FROM c)
        |SELECT event_type,
        |  MAX(ROUND(ABS(CAST(ca AS DOUBLE) / ta - CAST(cb AS DOUBLE) / tb), 6)) AS ks,
        |  CAST(ta AS BIGINT) AS n_ref, CAST(tb AS BIGINT) AS n_cur
        |FROM w GROUP BY event_type, ta, tb
        |ORDER BY event_type""".stripMargin,
    "ml_lift_gain" ->
      """WITH e AS (
        |  SELECT CAST(FLOOR(ROUND(1.0 / (1.0 + exp(-ROUND(list_sum(list_transform(
        |           embedding[1:4], x -> CAST(x AS DOUBLE))), 6))), 6) * 10) AS BIGINT) AS bucket,
        |    CASE WHEN label >= 5 THEN 1 ELSE 0 END AS pos
        |  FROM embeddings),
        |b AS (
        |  SELECT bucket, COUNT(*) AS n, SUM(pos) AS npos FROM e GROUP BY bucket),
        |w AS (
        |  SELECT bucket, n, npos,
        |    SUM(n) OVER (ORDER BY bucket DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
        |    SUM(npos) OVER (ORDER BY bucket DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos,
        |    SUM(n) OVER () AS tot_n, SUM(npos) OVER () AS tot_pos
        |  FROM b)
        |SELECT bucket, n, CAST(npos AS BIGINT) AS npos,
        |  ROUND(CAST(cum_pos AS DOUBLE) / tot_pos, 6) AS cum_gain,
        |  ROUND(CAST(cum_pos AS DOUBLE) * tot_n / (cum_n * tot_pos), 6) AS cum_lift
        |FROM w
        |ORDER BY bucket DESC""".stripMargin,
    "ml_target_encode" ->
      """WITH per AS (
        |  SELECT c_nationkey, COUNT(*) AS n,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS s
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY c_nationkey),
        |tot AS (
        |  SELECT SUM(n) AS tn,
        |    ROUND(CAST(SUM(CAST(s AS DECIMAL(28,2))) AS DOUBLE), 2) AS ts
        |  FROM per)
        |SELECT c_nationkey, n,
        |  ROUND(s / n, 6) AS raw_mean,
        |  ROUND((s + 10.0 * (ts / tn)) / (n + 10), 6) AS encoded
        |FROM per, tot
        |ORDER BY c_nationkey""".stripMargin,
    "ml_woe_iv" ->
      """WITH e AS (
        |  SELECT CAST(FLOOR(ROUND(1.0 / (1.0 + exp(-ROUND(list_sum(list_transform(
        |           embedding[1:4], x -> CAST(x AS DOUBLE))), 6))), 6) * 10) AS BIGINT) AS bucket,
        |    CASE WHEN label >= 5 THEN 1 ELSE 0 END AS pos
        |  FROM embeddings),
        |b AS (
        |  SELECT bucket, SUM(pos) AS npos, SUM(1 - pos) AS nneg
        |  FROM e GROUP BY bucket),
        |w AS (
        |  SELECT bucket, npos, nneg,
        |    (npos + 0.5) / (SUM(npos) OVER () + 5.0) AS pg,
        |    (nneg + 0.5) / (SUM(nneg) OVER () + 5.0) AS pb
        |  FROM b),
        |t AS (
        |  SELECT bucket, npos, nneg,
        |    ROUND(LN(pg / pb), 6) AS woe,
        |    CAST(ROUND((pg - pb) * LN(pg / pb), 10) AS DECIMAL(20,10)) AS term
        |  FROM w)
        |SELECT bucket, CAST(npos AS BIGINT) AS npos, CAST(nneg AS BIGINT) AS nneg,
        |  woe, CAST(ROUND(SUM(term) OVER (), 6) AS DOUBLE) AS iv
        |FROM t
        |ORDER BY bucket""".stripMargin,
    "ml_mutual_info" ->
      """WITH e AS (
        |  SELECT CAST(FLOOR(ROUND(1.0 / (1.0 + exp(-ROUND(list_sum(list_transform(
        |           embedding[1:4], x -> CAST(x AS DOUBLE))), 6))), 6) * 10) AS BIGINT) AS bucket,
        |    label
        |  FROM embeddings),
        |j AS (
        |  SELECT bucket, label, COUNT(*) AS nxy FROM e GROUP BY bucket, label),
        |m AS (
        |  SELECT bucket, label, nxy,
        |    SUM(nxy) OVER (PARTITION BY bucket) AS nx,
        |    SUM(nxy) OVER (PARTITION BY label) AS ny,
        |    SUM(nxy) OVER () AS nn
        |  FROM j),
        |t AS (
        |  SELECT CAST(ROUND(
        |    CAST(nxy AS DOUBLE) / nn *
        |    LN(CAST(nxy AS DOUBLE) * nn / (CAST(nx AS DOUBLE) * ny)), 10)
        |    AS DECIMAL(20,10)) AS term
        |  FROM m)
        |SELECT CAST(ROUND(SUM(term), 6) AS DOUBLE) AS mi, COUNT(*) AS n_cells
        |FROM t""".stripMargin,
    "ml_chi2" ->
      """WITH obs AS (
        |  SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY 1, 2),
        |grid AS (
        |  SELECT l.lang, s.source
        |  FROM (SELECT DISTINCT lang FROM documents) l
        |  CROSS JOIN (SELECT DISTINCT source FROM documents) s),
        |f AS (
        |  SELECT g.lang, g.source, COALESCE(obs.o, 0) AS o
        |  FROM grid g LEFT JOIN obs
        |    ON g.lang = obs.lang AND g.source = obs.source),
        |m AS (
        |  SELECT lang, source, o,
        |    CAST(SUM(o) OVER (PARTITION BY lang) AS DOUBLE)
        |      * SUM(o) OVER (PARTITION BY source)
        |      / SUM(o) OVER () AS e,
        |    SUM(o) OVER () AS nn
        |  FROM f),
        |agg AS (
        |  SELECT SUM(CAST(ROUND((o - e) * (o - e) / e, 10)
        |           AS DECIMAL(20,10))) AS chi2d,
        |    COUNT(DISTINCT lang) AS rl, COUNT(DISTINCT source) AS rs,
        |    COUNT(*) AS n_cells, MAX(nn) AS nn
        |  FROM m)
        |SELECT CAST(ROUND(chi2d, 6) AS DOUBLE) AS chi2,
        |  CAST((rl - 1) * (rs - 1) AS BIGINT) AS dof,
        |  ROUND(SQRT(CAST(ROUND(chi2d, 6) AS DOUBLE)
        |    / (nn * LEAST(rl - 1, rs - 1))), 6) AS cramers_v,
        |  n_cells
        |FROM agg""".stripMargin,
    "ml_psi_drift" ->
      """WITH ev AS (
        |  SELECT event_type,
        |    CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16'
        |         THEN 'a' ELSE 'b' END AS half,
        |    LEAST(9, GREATEST(0,
        |      CAST(FLOOR(ROUND(value, 6) / 60) AS BIGINT))) AS bin
        |  FROM events),
        |c AS (
        |  SELECT event_type, bin,
        |    SUM(CASE WHEN half = 'a' THEN 1 ELSE 0 END) AS na,
        |    SUM(CASE WHEN half = 'b' THEN 1 ELSE 0 END) AS nb
        |  FROM ev GROUP BY 1, 2),
        |grid AS (
        |  SELECT event_type, r.range AS bin
        |  FROM (SELECT DISTINCT event_type FROM ev) CROSS JOIN range(10) r),
        |f AS (
        |  SELECT g.event_type, g.bin,
        |    COALESCE(c.na, 0) AS na, COALESCE(c.nb, 0) AS nb
        |  FROM grid g LEFT JOIN c
        |    ON g.event_type = c.event_type AND g.bin = c.bin),
        |t AS (
        |  SELECT event_type, bin, na, nb,
        |    SUM(na) OVER (PARTITION BY event_type) AS ta,
        |    SUM(nb) OVER (PARTITION BY event_type) AS tb
        |  FROM f),
        |terms AS (
        |  SELECT event_type, ta, tb,
        |    CAST(ROUND(
        |      ((na + 0.5) / (ta + 5.0) - (nb + 0.5) / (tb + 5.0)) *
        |      LN(((na + 0.5) / (ta + 5.0)) / ((nb + 0.5) / (tb + 5.0))), 10)
        |      AS DECIMAL(20,10)) AS term
        |  FROM t)
        |SELECT event_type, CAST(ROUND(SUM(term), 6) AS DOUBLE) AS psi,
        |  CAST(ta AS BIGINT) AS n_ref, CAST(tb AS BIGINT) AS n_cur
        |FROM terms GROUP BY event_type, ta, tb
        |ORDER BY event_type""".stripMargin)
}

/** Multimodal-column surface: opaque binary payloads + typed metadata.
  * The SQL-expressible metadata query lives here; the decode/feature
  * plumbing (stubbed codecs over real Spark batch machinery) is in
  * [[graft.multimodal.Multimodal]].
  */
object MultimodalOps {
  import Tables._

  /** Per synthetic image: 64-bit average-hash + 56-bit difference-hash
    * (REAL PNG encode → ImageIO decode → integer-gray 8×8 crop), shared
    * by mm_image_phash and mm_phash_neardup; the oracles replay the
    * pixel formulas in SQL. */
  private def imagePhashes(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal.ImageCodec
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("phash", org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("dhash", org.apache.spark.sql.types.StringType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    documents(s, dir)
      .select(col("doc_id")).filter(col("doc_id") < 200)
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val w = 8 + (id % 57).toInt
          val h = 8 + (id % 41).toInt
          val png = ImageCodec.encodePng(w, h, seed = id, alpha = id % 2 == 1)
          org.apache.spark.sql.Row(id, ImageCodec.averageHash8x8(png).get,
            ImageCodec.differenceHash8x8(png).get)
        }
      }(enc)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // treat text as an opaque binary payload; deterministic fake "decode"
    // metadata (byte length, leading byte, synthetic frame shape)
    "mm_binary_meta" -> { (s, dir) =>
      documents(s, dir)
        .select(col("source"),
          octet_length(col("text")).as("n_bytes"),
          ascii(substring(col("text"), 1, 1)).as("first_byte"),
          (col("n_chars") % 64).cast("long").as("fake_width"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_payloads"),
          sum(col("n_bytes").cast("long")).cast("long").as("total_bytes"),
          round(avg(col("first_byte")), 6).as("avg_first_byte"),
          max(col("fake_width")).cast("long").as("max_width"))
        .orderBy(col("source"))
    },
    // real PNG encode→decode through javax.imageio, per document row:
    // dimensions/alpha derive from doc_id by fixed formulas, the payload
    // is a REAL PNG (zlib-compressed, CRC-checked), and the output rows
    // carry a three-way consistency proof — full ImageIO pixel decode
    // (width/height/channels/corner pixel), an ImageIO-independent IHDR
    // byte parse (hdr_*), and the DuckDB oracle replaying the formulas.
    // If any codec layer lied, the three disagree and the hash gate
    // fails. Capped at 200 docs: the value is codec coverage, not volume
    // (the batch plumbing is load-tested by mm_frame_stats).
    "mm_image_meta" -> { (s, dir) =>
      import graft.multimodal.Multimodal.ImageCodec
      val outSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("width", org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("height", org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("channels", org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("hdr_width", org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("hdr_height", org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("hdr_channels", org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("px00", org.apache.spark.sql.types.IntegerType, nullable = false)))
      val enc = org.apache.spark.sql.Encoders.row(outSchema)
      documents(s, dir)
        .select(col("doc_id")).filter(col("doc_id") < 200)
        .mapPartitions { rows =>
          rows.map { r =>
            val id = r.getLong(0)
            val w = 8 + (id % 57).toInt
            val h = 8 + (id % 41).toInt
            val png = ImageCodec.encodePng(w, h, seed = id, alpha = id % 2 == 1)
            val (dw, dh, dc) = ImageCodec.decodeMeta(png).get
            val (hw, hh, hc) = ImageCodec.parsePngHeader(png).get
            val px = ImageCodec.decodePixel(png, 0, 0).get
            org.apache.spark.sql.Row(id, dw, dh, dc, hw, hh, hc, px)
          }
        }(enc)
        .orderBy(col("doc_id"))
    },
    // audio sibling of mm_image_meta: per doc, synthesize a 16-bit PCM
    // WAV whose parameters derive from doc_id, run it through the REAL
    // RIFF chunk-walking parser (WavCodec — no fixed offsets, no
    // javax.sound), and emit the PARSED fields; the oracle recomputes
    // them from the doc_id formula, so a hash match proves the
    // container round-trip (encode → parse) is bit-faithful for every
    // row. Same executor-pure mapPartitions shape as the image path:
    // payloads never reach the driver.
    "mm_audio_meta" -> { (s, dir) =>
      import graft.multimodal.Multimodal.WavCodec
      val outSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("sample_rate", org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("channels", org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("bits", org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("n_samples", org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("duration_ms", org.apache.spark.sql.types.LongType, nullable = false)))
      val enc = org.apache.spark.sql.Encoders.row(outSchema)
      documents(s, dir)
        .select(col("doc_id")).filter(col("doc_id") < 200)
        .mapPartitions { rows =>
          val rates = Array(8000, 16000, 44100)
          rows.map { r =>
            val id = r.getLong(0)
            val wav = WavCodec.encodeWav(
              rates((id % 3).toInt), 1 + (id % 2).toInt,
              100 + (id % 400).toInt, seed = id)
            val (rate, ch, bits, n) = WavCodec.parseWavHeader(wav).get
            val dur = WavCodec.durationMs(wav).get
            org.apache.spark.sql.Row(id, rate, ch, bits, n, dur)
          }
        }(enc)
        .orderBy(col("doc_id"))
    },
    // Perceptual-hash image dedup: aHash (64-bit average hash) computed
    // from the REAL decoded pixels of each document's PNG — the standard
    // near-duplicate-image primitive (identical hash ⇒ visually
    // identical 8×8 luma structure), and the cross of the multimodal
    // codec path with the dedup family: group-by-phash is exactly
    // dedup_exact's shape with a perceptual key instead of md5(text).
    // The Spark side proves the full encode → decode → pixel → hash
    // chain (ImageIO decode, integer gray, exact integer mean compare);
    // the oracle replays the pixel FORMULAS in SQL — any lie in any
    // codec layer breaks the 64-bit hash, not just one field. Per-row
    // decode, no shuffle until the 200-row hash table groups.
    "mm_image_phash" -> { (s, dir) =>
      imagePhashes(s, dir).select(col("doc_id"), col("phash"))
        .withColumn("n_same", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("phash"))))
        .orderBy(col("doc_id"))
    },
    // Perceptual near-duplicate image pairs — the multimodal twin of
    // dedup_simhash_pairs: band each 56-bit dHash (x-gradient hash —
    // aHash degenerates on this corpus, every near-dup collapsing to
    // distance 0) into 4×14 bits, pair images sharing ANY band
    // (pigeonhole: Hamming ≤ 3 over 4 bands forces ≥ 1 identical band,
    // so the bucketing is EXACT for the d ≤ 3 regime, never a recall
    // trade), then score candidates with the true bit distance and
    // report the distance spectrum — the table that sizes a
    // visual-dedup pass before anyone deletes anything.
    //
    // Scale shape: banding is the LSH discipline every dedup query
    // here follows — candidates come from 14-bit-bucket equi-joins,
    // never the image² cross join; the exact Hamming runs only on
    // candidates. The synthetic corpus is deliberately hash-dense
    // (thousands of candidate pairs from 200 images), so the spectrum
    // exercises the full path. Per-row codec work stays row-local.
    "mm_phash_neardup" -> { (s, dir) =>
      val h = imagePhashes(s, dir).select(col("doc_id"), col("dhash"))
        .localCheckpoint()
      val bands = h.select(col("doc_id"), col("dhash"),
        explode(sequence(lit(0), lit(3))).as("b"))
        .withColumn("band", expr("substring(dhash, b * 14 + 1, 14)"))
      val cand = bands.select(col("b"), col("band"),
          col("doc_id").as("da"), col("dhash").as("pa"))
        .join(bands.select(col("b"), col("band"),
          col("doc_id").as("db"), col("dhash").as("pb")), Seq("b", "band"))
        .filter(col("da") < col("db"))
        .select(col("da"), col("db"), col("pa"), col("pb"))
        .distinct()
      cand
        .withColumn("d", aggregate(
          zip_with(split(col("pa"), ""), split(col("pb"), ""),
            (x, y) => when(x === y, 0).otherwise(1)),
          lit(0), (a, x) => a + x).cast("long"))
        .filter(col("d") <= 3)
        .groupBy(col("d"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("d"))
    },
    // REAL image-resize proof: encode → ImageIO decode → 4×4 block
    // mean-pool over every pixel, emitted as EXACT integer block sums
    // (the thumbnail/downsample step of a vision-data pipeline, in the
    // only form an external engine can replay bit-for-bit — AWT's
    // bilinear resizeImage is real too, but its interpolation weights
    // aren't spec-exact, so block pooling is the hash-gateable resize).
    // The oracle regenerates every pixel from the generator formulas
    // and pools with the same x·4 div W integer partition — a match
    // proves the decode touched ALL W×H pixels faithfully, not just
    // the 8×8 crop mm_image_phash checks. Per-row decode, no shuffle
    // until the 16-blocks-per-doc table groups.
    "mm_image_pool" -> { (s, dir) =>
      import graft.multimodal.Multimodal.ImageCodec
      val outSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("by", org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("bx", org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("gray_sum", org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("n_px", org.apache.spark.sql.types.LongType, nullable = false)))
      val enc = org.apache.spark.sql.Encoders.row(outSchema)
      documents(s, dir)
        .select(col("doc_id")).filter(col("doc_id") < 200)
        .mapPartitions { rows =>
          rows.flatMap { r =>
            val id = r.getLong(0)
            val png = ImageCodec.encodePng(
              8 + (id % 57).toInt, 8 + (id % 41).toInt, seed = id,
              alpha = id % 2 == 1)
            ImageCodec.meanPoolBlocks(png, 4, 4).get.iterator.zipWithIndex.map {
              case ((sum, n), i) =>
                org.apache.spark.sql.Row(id, (i / 4).toLong, (i % 4).toLong, sum, n.toLong)
            }
          }
        }(enc)
        .orderBy(col("doc_id"), col("by"), col("bx"))
    },
    // Sample-level audio proof — the WAV twin of mm_image_phash's
    // pixel-level check: per doc, synthesize the same PCM WAV as
    // mm_audio_meta, then read the first 8 SAMPLES back through the
    // chunk-walking parser (WavCodec.readSamples — data located by
    // chunk walk, not fixed offsets) and emit signal stats (leading
    // samples, peak, energy). The generator's sample stream is an LCG
    // mod 2^64, which the DuckDB oracle replays with HUGEINT modular
    // arithmetic in a recursive CTE — a hash match proves the parser
    // returns the true signal bytes, not plausible ones. Executor-pure
    // mapPartitions; payloads never reach the driver.
    "mm_audio_samples" -> { (s, dir) =>
      import graft.multimodal.Multimodal.WavCodec
      val outSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("s1", org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("s2", org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("peak8", org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("energy8", org.apache.spark.sql.types.LongType, nullable = false)))
      val enc = org.apache.spark.sql.Encoders.row(outSchema)
      documents(s, dir)
        .select(col("doc_id")).filter(col("doc_id") < 200)
        .mapPartitions { rows =>
          val rates = Array(8000, 16000, 44100)
          rows.map { r =>
            val id = r.getLong(0)
            val wav = WavCodec.encodeWav(
              rates((id % 3).toInt), 1 + (id % 2).toInt,
              100 + (id % 400).toInt, seed = id)
            val sm = WavCodec.readSamples(wav, 8).get
            org.apache.spark.sql.Row(id, sm(0), sm(1),
              sm.map(math.abs).max, sm.map(v => v.toLong * v).sum)
          }
        }(enc)
        .orderBy(col("doc_id"))
    },
    // Audio FINGERPRINT + match — the audio twin of
    // mm_image_phash/mm_phash_neardup: a 15-bit derivative-sign hash
    // over the first 16 decoded PCM samples (bit i−1 = sample i rose
    // vs sample i−1 — the sign-of-delta family Chromaprint/Shazam-class
    // matchers build on, at sample granularity since the fixture codec
    // is FFT-free), then exact-match grouping (fingerprint = the join
    // key; a real deployment bands sub-fingerprints the same way).
    // Decode runs through the REAL WavCodec mapPartitions path; the
    // oracle replays the LCG sample generator recursively and re-derives
    // every bit, so the hash gate pins decode + fingerprint + matching.
    // Scale: per-row decode, fingerprint-keyed agg — corpus-linear.
    // Energy-threshold voice-activity detection (VAD) over the real
    // WAV codec — the audio-pipeline step before transcription or
    // speech/music routing: frame the signal, score per-frame energy,
    // threshold against the clip's own mean (energy·n_frames > total —
    // integer-exact, no division), and merge adjacent active frames
    // into segments (gaps-and-islands). The codec and per-frame sums
    // run in the batched mapPartitions path; segmentation is real
    // window plumbing (lag + running sum) the oracle replays from the
    // same LCG sample stream the WAV encoder wrote — so frame
    // boundaries, energies, the threshold rule, and the island merge
    // are all under the hash gate. First 64 samples → 8 frames of 8:
    // enough to exercise multi-segment clips while the DuckDB replay
    // stays a 64-level recursive CTE. Scale: per-row codec work, one
    // per-clip window over 8 rows — embarrassingly parallel.
    "mm_audio_vad" -> { (s, dir) =>
      import graft.multimodal.Multimodal.WavCodec
      val outSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("frame",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("energy",
          org.apache.spark.sql.types.LongType, nullable = false)))
      val enc = org.apache.spark.sql.Encoders.row(outSchema)
      val frames = documents(s, dir)
        .select(col("doc_id")).filter(col("doc_id") < 200)
        .mapPartitions { rows =>
          val rates = Array(8000, 16000, 44100)
          rows.flatMap { r =>
            val id = r.getLong(0)
            val wav = WavCodec.encodeWav(rates((id % 3).toInt),
              1 + (id % 2).toInt, 100 + (id % 400).toInt, seed = id)
            val sm = WavCodec.readSamples(wav, 64).get
            (0 until 8).map { f =>
              var e = 0L
              var i = 0
              while (i < 8) {
                val s0 = sm(f * 8 + i).toLong; e += s0 * s0; i += 1
              }
              org.apache.spark.sql.Row(id, f, e)
            }
          }
        }(enc)
      val w = org.apache.spark.sql.expressions.Window
      val wDoc = w.partitionBy(col("doc_id"))
      val wOrd = w.partitionBy(col("doc_id")).orderBy(col("frame"))
      val seg = frames
        .withColumn("tot", sum(col("energy")).over(wDoc))
        .withColumn("active", col("energy") * 8 > col("tot"))
        .withColumn("newseg", when(col("active") &&
          !coalesce(lag(col("active"), 1).over(wOrd), lit(false)), 1L)
          .otherwise(0L))
        .withColumn("segid", sum(col("newseg")).over(
          wOrd.rowsBetween(w.unboundedPreceding, 0)))
        .filter(col("active"))
        .groupBy(col("doc_id"), col("segid")).agg(count(lit(1)).as("len"))
      val perDoc = seg.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_segments"), sum(col("len")).as("n_active"),
          max(col("len")).as("longest"))
      documents(s, dir).select(col("doc_id")).filter(col("doc_id") < 200)
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_segments"), lit(0L)).as("n_segments"),
          coalesce(col("n_active"), lit(0L)).as("n_active"),
          coalesce(col("longest"), lit(0L)).as("longest"))
        .orderBy(col("doc_id"))
    },
    "mm_audio_fingerprint" -> { (s, dir) =>
      import graft.multimodal.Multimodal.WavCodec
      val outSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("fp",
          org.apache.spark.sql.types.LongType, nullable = false)))
      val enc = org.apache.spark.sql.Encoders.row(outSchema)
      val fps = documents(s, dir)
        .select(col("doc_id")).filter(col("doc_id") < 200)
        .mapPartitions { rows =>
          val rates = Array(8000, 16000, 44100)
          rows.map { r =>
            val id = r.getLong(0)
            val wav = WavCodec.encodeWav(
              rates((id % 3).toInt), 1 + (id % 2).toInt,
              100 + (id % 400).toInt, seed = id)
            val sm = WavCodec.readSamples(wav, 16).get
            var fp = 0L
            var i = 1
            while (i < 16) {
              if (sm(i) > sm(i - 1)) fp |= 1L << (i - 1)
              i += 1
            }
            org.apache.spark.sql.Row(id, fp)
          }
        }(enc)
      val groups = fps.groupBy(col("fp")).agg(count(lit(1)).as("n_matching"))
      fps.join(groups, Seq("fp"))
        .select(col("doc_id"), col("fp"), col("n_matching"))
        .orderBy(col("doc_id"))
    },
    // frame-sampling through the REAL batched mapPartitions path
    // (graft.multimodal.Multimodal.sampleFrames over the byte codec):
    // each payload splits into min(4, len) frames of max(1, len/4)
    // bytes — deterministic arithmetic the oracle replays in SQL, so
    // the batch plumbing (schema, flatMap fan-out, per-partition codec)
    // is hash-checked, not just unit-tested. NULL payloads yield zero
    // frames on both sides (the oracle filters them explicitly —
    // DuckDB's least/greatest would otherwise ignore the NULL and
    // fabricate frames).
    // Scene-cut detection over the sampled frames — the video-pipeline
    // step after frame sampling (shot segmentation before per-shot
    // captioning/embedding): a cut is a jump in the per-frame mean
    // byte level beyond a threshold. The codec is the module's fake
    // (payload chunks), but the Spark side — frame explode, per-frame
    // exact integer stats, per-media lag window, threshold report — is
    // the real plumbing a video codec drops into. The oracle replays
    // the chunk arithmetic character-for-character from the documents
    // table (payload IS the utf-8 text), so the hash gate pins the
    // frame boundaries, the byte sums, and the cut rule. Scale:
    // per-media rows only; the window partitions by media.
    "mm_scene_cuts" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("media_id")).orderBy(col("frame_no"))
      val media = graft.multimodal.Multimodal.fromDocuments(documents(s, dir))
      graft.multimodal.Multimodal.frameStats(media, n = 8)
        .withColumn("mean_b",
          round(col("byte_sum").cast("double") / col("n_bytes"), 6))
        .withColumn("jump",
          round(abs(col("mean_b") - lag(col("mean_b"), 1).over(w)), 6))
        .groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_frames"),
          sum(when(col("jump") > 2.0, 1L).otherwise(0L)).cast("long")
            .as("n_cuts"),
          max(col("jump")).as("max_jump"))
        .orderBy(col("media_id"))
    },
    "mm_frame_stats" -> { (s, dir) =>
      val media = graft.multimodal.Multimodal.fromDocuments(documents(s, dir))
      graft.multimodal.Multimodal.sampleFrames(media, n = 4)
        .select(col("frame_no").cast("long").as("frame_no"),
          octet_length(col("frame")).cast("long").as("fb"))
        .groupBy(col("frame_no"))
        .agg(count(lit(1)).as("n_media"),
          sum(col("fb")).cast("long").as("total_frame_bytes"))
        .orderBy(col("frame_no"))
    })

  val oracles: Map[String, String] = Map(
    // replays every pixel of every image through the pooling partition —
    // the full-frame extension of mm_image_phash's 8×8 proof
    "mm_image_pool" ->
      """WITH dims AS (
        |  SELECT doc_id, 8 + doc_id % 57 AS w, 8 + doc_id % 41 AS h
        |  FROM documents WHERE doc_id < 200),
        |px AS (
        |  SELECT doc_id, w, h, tx.x, ty.y,
        |    (((doc_id + tx.x) % 256) + ((doc_id*7 + ty.y) % 256)
        |     + ((doc_id*13 + tx.x + ty.y) % 256)) // 3 AS gray
        |  FROM dims,
        |    LATERAL (SELECT unnest(range(0, dims.w)) AS x) tx,
        |    LATERAL (SELECT unnest(range(0, dims.h)) AS y) ty)
        |SELECT doc_id, CAST(t_by AS BIGINT) AS by, CAST(t_bx AS BIGINT) AS bx,
        |  CAST(SUM(gray) AS BIGINT) AS gray_sum, COUNT(*) AS n_px
        |FROM (SELECT doc_id, gray, y*4//h AS t_by, x*4//w AS t_bx FROM px) t
        |GROUP BY 1, 2, 3
        |ORDER BY doc_id, by, bx""".stripMargin,
    // replays encodePng's pixel formulas through the aHash arithmetic —
    // 64 exact integer comparisons per doc; a match proves the decoded
    // pixels (not just the header) are bit-faithful for every image
    "mm_image_phash" ->
      """WITH px AS (
        |  SELECT doc_id, y, x,
        |    (((doc_id + x) % 256) + ((doc_id * 7 + y) % 256)
        |     + ((doc_id * 13 + x + y) % 256)) // 3 AS gray
        |  FROM (SELECT doc_id, unnest(range(0, 8)) AS y
        |        FROM documents WHERE doc_id < 200) d,
        |       unnest(range(0, 8)) AS t(x)),
        |s AS (SELECT doc_id, SUM(gray) AS total FROM px GROUP BY doc_id),
        |h AS (
        |  SELECT p.doc_id,
        |    string_agg(CASE WHEN p.gray * 64 > s.total THEN '1' ELSE '0' END, ''
        |               ORDER BY p.y, p.x) AS phash
        |  FROM px p JOIN s ON p.doc_id = s.doc_id
        |  GROUP BY p.doc_id)
        |SELECT doc_id, phash,
        |  CAST(COUNT(*) OVER (PARTITION BY phash) AS BIGINT) AS n_same
        |FROM h
        |ORDER BY doc_id""".stripMargin,
    "mm_phash_neardup" ->
      """WITH px AS (
        |  SELECT doc_id, y, x,
        |    (((doc_id + x) % 256) + ((doc_id * 7 + y) % 256)
        |     + ((doc_id * 13 + x + y) % 256)) // 3 AS gray
        |  FROM (SELECT doc_id, unnest(range(0, 8)) AS y
        |        FROM documents WHERE doc_id < 200) d,
        |       unnest(range(0, 8)) AS t(x)),
        |g AS (
        |  SELECT doc_id, y, x, gray,
        |    LEAD(gray) OVER (PARTITION BY doc_id, y ORDER BY x) AS ngray
        |  FROM px),
        |h AS (
        |  SELECT doc_id,
        |    string_agg(CASE WHEN ngray > gray THEN '1' ELSE '0' END, ''
        |               ORDER BY y, x) AS dh
        |  FROM g WHERE x < 7 GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, dh, b, substr(dh, b * 14 + 1, 14) AS band
        |  FROM h, unnest(range(0, 4)) AS t(b)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS da, c.doc_id AS db,
        |    a.dh AS pa, c.dh AS pb
        |  FROM bands a JOIN bands c
        |    ON a.b = c.b AND a.band = c.band AND a.doc_id < c.doc_id),
        |ham AS (
        |  SELECT da, db,
        |    CAST(list_sum(list_transform(range(1, 57), i ->
        |      CASE WHEN substr(pa, i, 1) = substr(pb, i, 1)
        |           THEN 0 ELSE 1 END)) AS BIGINT) AS d
        |  FROM cand)
        |SELECT d, COUNT(*) AS n_pairs
        |FROM ham
        |WHERE d <= 3
        |GROUP BY d
        |ORDER BY d""".stripMargin,
    // replays encodeWav's LCG sample generator (x' = x·M + C mod 2^64)
    // with HUGEINT modular arithmetic; top-16-bits → signed short is
    // x // 2^48 with a two's-complement adjust
    "mm_audio_samples" ->
      """WITH RECURSIVE gen(doc_id, k, x) AS (
        |  SELECT doc_id, 0, CAST(doc_id AS HUGEINT)
        |  FROM documents WHERE doc_id < 200
        |  UNION ALL
        |  SELECT doc_id, k + 1,
        |    (x * 6364136223846793005 + 1442695040888963407)
        |      % 18446744073709551616
        |  FROM gen WHERE k < 8),
        |smp AS (
        |  SELECT doc_id, k,
        |    CAST(CASE WHEN x // 281474976710656 >= 32768
        |              THEN x // 281474976710656 - 65536
        |              ELSE x // 281474976710656 END AS INT) AS s
        |  FROM gen WHERE k >= 1)
        |SELECT doc_id,
        |  CAST(MAX(CASE WHEN k = 1 THEN s END) AS INT) AS s1,
        |  CAST(MAX(CASE WHEN k = 2 THEN s END) AS INT) AS s2,
        |  CAST(MAX(ABS(s)) AS INT) AS peak8,
        |  CAST(SUM(CAST(s AS BIGINT) * s) AS BIGINT) AS energy8
        |FROM smp
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    // replay the LCG sample stream to k=16 and re-derive every
    // rose/fell bit; exact-match group sizes close the loop
    "mm_audio_vad" ->
      """WITH RECURSIVE gen(doc_id, k, x) AS (
        |  SELECT doc_id, 0, CAST(doc_id AS HUGEINT)
        |  FROM documents WHERE doc_id < 200
        |  UNION ALL
        |  SELECT doc_id, k + 1,
        |    (x * 6364136223846793005 + 1442695040888963407)
        |      % 18446744073709551616
        |  FROM gen WHERE k < 64),
        |smp AS (
        |  SELECT doc_id, k,
        |    CAST(CASE WHEN x // 281474976710656 >= 32768
        |              THEN x // 281474976710656 - 65536
        |              ELSE x // 281474976710656 END AS BIGINT) AS s
        |  FROM gen WHERE k >= 1),
        |fr AS (
        |  SELECT doc_id, CAST((k - 1) // 8 AS INT) AS frame,
        |    CAST(SUM(s * s) AS BIGINT) AS energy
        |  FROM smp GROUP BY doc_id, (k - 1) // 8),
        |act AS (
        |  SELECT doc_id, frame, energy,
        |    energy * 8 > CAST(SUM(energy) OVER (PARTITION BY doc_id)
        |      AS BIGINT) AS active
        |  FROM fr),
        |n AS (
        |  SELECT *, CASE WHEN active AND NOT COALESCE(LAG(active) OVER
        |      (PARTITION BY doc_id ORDER BY frame), FALSE)
        |    THEN 1 ELSE 0 END AS newseg
        |  FROM act),
        |sgid AS (
        |  SELECT *, SUM(newseg) OVER (PARTITION BY doc_id ORDER BY frame
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS segid
        |  FROM n),
        |seg AS (
        |  SELECT doc_id, segid, COUNT(*) AS len
        |  FROM sgid WHERE active GROUP BY doc_id, segid),
        |per AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segments,
        |    CAST(SUM(len) AS BIGINT) AS n_active,
        |    CAST(MAX(len) AS BIGINT) AS longest
        |  FROM seg GROUP BY doc_id)
        |SELECT d.doc_id,
        |  COALESCE(n_segments, 0) AS n_segments,
        |  COALESCE(n_active, 0) AS n_active,
        |  COALESCE(longest, 0) AS longest
        |FROM (SELECT doc_id FROM documents WHERE doc_id < 200) d
        |LEFT JOIN per USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "mm_audio_fingerprint" ->
      """WITH RECURSIVE gen(doc_id, k, x) AS (
        |  SELECT doc_id, 0, CAST(doc_id AS HUGEINT)
        |  FROM documents WHERE doc_id < 200
        |  UNION ALL
        |  SELECT doc_id, k + 1,
        |    (x * 6364136223846793005 + 1442695040888963407)
        |      % 18446744073709551616
        |  FROM gen WHERE k < 16),
        |smp AS (
        |  SELECT doc_id, k,
        |    CAST(CASE WHEN x // 281474976710656 >= 32768
        |              THEN x // 281474976710656 - 65536
        |              ELSE x // 281474976710656 END AS INT) AS s
        |  FROM gen WHERE k >= 1),
        |d AS (
        |  SELECT doc_id, k, s,
        |    LAG(s) OVER (PARTITION BY doc_id ORDER BY k) AS prev
        |  FROM smp),
        |fp AS (
        |  SELECT doc_id,
        |    CAST(COALESCE(SUM(CASE WHEN s > prev
        |      THEN CAST(1 AS BIGINT) << (k - 2) ELSE 0 END), 0) AS BIGINT) AS fp
        |  FROM d WHERE k >= 2 GROUP BY doc_id),
        |g AS (SELECT fp, COUNT(*) AS n_matching FROM fp GROUP BY fp)
        |SELECT doc_id, fp.fp AS fp, n_matching
        |FROM fp JOIN g USING (fp)
        |ORDER BY doc_id""".stripMargin,
    "mm_audio_meta" ->
      """SELECT doc_id,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END AS INT) AS sample_rate,
        |  CAST(1 + doc_id % 2 AS INT) AS channels,
        |  CAST(16 AS INT) AS bits,
        |  CAST(100 + doc_id % 400 AS BIGINT) AS n_samples,
        |  CAST((100 + doc_id % 400) * 1000 //
        |    (CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END) AS BIGINT) AS duration_ms
        |FROM documents
        |WHERE doc_id < 200
        |ORDER BY doc_id""".stripMargin,
    "mm_image_meta" ->
      """SELECT doc_id,
        |  CAST(8 + doc_id % 57 AS INT) AS width,
        |  CAST(8 + doc_id % 41 AS INT) AS height,
        |  CAST(CASE WHEN doc_id % 2 = 1 THEN 4 ELSE 3 END AS INT) AS channels,
        |  CAST(8 + doc_id % 57 AS INT) AS hdr_width,
        |  CAST(8 + doc_id % 41 AS INT) AS hdr_height,
        |  CAST(CASE WHEN doc_id % 2 = 1 THEN 4 ELSE 3 END AS INT) AS hdr_channels,
        |  CAST((doc_id % 256) * 65536 + ((doc_id * 7) % 256) * 256 + (doc_id * 13) % 256 AS INT) AS px00
        |FROM documents
        |WHERE doc_id < 200
        |ORDER BY doc_id""".stripMargin,
    "mm_binary_meta" ->
      """SELECT source, COUNT(*) AS n_payloads,
        |  CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
        |  ROUND(AVG(ascii(substr(text, 1, 1))), 6) AS avg_first_byte,
        |  CAST(MAX(n_chars % 64) AS BIGINT) AS max_width
        |FROM documents
        |GROUP BY source
        |ORDER BY source""".stripMargin,
    // replays the sampleFrames chunk arithmetic (step = len//8, frame i
    // = bytes [i*step, i*step+step) clamped to len) in BYTE space —
    // hex(encode(text)) is 2 hex chars per utf-8 byte, so byte j of a
    // frame is an exact 2-char hex slice. The earlier char-space oracle
    // (length/substr/ord per char) agreed only while the fixture stayed
    // pure ASCII; this one matches Multimodal.frameStats's byte
    // chunking for any payload (the mm_frame_stats discipline).
    "mm_scene_cuts" ->
      """WITH d AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS len,
        |    GREATEST(1, octet_length(encode(text)) // 8) AS step
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, fi.i AS frame_no,
        |    substring(hx, CAST(fi.i * step * 2 + 1 AS BIGINT),
        |      CAST(LEAST(step, len - fi.i * step) * 2 AS BIGINT)) AS fhx
        |  FROM d, LATERAL (SELECT unnest(range(0, LEAST(8, len))) AS i) fi),
        |st AS (
        |  SELECT doc_id, frame_no,
        |    ROUND(CAST(list_sum(list_transform(range(0, length(fhx) // 2),
        |      j -> CAST('0x' || substring(fhx, j * 2 + 1, 2) AS INT)))
        |      AS DOUBLE) / (length(fhx) // 2), 6) AS mean_b
        |  FROM f),
        |j AS (
        |  SELECT doc_id,
        |    ROUND(ABS(mean_b - lag(mean_b) OVER (PARTITION BY doc_id
        |      ORDER BY frame_no)), 6) AS jump
        |  FROM st)
        |SELECT doc_id AS media_id, COUNT(*) AS n_frames,
        |  CAST(SUM(CASE WHEN jump > 2.0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_cuts,
        |  MAX(jump) AS max_jump
        |FROM j GROUP BY doc_id
        |ORDER BY media_id""".stripMargin,
    "mm_frame_stats" ->
      """WITH d AS (
        |  SELECT doc_id, octet_length(encode(text)) AS len FROM documents
        |  WHERE text IS NOT NULL),
        |f AS (
        |  SELECT doc_id,
        |    unnest(range(0, least(4, len))) AS frame_no,
        |    greatest(len // 4, 1) AS fb
        |  FROM d)
        |SELECT frame_no, COUNT(*) AS n_media,
        |  CAST(SUM(fb) AS BIGINT) AS total_frame_bytes
        |FROM f
        |GROUP BY frame_no
        |ORDER BY frame_no""".stripMargin)
}
