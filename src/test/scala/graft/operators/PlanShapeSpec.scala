package graft.operators

import graft.{SparkEntry, SparkFixture}
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions for the scale claims the docs make: these
  * fail loudly if a future edit quietly degrades a query's plan. */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("events_top_per_user: rank filter becomes WindowGroupLimit (per-partition top-k)") {
    // Spark 3.5+ rewrites rank<=k over a window into WindowGroupLimit,
    // which prunes to k rows per key BEFORE the full window sort — the
    // difference between shuffling k rows per user and all of them
    assert(plan("events_top_per_user").contains("WindowGroupLimit"))
  }

  test("dedup_er_catalog: block truncation is WindowGroupLimit; pair join is a key equi-join") {
    // The r16 ER-block cap (row_number ≤ ErBlockCap) must stay a
    // WindowGroupLimit — the per-partition top-k prune that bounds a
    // pathologically hot block BEFORE its window shuffle — and the
    // pair join must remain an equi-join on the block key, never a
    // cartesian/BNLJ over the catalog.
    val p = plan("dedup_er_catalog")
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("emb_outlier_knn: pair top-k is WindowGroupLimit (pairs pruned before their shuffle)") {
    // r16: the per-vec k-nearest filter must stay a plain rank ≤ k so
    // Spark prunes the within-cell pair stream to k rows per vec per
    // partition BEFORE the window shuffle — with √n adaptive cells this
    // is what holds the pair shuffle to O(n) (measured 438 → 19.5 MB
    // at sf0.8). A revert to the count-window formulation loses the
    // rewrite and the shuffle goes quadratic again.
    val p = plan("emb_outlier_knn")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("text_bm25: top-k is TakeOrderedAndProject, not a global window sort") {
    val p = plan("text_bm25")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q_customers_no_orders: price filter pushes into the orders scan") {
    val p = plan("q_customers_no_orders")
    assert(p.contains("GreaterThan(o_totalprice"), p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("q3_shipping_priority: dimension side broadcasts") {
    assert(plan("q3_shipping_priority").contains("BroadcastHashJoin"))
  }

  test("dedup_minhash_lsh: projection prunes the documents scan to two columns") {
    val p = plan("dedup_minhash_lsh")
    val scanLine = p.linesIterator.find(l => l.contains("ReadSchema") && l.contains("documents"))
      .orElse(p.linesIterator.find(_.contains("ReadSchema"))).getOrElse("")
    assert(scanLine.contains("doc_id") && scanLine.contains("text") && !scanLine.contains("lang"),
      scanLine)
  }

  private def exchanges(p: String): Int =
    p.linesIterator.count(l => l.contains("Exchange") && !l.contains("BroadcastExchange"))

  test("sample_temperature_mix: one-row denominator broadcasts onto the per-source table") {
    val p = plan("sample_temperature_mix")
    assert(p.contains("BroadcastNestedLoopJoin") && p.contains("BroadcastExchange"), p)
  }

  test("text_dup_ngrams: top-k is TakeOrderedAndProject over a partial-aggregated gram stream") {
    val p = plan("text_dup_ngrams")
    assert(p.contains("TakeOrderedAndProject"), p)
    // the gram explosion must partial-aggregate map-side before its shuffle
    assert(p.contains("HashAggregate"), p)
  }

  test("text_chunk_overlap: zero shuffles except the presentation sort") {
    val p = plan("text_chunk_overlap")
    assert(exchanges(p) == 1, p)
  }

  test("q_rolling_revenue_30d: custkey filter pushes to scan; one window shuffle + one sort") {
    val p = plan("q_rolling_revenue_30d")
    assert(p.contains("LessThanOrEqual(o_custkey,150)"),
      p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
    assert(exchanges(p) == 2, p)
  }

  test("dedup_semantic: cell assignment is a pure projection (no cross join, no pre-join aggregate)") {
    val p = plan("dedup_semantic")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    // embeddings scan pruned to the two columns the operator needs
    val scanLine = p.linesIterator.find(l => l.contains("ReadSchema") && l.contains("embedding"))
      .getOrElse("")
    assert(scanLine.contains("vec_id") && scanLine.contains("embedding") && !scanLine.contains("label"),
      scanLine)
  }

  test("ann_ivf_probe: probes broadcast onto the cell-assigned corpus, no cross join") {
    val p = plan("ann_ivf_probe")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("ann_ivf_probe_stored: probe plan reads ONLY the stored index — no corpus scan, no training stage") {
    val p = plan("ann_ivf_probe_stored")
    // every scan is the graft-store index table; the parquet corpus and
    // the assignment (training) projection must not appear in a probe
    assert(p.contains("BatchScan graft_store"), p)
    assert(!p.contains("Scan parquet"), p)
    // candidates ride the cell equi-join against broadcast probes
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("dedup_winnowing: selection is shuffle-free — no window operator, 4 keyed exchanges") {
    val p = plan("dedup_winnowing")
    // the row-local rewrite must never regress to a per-doc window
    // function (corpus-sized Exchange + Sort before any aggregation)
    assert(!p.contains("Window"), p)
    // raw-doc spread (r17, fires only on under-split scans) +
    // fingerprint group + pair count + presentation sort, nothing more
    assert(exchanges(p) == 4, p)
    val scanLine = p.linesIterator.find(l => l.contains("ReadSchema") && l.contains("documents"))
      .getOrElse("")
    assert(scanLine.contains("doc_id") && scanLine.contains("text") && !scanLine.contains("lang"),
      scanLine)
  }

  test("text_quality_score: a pure projection — no aggregate, no join, one presentation sort") {
    val p = plan("text_quality_score")
    assert(!p.contains("Join") && !p.contains("Aggregate"), p)
    assert(exchanges(p) == 1, p)
  }

  /** Formatted plan — scan descriptions (DSv2 pushdown evidence) only
    * surface in FormattedMode, not in the tree toString. */
  private def fplan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  test("ann_ivf_probe_live: both sides read the tombstone-masked index; candidates ride the cell equi-join") {
    val p = fplan("ann_ivf_probe_live")
    val tree = p.linesIterator.takeWhile(_.nonEmpty).toVector
    // every scan is the graft-store index (the live view and its
    // tombstone set); the parquet corpus never appears in the probe
    val scans = tree.filter(_.contains("Scan"))
    assert(scans.nonEmpty && scans.forall(_.contains("BatchScan graft_store")), p)
    assert(!p.contains("Scan parquet"), p)
    // candidates ride the cell equi-join against the broadcast probes
    val i = tree.indexWhere(_.contains("BroadcastHashJoin Inner"))
    assert(i >= 0, p)
    val at = tree(i).indexOf("BroadcastHashJoin")
    val j = tree.indexWhere(l => l.startsWith("+- ", at) && l.take(at).trim.isEmpty, i + 1)
    assert(j > i, p)
    val corpusSide = tree.slice(i + 1, j)
    val probeSide = tree.drop(j).takeWhile(_.take(at).trim.isEmpty)
    // the tombstone mask is a broadcast left-outer join on BOTH sides
    assert(corpusSide.exists(_.contains("BroadcastHashJoin LeftOuter")), p)
    assert(probeSide.exists(_.contains("BroadcastHashJoin LeftOuter")), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    // per-probe top-k prunes before its shuffle
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("src_docgen_agg: doc_id range is absorbed into generation; text pruned from the scan") {
    val p = fplan("src_docgen_agg")
    // pushdown narrows the generated range itself — [2000,12000) out of
    // the declared 20000 rows, with both bounds reported as pushed
    assert(p.contains("range=[2000,12000)"), p)
    assert(p.contains("GreaterThanOrEqual(doc_id,2000)") && p.contains("LessThan(doc_id,12000)"), p)
    // pruning drops `text` from the scan output (the ~330-bytes/row column)
    val scanOut = p.linesIterator.dropWhile(!_.startsWith("(1) BatchScan"))
      .drop(1).take(1).mkString
    assert(scanOut.contains("doc_id") && !scanOut.contains("text"), scanOut)
  }

  test("src_store_roundtrip: read pins one committed snapshot; scan carries only projected columns") {
    val p = fplan("src_store_roundtrip")
    // exactly-one-snapshot evidence: overwrite publishes v1 with the
    // write parallelism's file count; the scan reports the pinned version
    assert(p.contains("BatchScan graft_store"), p)
    assert("graft-store \\S+ v\\d+ files=\\d+".r.findFirstIn(p).isDefined, p)
    val scanOut = p.linesIterator.dropWhile(!_.startsWith("(1) BatchScan"))
      .drop(1).take(1).mkString
    assert(scanOut.contains("o_orderkey") && !scanOut.contains("o_orderdate"), scanOut)
  }

  test("layout_bucketed_join: co-located buckets join with zero shuffle on the join keys") {
    // pre-AQE plan: AQE may legitimately re-plan around the SMJ, but the
    // bucketed layout's contract is that NO Exchange ever partitions on
    // either join key — the shuffle was prepaid at write time
    val p = SparkEntry.queries("layout_bucketed_join")(spark, dir)
      .queryExecution.sparkPlan.toString
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("Exchange hashpartitioning(o_custkey") &&
      !p.contains("Exchange hashpartitioning(c_custkey"), p)
    assert(!p.contains("BroadcastHashJoin"), p)
  }

  test("pipeline_curate: gates stay semi/anti + banded — no quadratic joins in the capstone") {
    val p = plan("pipeline_curate")
    // the composite must keep its component shapes: semi-join gate,
    // anti-join dedup survivors, and zero quadratic fan-out
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // fingerprint agg + dedup pair agg + quota window + presentation sort:
    // the heaviest composite plan is the one most likely to silently
    // regress, so pin a shuffle budget (6 at sf0.001 stats)
    assert(exchanges(p) <= 7, s"exchanges=${exchanges(p)}\n$p")
  }

  test("dedup_keep_best: cluster labels join map-side, no quadratic fan-out") {
    val p = plan("dedup_keep_best")
    // pairs come from the banded LSH path; the quality join is keyed on
    // doc_id — nothing in the composite may degrade to a cartesian
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the survivor pick is one window over cluster_id
    assert(p.contains("RunningWindowFunction") || p.contains("Window"), p)
  }

  test("corpus_shard_plan: pure projection -> partial agg -> 256-row final agg") {
    val p = plan("corpus_shard_plan")
    assert(!p.contains("Join"), p)
    // one aggregation shuffle + the presentation sort, nothing else
    assert(exchanges(p) <= 2, s"exchanges=${exchanges(p)}\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("src_store_compact: the scan reads the post-compaction snapshot with few files") {
    val p = plan("src_store_compact")
    // three appends publish v1..v3; compact publishes v4 with exactly
    // targetFiles files — the scan description prints both
    assert(p.contains(" v4 ") && p.contains("files=2"), p)
  }

  test("src_store_timetravel: the two scans pin DIFFERENT manifest versions") {
    val p = plan("src_store_timetravel")
    // scan description prints "graft-store <root> v<version>" — the v1
    // read must survive the append that published v2
    assert(p.contains(" v1 ") && p.contains(" v2 "), p)
  }

  test("profile_orders: no Expand, no corpus-wide sort — distincts stay hash-aggregated") {
    val p = plan("profile_orders")
    // the naive multi-countDistinct shape (Expand × columns into
    // SortAggregates) measured 5× slower; pin its absence
    assert(!p.contains("Expand"), p)
    assert(p.contains("HashAggregate"), p)
    // the only SortAggregate allowed is the grouping-free min/max row
    assert(!"SortAggregate\\(key=\\[[^\\]]".r.findFirstIn(p).isDefined, p)
  }

  test("layout_zorder_scan: both box dimensions push into the clustered scan") {
    // formatted mode: toString truncates long PushedFilters lists
    val p = SparkEntry.queries("layout_zorder_scan")(spark, dir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
    assert(pushed.contains("GreaterThanOrEqual(user_id") &&
      pushed.contains("GreaterThanOrEqual(value"), pushed)
  }

  test("emb_label_centroids: explode -> partial agg, no joins, bounded shuffle") {
    val p = plan("emb_label_centroids")
    assert(!p.contains("Join"), p)
    assert(exchanges(p) <= 2, s"exchanges=${exchanges(p)}\n$p")
  }

  test("q_unpivot_balance: melt is a pure Expand projection, no extra shuffle") {
    val p = plan("q_unpivot_balance")
    assert(p.contains("Expand"), p)
    assert(!p.contains("Join"), p)
  }

  test("events_gap_fill: the hour grid joins broadcast, reduced side first") {
    val p = plan("events_gap_fill")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("events_active_users: the day grid broadcasts onto the user-day table") {
    val p = plan("events_active_users")
    // the trailing-window join must build on the tiny day grid
    // (365 rows/year regardless of scale) and stream the user-day side
    assert(p.contains("BroadcastNestedLoopJoin") && p.contains("BuildLeft"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("text_bpe_merges: candidate ranking is TakeOrderedAndProject over the pair table") {
    val p = plan("text_bpe_merges")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("dedup_incremental: the batch probes existing-side indexes via semi joins only") {
    val p = plan("dedup_incremental")
    // exact tier and near tier must both be LeftSemi probes of reduced
    // existing-side sets — never a pair-generating inner join of the
    // batch against the corpus, never a cartesian
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_lateral_topn: Catalyst decorrelates the lateral subquery to WindowGroupLimit") {
    val p = plan("q_lateral_topn")
    // the per-row ORDER BY+LIMIT subquery must become a partial map-side
    // top-k (≤2 rows per customer cross the shuffle) + one join — never
    // a per-outer-row re-execution or a cartesian
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("runtime bloom filter prunes the big join side when broadcast is off") {
    // the 100×-scale shape: when neither side broadcasts, AQE injects a
    // bloom filter built from the selective dimension side into the fact
    // scan, so the shuffle carries only rows that can possibly join.
    // Thresholds are scaled down because local test data is tiny; the
    // conf mutations live in an isolated newSession (shared context,
    // independent SQLConf).
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    val l = Tables.lineitem(s, dir).select("l_orderkey", "l_extendedprice")
    val o = Tables.orders(s, dir)
      .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey")
    val q = l.join(o, l("l_orderkey") === o("o_orderkey"))
    q.collect()
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("might_contain") || p.contains("bloom"), p)
  }

  test("AQE splits a skewed join partition at runtime (skew=true in the final plan)") {
    // the other 100×-scale knob next to salting: when one key owns most
    // of a shuffle join's rows, AQE re-plans the sort-merge join to
    // split the oversized partition. Thresholds scaled down for local
    // data; production keeps defaults. Session-isolated like the bloom
    // test.
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
    import s.implicits._
    val hot = (1 to 20000).map(i => (if (i % 10 == 0) i.toLong else 1L, i.toLong))
      .toDF("k", "va")
    val dim = (1L to 20000L).map(k => (k, s"d$k")).toDF("k", "vb")
    val q = hot.join(dim, "k")
    q.collect()
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("skew=true"), p.linesIterator.filter(_.contains("Join")).mkString("\n"))
  }

  test("ann_ivf_recall: probes broadcast; ground truth and IVF sides never cartesian") {
    val p = plan("ann_ivf_recall")
    // the few-row probe set must broadcast onto the corpus (build side of
    // the nested-loop join), never a CartesianProduct over embeddings
    assert(p.contains("BroadcastNestedLoopJoin") && p.contains("BuildRight"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(exchanges(p) <= 7, s"exchanges=${exchanges(p)}\n$p")
  }

  test("q6_forecast_revenue: every predicate pushes to the scan; schema prunes to 4 columns") {
    // the pushdown benchmark: at 100 TB this query IS its scan, so all
    // four predicates must reach the parquet reader and the ReadSchema
    // must carry only the referenced columns
    val p = SparkEntry.queries("q6_forecast_revenue")(spark, dir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
    Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
      "GreaterThanOrEqual(l_discount", "LessThanOrEqual(l_discount",
      "LessThan(l_quantity").foreach(f => assert(pushed.contains(f), pushed))
    val schema = p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(schema.contains("l_quantity") && !schema.contains("l_orderkey"), schema)
  }

  test("q17_small_qty_revenue: correlated scalar subquery decorrelates to an aggregate join") {
    // Catalyst must rewrite the per-part avg into one grouped aggregate
    // joined back on partkey — never a per-outer-row re-execution and
    // never a cartesian
    val p = plan("q17_small_qty_revenue")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q18_large_volume: single lineitem pass; top-k is TakeOrderedAndProject") {
    // the aggregate drives the join, so lineitem is scanned exactly once
    // (the literal TPC-H IN-subquery formulation scans it twice)
    val p = plan("q18_large_volume")
    assert(p.linesIterator.count(l =>
      l.contains("parquet") && l.contains("lineitem")) == 1, p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q15_top_supplier: the revenue aggregate is reused, not recomputed per alias") {
    // the checkpointed per-supplier aggregate feeds both the max and the
    // argmax filter: the plan must show NO parquet lineitem scan (it sits
    // once behind the checkpoint) and broadcast the one-row max
    val p = plan("q15_top_supplier")
    assert(!p.linesIterator.exists(l =>
      l.contains("parquet") && l.contains("lineitem")), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q19_disjunctive_revenue: the cross-table OR decomposes into per-side scan filters") {
    // the disjunctive-pushdown benchmark: Catalyst must derive a
    // lineitem-only OR (quantity bands) and a part-only OR (brand/size
    // bands) from the three mixed predicate groups and push BOTH to
    // their scans — otherwise 100 TB of lineitem reaches the join filter
    val p = SparkEntry.queries("q19_disjunctive_revenue")(spark, dir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
    assert(pushed.contains("GreaterThanOrEqual(l_quantity,1.0)") &&
      pushed.contains("LessThanOrEqual(l_quantity,30.0)"), pushed)
    assert(pushed.contains("EqualTo(p_brand,Brand#12)") &&
      pushed.contains("LessThanOrEqual(p_size,15)"), pushed)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q21_waiting_suppliers: EXISTS/NOT EXISTS plan as semi+anti self-joins") {
    // subquery decorrelation, not per-outer-row re-execution: the pair
    // becomes one LeftSemi and one LeftAnti on l_orderkey
    val p = plan("q21_waiting_suppliers")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q13_customer_distribution: orders reduce to per-customer counts BELOW the outer join") {
    // reduce-before-join: the corpus-sized aggregation happens on the
    // orders side first; the left-outer join then carries one row per
    // customer, not one per order — and the priority filter is pushed
    // to the orders scan
    val p = SparkEntry.queries("q13_customer_distribution")(spark, dir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("LeftOuter"), p)
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
    assert(pushed.contains("Not(EqualTo(o_orderpriority,4-NOT SPECIFIED))"), pushed)
    // the aggregate node id must be larger (deeper) than the outer
    // join's in formatted order — cheap proxy: HashAggregate appears in
    // the tree section before the join consumes it
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q22_sleeping_customers: dormancy cutoff pushes to the orders scan; anti join prunes") {
    val p = SparkEntry.queries("q22_sleeping_customers")(spark, dir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("LeftAnti"), p)
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
    assert(pushed.contains("GreaterThanOrEqual(o_orderdate"), pushed)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("src_store_diff: the reconcile is ONE full-outer join over two pinned snapshots") {
    // single-shuffle reconcile: exactly one join in the plan, type
    // FullOuter, reading manifest versions 1 and 2 — never the naive
    // three-pass added/removed/changed formulation
    val p = plan("src_store_diff")
    assert(p.contains("FullOuter"), p)
    assert(p.linesIterator.count(_.contains("SortMergeJoin")) +
      p.linesIterator.count(_.contains("BroadcastHashJoin")) +
      p.linesIterator.count(_.contains("ShuffledHashJoin")) == 1, p)
    assert(p.contains(" v1 ") && p.contains(" v2 "), p)
  }

  test("quality_constraints: the five scalar checks share one scan; FK rides a single anti join") {
    val p = plan("quality_constraints")
    // two orders scans total (scalar block + FK probe side), one anti
    assert(p.linesIterator.count(l =>
      l.contains("parquet") && l.contains("orders")) == 2, p)
    assert(p.linesIterator.count(_.contains("LeftAnti")) == 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_not_in_nulls: NOT IN plans as a null-aware anti join, not a nested loop") {
    // single-column NOT IN must become BroadcastHashJoin LeftAnti with
    // the isNullAware flag (printed as the trailing `true`) — the
    // three-valued-logic-correct hash path; BroadcastNestedLoopJoin
    // here would be the quadratic fallback
    val p = plan("q_not_in_nulls")
    assert(p.linesIterator.exists(l =>
      l.contains("LeftAnti") && l.trim.endsWith("true")), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dedup_clusters_rec: the closure runs as UnionLoop, anchored on paired nodes only") {
    val p = plan("dedup_clusters_rec")
    assert(p.contains("UnionLoop"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("src_store_merge: the final aggregate reads the merged v2 snapshot") {
    val p = plan("src_store_merge")
    assert(p.contains(" v2 "), p)
  }

  test("src_store_clustered: a date predicate prunes the PARTITIONED BY table's files") {
    // the CTAS write arrives range-distributed+sorted on o_orderdate
    // (RequiresDistributionAndOrdering), so per-file min/max stats are
    // contiguous date slices — the one-year readback must keep strictly
    // fewer files than the snapshot holds, at PLANNING time through SQL
    val p = plan("src_store_clustered")
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(p)
    assert(m.isDefined, p)
    assert(m.get.group(2).toInt > 1, "clustered table should hold several files: " + p)
    assert(m.get.group(1).toInt < m.get.group(2).toInt, p)
  }

  test("src_store_skip: the key-range query drops files at planning time") {
    // range-clustered 8-file store + key range → the scan description
    // must show fewer than 8 files kept (manifest min/max skipping)
    val p = plan("src_store_skip")
    val m = "files=(\\d+)/8".r.findFirstMatchIn(p)
    assert(m.isDefined, p)
    assert(m.get.group(1).toInt < 8, p)
  }

  test("q8_market_share: dimension chain broadcasts; only the fact join shuffles") {
    val p = plan("q8_market_share")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // at most the lineitem⋈orders pair may sort-merge; everything else
    // rides broadcast
    assert(p.linesIterator.count(_.contains("SortMergeJoin")) <= 1, p)
  }

  test("text_pii_redact: the scrub is scan → project → one aggregation, no joins") {
    val p = plan("text_pii_redact")
    assert(!p.contains("Join"), p)
    assert(exchanges(p) <= 2, p) // agg shuffle + presentation sort
  }

  test("emb_kmeans / emb_pq_error: codebook assignment is a pure projection (no joins)") {
    for (q <- Seq("emb_kmeans", "emb_pq_error")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q:\n$p")
      assert(exchanges(p) <= 2, s"$q:\n$p") // agg shuffle + presentation sort
    }
  }

  test("graph_pagerank: equi-joins only; the top-20 is TakeOrderedAndProject") {
    val p = plan("graph_pagerank")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q16_supplier_variety: both dimension sides broadcast; no sort-merge join") {
    val p = plan("q16_supplier_variety")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("dedup_crosscheck: the pair list joins embeddings by id, never vectors to vectors") {
    val p = plan("dedup_crosscheck")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q2_min_cost_supplier: lineitem aggregates once; the per-part min is a window") {
    val p = plan("q2_min_cost_supplier")
    // 5 scans = lineitem + 4 dimension tables; a 6th would mean the
    // corpus-sized pair aggregation runs twice
    assert(p.linesIterator.count(_.contains("Scan parquet")) <= 5, p)
    assert(p.contains("Window"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q9_product_profit: part filter broadcasts ahead of the fact joins") {
    val p = plan("q9_product_profit")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // lineitem⋈orders may legitimately be SMJ at scale, but never more
    assert(p.linesIterator.count(_.contains("SortMergeJoin")) <= 1, p)
  }

  test("q11_important_stock: global total is a post-agg window, not a second scan") {
    val p = plan("q11_important_stock")
    assert(p.linesIterator.count(_.contains("Scan parquet")) <= 5, p)
    assert(p.contains("Window"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("SortMergeJoin"), p)
  }

  test("q20_potential_promotion: qualifying suppliers broadcast into a semi join") {
    val p = plan("q20_potential_promotion")
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("graph_triangles: equi-joins over the sparsified edge list, never cartesian") {
    val p = plan("graph_triangles")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("graph_communities_stored / graph_ppr_stored: iteration-only — no parquet rebuild") {
    // both twins checkpoint their store read before iterating, so the
    // final plan roots at checkpoint RDDs; the invariant that matters is
    // that NO parquet rebuild (lineitem/orders scan) survives
    for (n <- Seq("graph_communities_stored", "graph_ppr_stored")) {
      val p = plan(n)
      assert(!p.contains("Scan parquet"), s"$n: $p")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$n: $p")
    }
  }

  test("emb_silhouette: one checkpointed assignment feeds both phases; grid joins broadcast") {
    val p = plan("emb_silhouette")
    // the corpus assignment is checkpointed once — no parquet re-scan
    // per consumer (the centroid agg and the scoring pass both read it)
    assert(!p.contains("Scan parquet"), p)
    // the 8-row centroid grid rides broadcasts; no shuffled join
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("graph_triangles_stored: census reads ONLY the affinity snapshot — no parquet rebuild") {
    val p = plan("graph_triangles_stored")
    // the corpus-sized affinity rebuild must not appear: every scan is
    // the graft-store snapshot (the build-once/probe-many split)
    assert(p.contains("BatchScan graft_store"), p)
    assert(!p.contains("Scan parquet"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("text_quality_gate: per-lang threshold broadcasts back; no lang-partitioned window") {
    val p = plan("text_quality_gate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("ml_sequence_pairs: one user-keyed window, no joins") {
    val p = plan("ml_sequence_pairs")
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"), p)
  }

  test("src_store_changes: the delta read drops baseline files at planning time") {
    val p = plan("src_store_changes")
    assert(p.contains("since-files="), p)
    assert(p.contains("files=1/2"), p)
  }

  test("src_store_ivm: the refresh reads the pinned view plus only the delta files") {
    val p = plan("src_store_ivm")
    assert(p.contains("since-files="), p)   // delta side prunes baseline
    assert(p.contains("files=1/2"), p)      // ...to the appended file
    assert(p.contains("files=1/1"), p)      // view side reads pinned v1
  }

  test("dedup_clusters_rec: recursion is a UnionLoop with per-level DISTINCT state") {
    val p = plan("dedup_clusters_rec")
    assert(p.contains("UnionLoop"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("graph_communities: no quadratic joins; top-20 is TakeOrderedAndProject") {
    val p = plan("graph_communities")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("sample_importance: LM joins broadcast; scoring never sort-merge joins the gram stream") {
    val p = plan("sample_importance")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("graph_link_predict: wedge join + anti-exclusion stay equi-joins, never cartesian") {
    val p = plan("graph_link_predict")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("text_tfidf: vocabulary-bounded df table broadcasts onto the term counts") {
    val p = plan("text_tfidf")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the doc-window predicate reaches the tf-side scan
    assert(p.contains("LessThan(doc_id,50)"),
      p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("events_transitions: one user-keyed window shuffle; matrix normalization adds no join") {
    val p = plan("events_transitions")
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"), p)
  }

  test("events_dwell: same one-window shape as transitions") {
    val p = plan("events_dwell")
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"), p)
  }

  test("q_corr_qty_disc: moment sums partial-aggregate; one scan, no window, no join") {
    val p = plan("q_corr_qty_disc")
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("Join") && !p.contains("Window"), p)
    assert(p.linesIterator.count(l => l.contains("FileScan")) == 1, p)
  }

  test("graph_ppr: top-20 over the checkpointed rank state; no cartesian") {
    // iteration joins run eagerly behind per-round localCheckpoints (the
    // lineage-flattening discipline), so the visible plan is the final
    // rank scan — their broadcast/shuffle dispatch is covered by
    // GraphOpsSpec's path-parity test instead
    val p = plan("graph_ppr")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("graph_modularity: labels/degrees broadcast onto the edge list; edge total is a one-row stat") {
    val p = plan("graph_modularity")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("events_seasonality: one partial-aggregated pass, no window, no join") {
    val p = plan("events_seasonality")
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("Join") && !p.contains("Window"), p)
  }

  test("ml_pr_curve: threshold fan-out explodes row-locally before one aggregation") {
    val p = plan("ml_pr_curve")
    assert(p.contains("Generate"), p)       // the 10-threshold explode
    assert(!p.contains("Join"), p)          // never a per-threshold scan/join
    assert(p.contains("HashAggregate"), p)
  }

  test("layout_partition_prune: the type predicate becomes a PartitionFilter (planning-time pruning)") {
    val p = plan("layout_partition_prune")
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("event_type") && scanLine.contains("purchase"), p)
  }

  test("ann_pq_rerank: ADC lookup broadcasts onto the code table; top-k is TakeOrdered") {
    val p = plan("ann_pq_rerank")
    assert(p.contains("BroadcastHashJoin"), p) // PqM×PqK distance table join
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("emb_value_hist: norm envelope broadcasts as a one-row stat onto the histogram") {
    val p = plan("emb_value_hist")
    assert(p.contains("BroadcastNestedLoopJoin"), p) // 1-row env × ~20-bucket hist
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("dedup_prefix_filter: prefix-token join, never a cartesian") {
    val p = plan("dedup_prefix_filter")
    // candidate generation must be an equi-join on the prefix token
    // (plus pushed length-filter conditions), never an all-pairs shape.
    // (The parquet scan itself sits behind arr's localCheckpoint
    // boundary, so ReadSchema pruning isn't visible in this plan.)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Join"), p)
  }

  test("events_burst: one user-keyed shuffle serves both window and aggregate; top-k is TakeOrdered") {
    val p = plan("events_burst")
    assert(p.contains("Window"), p)
    // the RANGE-frame window partitions by user_id; the per-user peak
    // aggregation reuses that partitioning, so only ONE exchange
    assert(exchanges(p) == 1, p)
    assert(p.contains("TakeOrderedAndProject"), p)
    val scanLine = p.linesIterator.find(l => l.contains("ReadSchema") && l.contains("events"))
      .getOrElse("")
    assert(scanLine.contains("user_id") && scanLine.contains("ts") && !scanLine.contains("props"),
      scanLine)
  }

  test("ml_contrastive_pairs: negatives join the corpus by id, corpus-count rides as broadcast stat") {
    val p = plan("ml_contrastive_pairs")
    // the one-row count crossJoin must be a broadcast NLJ; the negative
    // and positive vector lookups are id-keyed joins, never cartesian
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("emb_bitext_mine: mutual-best join is an equi-join over the checkpointed scored table") {
    val p = plan("emb_bitext_mine")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Window"), p)
    assert(p.contains("Join"), p)
  }

  test("emb_bitext_mine: candidate scoring is a cell-key equi-join, never corpus×corpus") {
    // gate the PRE-checkpoint candidate plan directly (the checkpoint
    // boundary hides it from the downstream query's plan): IVF-routed
    // candidates must join A-probes to B-cells on the cell key
    val p = SimilarityOps.bitextScored(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Join"), p)
  }

  test("events_props_variant: variant path prunes the scan to the used columns") {
    val p = plan("events_props_variant")
    val scanLine = p.linesIterator.find(l => l.contains("ReadSchema") && l.contains("events"))
      .getOrElse("")
    assert(scanLine.contains("props") && scanLine.contains("ts") &&
      !scanLine.contains("user_id"), scanLine)
  }

  test("dedup_simhash_pairs: band-bucketed candidate join, never a cartesian") {
    val p = plan("dedup_simhash_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Join"), p)
  }

  test("graph_kcore: peel rounds are semi joins over checkpointed rounds, never cartesian") {
    val p = plan("graph_kcore")
    assert(!p.contains("CartesianProduct"), p)
    // the three 1-row stat combinations broadcast
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("text_char_entropy: bottom-k is TakeOrderedAndProject over partial-aggregated char counts") {
    val p = plan("text_char_entropy")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("Join"), p)
  }

  test("ml_time_split: cutoff rides as a broadcast one-row stat onto the event stream") {
    val p = plan("ml_time_split")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // per-branch pruning: the bounds branch reads ts ALONE, the split
    // branches read (ts, user_id); no branch drags props/value along
    val scans = p.linesIterator
      .filter(l => l.contains("ReadSchema") && l.contains("events")).toSeq
    assert(scans.nonEmpty && scans.forall(l => !l.contains("props") && !l.contains("value")),
      scans.mkString("\n"))
    assert(scans.exists(l => l.contains("ts") && !l.contains("user_id")),
      scans.mkString("\n"))
  }

  test("text_topk_spacesaving: UDAF runs partial+final (capacity-bounded summaries shuffle, not keys)") {
    val p = plan("text_topk_spacesaving")
    // TypedImperativeAggregate plans as ObjectHashAggregate, twice
    // (partial map-side, final after the lang shuffle)
    assert(p.linesIterator.count(l => l.contains("ObjectHashAggregate") &&
      l.contains("spacesaving")) >= 2, p)
    assert(!p.contains("Join"), p)
  }

  test("q_skyline: group table broadcasts back, no cartesian anywhere") {
    val p = plan("q_skyline")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("q_quantile_sketch: sketch aggregate is partial+final ObjectHashAggregate, no join") {
    val p = plan("q_quantile_sketch")
    assert(p.linesIterator.count(l => l.contains("ObjectHashAggregate") &&
      l.contains("sketch_quantiles")) >= 2, p)
    assert(!p.contains("Join"), p)
  }

  test("emb_covariance: one corpus aggregation, no shuffle beyond the single-row final agg") {
    val p = plan("emb_covariance")
    assert(!p.contains("Join"), p)
    // moment pass partial-aggregates map-side; everything after runs on
    // the one-row result (the stack unpivot adds no exchange)
    assert(exchanges(p) <= 1, p)
  }

  test("events_overlap_join: chunk equi-join is a real hash/merge join, never BNLJ") {
    val p = plan("events_overlap_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("Join"), p)
  }

  test("events_attribution: touch pairing is an equi-join on user, not a cross join") {
    val p = plan("events_attribution")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q_window_family: all six window flavors collapse into ONE Window node") {
    val p = plan("q_window_family")
    assert(p.linesIterator.count(_.contains("Window [")) == 1, p)
  }

  test("q_join_hints: the hint actually plans a ShuffledHashJoin, not broadcast") {
    val p = plan("q_join_hints")
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("BroadcastHashJoin"), p)
  }

  test("dedup_substring: duplication detected by grouped extrema + semi-join, never a pair join") {
    // the Lee-et-al ExactSubstr shape: grams → grouped min/max-doc
    // extrema test → semi-join probe. A LeftSemi equi-join on the digest is the
    // only join allowed; any cartesian/BNLJ means a pair enumeration
    // snuck in, and that shape is corpus² at 100 TB
    val p = plan("dedup_substring")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("LeftSemi"), p)
  }

  test("dedup_substring_cut: rebuild joins stay equi-joins on doc_id, never BNLJ") {
    val p = plan("dedup_substring_cut")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("LeftSemi"), p)
  }

  test("dedup_substring_cut_winnowed: winnowed detection + rebuild stay semi/equi-joins, never BNLJ") {
    val p = plan("dedup_substring_cut_winnowed")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("LeftSemi"), p)
  }

  test("ann_mmr_rerank: the corpus-sized stage is broadcast-probe + TakeOrderedAndProject, zero shuffles") {
    // only the shortlist touches the corpus; it must plan as scan →
    // broadcast 1-row probe → project → per-partition top-k. Any
    // shuffle Exchange here would reshuffle the corpus for a k-row
    // result; the greedy rounds after it are K-bounded by construction
    val p = SimilarityOps.mmrShortlist(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastExchange"), p)
    assert(exchanges(p) == 0, p)
  }

  test("ann_hybrid_rrf: both arms end in distributed top-k; the global windows see only shortlists") {
    // each arm = corpus scan × broadcast one-row stats/probe →
    // TakeOrderedAndProject (two of them in the plan); the unpartitioned
    // row_number windows and the full-outer fusion join run AFTER the
    // 15-row limits, so the single-partition stages are shortlist-sized.
    // A corpus-sized global Window here would mean a limit was lost.
    val p = plan("ann_hybrid_rrf")
    assert(p.linesIterator.count(_.contains("TakeOrderedAndProject")) >= 2, p)
    // the fusion's full-outer join must sit above both GlobalLimits
    assert(p.contains("Window"), p)
  }

  test("ann_mmr_rerank_ivf: shortlist rides the cell equi-join — no corpus-wide cosine") {
    // the routed twin's whole point: candidates come from a
    // BroadcastHashJoin on the cell key (nprobe/K of the corpus scored),
    // never a broadcast-nested-loop over every vector; top-MmrShortlist
    // stays a distributed TakeOrderedAndProject
    val p = SimilarityOps.mmrShortlistIvf(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("ann_hybrid_rrf_ivf: dense arm rides the cell equi-join; both arms end in top-k") {
    // vs. the brute-force twin (whose dense arm cross-joins the one-row
    // probe), the routed twin must score only cell-colocated candidates.
    // The dense candidate generator is gated in isolation because the
    // LEXICAL arm legitimately carries a one-row-stats broadcast cross
    // join (the ann_hybrid_rrf gate's accepted shape) that would mask a
    // textual no-BNLJ assertion on the fused plan.
    val d = SimilarityOps.ivfProbeCandidates(spark, dir)
      .queryExecution.executedPlan.toString
    assert(d.contains("BroadcastHashJoin"), d)
    assert(!d.contains("BroadcastNestedLoopJoin") && !d.contains("CartesianProduct"), d)
    val p = plan("ann_hybrid_rrf_ivf")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.linesIterator.count(_.contains("TakeOrderedAndProject")) >= 2, p)
  }

  test("opaque_id stays scoped to join keys — never a Sort/Aggregate/Window operand") {
    // OpaqueIdentity is deterministic=false, which beyond suppressing
    // the alias-equality constraint (its purpose) also blocks filter
    // pushdown through it and restricts legal positions. This guard pins
    // the documented invariant: the wrapped expression is consumed ONLY
    // by join-key projections. An opaque_id appearing inline in a Sort
    // key, aggregate key, or window partition spec means a reuse
    // silently pessimized (or broke) a plan — fail loudly here instead.
    val opaquePlans = Seq(
      "ann_ivf_probe" -> plan("ann_ivf_probe"),
      "ann_hard_negatives" -> plan("ann_hard_negatives"),
      "ann_hybrid_rrf_ivf" -> plan("ann_hybrid_rrf_ivf"),
      "dedup_semantic" -> plan("dedup_semantic"),
      "ivfProbeCandidates" -> SimilarityOps.ivfProbeCandidates(spark, dir)
        .queryExecution.executedPlan.toString,
      "bitextScored" -> SimilarityOps.bitextScored(spark, dir)
        .queryExecution.executedPlan.toString)
    for ((name, p) <- opaquePlans) {
      // the wrap must actually be present somewhere we expect it
      assert(p.contains("opaque_id"), s"$name: opaque_id wrap disappeared — $p")
      val offending = p.linesIterator.filter(_.contains("opaque_id")).filter { l =>
        l.contains("Sort [") || l.contains("Aggregate(key") ||
          l.contains("Window [") || l.contains("WindowGroupLimit")
      }.toSeq
      assert(offending.isEmpty,
        s"$name: opaque_id consumed by Sort/Aggregate/Window:\n${offending.mkString("\n")}")
    }
  }

  test("ann_hard_negatives: candidates ride the cell equi-join; per-anchor top-k is WindowGroupLimit") {
    // mining must never go all-pairs: the anchor side broadcasts onto
    // the cell-assigned corpus via the cell key (label filter as a
    // residual), and rk <= 3 prunes per-anchor BEFORE the window sort
    val p = plan("ann_hard_negatives")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("events_scd2_lookup: point-in-time join keys on user_id with a residual range, never BNLJ") {
    // the interval predicate must ride an equi-join on the dimension
    // key as a residual condition — a BNLJ/cartesian here means the
    // equi component was lost and every fact scans every version
    val p = plan("events_scd2_lookup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("Join"), p)
  }

  test("q_spatial_join: cell bucketing turns the radius join into an equi-join, never BNLJ") {
    val p = plan("q_spatial_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("Join"), p)
  }

  test("ml_permutation_importance: all five ablation arms ride ONE embeddings scan") {
    // the bin table localCheckpoints (one eager scan+explode pass); the
    // final plan must read ONLY that materialization — any FileScan of
    // embeddings here means a consumer re-derived the corpus pipeline
    val p = plan("ml_permutation_importance")
    assert(p.linesIterator.count(l => l.contains("FileScan") &&
      l.contains("embeddings")) == 0, p)
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"), p)
  }

  test("events_session_window: native sessionization plans without any join") {
    val p = plan("events_session_window")
    assert(!p.contains("Join"), p)
  }

  test("events_decay_features: snapshot broadcasts as a one-row stat, no shuffle of it") {
    val p = plan("events_decay_features")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("events_streak: corpus collapses to distinct (user, day) before any window") {
    val p = plan("events_streak")
    // the distinct must partial-aggregate before its shuffle; the rank
    // window then runs per user on the collapsed table
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("WindowExec") || p.contains("Window"), p)
  }

  test("emb_mrl_quality shortlist: one corpus scan for all tiers; top-k is WindowGroupLimit") {
    // the tier cosines must stack row-local off a single corpus read
    // (2 parquet scans total: corpus + probe filter) and rank<=k must
    // rewrite to WindowGroupLimit so only k rows per (tier, probe)
    // survive the shuffle — the K-boundedness the scaladoc claims
    val p = SimilarityOps.mrlTierTopK(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"), p)
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans <= 2, s"expected <=2 parquet scans, got $scans:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("emb_mrl_quality: shortlist self-join broadcasts (checkpoint stats loss must not SMJ)") {
    val p = plan("emb_mrl_quality")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("graph_node2vec_trans: wedge + membership ride equi-joins, never cartesian") {
    // Σdeg² wedge enumeration must be a hash join on cur, and the
    // N(prev)-membership probe an equi-join on (prev, next) — a
    // cartesian/BNLJ here would be all-pairs over the node set
    val p = plan("graph_node2vec_trans")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("ml_conformal_interval: group stats broadcast back onto the event scan") {
    // the predictor/qhat tables are group-cardinality bounded and must
    // broadcast — an SMJ would shuffle the full event table twice
    val p = plan("ml_conformal_interval")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ml_gbdt_split: histogram partial-aggs map-side; argmax is WindowGroupLimit") {
    // the corpus must collapse to <=3·16 histogram rows before any
    // window, the min/max pre-pass must broadcast, and the per-feature
    // rk=1 must prune as WindowGroupLimit
    val p = plan("ml_gbdt_split")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("ml_bradley_terry: per-judge pairing is an equi-join; MM steps ride broadcasts") {
    // the user self-join must key on user_id (hash join), and both MM
    // iterations must be broadcast joins over the k²-row win matrix —
    // a cartesian anywhere means the pairing went all-users×all-users
    val p = plan("ml_bradley_terry")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("graph_hits: top-10 is TakeOrderedAndProject; iterations are equi-joins") {
    val p = plan("graph_hits")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("events_cuped: stats ride one-row broadcasts onto the checkpointed enrollment") {
    // the per-user pre⋈post join happens BEFORE the localCheckpoint
    // (its shape is covered by the oracle); the visible plan must be
    // the θ one-row broadcast (BNLJ over 1 row is intended) feeding a
    // partial-aggregated 2-row arm readout — never a cartesian
    val p = plan("events_cuped")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("events_diff_in_diff: the 2×2 is one conditional-agg pass, no join but the span broadcast") {
    val p = plan("events_diff_in_diff")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("events_k_anonymity: QI groups partial-aggregate; no join at all") {
    val p = plan("events_k_anonymity")
    assert(!p.contains("Join"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("events_ab_welch: the whole t-test is one conditional-agg pass, no join") {
    val p = plan("events_ab_welch")
    assert(!p.contains("Join"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("ml_stratified_ate: strata partial-aggregate; only the 1-row total joins back") {
    val p = plan("ml_stratified_ate")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("dedup_cdc_chunks: chunking is windows + aggregates, no join at all") {
    val p = plan("dedup_cdc_chunks")
    assert(!p.contains("Join"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("text_rake_keyphrases: word scores broadcast; top-15 is TakeOrderedAndProject") {
    val p = plan("text_rake_keyphrases")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ml_wasserstein_drift: closed-form W1 is one collapse then windows, no join") {
    val p = plan("ml_wasserstein_drift")
    assert(!p.contains("Join"), p)
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("Window"), p)
  }

  test("mm_phash_neardup: candidates ride the band equi-join, never image² cartesian") {
    val p = plan("mm_phash_neardup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("corpus_doremi_step: corpus collapses to domain rows before any join") {
    // the only joins are one-row broadcast totals onto the k-domain
    // table; the corpus-wide groupBy must partial-aggregate map-side
    val p = plan("corpus_doremi_step")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("text_rep_ngrams: row-local trigram stats; top-15 is TakeOrderedAndProject, no join") {
    val p = plan("text_rep_ngrams")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Join"), p)
  }

  test("events_kaplan_meier: one per-user corpus aggregation, no join at all") {
    val p = plan("events_kaplan_meier")
    assert(!p.contains("Join"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("events_always_valid_p / srm / power: one conditional-agg corpus pass, no join") {
    for (q <- Seq("events_always_valid_p", "events_srm_check",
        "events_power_mde", "ml_mcnemar")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q:\n$p")
      assert(p.contains("HashAggregate"), s"$q:\n$p")
    }
  }

  test("events_trend_mk: pairwise work runs on the checkpointed daily table — ONE events scan") {
    val p = plan("events_trend_mk")
    assert(!p.contains("CartesianProduct"), p)
    val eventScans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("events"))
    assert(eventScans <= 1, s"events scanned $eventScans times:\n$p")
  }

  test("text_js_divergence: ONE documents scan; pair grid broadcasts") {
    val p = plan("text_js_divergence")
    assert(!p.contains("CartesianProduct"), p)
    val docScans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("documents"))
    assert(docScans <= 1, s"documents scanned $docScans times:\n$p")
  }

  test("text_good_turing / ml_cohens_kappa / ml_pr_auc: ONE corpus scan behind the checkpoint") {
    for ((q, tbl) <- Seq(("text_good_turing", "documents"),
        ("ml_cohens_kappa", "embeddings"), ("ml_pr_auc", "embeddings"))) {
      val p = plan(q)
      val scans = p.linesIterator.count(l =>
        l.contains("Scan parquet") && l.contains(tbl))
      assert(scans <= 1, s"$q: $tbl scanned $scans times:\n$p")
    }
  }

  test("events_rfm_segments / qini: quartile boundaries broadcast; no rank window over users") {
    // the user table must meet its decile/quartile boundaries as a
    // broadcast one-row fold — a global ntile/rank window would
    // serialize the user table through a single task at scale
    for (q <- Seq("events_rfm_segments", "events_qini_curve")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(p.contains("BroadcastNestedLoopJoin") ||
        p.contains("BroadcastExchange"), s"$q:\n$p")
      // ("percentile" contains the substring — mask it before probing
      // for an actual ntile window function)
      assert(!p.replace("percentile", "").contains("ntile"), s"$q:\n$p")
    }
  }

  test("events_interarrival_fit: gaps via user-keyed windows; stats broadcast onto bins") {
    val p = plan("events_interarrival_fit")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastExchange"), p)
  }

  test("ml_calibration_slope: one corpus collapse, regression folds on the bin table") {
    val p = plan("ml_calibration_slope")
    assert(!p.contains("Join"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("text_msttr: row-local segmentation, no join before the per-language fold") {
    val p = plan("text_msttr")
    assert(!p.contains("Join"), p)
  }

  test("text_burrows_delta / js_divergence: pair sweeps run on vocabulary grids, never cartesian") {
    for (q <- Seq("text_burrows_delta", "text_js_divergence")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
  }

  test("dedup_method_venn: composes the three banded generators — still no cartesian anywhere") {
    // the venn unions three candidate pipelines; the gate pins that the
    // composition inherits every generator's banded shape (a regression
    // in ANY of the three would surface an all-pairs node here)
    val p = plan("dedup_method_venn")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("ann_binary_hamming: probes broadcast onto the corpus scan; no cartesian") {
    // the corpus side must meet the 3-row probe set as a broadcast
    // (the shortlist⋈shortlist SMJ at the end joins k-bounded rows —
    // the same accepted shape as ann_int8_recall)
    val p = plan("ann_binary_hamming")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }
}
