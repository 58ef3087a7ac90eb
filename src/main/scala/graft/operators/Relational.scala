package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Relational query surface over the TPC-H-ish testdata.
  *
  * The reference implements zero relational operators of its own (SURVEY.md
  * §2B-C) — this is the DataFrame surface its users get from Spark, made
  * first-class: declarative plans so Catalyst pushes filters/pruning into
  * the parquet scans, `broadcast()` on dimension tables so fact-table joins
  * never shuffle the big side, and decimal-cast aggregates so results are
  * bit-deterministic regardless of partitioning (a requirement for the
  * DuckDB oracle, and good hygiene at 100 TB where partition counts drift).
  */
object Relational {
  import Tables._

  /** Money-sum determinism: cast to decimal before aggregating so the sum
    * is exact and order-independent, then surface as double. */
  private def dsum(c: org.apache.spark.sql.Column) =
    sum(c.cast("decimal(18,4)")).cast("double")

  /** Discounted-revenue sum: exact decimal product-sum, ROUNDED TO MONEY
    * SCALE before the double cast. The product carries scale 8, and a
    * scale-8 sum's integer form can exceed 2^53 — where DuckDB's and
    * Java's decimal→double conversions legitimately differ by 1 ulp
    * (observed on q1's sum_disc_price at sf0.1). At 2dp the integer form
    * fits in a double's mantissa and both conversions are exact. */
  private def revenueSum(price: org.apache.spark.sql.Column,
      disc: org.apache.spark.sql.Column) =
    round(sum(price.cast("decimal(18,4)") *
      (lit(1).cast("decimal(18,4)") - disc.cast("decimal(18,4)"))), 2)
      .cast("double")

  /** Quantity and row count per (returnflag, linestatus) grouping set of
    * `g`, a `rollup` or `cube` of lineitem over those two columns; a
    * rolled-up dimension reads "ALL". Callers add their own ordering. */
  private def flagStatusRevenue(g: org.apache.spark.sql.RelationalGroupedDataset): DataFrame =
    g.agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n"))

  /** PageRank (damping 0.85, 3 iterations) over the customer–supplier
    * purchase `pairs` (c, s), symmetrized into an undirected edge list.
    * `pairs` feeds both union branches and the degree aggregate, so
    * callers pass it materialized. */
  private def purchaseRank(pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("c").as("src"), col("s").as("dst"))
      .union(pairs.select(col("s").as("src"), col("c").as("dst")))
    GraphOps.pagerank(edges, damping = 0.85, teleport = 0.15, iters = 3)
  }

  /** Support-≥2 part-affinity edge list (`pa` < `pb`) shared by the
    * whole graph family (triangles, communities, degree stats, BFS,
    * link prediction). Pair generation is the repo's collect_set +
    * row-local array-combination pattern — per-order fan-out is bounded
    * by order size, and the support filter is the SPARSIFIER that keeps
    * the edge list catalog-bounded before any wedge join or iteration
    * touches it (see graph_triangles). Oracle twin: [[affinitySql]]. */
  private def affinityEdges(s: SparkSession, dir: String): DataFrame = {
    val orderParts = lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
      .filter(size(col("parts")) >= 2)
    // pair generation as posexplode + tail-slice explode: the nested
    // transform-lambda formulation built 1.2M interpreted struct
    // allocations (higher-order lambdas never reach codegen) — this
    // shape is generator-only and measured 0.88 vs 1.22 s warm /
    // 1.4 vs 5.5 s cold at sf0.1, with a bit-identical edge set
    // (profiled r13; shared by ~15 graph queries per full sweep)
    orderParts
      .select(col("parts"), posexplode(col("parts")).as(Seq("i", "pa")))
      .select(col("pa"), explode(slice(col("parts"), col("i") + lit(2),
        size(col("parts")))).as("pb"))
      .groupBy(col("pa"), col("pb"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= 2)
      .select(col("pa"), col("pb"))
  }

  /** Store root for the MATERIALIZED affinity graph — the build-once /
    * probe-many shape the 100 TB deployment uses (the graph is built at
    * ingest, not per query). Keyed by fixture dir so sf0.001/0.01/0.1
    * runs never cross-read, and by process so concurrent harnesses
    * never cross-write (see [[StoreRoots.tmpRoot]]). */
  private def affinityRoot(dir: String): String =
    StoreRoots.tmpRoot("affinity", dir)

  /** Write the support-≥2 affinity edge table to graft-store IF this
    * process hasn't yet, and return a snapshot-pinned read of it. The
    * expensive part of every self-contained graph query — the lineitem
    * pair explosion + support agg (`affinityEdges`) — runs at most once
    * per process; iterative consumers (`graph_*_stored`) pay only the
    * scan + their own iteration cost, which is the per-query cost
    * profile a 1000-executor cluster would see against an
    * ingest-maintained graph table. Content is deterministic (equal to
    * [[affinityEdges]] by construction), so reuse across queries is
    * semantics-free; a hash match between each stored twin and its
    * self-contained sibling proves the store hop changes nothing. */
  private def storedAffinityEdges(s: SparkSession, dir: String): DataFrame =
    graft.sources.GraftStore.materializeOnce(s, affinityRoot(dir))(
      affinityEdges(s, dir))

  /** The customer↔supplier purchase-pair edge list (distinct
    * (custkey, suppkey) pairs through orders⋈lineitem, prefixed node
    * ids) — the shared derivation of graph_pagerank / graph_ppr and
    * their stored twins. Distinct runs on the LONG key pair first so
    * the dedup shuffle carries 16-byte rows, strings are built after
    * (measured part of the r9 6-11 s → ~2 s pagerank fix). */
  private def purchasePairs(s: SparkSession, dir: String): DataFrame =
    orders(s, dir).join(lineitem(s, dir),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct()
      .select(concat(lit("c:"), col("o_custkey").cast("string")).as("c"),
        concat(lit("s:"), col("l_suppkey").cast("string")).as("s"))

  /** Store root for the materialized purchase-pair graph (the
    * graph_pagerank_stored / graph_ppr_stored substrate). */
  private def prGraphRoot(dir: String): String =
    StoreRoots.tmpRoot("prgraph", dir)

  /** Build-once / read-many purchase-pair graph: the orders⋈lineitem
    * distinct runs at most once per process (attributed to
    * graph_edges_stored in a forward sweep — it sorts before every
    * consumer); stored twins pay scan + iteration only, the per-query
    * profile of an ingest-maintained graph table at 100 TB. The r14
    * shape had graph_pagerank_stored re-derive and re-write the store
    * on every run, so the "iteration-only" twin silently carried the
    * whole build — the one unexplained r14 perf mover (phase-split
    * datum: build 1.69 s vs iterate 3.30 s at sf0.1, SCALE.md r15). */
  private def storedPurchasePairs(s: SparkSession, dir: String): DataFrame =
    graft.sources.GraftStore.materializeOnce(s, prGraphRoot(dir))(
      purchasePairs(s, dir))

  /** graph_spectral_cut power iterations — few enough to keep the
    * unrolled oracle readable, plenty for a stable sign structure. */
  private val SpectralIters = 8

  /** Spectral bisection body, shared verbatim by graph_spectral_cut and
    * its stored twin — see the query comment for the full derivation.
    * Takes the edge table so the two twins differ ONLY in where the
    * edges come from (rebuilt vs graft-store snapshot).
    *
    * Materialization discipline (r11 constant-factor fix, tightened in
    * r18): ONE lazy checkpoint per iteration sits on `y` — the matvec
    * output — and the norm aggregate that follows is its materializing
    * action, so each power iteration is exactly two jobs (c-scalar,
    * y+nr). `x` is a literal-only projection of the checkpointed `y`
    * (nr is injected as a literal by scalar1), so its plan is flat
    * without a checkpoint of its own — the r11 measurement that
    * un-checkpointed x "re-plans embedded scalars" predates the
    * scalar1 literal injection and no longer applies (re-measured r18:
    * 35 jobs → 20, wall −28% isolated). The 10dp rounding lattice is
    * untouched — identical expressions, only materialization points
    * moved — so the hash stays bit-identical to the oracle at all
    * three scales (re-verified). */
  private def spectralCutBody(e0: DataFrame): DataFrame = {
    val e = e0.localCheckpoint()
    // The support sparsifier bounds this graph by the PART CATALOG, not
    // the fact table, so — exactly as in graph_kcore — the iterated
    // stages are collapsed to one partition: construction above runs at
    // full parallelism, the node-bounded power iteration below becomes
    // single-task stages with AQE-coalesced shuffles instead of paying
    // 32-partition stage overhead per step. At 100 TB the catalog is
    // still what bounds this table; a genuinely node-heavy graph would
    // keep the default partitioning (the iteration is partition-count
    // agnostic — every scalar is an order-independent decimal sum).
    val sym = compactIter(e.select(col("pa").as("u"), col("pb").as("v"))
      .unionAll(e.select(col("pb").as("u"), col("pa").as("v")))
      .localCheckpoint())
    // node state is bounded by the edge substrate — reuse its
    // size-derived width for every per-iteration checkpoint (r17
    // verdict item 4: the literal coalesce(1) here was a local-mode
    // constant; iterParts keeps a genuinely node-heavy graph parallel
    // while sf-scale graphs still collapse to one partition)
    val pIter = sym.rdd.getNumPartitions
    val nodes = sym.groupBy(col("u").as("v")).agg(count(lit(1)).as("d"))
      .withColumn("sv", round(sqrt(col("d")), 10))
    var x = nodes.select(col("v"), col("sv"),
      round((col("v") % 7 - 3).cast("double"), 10).as("x"))
      .coalesce(pIter).localCheckpoint()
    // Per-iteration scalars (deflation coefficient, norm) are singleton
    // aggregates: collect each with head() and re-inject as a LITERAL —
    // same audited 1-row-collect class as the broadcast build it
    // replaces, but without a broadcast-exchange job per consumer, and
    // it drops two broadcast-build jobs per iteration (r11 verdict's
    // constant-factor ask; warm wall 4.7 s → 4.3 s self-contained,
    // 2.7 s on the stored graph where the rebuild floor is gone). The
    // rounding lattice is untouched — the scalar is rounded to 10dp by
    // the same expression BEFORE collection, so both engines still
    // walk the identical float sequence.
    def scalar1(df: DataFrame): Double = {
      val r = df.head()
      if (r.isNullAt(0)) 0.0 else r.getDouble(0)
    }
    // EXACT 10dp×10dp decimal products for the moment sums (values are
    // ≤√maxdeg·O(1), so DECIMAL(18,10)² → scale 20 holds them exactly;
    // el10 of the double product rounded a 20-digit value at 10dp — the
    // r12 cross-engine tie class, and c/nr feed every element of the
    // next iteration, so this is where a flipped digit would cascade)
    def p20(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      round(a, 10).cast("decimal(18,10)") * round(b, 10).cast("decimal(18,10)")
    for (_ <- 1 to SpectralIters) {
      val c = scalar1(x.agg(
          sum(p20(col("x"), col("sv"))).as("xs"),
          sum(p20(col("sv"), col("sv"))).as("ss"))
        .select(round(col("xs").cast("double") / col("ss").cast("double"),
          10).as("c")))
      val defl = x
        .withColumn("z",
          round(round(col("x") - lit(c) * col("sv"), 10) / col("sv"), 10))
        .select(col("v"), col("sv"), col("z"))
      val zsum = sym
        .join(defl.select(col("v").as("u"), col("z")), Seq("u"))
        .groupBy(col("v")).agg(sum(DetMean.el10(col("z"))).as("zs"))
      // the iteration state is node-bounded like sym — keep every
      // checkpoint at the substrate's size-derived width (the zsum
      // groupBy would otherwise re-expand it to the session's shuffle
      // parallelism, and each consumer stage pays that task count;
      // every aggregate here is an exact-decimal sum, so partitioning
      // is semantics-free). The checkpoint is LAZY: the nr aggregate
      // right below is its first action and computes every partition
      // (one job materializes state + scalar instead of two), and x is
      // a literal-only projection of the checkpointed y — flat plan,
      // nothing to re-plan — so its own checkpoint job is gone too
      // (r17 verdict item 6: collapse the per-iteration job floor).
      val y = defl.select(col("v"), col("sv")).join(zsum, Seq("v"))
        .withColumn("y", round(col("zs").cast("double") / col("sv"), 10))
        .coalesce(pIter).localCheckpoint(eager = false)
      val nr = scalar1(y.agg(sum(p20(col("y"), col("y"))).as("yy"))
        .select(round(sqrt(col("yy").cast("double")), 10).as("nr")))
      x = y.select(col("v"), col("sv"),
        round(col("y") / lit(nr), 10).as("x"))
    }
    // Rayleigh quotient: λ ≈ x'Nx via one more (unnormalized) matvec
    val zf = x.withColumn("z", round(col("x") / col("sv"), 10))
    val zsf = sym.join(zf.select(col("v").as("u"), col("z")), Seq("u"))
      .groupBy(col("v")).agg(sum(DetMean.el10(col("z"))).as("zs"))
    val lam = x.join(zsf, Seq("v"))
      .withColumn("y", round(col("zs").cast("double") / col("sv"), 10))
      .agg(round(sum(p20(col("x"), col("y"))).cast("double"), 6)
        .as("lambda2"))
    val signs = x.select(col("v"), (col("x") < 0).as("neg"))
      .coalesce(pIter).localCheckpoint()
    val cut = e
      .join(signs.select(col("v").as("pa"), col("neg").as("na")), Seq("pa"))
      .join(signs.select(col("v").as("pb"), col("neg").as("nb")), Seq("pb"))
      .agg(count(lit(1)).as("n_edges"),
        sum(when(col("na") =!= col("nb"), 1L).otherwise(0L)).as("cut_edges"))
    val sizes = signs.agg(count(lit(1)).as("n_nodes"),
      sum(when(col("neg"), 1L).otherwise(0L)).as("n_neg"))
    sizes.crossJoin(cut).crossJoin(lam)
      .select(col("n_nodes"), col("n_neg"), col("n_edges"),
        col("cut_edges"), col("lambda2"))
  }

  /** Modularity audit body, shared by graph_modularity and its stored
    * twin — see the query comment for semantics. */
  private def modularityBody(e0: DataFrame): DataFrame = {
    val aff = compactIter(e0.localCheckpoint())
    val sym = aff.select(col("pa").as("u"), col("pb").as("v"))
      .union(aff.select(col("pb").as("u"), col("pa").as("v")))
    val labels = GraphOps.labelPropagation(sym, iters = 3).localCheckpoint()
    val mDf = aff.agg(count(lit(1)).as("m"))
    val ein = aff
      .join(broadcast(labels.select(col("node").as("pa"), col("label").as("la"))), "pa")
      .join(broadcast(labels.select(col("node").as("pb"), col("label").as("lb"))), "pb")
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("ec")).agg(count(lit(1)).as("e_in"))
    val dc = sym.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      .join(broadcast(labels), col("u") === col("node"))
      .groupBy(col("label").as("dcc")).agg(sum(col("deg")).as("d_c"))
    val t = col("d_c").cast("double") / (col("m") * 2)
    labels.groupBy(col("label").as("community")).agg(count(lit(1)).as("size"))
      .join(dc, col("community") === col("dcc"))
      .join(ein, col("community") === col("ec"), "left")
      .crossJoin(broadcast(mDf))
      .select(col("community"), col("size"),
        coalesce(col("e_in"), lit(0L)).as("e_in"), col("d_c"),
        // + 0.0 normalizes IEEE negative zero: a community with zero
        // modularity contribution reaches it from BELOW (e_in/m − t²
        // a tiny negative), and ROUND of that is -0.0 in DuckDB but
        // 0.0 here — numerically equal, string-frame different (found
        // by the sf0.1 driver-frame sweep; the oracle adds + 0 too).
        // x + 0.0 == x for every other double, so nothing else moves.
        (round(coalesce(col("e_in"), lit(0L)).cast("double") / col("m")
          - t * t, 6) + lit(0.0)).as("q_c"))
      .orderBy(col("size").desc, col("community"))
      .limit(20)
  }

  /** Triangle-census body, shared by graph_triangles and its stored
    * twin — two equi-joins on the a<b-oriented edge list enumerate each
    * triangle once, a corner explode counts per-part participation. */
  private def trianglesBody(edges: DataFrame): DataFrame = {
    val tris = edges.select(col("pa").as("a"), col("pb").as("b"))
      .join(edges.select(col("pa").as("b2"), col("pb").as("c")),
        col("b") === col("b2"))
      .join(edges.select(col("pa").as("a3"), col("pb").as("c3")),
        col("a") === col("a3") && col("c") === col("c3"))
      .select(col("a"), col("b"), col("c"))
    tris.select(explode(array(col("a"), col("b"), col("c"))).as("part"))
      .groupBy(col("part"))
      .agg(count(lit(1)).as("tri_count"))
      .orderBy(col("tri_count").desc, col("part"))
      .limit(20)
  }

  /** LPA community census, shared by graph_communities and its stored
    * twin. */
  private def communitiesBody(aff: DataFrame): DataFrame = {
    val sym = aff.select(col("pa").as("u"), col("pb").as("v"))
      .union(aff.select(col("pb").as("u"), col("pa").as("v")))
    GraphOps.labelPropagation(sym, iters = 3)
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("size"))
      .orderBy(col("size").desc, col("community"))
      .limit(20)
  }

  /** Personalized-PageRank body over a (c, s) purchase-pair table,
    * shared by graph_ppr and its stored twin. */
  private def pprBody(pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("c").as("src"), col("s").as("dst"))
      .union(pairs.select(col("s").as("src"), col("c").as("dst")))
    val seed = edges.filter(col("src").startsWith("s:"))
      .agg(min(col("src"))).head().getString(0)
    GraphOps.personalizedPagerank(edges, seed,
        damping = 0.85, teleport = 0.15, iters = 3)
      .orderBy(col("rank").desc, col("node"))
      .limit(20)
  }

  /** Compact an already-MATERIALIZED iteration substrate to the
    * size-derived partition count (GraphOps.iterParts): one cheap count
    * over the in-memory blocks, then a narrow (no-shuffle) coalesce.
    * Chained stages over a node/catalog-bounded table otherwise run at
    * the session's full shuffle parallelism, where per-partition task
    * overhead dominates every round (measured: the stored graph twins
    * run 2-3× faster on local[4] than local[32] at sf0.1). A genuinely
    * big substrate keeps its partitioning — iterParts clamps to the
    * session's shuffle parallelism. */
  private def compactIter(chk: DataFrame): DataFrame =
    // already at/below the narrowest useful width — skip the sizing
    // count job (r17 ADVICE: compactIter issued an extra count() even
    // when the substrate was already compact); coalesce only ever
    // REDUCES partitions, so ≤2 partitions have nothing to gain
    if (chk.rdd.getNumPartitions <= 2) chk
    else chk.coalesce(GraphOps.iterParts(chk, chk.count()))

  /** HITS body, shared by graph_hits and its stored twin — see the
    * query comment for the exact-integer unrolling argument. */
  private def hitsBody(e0: DataFrame): DataFrame = {
    val e = compactIter(e0.localCheckpoint())
    val a1 = e.groupBy(col("pb").as("v")).agg(count(lit(1)).as("a1"))
    val h1 = e.join(a1, col("pb") === col("v"))
      .groupBy(col("pa").as("u")).agg(sum(col("a1")).as("h1"))
    val a2 = e.join(h1, col("pa") === col("u"))
      .groupBy(col("pb").as("v")).agg(sum(col("h1")).as("a2"))
    val h2 = e.join(a2, col("pb") === col("v"))
      .groupBy(col("pa").as("u")).agg(sum(col("a2")).as("h2"))
    a2.join(h2, col("v") === col("u"), "left")
      .select(col("v").as("node"), col("a2").as("authority"),
        coalesce(col("h2"), lit(0L)).as("hub"))
      .orderBy(col("authority").desc, col("node"))
      .limit(10)
  }

  /** DuckDB CTE prefix defining `edges(pa, pb)` — the oracle replay of
    * [[affinityEdges]], shared by every graph-family oracle. */
  private val affinitySql: String =
    """opairs AS (
      |  SELECT DISTINCT a.l_orderkey, a.l_partkey AS pa, b.l_partkey AS pb
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |edges AS (
      |  SELECT pa, pb FROM opairs GROUP BY 1, 2 HAVING COUNT(*) >= 2)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q1: pricing summary report
    "q1_pricing_summary" -> { (s, dir) =>
      lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1999-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          revenueSum(col("l_extendedprice"), col("l_discount")).as("sum_disc_price"),
          round(avg(col("l_quantity")), 6).as("avg_qty"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    // TPC-H Q3-style: top revenue orders for one market segment
    "q3_shipping_priority" -> { (s, dir) =>
      val c = customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      val o = orders(s, dir)
        .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val l = lineitem(s, dir)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(revenueSum(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
    // TPC-H Q5-style: revenue per nation within one region
    "q5_nation_revenue" -> { (s, dir) =>
      val r = region(s, dir).filter(col("r_name") === "EUROPE")
      val n = nation(s, dir)
      val cust = customer(s, dir)
      val o = orders(s, dir)
      val l = lineitem(s, dir)
      val sup = supplier(s, dir)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(sup, l("l_suppkey") === sup("s_suppkey"))
        .join(cust, o("o_custkey") === cust("c_custkey"))
        .filter(cust("c_nationkey") === sup("s_nationkey")) // local supplier
        .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(revenueSum(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
    // FULL OUTER join: per-nation high-balance customer vs supplier
    // rollups, keeping nations that survive on EITHER side. Thresholds
    // chosen so both null-extended sides are non-empty at the sf0.01
    // correctness gate (10 customer-only + 4 supplier-only nations).
    // Both inputs pre-aggregate to ≤25 rows before the join — the right
    // shape at any scale: full-outer inputs should reduce first, because
    // a full outer join can't prune either side's scan.
    "q_fullouter_balance" -> { (s, dir) =>
      val c = customer(s, dir).filter(col("c_acctbal") > 9900)
        .groupBy(col("c_nationkey").cast("long").as("nationkey"))
        .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("cust_bal"))
      val su = supplier(s, dir).filter(col("s_acctbal") > 9000)
        .groupBy(col("s_nationkey").cast("long").as("nationkey"))
        .agg(count(lit(1)).as("n_supp"), dsum(col("s_acctbal")).as("supp_bal"))
      c.join(su, Seq("nationkey"), "full_outer")
        .select(col("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("cust_bal"), lit(0.0)).as("cust_bal"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"),
          coalesce(col("supp_bal"), lit(0.0)).as("supp_bal"))
        .orderBy(col("nationkey"))
    },
    // ANALYZE-style column profiling — the pre-flight a pipeline runs
    // before trusting a new table: per column, non-null count, exact
    // distinct count, min/max (stringified for a uniform schema).
    // Shape matters: the naive multi-countDistinct aggregate plans an
    // Expand (rows × column count) feeding SortAggregates (min/max
    // string buffers are not hash-aggregable) — measured 3.2 s warm at
    // sf0.1, two corpus-sized sorts. Instead: (a) exact distincts via
    // an unpivot (one Generate, no Expand) into TWO CHAINED HASH
    // aggregations — groupBy (col, value) with map-side combine, then
    // the tiny per-column rollup (count-only buffers, stays
    // WholeStageCodegen); (b) typed min/max as one global aggregation
    // row over the pruned scan (no grouping ⇒ no sort, numeric mins
    // stay numeric — a lexicographic min over stringified doubles
    // would be wrong). Measured 3.2 s → 0.6 s warm. Exact distincts
    // are deliberate (they feed key-ness decisions); the monitoring
    // variant swaps in approx_count_distinct, same shape minus (a)'s
    // second aggregation.
    "profile_orders" -> { (s, dir) =>
      val cols = Seq("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")
      val o = orders(s, dir).select(cols.map(col): _*)
      val counts = o
        .select(explode(map(cols.flatMap(c =>
          Seq(lit(c), col(c).cast("string"))): _*)).as(Seq("col_name", "v")))
        .filter(col("v").isNotNull)
        .groupBy(col("col_name"), col("v")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("col_name"))
        .agg(count(lit(1)).as("n_distinct"), sum(col("cnt")).as("n_nonnull"))
      val mmRow = o.agg(
        min(col(cols.head)).cast("string").as(s"min_${cols.head}"),
        cols.tail.flatMap(c => Seq(
            min(col(c)).cast("string").as(s"min_$c"),
            max(col(c)).cast("string").as(s"max_$c"))) :+
          max(col(cols.head)).cast("string").as(s"max_${cols.head}"): _*)
      val mm = mmRow.select(explode(map(cols.flatMap(c =>
          Seq(lit(c), struct(col(s"min_$c").as("min_v"), col(s"max_$c").as("max_v")))): _*))
        .as(Seq("col_name", "p")))
      counts.join(broadcast(mm), Seq("col_name"))
        .select(col("col_name"), col("n_nonnull"), col("n_distinct"),
          col("p.min_v"), col("p.max_v"))
        .orderBy(col("col_name"))
    },
    // correlated LATERAL subquery (top-2 orders per customer by price):
    // written as the per-row subquery a user would write, NOT as a
    // hand-rewritten window — the point is that Catalyst DECORRELATES
    // it: the executed plan is WindowGroupLimit (partial map-side top-k
    // per o_custkey, so the shuffle carries ≤2 rows per customer, not
    // every order) + one join, never a per-outer-row re-execution and
    // never a cartesian. The plan gate pins that rewrite. SQL-first
    // here exercises the parser/analyzer path the DataFrame queries
    // skip.
    "q_lateral_topn" -> { (s, dir) =>
      customer(s, dir).createOrReplaceTempView("customer")
      orders(s, dir).createOrReplaceTempView("orders")
      s.sql("""
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM customer c JOIN LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders
          WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
        ORDER BY c.c_custkey, o.o_orderkey""")
    },
    // TPC-H Q4-style: orders with at least one late-shipped line, by priority
    "q4_order_priority" -> { (s, dir) =>
      val o = orders(s, dir)
      val l = lineitem(s, dir)
      o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
        .filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    },
    // window function: top-3 customers by account balance per market segment
    "q_top_customers_window" -> { (s, dir) =>
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      customer(s, dir)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("c_mktsegment"), col("rk"), col("c_custkey"),
          round(col("c_acctbal"), 2).as("acctbal"))
        .orderBy(col("c_mktsegment"), col("rk"))
    },
    // grouped part statistics (distinct counts + decimal-exact averages)
    "q_part_stats" -> { (s, dir) =>
      part(s, dir)
        .groupBy(col("p_brand"))
        .agg(
          count(lit(1)).as("n_parts"),
          countDistinct(col("p_type")).as("n_types"),
          dsum(col("p_retailprice")).as("sum_price"),
          max(col("p_size")).cast("long").as("max_size"))
        .orderBy(col("p_brand"))
    },
    // ROLLUP grouping sets over the pricing dimensions
    "q_rollup_revenue" -> { (s, dir) =>
      flagStatusRevenue(lineitem(s, dir)
          .rollup(col("l_returnflag"), col("l_linestatus")))
        .orderBy(col("returnflag"), col("linestatus"))
    },
    // ntile quartiles of account balance per nation — the bucketing
    // window shape (distribution stats per group). The unique custkey
    // in the sort makes tie placement deterministic in both engines.
    "q_customer_quartiles" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      customer(s, dir)
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .groupBy(col("c_nationkey").cast("long").as("nationkey"), col("quartile"))
        .agg(count(lit(1)).as("n"),
          round(min(col("c_acctbal")), 2).as("min_bal"),
          round(max(col("c_acctbal")), 2).as("max_bal"))
        .orderBy(col("nationkey"), col("quartile"))
    },
    // full grouping-sets lattice: CUBE adds the (ALL, linestatus)
    // slices ROLLUP omits — Spark expands both to one Expand + single
    // aggregation pass (no N-pass union), the shape that matters when
    // the fact table is 100 TB and you only want to scan it once
    "q_cube_revenue" -> { (s, dir) =>
      flagStatusRevenue(lineitem(s, dir)
          .cube(col("l_returnflag"), col("l_linestatus")))
        .orderBy(col("returnflag"), col("linestatus"))
    },
    // explicit GROUPING SETS — two disjoint single-dimension slices
    // that neither ROLLUP nor CUBE produce alone, still one Expand +
    // one aggregation pass over the fact table (scan it once at 100 TB)
    "q_grouping_sets" -> { (s, dir) =>
      orders(s, dir)
        .groupingSets(
          Seq(Seq(col("o_orderpriority")), Seq(col("o_orderstatus"))),
          col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
        .select(
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          col("n"), col("revenue"))
        .orderBy(col("priority"), col("status"))
    },
    // anti join: customers with no high-value order, counted per
    // nation — the NOT EXISTS shape (left_anti shuffles only the key
    // columns of the big side, and the filter pushes into its scan so
    // most of the orders table never reaches the shuffle)
    "q_customers_no_orders" -> { (s, dir) =>
      val c = customer(s, dir)
      val o = orders(s, dir).filter(col("o_totalprice") > 300000)
        .select(col("o_custkey"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey").cast("long").as("nationkey"))
        .agg(count(lit(1)).as("n_inactive"),
          round(avg(col("c_acctbal")), 4).as("avg_bal"))
        .orderBy(col("nationkey"))
    },
    // UNPIVOT (melt): the wide per-nation balance rollup turned into
    // tidy (nationkey, metric, value) rows — the inverse of
    // events_pivot_types' PIVOT, and like it a pure Expand projection:
    // rows × metric count, no shuffle beyond the input aggregation and
    // the presentation sort. At scale melting is how wide feature
    // tables feed long-format consumers without per-metric scans.
    "q_unpivot_balance" -> { (s, dir) =>
      val wide = customer(s, dir)
        .groupBy(col("c_nationkey").cast("long").as("nationkey"))
        .agg(count(lit(1)).cast("double").as("n_cust"),
          round(avg(col("c_acctbal")), 4).as("avg_bal"),
          round(max(col("c_acctbal")), 4).as("max_bal"))
      wide.unpivot(
          Array(col("nationkey")),
          Array(col("n_cust"), col("avg_bal"), col("max_bal")),
          "metric", "value")
        .orderBy(col("nationkey"), col("metric"))
    },
    // MULTISET set ops: INTERSECT ALL / EXCEPT ALL preserve
    // multiplicity — per-customer order-date keys where a customer
    // ordering twice in 1996 and once in 1997 contributes one surviving
    // duplicate to the intersection, which DISTINCT set ops erase.
    // Spark plans both as aggregate + join on (row, count) — no
    // row-by-row bag subtraction, same partial-agg scale shape as any
    // groupBy.
    "q_set_ops_all" -> { (s, dir) =>
      val o = orders(s, dir)
      def keys(y: Int) = o
        .filter(col("o_orderdate") >= lit(s"$y-01-01").cast("timestamp") &&
          col("o_orderdate") < lit(s"${y + 1}-01-01").cast("timestamp"))
        .select(col("o_custkey"))
      val inter = keys(1996).intersectAll(keys(1997))
        .select(lit("intersect_all").as("op"), col("o_custkey"))
      val diff = keys(1996).exceptAll(keys(1997))
        .select(lit("except_all").as("op"), col("o_custkey"))
      inter.union(diff)
        .groupBy(col("op")).agg(count(lit(1)).as("n_rows"),
          countDistinct(col("o_custkey")).as("n_custs"))
        .orderBy(col("op"))
    },
    // set operations: 1996-buyers vs 1997-buyers key sets
    "q_set_ops" -> { (s, dir) =>
      val o = orders(s, dir)
      def buyers(y: Int) = o
        .filter(col("o_orderdate") >= lit(s"$y-01-01").cast("timestamp") &&
          col("o_orderdate") < lit(s"${y + 1}-01-01").cast("timestamp"))
        .select(col("o_custkey"))
      val both = buyers(1996).intersect(buyers(1997))
        .select(lit("both").as("cohort"), col("o_custkey"))
      val only96 = buyers(1996).except(buyers(1997))
        .select(lit("only_1996").as("cohort"), col("o_custkey"))
      val only97 = buyers(1997).except(buyers(1996))
        .select(lit("only_1997").as("cohort"), col("o_custkey"))
      both.union(only96).union(only97)
        .groupBy(col("cohort")).agg(count(lit(1)).as("n_customers"))
        .orderBy(col("cohort"))
    },
    // exact interpolated quantiles (Spark percentile == DuckDB quantile_cont)
    "q_quantiles" -> { (s, dir) =>
      lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_extendedprice, 0.25)"), 4).as("p25"),
          round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(l_extendedprice, 0.75)"), 4).as("p75"))
        .orderBy(col("l_returnflag"))
    },
    // sketch aggregates: HLL distinct + approx quantiles. Engine-specific
    // estimates → no oracle (rows-only check); the exact twins above are
    // the oracle-checked versions.
    "q_sketches" -> { (s, dir) =>
      lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_partkey")).as("approx_parts"),
          count_distinct(col("l_partkey")).as("exact_parts"),
          expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("approx_median"))
        .orderBy(col("l_returnflag"))
    },
    // Join-size estimation from mergeable sketches — the optimizer-grade
    // question "how big would this join be?" answered WITHOUT running
    // the join: the Count-Min inner product Σ_j A[r][j]·B[r][j]
    // (Cormode & Muthukrishnan 2005 §4.2) estimates |A ⋈_k B| because
    // matching keys hit the same bucket in every row; min over the
    // depth rows tames collision inflation. Always ≥ the true size
    // (collisions only ever add), within e/width·|A|·|B| w.h.p. — width
    // is the planner's accuracy knob and must scale with the key-domain
    // product (the comment-visible law; the spec pins the bound at
    // fixture scale). Two arms tell the whole story: the PK-FK join
    // (orders⋈customer — estimate lands near-exact because the PK side
    // has one hit per bucket) and the SKEWED SELF-join on l_partkey
    // (the F2 second moment Σc², where multiplicities vary and the
    // estimator actually earns its bound). Scale shape: each side
    // collapses to a FIXED depth×width grid in one partial-aggregated
    // pass; the sides never meet row-to-row — three byte-bounded
    // summaries cross the wire and meet in a 1-row cross join, which is
    // the entire point at 100 TB. The exact counts ride along (cheap
    // aggregations, no pair materialization for F2) so the 1-row output
    // self-grades: q_error ≥ 1 by construction, both arms.
    // No DuckDB oracle (Murmur3 has no DuckDB twin) — contractual
    // no-oracle, pinned by SparkEntryContractSpec + CountMinSpec bounds.
    "q_joinsize_cm" -> { (s, dir) =>
      val D = 5; val W = 65536
      def sketch(df: DataFrame, key: org.apache.spark.sql.Column, as: String, n: String) =
        df.agg(graft.functions.CountMin.column(key.cast("string"), D, W).as(as),
          count(lit(1)).as(n))
      val sa = sketch(orders(s, dir), col("o_custkey"), "sa", "n_orders")
      val sb = sketch(customer(s, dir), col("c_custkey"), "sb", "n_customers")
      val sl = sketch(lineitem(s, dir), col("l_partkey"), "sl", "n_lineitem")
      val fkExact = orders(s, dir)
        .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
        .agg(count(lit(1)).as("fk_exact"))
      val sjExact = lineitem(s, dir).groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("c"))
        .agg(sum(col("c") * col("c")).as("sj_exact"))
      def innerProduct(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
        val p = zip_with(a, b, (x, y) => x * y)
        array_min(transform(sequence(lit(0), lit(D - 1)),
          r => aggregate(slice(p, r * lit(W) + 1, lit(W)), lit(0L),
            (acc, x) => acc + x)))
      }
      sa.crossJoin(sb).crossJoin(sl).crossJoin(fkExact).crossJoin(sjExact)
        .select(
          col("fk_exact"),
          innerProduct(col("sa"), col("sb")).as("fk_est"),
          col("sj_exact"),
          innerProduct(col("sl"), col("sl")).as("sj_est"),
          col("n_orders"), col("n_customers"), col("n_lineitem"))
        .select(col("fk_exact"), col("fk_est"),
          round(col("fk_est").cast("double") / col("fk_exact"), 6).as("fk_q_error"),
          col("sj_exact"), col("sj_est"),
          round(col("sj_est").cast("double") / col("sj_exact"), 6).as("sj_q_error"),
          col("n_orders"), col("n_customers"), col("n_lineitem"))
    },
    // Spatial proximity join via grid-cell bucketing — the 2-D analog of
    // events_overlap_join's chunking, and the shape every geo engine
    // (GeoSpark/Sedona, PostGIS st_dwithin plans) reduces to: a naive
    // points-within-radius join is a cross join with a distance
    // predicate (BNLJ, quadratic); bucketed, each left point probes only
    // its 3×3 neighborhood of 1° cells (cell ≥ radius guarantees no
    // missed pair), met by an equi-join on the cell key. Positions are
    // deterministic hash-placements in a 20°×20° box (the fixture has
    // no geo columns; the oracle replays the same placement and the
    // quadratic join, so the hash gate proves the bucketing loses no
    // pair and double-counts none — each left point emits 9 DISTINCT
    // cells, the right point lives in exactly one). Distance stays in
    // squared degrees — pure arithmetic, no libm trig whose last-ulp
    // differences could flip a boundary pair; haversine is the
    // real-world swap once both engines share a trig implementation.
    "q_spatial_join" -> { (s, dir) =>
      def lat(k: org.apache.spark.sql.Column) =
        (k * 7919 % 2000).cast("double") / 100.0 - 10.0
      def lon(k: org.apache.spark.sql.Column) =
        (k * 104729 % 2000).cast("double") / 100.0 - 10.0
      val cs = customer(s, dir).select(col("c_custkey").as("ck"),
        lat(col("c_custkey")).as("clat"), lon(col("c_custkey")).as("clon"))
      val sp = supplier(s, dir).select(col("s_suppkey").as("sk"),
        lat(col("s_suppkey") * 13 + 7).as("slat"),
        lon(col("s_suppkey") * 13 + 7).as("slon"))
      val cexp = cs
        .withColumn("dlat", explode(sequence(lit(-1), lit(1))))
        .withColumn("dlon", explode(sequence(lit(-1), lit(1))))
        .select(col("ck"), col("clat"), col("clon"),
          (floor(col("clat")) + col("dlat")).cast("long").as("cell_lat"),
          (floor(col("clon")) + col("dlon")).cast("long").as("cell_lon"))
      val sexp = sp.select(col("sk"), col("slat"), col("slon"),
        floor(col("slat")).cast("long").as("cell_lat"),
        floor(col("slon")).cast("long").as("cell_lon"))
      cexp.join(sexp, Seq("cell_lat", "cell_lon"))
        .withColumn("d2",
          (col("clat") - col("slat")) * (col("clat") - col("slat")) +
            (col("clon") - col("slon")) * (col("clon") - col("slon")))
        .filter(col("d2") <= 0.04)
        .select(col("ck"), col("sk"), round(col("d2"), 6).as("dist2_deg"))
        .orderBy(col("ck"), col("sk"))
    },
    // Window-function breadth in one gated query: rank tiers (ntile),
    // relative position (percent_rank, cume_dist), navigation (lead,
    // first_value, nth_value) over one per-nation frame — every flavor
    // shares ONE window definition, so Spark plans a single sort per
    // partition, not five (the window-collapse behavior worth pinning).
    // Runs on the supplier dimension: window breadth is about operator
    // semantics, not volume — the corpus-sized window patterns live in
    // events_* and q_customer_quartiles.
    "q_window_family" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("s_nationkey")).orderBy(col("s_acctbal"), col("s_suppkey"))
      supplier(s, dir)
        .select(col("s_nationkey"), col("s_suppkey"), col("s_acctbal"),
          ntile(4).over(w).cast("long").as("tier"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"),
          lead(col("s_suppkey"), 1).over(w).as("next_supp"),
          first_value(col("s_suppkey")).over(w).as("poorest"),
          nth_value(col("s_suppkey"), 2).over(w).as("second_poorest"))
        .orderBy(col("s_nationkey"), col("s_acctbal"), col("s_suppkey"))
    },
    // Explicit join-strategy control: the same dimension join forced
    // through SHUFFLE_HASH via a join hint — the knob a 100 TB operator
    // reaches for when the optimizer's default (broadcast here, or a
    // sort-merge on mis-estimated stats) is wrong for the cluster's
    // memory budget. The oracle proves the hint changes the PLAN and
    // not the ANSWER; PlanShapeSpec pins ShuffledHashJoin actually
    // planned.
    "q_join_hints" -> { (s, dir) =>
      customer(s, dir).hint("shuffle_hash")
        .join(nation(s, dir), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("double")
            .as("total_balance"))
        .orderBy(col("n_name"))
    },
    // Month-over-month growth: the period-over-period BI primitive (every
    // revenue dashboard's headline number). The corpus collapses to the
    // month grid in one partial-aggregated pass (exact decimal revenue);
    // lag + growth then run on the ~85-row grid — the single-partition
    // window is grid-sized by construction, never corpus-sized. Growth is
    // one double division of exact decimals; the first month's is null.
    "q_mom_growth" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("month"))
      orders(s, dir)
        .groupBy(to_date(date_trunc("month", col("o_orderdate"))).as("month"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"),
          count(lit(1)).as("n_orders"))
        .withColumn("prev", lag(col("rev"), 1).over(w))
        .select(col("month"), col("n_orders"),
          col("rev").cast("double").as("revenue"),
          round((col("rev") - col("prev")).cast("double") /
            col("prev").cast("double"), 6).as("mom_growth"))
        .orderBy(col("month"))
    },
    // q_quantiles' bounded-state production twin: per-flag quantiles via
    // the custom [[graft.functions.SketchQuantiles]] streaming-histogram
    // UDAF. Exact `percentile` buffers one entry per DISTINCT value per
    // partial — fine for l_quantity's 50 integers, OOM-shaped for
    // high-cardinality doubles (amounts, latencies) at 100 TB; the
    // sketch's partials are FIXED capacity-bin histograms regardless of
    // input cardinality. Capacity 64 ≥ the column's 50 distinct values =
    // the sized-to-domain EXACT regime: no bin ever merges, eval
    // reproduces quantile_cont bit-for-bit, and the DuckDB hash gate
    // pins the update/merge/eval path (the approximate regime's rank-
    // error bound is property-tested in QuantileSketchSpec).
    "q_quantile_sketch" -> { (s, dir) =>
      lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(graft.functions.SketchQuantiles.column(
          col("l_quantity").cast("double"), 64,
          Seq(0.25, 0.5, 0.75, 0.95)).as("qs"))
        .select(col("l_returnflag"), explode(col("qs")).as("r"))
        .select(col("l_returnflag"), col("r.prob").as("prob"),
          round(col("r.q"), 6).as("q"))
        .orderBy(col("l_returnflag"), col("prob"))
    },
    // TPC-H Q16 adapted (no partsupp table in this schema): supplier
    // variety per retained (brand, type, size) — the part-supplier
    // relation is recovered as DISTINCT (l_partkey, l_suppkey) from
    // lineitem, suppliers in bad standing (negative balance, the
    // complaints-filter stand-in) are removed with a broadcast anti
    // join, and the filtered part dimension broadcasts onto the
    // relation before the count-distinct. Scale shape: the only
    // corpus-sized shuffle is the pair distinct; both dimension sides
    // stay broadcast.
    "q16_supplier_variety" -> { (s, dir) =>
      val ps = lineitem(s, dir)
        .select(col("l_partkey"), col("l_suppkey")).distinct()
      val badSupp = supplier(s, dir).filter(col("s_acctbal") < 0)
        .select(col("s_suppkey"))
      val p = part(s, dir).filter(col("p_brand") =!= "Brand#2" &&
        col("p_type") =!= "ECONOMY" &&
        col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
      ps.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(badSupp), col("l_suppkey") === col("s_suppkey"),
          "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(count_distinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    },
    // TPC-H Q2 adapted (no partsupp): minimum-cost supplier per part.
    // The supply relation is recovered from lineitem as the
    // per-(part, supplier) minimum observed unit price, rounded to 4 dp
    // so the double division is oracle-stable. Scale shape: the only
    // corpus-sized shuffle is the pair aggregation; the part/supplier/
    // nation/region dimension filters broadcast onto it, and the
    // per-part minimum comes from a window min over the FILTERED
    // eligible relation (dimension-sized after the part/supplier cuts)
    // — one tiny extra shuffle instead of a second corpus-sized scan
    // and aggregation of lineitem.
    "q2_min_cost_supplier" -> { (s, dir) =>
      val ps = lineitem(s, dir)
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(round(col("l_extendedprice") / col("l_quantity"), 4))
          .as("cost"))
      val p = part(s, dir)
        .filter(col("p_type") === "SMALL" && col("p_size") <= 15)
        .select(col("p_partkey"))
      val sup = supplier(s, dir)
        .join(broadcast(nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, dir).filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
          col("n_name"))
      val eligible = ps
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      eligible
        .withColumn("min_cost",
          min(col("cost")).over(Window.partitionBy(col("p_partkey"))))
        .filter(col("cost") === col("min_cost"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("cost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    },
    // TPC-H Q9 adapted (no ps_supplycost): product-type profit by
    // supplier nation and year, with cost proxied as 10% of retail
    // value shipped (0.1 * p_retailprice * l_quantity) — documented
    // stand-in, exact-decimal so the sum is order-independent. The
    // casts are deliberately narrow (price 12,4; disc 6,4; retail/qty
    // 8,4) so the profit term stays at precision 22 — far from Spark's
    // 38 cap, where scale-reduction rules diverge between engines.
    // Scale shape: part filter broadcasts, orders joins on the
    // orderkey shuffle, one partial/final agg.
    "q9_product_profit" -> { (s, dir) =>
      val profit =
        col("l_extendedprice").cast("decimal(12,4)") *
          (lit(1).cast("decimal(6,4)") -
            col("l_discount").cast("decimal(6,4)")) -
        lit("0.1").cast("decimal(3,1)") *
          col("p_retailprice").cast("decimal(8,4)") *
          col("l_quantity").cast("decimal(8,4)")
      lineitem(s, dir)
        .join(broadcast(part(s, dir).filter(col("p_name").like("%gear%"))),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(supplier(s, dir)),
          col("l_suppkey") === col("s_suppkey"))
        .join(orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(round(sum(profit), 2).cast("double").as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    },
    // TPC-H Q11 adapted (no ps_availqty): important "stock" per part
    // for one supplier region — inventory value proxied as shipped
    // quantity × retail price, exact decimal. The global total (the
    // Q11 scalar-subquery shape) is an unpartitioned window over the
    // ALREADY-AGGREGATED per-part rows — dimension-sized input, so the
    // single-partition window is free, and the corpus is scanned
    // exactly once (a crossJoin'd second aggregate would re-scan it).
    // The test is SCALE-FREE (value > 2× the mean part value, i.e.
    // v * n > 2 * total) and in EXACT decimal×bigint arithmetic, so the
    // selectivity survives a 100× part-count scale-up and no double
    // threshold can straddle an ulp between engines.
    "q11_important_stock" -> { (s, dir) =>
      val suppAsia = supplier(s, dir)
        .join(broadcast(nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, dir).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"))
      val value = lineitem(s, dir)
        .join(broadcast(suppAsia), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(part(s, dir).select(col("p_partkey"),
          col("p_retailprice"))), col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_partkey"))
        .agg(sum(col("l_quantity").cast("decimal(18,4)") *
          col("p_retailprice").cast("decimal(18,4)")).as("v"))
      val all = Window.partitionBy()
      value
        .withColumn("tot", sum(col("v")).over(all))
        .withColumn("n", count(lit(1)).over(all))
        .filter(col("v") * col("n") > col("tot") * 2)
        .select(col("l_partkey").as("p_partkey"),
          round(col("v"), 2).cast("double").as("stock_value"))
        .orderBy(col("stock_value").desc, col("p_partkey"))
    },
    // TPC-H Q20 adapted (no ps_availqty): suppliers with surplus
    // capacity for a part-name prefix — pairs whose all-time shipped
    // quantity exceeds twice their 1997 shipment (the "availability
    // comfortably covers the year's demand" test, recovered from
    // lineitem history; exact-decimal comparison). Scale shape: part
    // filter broadcasts before the pair aggregation (the one corpus
    // shuffle), then the qualifying supplier list — bounded by the
    // supplier dimension, so broadcast-safe at any corpus scale —
    // broadcasts into the left-semi join.
    "q20_potential_promotion" -> { (s, dir) =>
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(18,4)")
      val pairQty = lineitem(s, dir)
        .join(broadcast(part(s, dir).filter(col("p_name").like("small%"))
          .select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum(dec(col("l_quantity"))).as("total_qty"),
          sum(when(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1998-01-01").cast("timestamp"),
            dec(col("l_quantity"))).otherwise(lit(0).cast("decimal(18,4)")))
            .as("qty97"))
        .filter(col("qty97") > 0 && col("total_qty") > col("qty97") * 2)
        .select(col("l_suppkey"))
      supplier(s, dir)
        .join(broadcast(nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, dir).filter(col("r_name") === "AMERICA")),
          col("n_regionkey") === col("r_regionkey"))
        .join(broadcast(pairQty), col("s_suppkey") === col("l_suppkey"),
          "left_semi")
        .select(col("s_name"), col("s_acctbal"))
        .orderBy(col("s_name"))
    },
    // PageRank over the customer↔supplier purchase graph (edges = who
    // bought from whom, via orders⋈lineitem, symmetrized) — relational
    // tables ARE graphs, and "which suppliers sit at the center of the
    // purchase network" is the graph-centrality question a sourcing
    // analyst asks. Three power iterations via [[GraphOps.pagerank]]:
    // one dst-keyed shuffle per iteration over a localCheckpointed
    // degree-annotated edge list; ranks round to 12 dp per iteration so
    // the oracle's unrolled replay lands on identical doubles. Top-20
    // nodes, rank desc (node id tie-break) — rank is left at corpus
    // scale (Σ=1) since the 12 dp discipline already pins the values.
    "graph_pagerank" -> { (s, dir) =>
      // distinct on the LONG key pair first, node strings after: the
      // dedup shuffle carries 16-byte rows instead of ~30-byte strings
      // with string comparators (measured part of the 6-11 s → ~2 s fix
      // together with the broadcast rank iteration in GraphOps)
      // localCheckpoint the distinct pair list BEFORE the symmetrizing
      // union: `pairs` feeds both union branches (and, inside
      // GraphOps.pagerank, the degree agg), and without materialization
      // the orders⋈lineitem distinct pipeline re-runs once per
      // appearance — the dominant cost of the whole query at sf0.1.
      val pairs = purchasePairs(s, dir).localCheckpoint()
      purchaseRank(pairs)
        .orderBy(col("rank").desc, col("node"))
        .limit(20)
    },
    // Materialized-graph twin of graph_pagerank — the production shape
    // at 100 TB: the purchase-pair edge table is built ONCE (the
    // orders⋈lineitem distinct that dominates every self-contained graph
    // query) and persisted to graft-store; iterative consumers read the
    // snapshot back through the DSv2 scan instead of re-deriving it per
    // query. The build itself is graph_edges_stored's job (it sorts
    // before this query in a forward sweep; materializeOnce covers any
    // other order), so THIS query pays scan + iteration only — the r14
    // shape re-derived and re-wrote the store inline on every run,
    // which made the "iteration-only" twin the one stored query whose
    // cost scaled with the rebuild (VERDICT r14 What's-wrong #1). The
    // pagerank iteration downstream is byte-identical to the
    // self-contained twin, and the oracle IS the twin's oracle — a hash
    // match proves the store hop (write commit → manifest-pinned read)
    // is semantics-free for iterative consumers.
    "graph_pagerank_stored" -> { (s, dir) =>
      // localCheckpoint mirrors the twin (pairs feeds both union branches
      // and the degree agg); reading the snapshot is cheap, but identical
      // consumer shape keeps the two queries' timings comparable
      val pairs = storedPurchasePairs(s, dir).localCheckpoint()
      purchaseRank(pairs)
        .orderBy(col("rank").desc, col("node"))
        .limit(20)
    },
    // Triangle census over the part co-purchase affinity graph — the
    // third leg of the graph trio (PageRank centrality, connected
    // components, triangle/triad structure). Edges are part pairs
    // co-ordered in at least 2 distinct orders: the support filter is
    // the SPARSIFIER that makes the census tractable — the raw
    // co-order graph is dense (1.2M edges over 20k parts at sf0.1,
    // wedge joins would blow up as Σ in(b)·out(b)), while affinity
    // edges stay catalog-bounded (~4k). Pair generation uses the
    // repo's collect_set + row-local array-combination pattern (order
    // size ≤ 17 here, so per-order fan-out is bounded by construction;
    // a<b orientation counts each triangle exactly once), then two
    // equi-joins on the filtered edge list enumerate triangles, and
    // per-part participation is a corner explode + count. AQE
    // broadcasts the post-filter edge list at runtime if it fits.
    "graph_triangles" -> { (s, dir) =>
      trianglesBody(affinityEdges(s, dir))
    },
    // Stored twin of graph_triangles over the materialized affinity
    // snapshot (VERDICT r12 "What's wrong #2"): the wedge census's only
    // corpus-sized stage is the affinity REBUILD — routing it through
    // [[storedAffinityEdges]] like spectral/modularity/hits leaves the
    // query at iteration-only cost (two catalog-bounded equi-joins plus
    // a TakeOrdered), which is the shape a 100 TB deployment runs: the
    // graph materializes once per ingest, every census reads the
    // snapshot. Hash-equal to the self-contained twin by construction
    // (the stored edges are spec-proven equal to the rebuilt ones).
    "graph_triangles_stored" -> { (s, dir) =>
      trianglesBody(storedAffinityEdges(s, dir))
    },
    // k-core peeling — the degeneracy view of the affinity graph (dense
    // substructure the degree histogram can't see: a high-degree node
    // can still be peripheral; surviving the 2-core peel cannot be
    // faked). Three synchronous peel rounds toward the 2-core: drop
    // degree<2 nodes, keep only edges with both endpoints alive,
    // repeat; report per-round attrition (removed / nodes left / edges
    // left) — the curve an index owner reads to pick a core threshold.
    // Same discipline as the other iterated graph ops: fixed rounds,
    // per-round localCheckpoint so no round's plan embeds its
    // predecessors. The expensive part — affinity construction over
    // lineitem — runs ONCE, eagerly, at full parallelism; the result
    // (catalog-bounded, ~4k edges) is then collapsed to the
    // size-derived partition count (compactIter) so the peel rounds are
    // near-single-task stages with AQE-coalesced shuffles at this
    // scale — and clamped-parallel on a big graph — and every
    // per-round checkpoint is EAGER
    // (lazy checkpoints re-materialized under the contended driver
    // bench: 6.5 s there vs 2.0 s solo in r9).
    "graph_kcore" -> { (s, dir) =>
      def und(e: DataFrame) = e.select(col("pa").as("n"))
        .unionAll(e.select(col("pb").as("n")))
      // each round's node-sized degree table is checkpointed ONCE and
      // serves three consumers (the keep filter, the removed count, and
      // the next round's nodes-left) — without it every stat re-runs
      // the degree aggregation (measured 2x the query)
      def degOf(e: DataFrame): DataFrame =
        und(e).groupBy(col("n")).agg(count(lit(1)).as("deg"))
          .localCheckpoint()
      def peel(e: DataFrame, deg: DataFrame): DataFrame = {
        val keep = deg.filter(col("deg") >= 2).select(col("n"))
        e.join(keep.withColumnRenamed("n", "pa"), Seq("pa"), "semi")
          .join(keep.withColumnRenamed("n", "pb"), Seq("pb"), "semi")
          .select(col("pa"), col("pb"))
          .localCheckpoint()
      }
      def stats(r: Int, degBefore: DataFrame, degAfter: DataFrame,
          after: DataFrame): DataFrame =
        degBefore.filter(col("deg") < 2).agg(count(lit(1)).as("n_removed"))
          .crossJoin(degAfter.agg(count(lit(1)).as("nodes_left")))
          .crossJoin(after.agg(count(lit(1)).as("edges_left")))
          .select(lit(r.toLong).as("round"), col("n_removed"),
            col("nodes_left"), col("edges_left"))
      // full-parallelism materialization of the heavy scan+agg, then a
      // size-derived narrow coalesce for the iteration (compactIter —
      // r18: replaces the literal coalesce(1), which was safe only
      // while the affinity graph stays catalog-bounded; a genuinely
      // edge-heavy graph now keeps clamped parallelism per peel round)
      val e0 = compactIter(affinityEdges(s, dir).localCheckpoint())
      val d0 = degOf(e0)
      val e1 = peel(e0, d0); val d1 = degOf(e1)
      val e2 = peel(e1, d1); val d2 = degOf(e2)
      val e3 = peel(e2, d2); val d3 = degOf(e3)
      stats(1, d0, d1, e1).unionAll(stats(2, d1, d2, e2))
        .unionAll(stats(3, d2, d3, e3))
        .orderBy(col("round"))
    },
    // Community detection — fourth leg of the graph family (centrality,
    // components, triads, communities): deterministic synchronous label
    // propagation (neighbor-mode labels, ties to the smallest) over the
    // same support-≥2 part-affinity graph graph_triangles sparsifies,
    // symmetrized so propagation is undirected. 3 rounds; report the
    // top-20 communities by size. The per-order collect_set pair
    // generation and the support filter keep the edge list
    // catalog-bounded before any iteration touches it.
    "graph_communities" -> { (s, dir) =>
      communitiesBody(affinityEdges(s, dir))
    },
    // Stored twin of graph_communities: identical label propagation over
    // the MATERIALIZED affinity snapshot — the rebuild (the only
    // corpus-sized stage) leaves the query; cost drops to the LPA
    // rounds + census. Hash-equal under the shared oracle.
    "graph_communities_stored" -> { (s, dir) =>
      communitiesBody(storedAffinityEdges(s, dir))
    },
    // Personalized PageRank: all teleport mass returns to ONE seed (the
    // lexicographically first supplier node) instead of spreading
    // uniformly — "which customers and suppliers are most related to
    // THIS supplier through the purchase network", the recommendation
    // sibling of graph_pagerank's global centrality. Same edge build,
    // same checkpointed-iteration machinery (GraphOps.personalizedPagerank),
    // 12 dp per-iteration rounding for oracle replay; the seed is a
    // 1-row metadata lookup, not a data collect.
    "graph_ppr" -> { (s, dir) =>
      pprBody(purchasePairs(s, dir).localCheckpoint())
    },
    // Stored twin of graph_ppr: the purchase-pair edge table comes from
    // the SAME graft-store root graph_pagerank_stored maintains (built
    // once per process via materializeOnce — content deterministic), so
    // the orders⋈lineitem rebuild leaves the query and PPR pays
    // iteration-only cost. Hash-equal under the shared oracle.
    "graph_ppr_stored" -> { (s, dir) =>
      pprBody(storedPurchasePairs(s, dir).localCheckpoint())
    },
    // Modularity audit of the LPA communities — the quality score that
    // says whether graph_communities found structure or noise: per
    // community, internal-edge fraction minus the degree-based expected
    // fraction (Newman's Q contribution). Everything here is
    // catalog-bounded: labels and degrees join back onto the sparsified
    // edge list as broadcasts, the edge total is a one-row stat, and
    // the per-community terms are exact integers until the final
    // double projection.
    "graph_modularity" -> { (s, dir) =>
      modularityBody(affinityEdges(s, dir))
    },
    // Stored twin of graph_modularity: identical audit over the
    // MATERIALIZED affinity graph (built once per process by
    // [[storedAffinityEdges]], read back through the DSv2 snapshot
    // scan). Hash-equal to the self-contained twin — the store hop is
    // semantics-free; the cost drops to labels + audit only.
    "graph_modularity_stored" -> { (s, dir) =>
      modularityBody(storedAffinityEdges(s, dir))
    },
    // Degree assortativity of the affinity graph: the Pearson
    // correlation of (deg(u), deg(v)) over the symmetrized edge list —
    // one number that says whether hubs attach to hubs (assortative,
    // r > 0) or to leaves (disassortative, r < 0), which decides
    // whether hub-removal or random sparsification changes connectivity
    // at scale. Recycles the q_corr_qty_disc decimal-moment machinery
    // on the edge table: degrees join on (node-sized, broadcast), five
    // exact sums, one double projection.
    "graph_assortativity" -> { (s, dir) =>
      val aff = affinityEdges(s, dir).localCheckpoint()
      val sym = aff.select(col("pa").as("u"), col("pb").as("v"))
        .union(aff.select(col("pb").as("u"), col("pa").as("v")))
      val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      val pairs = sym
        .join(broadcast(deg.select(col("u").as("ju"), col("deg").as("du"))),
          col("u") === col("ju"))
        .join(broadcast(deg.select(col("u").as("jv"), col("deg").as("dv"))),
          col("v") === col("jv"))
        .select(col("du").cast("decimal(18,4)").as("x"),
          col("dv").cast("decimal(18,4)").as("y"))
      def d(c: org.apache.spark.sql.Column) = round(sum(c), 4).cast("double")
      val n = col("n").cast("double")
      pairs.agg(count(lit(1)).as("n"),
          d(col("x")).as("dx"), d(col("y")).as("dy"),
          d(col("x") * col("y")).as("dxy"),
          d(col("x") * col("x")).as("dx2"), d(col("y") * col("y")).as("dy2"))
        .select(col("n"),
          round((n * col("dxy") - col("dx") * col("dy")) /
            sqrt((n * col("dx2") - col("dx") * col("dx")) *
              (n * col("dy2") - col("dy") * col("dy"))), 6).as("assortativity"))
    },
    // Degree distribution of the affinity graph — the first diagnostic
    // anyone runs on a graph (is it heavy-tailed? how sparse?), and at
    // pipeline scale the input to skew planning: the max-degree row of
    // this histogram IS the hot key the salted-join/AQE machinery must
    // absorb. Two partial-aggregated shuffles over a catalog-bounded
    // edge list; the histogram itself is at most |distinct degrees| rows.
    "graph_degree_stats" -> { (s, dir) =>
      val aff = affinityEdges(s, dir)
      aff.select(col("pa").as("node")).union(aff.select(col("pb").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("degree"))
        .groupBy(col("degree"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("degree"))
    },
    // Multi-hop reachability: BFS to depth 3 from the affinity graph's
    // HUB (max-degree node, ties to the smallest id — the seed choice
    // that yields a real frontier cascade; the minimum-id node often
    // sits on an isolated edge), reported as a per-distance census.
    // The Spark side is true frontier iteration — each round expands the
    // CURRENT frontier only (join on the symmetrized edges), anti-joins
    // the visited set so a node keeps its first (= minimum) distance,
    // and localCheckpoints both sets so lineage stays flat. That is the
    // scale shape: per-round cost ∝ frontier × avg-degree, never
    // all-walks. The DuckDB oracle replays it as a recursive CTE that
    // enumerates bounded walks and takes MIN(dist) — same fixpoint,
    // different (driver-friendly) formulation, which is exactly the
    // cross-check worth having for iterative graph code.
    "graph_bfs" -> { (s, dir) =>
      val aff = affinityEdges(s, dir).localCheckpoint()
      // compact the symmetrized edge blocks once: every frontier round
      // below scans them (see compactIter)
      val sym = compactIter(
        aff.select(col("pa").as("u"), col("pb").as("v"))
          .union(aff.select(col("pb").as("u"), col("pa").as("v")))
          .localCheckpoint())
      val seed = sym.groupBy(col("u")).agg(count(lit(1)).as("deg"))
        .orderBy(col("deg").desc, col("u")).limit(1)
        .select(col("u").as("node"))
        .withColumn("dist", lit(0L)).localCheckpoint()
      var visited = seed
      var frontier = seed.select(col("node"))
      // frontier/visited are node-bounded — keep their checkpoints at
      // the substrate's compacted partition count, not the session's
      val pIter = sym.rdd.getNumPartitions
      for (d <- 1 to 3) {
        val next = frontier.join(sym, col("node") === col("u"))
          .select(col("v").as("node")).distinct()
          .join(visited.select(col("node")), Seq("node"), "left_anti")
          .coalesce(pIter).localCheckpoint()
        visited = visited.union(next.withColumn("dist", lit(d.toLong)))
          .coalesce(pIter).localCheckpoint()
        frontier = next
      }
      visited.groupBy(col("dist"))
        .agg(count(lit(1)).as("n_nodes"),
          min(col("node")).as("min_node"), max(col("node")).as("max_node"))
        .orderBy(col("dist"))
    },
    // Link prediction by common-neighbor Jaccard: for part pairs NOT yet
    // connected in the affinity graph, score |N(a)∩N(c)| / |N(a)∪N(c)|
    // and report the top-20 — "these two parts behave like co-purchases
    // even though they never co-occurred", the recommender primitive.
    // The wedge join runs on the support-sparsified edges (same reason
    // graph_triangles is tractable), the existing-edge exclusion is a
    // canonical-pair ANTI join, and degrees join back as a broadcast-
    // sized table. Nothing here is corpus-shaped: every input is the
    // catalog-bounded affinity graph.
    "graph_link_predict" -> { (s, dir) =>
      val aff = affinityEdges(s, dir).localCheckpoint()
      val sym = aff.select(col("pa").as("u"), col("pb").as("v"))
        .union(aff.select(col("pb").as("u"), col("pa").as("v")))
      val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      val wedges = sym.select(col("u").as("m"), col("v").as("a"))
        .join(sym.select(col("u").as("m2"), col("v").as("c")),
          col("m") === col("m2") && col("a") < col("c"))
        .groupBy(col("a"), col("c")).agg(count(lit(1)).as("common"))
      val cand = wedges.join(aff,
          col("a") === col("pa") && col("c") === col("pb"), "left_anti")
      cand
        .join(deg.select(col("u").as("a2"), col("deg").as("dega")),
          col("a") === col("a2"))
        .join(deg.select(col("u").as("c2"), col("deg").as("degc")),
          col("c") === col("c2"))
        .select(col("a"), col("c"), col("common"),
          round(col("common").cast("double") /
            (col("dega") + col("degc") - col("common")), 6).as("jaccard"))
        .orderBy(col("jaccard").desc, col("a"), col("c"))
        .limit(20)
    },
    // Semi-supervised label propagation over the customer↔supplier
    // purchase graph (Zhu/Ghahramani 2002's one-hop vote): supplier
    // nations are the seed labels, each customer takes the
    // spend-weighted majority label of its supplier neighbours
    // (row_number argmax, ties → smallest label id), and the report is
    // the per-predicted-nation confusion row (how many customers the
    // vote assigns there, and how many actually bank there). Weights
    // sum in exact decimal so the argmax ordering is reproducible under
    // any partitioning. Scale: one corpus shuffle builds the weighted
    // edge list; votes group by (customer, label) — the per-customer
    // fan-in is supplier-bounded; supplier + nation broadcast; the
    // final customer join is key-co-partitioned. More hops = repeat the
    // vote on the predicted labels; one hop already shows the operator.
    "graph_label_prop" -> { (s, dir) =>
      val e = orders(s, dir).join(lineitem(s, dir),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey").as("c"), col("l_suppkey").as("sk"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).as("w"))
      val votes = e.join(broadcast(supplier(s, dir)),
          col("sk") === col("s_suppkey"))
        .groupBy(col("c"), col("s_nationkey").as("lbl"))
        .agg(sum(col("w")).as("w"))
      val pred = votes.withColumn("rk", row_number().over(
          Window.partitionBy(col("c"))
            .orderBy(col("w").desc, col("lbl"))))
        .filter(col("rk") === 1)
      pred.join(customer(s, dir), col("c") === col("c_custkey"))
        .join(broadcast(nation(s, dir)), col("lbl") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"))
        .agg(count(lit(1)).as("n_customers"),
          sum(when(col("lbl") === col("c_nationkey"), 1L).otherwise(0L))
            .as("n_match"))
        .orderBy(col("nation"))
    },
    // node2vec second-order transition table (Grover & Leskovec 2016,
    // KDD) over the support-≥2 affinity graph — the walk-bias
    // precomputation a graph-embedding pipeline materializes before
    // sampling any walk. For each directed context (prev→cur) and each
    // candidate next ∈ N(cur), the bias is α = 1/p if next = prev
    // (return), 1 if next ∈ N(prev) (triangle-closing "common" step),
    // 1/q otherwise (exploration); prob = α / Σα over N(cur). With
    // p = 4, q = 0.25 the walk is DFS-leaning. Output: per-class counts
    // and the prob envelope — every wedge in the graph contributes, so
    // the hash pins the whole transition tensor.
    //
    // Scale shape: the candidate set is the wedge join sym⋈sym on cur
    // (Σ deg² rows — same cost class as graph_triangles, and the same
    // support-filter sparsifier keeps it catalog-bounded BEFORE the
    // join); the N(prev)-membership test is one equi-join against the
    // directed edge list (never a per-row set lookup); normalization is
    // a window over (prev, cur), partition-bounded by max degree. One
    // edge materialization feeds both wedge arms and the membership
    // probe. α values {¼, 1, 4} and their sums are exact binary, so
    // prob is a single deterministic double division; the class means
    // use the DetMean round-10dp/decimal-sum discipline.
    "graph_node2vec_trans" -> { (s, dir) =>
      val aff = affinityEdges(s, dir).localCheckpoint()
      val sym = aff.select(col("pa").as("u"), col("pb").as("v"))
        .unionAll(aff.select(col("pb").as("u"), col("pa").as("v")))
      val wedge = sym.select(col("u").as("prev"), col("v").as("cur"))
        .join(sym.select(col("u").as("cur2"), col("v").as("next")),
          col("cur") === col("cur2"))
        .select(col("prev"), col("cur"), col("next"))
      val adjacent = sym.select(col("u").as("prev"), col("v").as("next"),
        lit(1).as("is_adj"))
      val biased = wedge.join(adjacent, Seq("prev", "next"), "left")
        .withColumn("alpha",
          when(col("next") === col("prev"), lit(0.25))
            .when(col("is_adj").isNotNull, lit(1.0))
            .otherwise(lit(4.0)))
        .withColumn("step_type",
          when(col("next") === col("prev"), lit("return"))
            .when(col("is_adj").isNotNull, lit("common"))
            .otherwise(lit("explore")))
      val z = Window.partitionBy(col("prev"), col("cur"))
      biased
        .withColumn("prob",
          round(col("alpha") / sum(col("alpha")).over(z), 6))
        .groupBy(col("step_type"))
        .agg(count(lit(1)).as("n"),
          DetMean.mean6(sum(DetMean.el10(col("prob"))), count(lit(1)))
            .as("avg_prob"),
          round(min(col("prob")), 6).as("min_prob"),
          round(max(col("prob")), 6).as("max_prob"))
        .orderBy(col("step_type"))
    },
    // 4-cycle (square) motif census — the next motif after the triangle
    // census and the quantity behind bipartite-ish community detection
    // and the "caveman vs core-periphery" diagnostics: every unordered
    // node pair with c ≥ 2 common neighbors closes C(c,2) squares, and
    // each square is counted at BOTH of its diagonals, so
    // #C4 = Σ_pairs C(c,2) / 2 — exact integer arithmetic end to end.
    // Output: one row of the census (nodes, edges, wedges, co-path
    // pairs, squares).
    //
    // Scale shape: the common-neighbor table is the Σdeg² wedge join on
    // the support-sparsified graph — graph_triangles' cost class, with
    // the sparsifier applied BEFORE the join (the only thing that keeps
    // motif counting alive at catalog scale); the census is a 1-row
    // fold over pair-bounded state. Division by 2 is exact (the sum is
    // provably even).
    "graph_squares" -> { (s, dir) =>
      val e = affinityEdges(s, dir).localCheckpoint()
      val sym = e.select(col("pa").as("u"), col("pb").as("v"))
        .unionAll(e.select(col("pb").as("u"), col("pa").as("v"))).localCheckpoint()
      val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("d"))
      val wedges = deg.agg(
        sum(expr("d * (d - 1) div 2")).cast("long").as("n_wedges"),
        count(lit(1)).as("n_nodes"))
      val cn = sym.select(col("u").as("a"), col("v").as("b"))
        .join(sym.select(col("u").as("b"), col("v").as("c")), Seq("b"))
        .filter(col("a") < col("c"))
        .groupBy(col("a"), col("c")).agg(count(lit(1)).as("cnt"))
      val sq = cn
        .agg(count(lit(1)).as("n_copath_pairs"),
          sum(expr("cnt * (cnt - 1) div 2")).as("diag2"))
        .select(col("n_copath_pairs"),
          expr("diag2 div 2").cast("long").as("n_squares"))
      val ne = e.agg(count(lit(1)).as("n_edges"))
      wedges.crossJoin(ne).crossJoin(sq)
        .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
          col("n_copath_pairs"), col("n_squares"))
    },
    // Spectral bisection (Fiedler 1973; Shi & Malik 2000's normalized
    // cut) — the classic partitioner: power-iterate the normalized
    // adjacency N = D^-½ A D^-½ with the trivial eigenvector D^½·1
    // deflated out each step, then cut on the sign of the resulting
    // (approximate Fiedler-direction) vector. Output: one row with node
    // and edge counts, the two partition sizes, the CUT SIZE (edges
    // crossing the sign boundary — the quantity the method minimizes),
    // and the Rayleigh quotient λ₂ estimate at the fixed iteration
    // budget (SpectralIters, deterministic start x₀(v) = v mod 7 − 3).
    // On this affinity graph the near-balanced cut with λ₂ well below 1
    // is the structurally CORRECT reading — random co-occurrence graphs
    // are expander-like and admit no sparse cut; the query's value is
    // the exact distributed machinery, which transfers unchanged to
    // graphs that do have structure.
    //
    // Scale shape: pagerank's cost class — each iteration is two scalar
    // broadcasts (deflation coefficient, norm) and ONE edge-linear
    // equi-join matvec into a node-bounded vector, checkpointed per
    // step so lineage stays flat. Nothing holds more than
    // (edges + nodes) rows. Determinism: every scalar (c, norm, λ) is
    // an exact-decimal sum followed by one division/sqrt rounded 10dp,
    // and the vector is re-pinned at 10dp each step, so both engines
    // walk the identical float sequence and the sign cut cannot
    // straddle differently.
    "graph_spectral_cut" -> { (s, dir) =>
      spectralCutBody(affinityEdges(s, dir))
    },
    // Stored twin of graph_spectral_cut: identical power iteration over
    // the MATERIALIZED affinity graph ([[storedAffinityEdges]] — built
    // once per process, read back as a snapshot-pinned DSv2 scan). The
    // hash match against the self-contained twin proves the store hop
    // is semantics-free; the bench delta between the two IS the
    // measured cost of the per-query graph rebuild the materialization
    // eliminates — the r11 verdict's 22%-of-bench block.
    "graph_spectral_cut_stored" -> { (s, dir) =>
      spectralCutBody(storedAffinityEdges(s, dir))
    },
    // HITS hubs & authorities (Kleinberg 1999, JACM) — two UNROLLED
    // iterations over the directed (pa→pb) affinity graph, kept in
    // EXACT integer arithmetic by deferring normalization: with h⁰=1,
    // a¹ = indegree, h¹ = Σ_out a¹, a² = Σ_in h¹, h² = Σ_out a² — every
    // score is an exact BIGINT (normalization is a positive scalar per
    // iteration, so rankings and ratios are unchanged; the float
    // division HITS usually does per step is exactly the hash hazard
    // the integer form removes). Output: the top-10 authorities with
    // their hub scores — the "what do the best-connected parts point
    // at" report.
    //
    // Scale shape: pagerank's cost class — the edge list materializes
    // once (localCheckpoint, 4 consumers) and each half-iteration is
    // one equi-join of edges against a NODE-bounded score table
    // followed by a keyed partial agg; nothing ever holds more than
    // (edges + nodes) rows, and the four shuffles are edge-linear, the
    // same telemetry envelope the bench records for graph_pagerank.
    // Top-10 is TakeOrderedAndProject (per-partition heads, never a
    // global sort).
    "graph_hits" -> { (s, dir) =>
      hitsBody(affinityEdges(s, dir))
    },
    // Stored twin of graph_hits over the materialized affinity graph —
    // same exact-integer unrolling, edge source swapped for the
    // graft-store snapshot. Hash-equal to the self-contained twin.
    "graph_hits_stored" -> { (s, dir) =>
      hitsBody(storedAffinityEdges(s, dir))
    },
    // The materialization step itself, as a first-class gated query:
    // build the support-≥2 affinity edge table ONCE and persist it to
    // graft-store (overwrite — a fresh snapshot each run keeps the
    // query self-contained), then read the snapshot back. This is the
    // ingest-side half of the build-once/probe-many split the
    // graph_*_stored consumers exercise; at 100 TB this job runs once
    // per ingest while every downstream graph query reads the
    // manifest-pinned snapshot. Because it runs (alphabetically) before
    // the graph_* family in a full bench/verify sweep, it also WARMS
    // the per-process store the stored twins reuse, so their timings
    // measure iteration-only cost. Oracle: the shared affinitySql
    // replay — a hash match proves write→commit→read is lossless.
    "affinity_edges_stored" -> { (s, dir) =>
      val root = affinityRoot(dir)
      graft.sources.GraftStore.write(affinityEdges(s, dir), root,
        overwrite = true)
      graft.sources.GraftStore.read(s, root)
        .orderBy(col("pa"), col("pb"))
    },
    // The purchase-pair graph's materialization step as its own gated
    // query (VERDICT r14 task #1's structural half): the
    // orders⋈lineitem distinct derivation lands in graft-store HERE —
    // this name sorts before every graph_*_stored consumer of the
    // prgraph root, so in a forward sweep the stored twins measure
    // iteration-only cost and no twin silently absorbs the build (the
    // r14 graph_pagerank_stored pathology). Overwrite keeps the query
    // self-contained: a fresh snapshot every run, content-deterministic
    // so downstream materializeOnce reuse is semantics-free. The
    // reported per-supplier degree top-20 reads from the STORE, so the
    // hash gate proves write→commit→read lossless for this table too.
    "graph_edges_stored" -> { (s, dir) =>
      val root = prGraphRoot(dir)
      graft.sources.GraftStore.write(purchasePairs(s, dir), root,
        overwrite = true)
      graft.sources.GraftStore.read(s, root)
        .groupBy(col("s"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("n_customers").desc, col("s"))
        .limit(20)
    },
    // Pearson correlation from exact decimal moment sums — the profiling
    // statistic (does discount correlate with quantity per return
    // class?) computed the way a 100 TB profiler must: five partial-
    // aggregated DECIMAL sums (order-independent regardless of
    // partitioning — built-in corr() accumulates doubles in partition
    // order and is NOT reproducible across cluster sizes), each rounded
    // to 4dp so its integer form stays under 2^53 where the
    // decimal→double conversion is exact on both engines (the q1
    // sum_disc_price lesson), then one double-arithmetic projection of
    // the closed-form estimator. One shuffle of 6 numbers per group.
    "q_corr_qty_disc" -> { (s, dir) =>
      val x = col("l_quantity").cast("decimal(18,4)")
      val y = col("l_discount").cast("decimal(18,4)")
      def d(c: org.apache.spark.sql.Column) = round(sum(c), 4).cast("double")
      val n = col("n").cast("double")
      lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          d(x).as("dx"), d(y).as("dy"), d(x * y).as("dxy"),
          d(x * x).as("dx2"), d(y * y).as("dy2"))
        .select(col("l_returnflag"), col("n"),
          round((n * col("dxy") - col("dx") * col("dy")) /
            sqrt((n * col("dx2") - col("dx") * col("dx")) *
              (n * col("dy2") - col("dy") * col("dy"))), 6).as("corr_qd"))
        .orderBy(col("l_returnflag"))
    },
    // Higher-moment sibling of q_corr_qty_disc: mean, population
    // variance, and skewness of l_quantity per return class, all from
    // three exact DECIMAL power sums (x, x², x³ at DECIMAL(12,4) so the
    // cubed product stays inside 38 digits on both engines) finished by
    // one closed-form double projection. Same reproducibility argument:
    // built-in skewness() accumulates doubles partition-order-
    // dependently; this shape gives the same answer at any cluster size.
    "q_moments_qty" -> { (s, dir) =>
      val x = col("l_quantity").cast("decimal(12,4)")
      def d(c: org.apache.spark.sql.Column) = round(sum(c), 4).cast("double")
      val n = col("n").cast("double")
      val m = col("dx") / n
      val varPop = col("dx2") / n - m * m
      lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          d(x).as("dx"), d(x * x).as("dx2"), d(x * x * x).as("dx3"))
        .select(col("l_returnflag"), col("n"),
          round(m, 6).as("mean_qty"),
          round(varPop, 6).as("var_qty"),
          round((col("dx3") / n - lit(3.0) * m * (col("dx2") / n) + lit(2.0) * m * m * m)
            / (varPop * sqrt(varPop)), 6).as("skew_qty"))
        .orderBy(col("l_returnflag"))
    },
    // set op + subquery shape: customers with above-average balance per nation
    "q_above_avg_customers" -> { (s, dir) =>
      val c = customer(s, dir)
      val natAvg = c.groupBy(col("c_nationkey").as("nk"))
        .agg(avg(col("c_acctbal")).as("nation_avg"))
      c.join(broadcast(natAvg), c("c_nationkey") === natAvg("nk"))
        .filter(col("c_acctbal") > col("nation_avg") * 1.5)
        .groupBy(col("c_nationkey").cast("long").as("nationkey"))
        .agg(count(lit(1)).as("n_rich"))
        .orderBy(col("nationkey"))
    },
    // RANGE-frame rolling window: per-customer trailing-30-day revenue at
    // each order. The frame is value-based (days), not row-based — peers
    // on the same day aggregate together regardless of row order, so the
    // result is deterministic under any partitioning. Spark's
    // rangeBetween needs a numeric sort key → days-since-epoch; revenue
    // sums as DECIMAL (order-independent). The window shuffles once on
    // o_custkey; per-task state is one customer's orders.
    "q_rolling_revenue_30d" -> { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("day"))
        .rangeBetween(-29, 0)
      orders(s, dir)
        .filter(col("o_custkey") <= 150)
        .withColumn("day",
          datediff(col("o_orderdate"), lit("1970-01-01")).cast("long"))
        .withColumn("roll_rev_30d",
          sum(col("o_totalprice").cast("decimal(18,4)")).over(w).cast("double"))
        .select(col("o_custkey"), col("o_orderkey"), col("day"),
          col("roll_rev_30d"))
        .orderBy(col("o_custkey"), col("day"), col("o_orderkey"))
    },
    // TPC-H Q6: forecast revenue change — the pushdown benchmark. The
    // whole query is filter + one-row sum: every predicate reaches the
    // parquet scan (PushedFilters) and ReadSchema prunes to the four
    // referenced columns, so at 100 TB the scan row-group-skips on
    // l_shipdate statistics and never materializes the other columns.
    "q6_forecast_revenue" -> { (s, dir) =>
      lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,4)") *
            col("l_discount").cast("decimal(18,4)")), 2)
          .cast("double").as("revenue"))
    },
    // TPC-H Q7: volume shipped between two nations, by year. The nation
    // restriction is applied to the 2-row DIMS first and broadcast onto
    // supplier/customer BEFORE the fact joins — the literal TPC-H text
    // filters the OR-mirror after joining, which Catalyst cannot
    // decompose into per-side pushdowns; pre-restricting kills ~23/25 of
    // both dimension sides up front. With only two nations kept, the
    // mirror condition reduces to supp_nation != cust_nation.
    "q7_volume_shipping" -> { (s, dir) =>
      val picked = Seq("NATION_18", "NATION_19")
      val n1 = nation(s, dir).filter(col("n_name").isin(picked: _*))
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = nation(s, dir).filter(col("n_name").isin(picked: _*))
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      val l = lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      l.join(orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(revenueSum(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    },
    // TPC-H Q10: returned-item reporting — revenue lost to returns per
    // customer in one quarter, top 20. Orders prune on date and lineitem
    // on returnflag AT THE SCAN (both pushed), nation broadcasts, and
    // the final top-k is TakeOrderedAndProject — never a global sort.
    "q10_returned_items" -> { (s, dir) =>
      val o = orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      val l = lineitem(s, dir).filter(col("l_returnflag") === "R")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(revenueSum(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .select(col("c_custkey"), col("c_name"),
          round(col("c_acctbal"), 2).as("acctbal"), col("n_name"), col("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
    // TPC-H Q14: promo revenue share — conditional aggregation over a
    // broadcast part join; one fact-scan pass, one row out. Each sum is
    // rounded to money scale as DECIMAL before the double cast (the
    // [[revenueSum]] discipline — scale-8 decimal→double conversion can
    // differ by 1 ulp between engines past 2^53), so the ratio divides
    // two bit-deterministic doubles.
    "q14_promo_revenue" -> { (s, dir) =>
      val disc = col("l_extendedprice").cast("decimal(18,4)") *
        (lit(1).cast("decimal(18,4)") - col("l_discount").cast("decimal(18,4)"))
      lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-09-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-10-01").cast("timestamp"))
        .join(broadcast(part(s, dir)), col("l_partkey") === col("p_partkey"))
        .agg(round(
          lit(100.0) * round(sum(when(col("p_type") === "PROMO", disc)
            .otherwise(lit(0).cast("decimal(18,4)"))), 2).cast("double") /
            round(sum(disc), 2).cast("double"), 6).as("promo_revenue"))
    },
    // TPC-H Q15: top supplier — the per-supplier revenue aggregate is
    // computed ONCE (checkpointed at |suppliers| rows, the same
    // exchange-reuse-across-self-join-aliases limitation as
    // dedup_minhash_est), then its one-row max broadcasts back onto it:
    // the corpus-sized lineitem scan happens exactly once. Equality on
    // the pre-rounded decimal total makes the tie-safe argmax
    // deterministic in both engines.
    "q15_top_supplier" -> { (s, dir) =>
      val rev = lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(revenueSum(col("l_extendedprice"), col("l_discount"))
          .as("total_revenue"))
        .localCheckpoint(eager = false)
      val mx = rev.agg(max(col("total_revenue")).as("max_rev"))
      rev.join(broadcast(mx), col("total_revenue") === col("max_rev"))
        .join(supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy(col("s_suppkey"))
    },
    // TPC-H Q17: small-quantity-order revenue — SQL-first so the
    // correlated scalar subquery (per-part average quantity) exercises
    // Catalyst's DECORRELATION: the executed plan is one extra aggregate
    // over lineitem joined back on partkey, never a per-outer-row
    // re-execution (the plan gate pins no-CartesianProduct). The 0.2×
    // threshold compare is deterministic: quantities are integral, so
    // their sums (and hence avg) are exact doubles in both engines.
    "q17_small_qty_revenue" -> { (s, dir) =>
      lineitem(s, dir).createOrReplaceTempView("lineitem")
      part(s, dir).createOrReplaceTempView("part")
      s.sql("""
        SELECT ROUND(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2)
                 AS DOUBLE) / 7.0, 6) AS avg_yearly
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#13'
          AND l_quantity < (SELECT CAST(0.2 AS DOUBLE) * AVG(l2.l_quantity)
                            FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""")
    },
    // TPC-H Q18: large-volume customers. Unlike the literal TPC-H text
    // (IN-subquery plus a SECOND lineitem pass for the displayed sum),
    // the aggregate IS the driving table: group once, having-filter,
    // join the small survivor set to orders/customer — the corpus is
    // scanned exactly once and everything downstream of the filter is
    // match-level cardinality.
    "q18_large_volume" -> { (s, dir) =>
      val big = lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(dsum(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > 300)
      big.join(orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    },
    // TPC-H Q8: national market share — one nation's share of a region's
    // ECONOMY-part market, by year. The region restriction collapses to
    // a customer-key set via broadcast(nation⋈region) BEFORE the fact
    // joins (25-row dim chain, never a shuffle); the part filter prunes
    // at its scan and broadcasts; the supplier nation lookup broadcasts.
    // Share = two rounded decimal sums divided as exact doubles (the
    // [[revenueSum]] discipline), so the ratio is bit-deterministic.
    "q8_market_share" -> { (s, dir) =>
      val vol = col("l_extendedprice").cast("decimal(18,4)") *
        (lit(1).cast("decimal(18,4)") - col("l_discount").cast("decimal(18,4)"))
      val asiaCust = customer(s, dir)
        .join(broadcast(nation(s, dir)
            .join(region(s, dir).filter(col("r_name") === "ASIA"),
              col("n_regionkey") === col("r_regionkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"))
      val suppNat = nation(s, dir)
        .select(col("n_nationkey").as("sn_nk"), col("n_name").as("supp_nation"))
      lineitem(s, dir)
        .join(broadcast(part(s, dir).filter(col("p_type") === "ECONOMY")),
          col("l_partkey") === col("p_partkey"))
        .join(orders(s, dir)
            .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(asiaCust, col("o_custkey") === col("c_custkey"))
        .join(supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(suppNat), col("s_nationkey") === col("sn_nk"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(round(
          round(sum(when(col("supp_nation") === "NATION_7", vol)
            .otherwise(lit(0).cast("decimal(18,4)"))), 2).cast("double") /
            round(sum(vol), 2).cast("double"), 6).as("mkt_share"))
        .orderBy(col("o_year"))
    },
    // TPC-H Q12 (adapted: the testdata carries no shipmode/commitdate, so
    // "late" is ship-lag > 60 days after the order date): order-priority
    // mix by shipping punctuality. One fact join, conditional counts —
    // the severity×class matrix shape every SLA dashboard runs.
    "q12_ship_lag" -> { (s, dir) =>
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      lineitem(s, dir)
        .join(orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .groupBy(when(datediff(col("l_shipdate"), col("o_orderdate")) > 60,
          "late").otherwise("ontime").as("lag_class"))
        .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy(col("lag_class"))
    },
    // TPC-H Q13: customer order-count distribution. Reduce-before-join:
    // orders collapse to per-customer counts FIRST (the only corpus-sized
    // aggregation), then the count table left-joins onto customer so
    // zero-order customers surface as the c_count=0 bucket — the literal
    // TPC-H left join carries every order row through the join instead.
    "q13_customer_distribution" -> { (s, dir) =>
      val per = orders(s, dir)
        .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("cnt"))
      customer(s, dir)
        .join(per, col("c_custkey") === col("o_custkey"), "left")
        .select(coalesce(col("cnt"), lit(0L)).as("c_count"))
        .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
    // TPC-H Q19: discounted revenue under three OR'd brand/size/quantity
    // predicate groups — the disjunctive-pushdown benchmark. Catalyst's
    // BooleanSimplification + per-side predicate extraction must derive
    // scan-level filters from the cross-table OR (the plan gate pins
    // l_quantity bounds reaching the lineitem scan); part broadcasts.
    "q19_disjunctive_revenue" -> { (s, dir) =>
      lineitem(s, dir)
        .join(broadcast(part(s, dir)), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#21" && col("p_size").between(1, 25) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(1, 35) &&
            col("l_quantity").between(20, 30)))
        .agg(revenueSum(col("l_extendedprice"), col("l_discount"))
          .as("revenue"))
    },
    // TPC-H Q21 (adapted: "late" is ship-lag > 90 days — no receipt/
    // commit dates in the testdata): suppliers who were the SOLE late
    // supplier on a finished multi-supplier order. SQL-first so the
    // EXISTS / NOT EXISTS pair exercises Catalyst's subquery planning:
    // both rewrite to semi/anti self-joins on l_orderkey (never
    // per-outer-row re-execution; the gate pins semi+anti, no cartesian).
    "q21_waiting_suppliers" -> { (s, dir) =>
      lineitem(s, dir).createOrReplaceTempView("lineitem")
      orders(s, dir).createOrReplaceTempView("orders")
      supplier(s, dir).createOrReplaceTempView("supplier")
      s.sql("""
        SELECT s_name, COUNT(*) AS numwait
        FROM supplier
        JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        JOIN orders ON o_orderkey = l1.l_orderkey
        WHERE o_orderstatus = 'F'
          AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_shipdate > o3.o_orderdate + INTERVAL 90 DAY)
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 20""")
    },
    // TPC-H Q22 (adapted: nation stands in for the phone country code,
    // and "never ordered" becomes "no order since 1999" — every testdata
    // customer has SOME order, which Q22's 7-year-dormancy intent
    // anticipates): wealthy dormant customers, by nation. The global
    // positive-balance average is ONE broadcast row (sum-decimal /
    // count as a single exact-double division — bit-identical in both
    // engines, so the > threshold can't flip rows), then a NOT EXISTS
    // anti join — with the date filter pushed to the orders SCAN, not
    // the join — drops everyone recently active.
    "q22_sleeping_customers" -> { (s, dir) =>
      val c = customer(s, dir)
      val thr = c.filter(col("c_acctbal") > 0)
        .agg((dsum(col("c_acctbal")) / count(lit(1))).as("thr"))
      c.crossJoin(broadcast(thr))
        .filter(col("c_acctbal") > col("thr"))
        .join(orders(s, dir)
            .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey").cast("long").as("nationkey"))
        .agg(count(lit(1)).as("numcust"),
          dsum(col("c_acctbal")).as("totacctbal"))
        .orderBy(col("nationkey"))
    },
    // NOT IN with a nullable subquery — the classic three-valued-logic
    // trap: if the subquery ever yields a NULL, SQL says the whole NOT
    // IN is never true. Spark plans the single-column case as a
    // null-aware anti join (a broadcast hash anti join with the
    // one-extra-null check) instead of the quadratic
    // BroadcastNestedLoopJoin — the plan gate pins that. SQL-first so
    // the parser path (and DuckDB's identical semantics) is exercised.
    "q_not_in_nulls" -> { (s, dir) =>
      customer(s, dir).createOrReplaceTempView("customer")
      orders(s, dir).createOrReplaceTempView("orders")
      s.sql("""
        SELECT c_custkey, c_name
        FROM customer
        WHERE c_custkey NOT IN
          (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
        ORDER BY c_custkey""")
    },
    // Declarative data-quality suite (the Deequ shape): five scalar
    // constraints — uniqueness, completeness, positivity, date range,
    // status domain — evaluated in ONE aggregation over ONE orders scan
    // (stack unpivots the single report row), plus a referential-
    // integrity probe into customer as a left-anti join on the key.
    // The (check_name, violations, passed) report is what a pipeline
    // gates on before a training run; at 100 TB the scalar block is
    // still one scan + one 1-row exchange, and the FK check shuffles
    // only on the key.
    "quality_constraints" -> { (s, dir) =>
      qualityReport(orders(s, dir), customer(s, dir))
    },
    // 2-D skyline (Pareto frontier): the parts no other part beats on
    // BOTH axes — size (bigger better) and retail price (cheaper
    // better). The naive formulation is an all-pairs NOT EXISTS (the
    // oracle below, fine for DuckDB at test scale, quadratic death at
    // 100 TB). The streaming identity used here: a point is dominated
    // iff the cheapest price among STRICTLY larger sizes is <= its
    // price, or some same-size part is strictly cheaper. So: collapse
    // to one min-price row per distinct size (partial-aggregated, the
    // only corpus-sized pass), run a prefix-min over the size-sorted
    // group table (|distinct sizes| rows — window state is dimension-
    // sized, and a rows-frame ending at -1 gives exactly the
    // strictly-larger set because sizes are distinct after the
    // groupBy), and broadcast the enriched group table back onto the
    // scan. Survivors: price == own size's min (ties on both axes all
    // survive — domination needs a strict edge) and < every larger
    // size's min. Skylines are also distributive (skyline of local
    // skylines = global skyline), so at real scale the same plan runs
    // per-partition first; the group table here is already the
    // algebraic equivalent.
    "q_skyline" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("p_size").desc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val bySize = part(s, dir)
        .groupBy(col("p_size"))
        .agg(min(col("p_retailprice")).as("min_price"))
        .withColumn("best_larger", min(col("min_price")).over(w))
      part(s, dir)
        .join(broadcast(bySize), "p_size")
        .filter(col("p_retailprice") === col("min_price") &&
          (col("best_larger").isNull ||
            col("p_retailprice") < col("best_larger")))
        .select(col("p_partkey"), col("p_name"), col("p_size"),
          col("p_retailprice"))
        .orderBy(col("p_size").desc)
    })

  /** The constraint engine behind `quality_constraints`, factored so the
    * spec can run it against a planted-violation table. */
  def qualityReport(o: DataFrame, c: DataFrame): DataFrame = {
    val scalars = o.agg(
      (count(lit(1)) - countDistinct(col("o_orderkey")))
        .as("o_orderkey_unique"),
      sum(when(col("o_custkey").isNull, 1L).otherwise(0L))
        .as("o_custkey_complete"),
      sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L))
        .as("o_totalprice_positive"),
      sum(when(col("o_orderdate") < lit("1990-01-01").cast("timestamp") ||
        col("o_orderdate") >= lit("2002-01-01").cast("timestamp"), 1L)
        .otherwise(0L)).as("o_orderdate_in_range"),
      sum(when(!col("o_orderstatus").isin("F", "O", "P"), 1L).otherwise(0L))
        .as("o_orderstatus_domain"))
      .select(expr("""stack(5,
        'o_orderkey_unique', o_orderkey_unique,
        'o_custkey_complete', o_custkey_complete,
        'o_totalprice_positive', o_totalprice_positive,
        'o_orderdate_in_range', o_orderdate_in_range,
        'o_orderstatus_domain', o_orderstatus_domain)
        as (check_name, violations)"""))
    // nulls are the completeness constraint's finding, not a dangling
    // key: a null never matches, so an unfiltered anti join would
    // double-count it here
    val fk = o.filter(col("o_custkey").isNotNull)
      .join(c.select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("violations"))
      .select(lit("o_custkey_fk_customer").as("check_name"),
        col("violations"))
    scalars.unionByName(fk)
      .withColumn("passed", col("violations") === 0)
      .orderBy(col("check_name"))
  }

  /** One unrolled [[GraphOps.pagerank]] power iteration (oracle replay):
    * reads CTE `prev`, emits CTE `out`. Literals mirror the Scala side
    * exactly (see pagerank's Scaladoc on literal-parse parity). */
  /** The graph_pagerank oracle, shared verbatim by graph_pagerank_stored:
    * both replay the purchase-graph build + 3 unrolled iterations from
    * the parquet tables, so a hash match on the stored twin proves the
    * graft-store round-trip changed nothing. */
  private def pagerankOracle: String =
    s"""WITH pairs AS (
       |  SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS c,
       |                  's:' || CAST(l_suppkey AS VARCHAR) AS s
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |edges AS (SELECT c AS src, s AS dst FROM pairs
       |          UNION ALL SELECT s AS src, c AS dst FROM pairs),
       |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
       |n AS (SELECT COUNT(DISTINCT src) AS n FROM edges),
       |r0 AS (SELECT DISTINCT src AS node,
       |         ROUND(CAST(1.0 AS DOUBLE) / (SELECT n FROM n), 12) AS rank
       |       FROM edges),
       |${prIterSql("r0", "r1")},
       |${prIterSql("r1", "r2")},
       |${prIterSql("r2", "r3")}
       |SELECT node, rank FROM r3
       |ORDER BY rank DESC, node
       |LIMIT 20""".stripMargin

  private def prIterSql(prev: String, out: String): String =
    s"""$out AS (
       |  SELECT e.dst AS node,
       |    ROUND(CAST(0.15 AS DOUBLE) / (SELECT n FROM n)
       |      + CAST(0.85 AS DOUBLE) * SUM(r.rank / d.deg), 12) AS rank
       |  FROM edges e JOIN $prev r ON e.src = r.node JOIN deg d ON e.src = d.src
       |  GROUP BY e.dst)""".stripMargin

  /** Personalized variant: teleport mass goes to the seed node only. */
  private def pprIterSql(prev: String, out: String): String =
    s"""$out AS (
       |  SELECT e.dst AS node,
       |    ROUND(CASE WHEN e.dst = (SELECT sn FROM sd)
       |               THEN CAST(0.15 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END
       |      + CAST(0.85 AS DOUBLE) * SUM(r.rank / d.deg), 12) AS rank
       |  FROM edges e JOIN $prev r ON e.src = r.node JOIN deg d ON e.src = d.src
       |  GROUP BY e.dst)""".stripMargin

  private val baseOracles: Map[String, String] = Map(
    // Deliberately the quadratic textbook form — an independent
    // derivation of the same frontier the windowed plan computes.
    "q_skyline" ->
      """SELECT p1.p_partkey, p1.p_name, p1.p_size, p1.p_retailprice
        |FROM part p1
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part p2
        |  WHERE p2.p_size >= p1.p_size
        |    AND p2.p_retailprice <= p1.p_retailprice
        |    AND (p2.p_size > p1.p_size
        |         OR p2.p_retailprice < p1.p_retailprice))
        |ORDER BY p1.p_size DESC""".stripMargin,
    "q_spatial_join" ->
      """WITH c AS (
        |  SELECT c_custkey AS ck,
        |    CAST(c_custkey * 7919 % 2000 AS DOUBLE) / 100.0 - 10.0 AS clat,
        |    CAST(c_custkey * 104729 % 2000 AS DOUBLE) / 100.0 - 10.0 AS clon
        |  FROM customer),
        |s AS (
        |  SELECT s_suppkey AS sk,
        |    CAST((s_suppkey * 13 + 7) * 7919 % 2000 AS DOUBLE) / 100.0 - 10.0 AS slat,
        |    CAST((s_suppkey * 13 + 7) * 104729 % 2000 AS DOUBLE) / 100.0 - 10.0 AS slon
        |  FROM supplier)
        |SELECT ck, sk,
        |  ROUND((clat - slat) * (clat - slat)
        |    + (clon - slon) * (clon - slon), 6) AS dist2_deg
        |FROM c, s
        |WHERE (clat - slat) * (clat - slat)
        |    + (clon - slon) * (clon - slon) <= 0.04
        |ORDER BY ck, sk""".stripMargin,
    "q_window_family" ->
      """SELECT s_nationkey, s_suppkey, s_acctbal,
        |  CAST(NTILE(4) OVER w AS BIGINT) AS tier,
        |  ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
        |  ROUND(CUME_DIST() OVER w, 6) AS cume,
        |  LEAD(s_suppkey, 1) OVER w AS next_supp,
        |  FIRST_VALUE(s_suppkey) OVER w AS poorest,
        |  NTH_VALUE(s_suppkey, 2) OVER w AS second_poorest
        |FROM supplier
        |WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
        |ORDER BY s_nationkey, s_acctbal, s_suppkey""".stripMargin,
    "q_join_hints" ->
      """SELECT n_name, COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_balance
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,
    "q_mom_growth" ->
      """WITH m AS (
        |  SELECT CAST(date_trunc('month', CAST(o_orderdate AS TIMESTAMP)) AS DATE) AS month,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev,
        |    COUNT(*) AS n_orders
        |  FROM orders GROUP BY 1),
        |g AS (
        |  SELECT month, n_orders, rev,
        |    LAG(rev) OVER (ORDER BY month) AS prev
        |  FROM m)
        |SELECT month, CAST(n_orders AS BIGINT) AS n_orders,
        |  CAST(rev AS DOUBLE) AS revenue,
        |  ROUND(CAST(rev - prev AS DOUBLE) / CAST(prev AS DOUBLE), 6) AS mom_growth
        |FROM g
        |ORDER BY month""".stripMargin,
    "q_quantile_sketch" ->
      """SELECT l_returnflag,
        |  CAST(unnest([0.25, 0.5, 0.75, 0.95]) AS DOUBLE) AS prob,
        |  ROUND(unnest(quantile_cont(l_quantity, [0.25, 0.5, 0.75, 0.95])), 6) AS q
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag, prob""".stripMargin,
    "q16_supplier_variety" ->
      """SELECT p_brand, p_type, p_size,
        |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#2' AND p_type <> 'ECONOMY'
        |  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "graph_kcore" -> {
      // 3 unrolled peel rounds: degree from the undirected expansion,
      // keep-set IN filters, per-round attrition as scalar subqueries.
      // MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, so the
      // scalar subqueries would each re-expand the whole peel chain
      // (multiplying the lineitem self-join ~27x — observed spilling
      // tens of GB to disk at sf0.1); materialization evaluates each
      // round exactly once.
      def peelStep(prev: String, r: Int): String =
        s"""und$r AS (SELECT pa AS n FROM $prev UNION ALL SELECT pb FROM $prev),
           |deg$r AS MATERIALIZED (SELECT n, COUNT(*) AS deg FROM und$r GROUP BY n),
           |keep$r AS (SELECT n FROM deg$r WHERE deg >= 2),
           |e${r + 1} AS MATERIALIZED (
           |  SELECT pa, pb FROM $prev
           |  WHERE pa IN (SELECT n FROM keep$r) AND pb IN (SELECT n FROM keep$r))""".stripMargin
      def statRow(r: Int): String =
        s"""SELECT CAST($r AS BIGINT) AS round,
           |  (SELECT COUNT(*) FROM deg${r - 1} WHERE deg < 2) AS n_removed,
           |  (SELECT COUNT(*) FROM (SELECT DISTINCT n FROM
           |    (SELECT pa AS n FROM e$r UNION ALL SELECT pb FROM e$r) u) d) AS nodes_left,
           |  (SELECT COUNT(*) FROM e$r) AS edges_left""".stripMargin
      s"""WITH $affinitySql,
         |e0 AS MATERIALIZED (SELECT pa, pb FROM edges),
         |${peelStep("e0", 0)},
         |${peelStep("e1", 1)},
         |${peelStep("e2", 2)}
         |${statRow(1)}
         |UNION ALL ${statRow(2)}
         |UNION ALL ${statRow(3)}
         |ORDER BY round""".stripMargin
    },
    "graph_triangles" ->
      s"""WITH $affinitySql,
        |tri AS (
        |  SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
        |  FROM edges e1
        |  JOIN edges e2 ON e1.pb = e2.pa
        |  JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb),
        |corners AS (
        |  SELECT a AS part FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri)
        |SELECT part, CAST(COUNT(*) AS BIGINT) AS tri_count
        |FROM corners GROUP BY part
        |ORDER BY tri_count DESC, part
        |LIMIT 20""".stripMargin,
    // deterministic synchronous LPA, 3 unrolled rounds: neighbor-mode
    // argmax replayed as ROW_NUMBER (count DESC, label ASC)
    "graph_communities" -> {
      def lpaStep(prev: String, next: String): String =
        s"""$next AS (
           |  SELECT u AS node, label FROM (
           |    SELECT e.u, l.label,
           |      ROW_NUMBER() OVER (PARTITION BY e.u
           |        ORDER BY COUNT(*) DESC, l.label) AS rn
           |    FROM sym e JOIN $prev l ON e.v = l.node
           |    GROUP BY e.u, l.label) t
           |  WHERE rn = 1)""".stripMargin
      s"""WITH $affinitySql,
         |sym AS (
         |  SELECT pa AS u, pb AS v FROM edges
         |  UNION ALL SELECT pb AS u, pa AS v FROM edges),
         |l0 AS (SELECT DISTINCT u AS node, u AS label FROM sym),
         |${lpaStep("l0", "l1")},
         |${lpaStep("l1", "l2")},
         |${lpaStep("l2", "l3")}
         |SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS size
         |FROM l3
         |GROUP BY label
         |ORDER BY size DESC, community
         |LIMIT 20""".stripMargin
    },
    "graph_ppr" ->
      s"""WITH pairs AS (
         |  SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS c,
         |                  's:' || CAST(l_suppkey AS VARCHAR) AS s
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |edges AS (SELECT c AS src, s AS dst FROM pairs
         |          UNION ALL SELECT s AS src, c AS dst FROM pairs),
         |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
         |sd AS (SELECT MIN(src) AS sn FROM edges WHERE src LIKE 's:%'),
         |r0 AS (SELECT DISTINCT src AS node,
         |         CASE WHEN src = (SELECT sn FROM sd)
         |              THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS rank
         |       FROM edges),
         |${pprIterSql("r0", "r1")},
         |${pprIterSql("r1", "r2")},
         |${pprIterSql("r2", "r3")}
         |SELECT node, rank FROM r3
         |ORDER BY rank DESC, node
         |LIMIT 20""".stripMargin,
    "graph_modularity" -> {
      def lpaStep(prev: String, next: String): String =
        s"""$next AS (
           |  SELECT u AS node, label FROM (
           |    SELECT e.u, l.label,
           |      ROW_NUMBER() OVER (PARTITION BY e.u
           |        ORDER BY COUNT(*) DESC, l.label) AS rn
           |    FROM sym e JOIN $prev l ON e.v = l.node
           |    GROUP BY e.u, l.label) t
           |  WHERE rn = 1)""".stripMargin
      s"""WITH $affinitySql,
         |sym AS (
         |  SELECT pa AS u, pb AS v FROM edges
         |  UNION ALL SELECT pb AS u, pa AS v FROM edges),
         |l0 AS (SELECT DISTINCT u AS node, u AS label FROM sym),
         |${lpaStep("l0", "l1")},
         |${lpaStep("l1", "l2")},
         |${lpaStep("l2", "l3")},
         |m AS (SELECT COUNT(*) AS m FROM edges),
         |ein AS (
         |  SELECT la.label AS community, COUNT(*) AS e_in
         |  FROM edges e
         |  JOIN l3 la ON e.pa = la.node
         |  JOIN l3 lb ON e.pb = lb.node
         |  WHERE la.label = lb.label
         |  GROUP BY 1),
         |deg AS (SELECT u, COUNT(*) AS deg FROM sym GROUP BY u),
         |dc AS (
         |  SELECT l.label AS community, SUM(d.deg) AS d_c
         |  FROM deg d JOIN l3 l ON d.u = l.node
         |  GROUP BY 1),
         |sz AS (SELECT label AS community, COUNT(*) AS size FROM l3 GROUP BY 1)
         |SELECT sz.community, CAST(sz.size AS BIGINT) AS size,
         |  CAST(COALESCE(ein.e_in, 0) AS BIGINT) AS e_in,
         |  CAST(dc.d_c AS BIGINT) AS d_c,
         |  ROUND(CAST(COALESCE(ein.e_in, 0) AS DOUBLE) / (SELECT m FROM m)
         |    - (CAST(dc.d_c AS DOUBLE) / (2 * (SELECT m FROM m)))
         |      * (CAST(dc.d_c AS DOUBLE) / (2 * (SELECT m FROM m))), 6)
         |    + 0.0 AS q_c
         |FROM sz
         |JOIN dc ON dc.community = sz.community
         |LEFT JOIN ein ON ein.community = sz.community
         |ORDER BY size DESC, sz.community
         |LIMIT 20""".stripMargin
    },
    "q_moments_qty" ->
      """WITH a AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,4))), 4) AS DOUBLE) AS dx,
        |    CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,4))
        |                   * CAST(l_quantity AS DECIMAL(12,4))), 4) AS DOUBLE) AS dx2,
        |    CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,4))
        |                   * CAST(l_quantity AS DECIMAL(12,4))
        |                   * CAST(l_quantity AS DECIMAL(12,4))), 4) AS DOUBLE) AS dx3
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, n,
        |  ROUND(dx / CAST(n AS DOUBLE), 6) AS mean_qty,
        |  ROUND(dx2 / CAST(n AS DOUBLE)
        |    - (dx / CAST(n AS DOUBLE)) * (dx / CAST(n AS DOUBLE)), 6) AS var_qty,
        |  ROUND((dx3 / CAST(n AS DOUBLE)
        |      - 3.0 * (dx / CAST(n AS DOUBLE)) * (dx2 / CAST(n AS DOUBLE))
        |      + 2.0 * (dx / CAST(n AS DOUBLE)) * (dx / CAST(n AS DOUBLE)) * (dx / CAST(n AS DOUBLE)))
        |    / ((dx2 / CAST(n AS DOUBLE) - (dx / CAST(n AS DOUBLE)) * (dx / CAST(n AS DOUBLE)))
        |       * sqrt(dx2 / CAST(n AS DOUBLE) - (dx / CAST(n AS DOUBLE)) * (dx / CAST(n AS DOUBLE)))), 6) AS skew_qty
        |FROM a
        |ORDER BY l_returnflag""".stripMargin,
    "q_corr_qty_disc" ->
      """WITH a AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 4) AS DOUBLE) AS dx,
        |    CAST(ROUND(SUM(CAST(l_discount AS DECIMAL(18,4))), 4) AS DOUBLE) AS dy,
        |    CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))
        |                   * CAST(l_discount AS DECIMAL(18,4))), 4) AS DOUBLE) AS dxy,
        |    CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))
        |                   * CAST(l_quantity AS DECIMAL(18,4))), 4) AS DOUBLE) AS dx2,
        |    CAST(ROUND(SUM(CAST(l_discount AS DECIMAL(18,4))
        |                   * CAST(l_discount AS DECIMAL(18,4))), 4) AS DOUBLE) AS dy2
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, n,
        |  ROUND((CAST(n AS DOUBLE) * dxy - dx * dy) /
        |    sqrt((CAST(n AS DOUBLE) * dx2 - dx * dx) *
        |         (CAST(n AS DOUBLE) * dy2 - dy * dy)), 6) AS corr_qd
        |FROM a
        |ORDER BY l_returnflag""".stripMargin,
    "graph_assortativity" ->
      s"""WITH $affinitySql,
         |sym AS (
         |  SELECT pa AS u, pb AS v FROM edges
         |  UNION ALL SELECT pb AS u, pa AS v FROM edges),
         |deg AS (SELECT u, COUNT(*) AS deg FROM sym GROUP BY u),
         |p AS (
         |  SELECT CAST(du.deg AS DECIMAL(18,4)) AS x,
         |         CAST(dv.deg AS DECIMAL(18,4)) AS y
         |  FROM sym JOIN deg du ON sym.u = du.u JOIN deg dv ON sym.v = dv.u),
         |a AS (
         |  SELECT COUNT(*) AS n,
         |    CAST(ROUND(SUM(x), 4) AS DOUBLE) AS dx,
         |    CAST(ROUND(SUM(y), 4) AS DOUBLE) AS dy,
         |    CAST(ROUND(SUM(x * y), 4) AS DOUBLE) AS dxy,
         |    CAST(ROUND(SUM(x * x), 4) AS DOUBLE) AS dx2,
         |    CAST(ROUND(SUM(y * y), 4) AS DOUBLE) AS dy2
         |  FROM p)
         |SELECT n,
         |  ROUND((CAST(n AS DOUBLE) * dxy - dx * dy) /
         |    sqrt((CAST(n AS DOUBLE) * dx2 - dx * dx) *
         |         (CAST(n AS DOUBLE) * dy2 - dy * dy)), 6) AS assortativity
         |FROM a""".stripMargin,
    "graph_degree_stats" ->
      s"""WITH $affinitySql,
         |deg AS (
         |  SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
         |  FROM (SELECT pa AS node FROM edges
         |        UNION ALL SELECT pb AS node FROM edges)
         |  GROUP BY node)
         |SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
         |FROM deg
         |GROUP BY degree
         |ORDER BY degree""".stripMargin,
    // bounded-walk recursive CTE; MIN(dist) per node == BFS distance
    "graph_bfs" ->
      s"""WITH RECURSIVE $affinitySql,
         |sym AS (
         |  SELECT pa AS u, pb AS v FROM edges
         |  UNION ALL SELECT pb AS u, pa AS v FROM edges),
         |walk(node, dist) AS (
         |  SELECT (SELECT u FROM (SELECT u, COUNT(*) AS deg FROM sym GROUP BY u)
         |          ORDER BY deg DESC, u LIMIT 1), 0
         |  UNION ALL
         |  SELECT e.v, w.dist + 1
         |  FROM walk w JOIN sym e ON e.u = w.node
         |  WHERE w.dist < 3),
         |md AS (SELECT node, MIN(dist) AS dist FROM walk GROUP BY node)
         |SELECT CAST(dist AS BIGINT) AS dist,
         |  CAST(COUNT(*) AS BIGINT) AS n_nodes,
         |  MIN(node) AS min_node, MAX(node) AS max_node
         |FROM md
         |GROUP BY dist
         |ORDER BY dist""".stripMargin,
    "graph_link_predict" ->
      s"""WITH $affinitySql,
         |sym AS (
         |  SELECT pa AS u, pb AS v FROM edges
         |  UNION ALL SELECT pb AS u, pa AS v FROM edges),
         |deg AS (SELECT u, COUNT(*) AS deg FROM sym GROUP BY u),
         |wedges AS (
         |  SELECT n1.v AS a, n2.v AS c, COUNT(*) AS common
         |  FROM sym n1 JOIN sym n2 ON n1.u = n2.u AND n1.v < n2.v
         |  GROUP BY 1, 2),
         |cand AS (
         |  SELECT a, c, common FROM wedges w
         |  WHERE NOT EXISTS (SELECT 1 FROM edges e
         |                    WHERE e.pa = w.a AND e.pb = w.c))
         |SELECT a, c, CAST(common AS BIGINT) AS common,
         |  ROUND(CAST(common AS DOUBLE) / (da.deg + dc.deg - common), 6) AS jaccard
         |FROM cand
         |JOIN deg da ON da.u = a
         |JOIN deg dc ON dc.u = c
         |ORDER BY jaccard DESC, a, c
         |LIMIT 20""".stripMargin,
    "graph_label_prop" ->
      """WITH e AS (
        |  SELECT o.o_custkey AS c, l.l_suppkey AS sk,
        |    SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS w
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |  GROUP BY 1, 2),
        |votes AS (
        |  SELECT e.c, sup.s_nationkey AS lbl, SUM(e.w) AS w
        |  FROM e JOIN supplier sup ON e.sk = sup.s_suppkey
        |  GROUP BY 1, 2),
        |pred AS (
        |  SELECT c, lbl,
        |    ROW_NUMBER() OVER (PARTITION BY c ORDER BY w DESC, lbl) AS rk
        |  FROM votes)
        |SELECT n.n_name AS nation, COUNT(*) AS n_customers,
        |  CAST(SUM(CASE WHEN p.lbl = cu.c_nationkey THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_match
        |FROM pred p
        |JOIN customer cu ON p.c = cu.c_custkey
        |JOIN nation n ON p.lbl = n.n_nationkey
        |WHERE p.rk = 1
        |GROUP BY 1
        |ORDER BY nation""".stripMargin,
    "graph_node2vec_trans" ->
      s"""WITH $affinitySql,
         |sym AS (
         |  SELECT pa AS u, pb AS v FROM edges
         |  UNION ALL SELECT pb AS u, pa AS v FROM edges),
         |wedge AS (
         |  SELECT e1.u AS prev, e1.v AS cur, e2.v AS next
         |  FROM sym e1 JOIN sym e2 ON e1.v = e2.u),
         |biased AS (
         |  SELECT w.prev, w.cur, w.next,
         |    CASE WHEN w.next = w.prev THEN CAST(0.25 AS DOUBLE)
         |         WHEN a.u IS NOT NULL THEN CAST(1.0 AS DOUBLE)
         |         ELSE CAST(4.0 AS DOUBLE) END AS alpha,
         |    CASE WHEN w.next = w.prev THEN 'return'
         |         WHEN a.u IS NOT NULL THEN 'common'
         |         ELSE 'explore' END AS step_type
         |  FROM wedge w
         |  LEFT JOIN sym a ON a.u = w.prev AND a.v = w.next),
         |probs AS (
         |  SELECT step_type,
         |    ROUND(alpha / SUM(alpha) OVER (PARTITION BY prev, cur), 6)
         |      AS prob
         |  FROM biased)
         |SELECT step_type, COUNT(*) AS n,
         |  ROUND(CAST(SUM(CAST(ROUND(prob, 10) AS DECIMAL(28,10)))
         |    AS DOUBLE) / COUNT(*), 6) AS avg_prob,
         |  ROUND(MIN(prob), 6) AS min_prob,
         |  ROUND(MAX(prob), 6) AS max_prob
         |FROM probs
         |GROUP BY step_type
         |ORDER BY step_type""".stripMargin,
    "graph_squares" ->
      s"""WITH $affinitySql,
         |sym AS MATERIALIZED (
         |  SELECT pa AS u, pb AS v FROM edges
         |  UNION ALL SELECT pb AS u, pa AS v FROM edges),
         |deg AS (SELECT u, COUNT(*) AS d FROM sym GROUP BY u),
         |w AS (
         |  SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges,
         |    COUNT(*) AS n_nodes
         |  FROM deg),
         |cn AS (
         |  SELECT s1.u AS a, s2.v AS c, COUNT(*) AS cnt
         |  FROM sym s1 JOIN sym s2 ON s2.u = s1.v
         |  WHERE s1.u < s2.v
         |  GROUP BY s1.u, s2.v),
         |sq AS (
         |  SELECT COUNT(*) AS n_copath_pairs,
         |    CAST(SUM(cnt * (cnt - 1) // 2) // 2 AS BIGINT) AS n_squares
         |  FROM cn),
         |ne AS (SELECT COUNT(*) AS n_edges FROM edges)
         |SELECT n_nodes, n_edges, n_wedges, n_copath_pairs, n_squares
         |FROM w, ne, sq""".stripMargin,
    "graph_spectral_cut" -> {
      val iters = (1 to SpectralIters).map { i =>
        val p = i - 1
        s"""c$i AS (
           |  SELECT ROUND(
           |    CAST(SUM(CAST(x AS DECIMAL(18,10)) * CAST(sv AS DECIMAL(18,10)))
           |        AS DOUBLE)
           |    / CAST(SUM(CAST(sv AS DECIMAL(18,10)) * CAST(sv AS DECIMAL(18,10)))
           |        AS DOUBLE), 10) AS c
           |  FROM x$p),
           |d$i AS MATERIALIZED (
           |  SELECT v, sv, ROUND(ROUND(x - c * sv, 10) / sv, 10) AS z
           |  FROM x$p, c$i),
           |zs$i AS (
           |  SELECT s.v AS v,
           |    SUM(CAST(ROUND(d.z, 10) AS DECIMAL(28,10))) AS zs
           |  FROM sym s JOIN d$i d ON d.v = s.u
           |  GROUP BY s.v),
           |y$i AS MATERIALIZED (
           |  SELECT d.v, d.sv, ROUND(CAST(z.zs AS DOUBLE) / d.sv, 10) AS y
           |  FROM d$i d JOIN zs$i z ON z.v = d.v),
           |n$i AS (
           |  SELECT ROUND(sqrt(CAST(SUM(CAST(y AS DECIMAL(18,10))
           |    * CAST(y AS DECIMAL(18,10))) AS DOUBLE)), 10) AS nr
           |  FROM y$i),
           |x$i AS MATERIALIZED (
           |  SELECT v, sv, ROUND(y / nr, 10) AS x FROM y$i, n$i)""".stripMargin
      }
      val K = SpectralIters
      s"""WITH $affinitySql,
         |edges2 AS MATERIALIZED (SELECT pa, pb FROM edges),
         |sym AS MATERIALIZED (
         |  SELECT pa AS u, pb AS v FROM edges2
         |  UNION ALL SELECT pb AS u, pa AS v FROM edges2),
         |nodes AS (
         |  SELECT u AS v, ROUND(sqrt(COUNT(*)), 10) AS sv
         |  FROM sym GROUP BY u),
         |x0 AS (
         |  SELECT v, sv, ROUND(CAST(v % 7 - 3 AS DOUBLE), 10) AS x
         |  FROM nodes),
         |${iters.mkString(",\n")},
         |zf AS (SELECT v, sv, x, ROUND(x / sv, 10) AS z FROM x$K),
         |zsf AS (
         |  SELECT s.v AS v,
         |    SUM(CAST(ROUND(zf.z, 10) AS DECIMAL(28,10))) AS zs
         |  FROM sym s JOIN zf ON zf.v = s.u
         |  GROUP BY s.v),
         |lam AS (
         |  SELECT ROUND(CAST(SUM(CAST(x.x AS DECIMAL(18,10))
         |    * CAST(ROUND(CAST(z.zs AS DOUBLE) / x.sv, 10) AS DECIMAL(18,10)))
         |    AS DOUBLE), 6) AS lambda2
         |  FROM x$K x JOIN zsf z ON z.v = x.v),
         |sg AS MATERIALIZED (SELECT v, (x < 0) AS neg FROM x$K),
         |cut AS (
         |  SELECT COUNT(*) AS n_edges,
         |    CAST(SUM(CASE WHEN a.neg <> b.neg THEN 1 ELSE 0 END) AS BIGINT)
         |      AS cut_edges
         |  FROM edges2 e
         |  JOIN sg a ON a.v = e.pa
         |  JOIN sg b ON b.v = e.pb),
         |sz AS (
         |  SELECT COUNT(*) AS n_nodes,
         |    CAST(SUM(CASE WHEN neg THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
         |  FROM sg)
         |SELECT n_nodes, n_neg, n_edges, cut_edges, lambda2
         |FROM sz, cut, lam""".stripMargin
    },
    "graph_hits" ->
      s"""WITH $affinitySql,
         |a1 AS (
         |  SELECT pb AS v, COUNT(*) AS a1 FROM edges GROUP BY pb),
         |h1 AS (
         |  SELECT e.pa AS u, CAST(SUM(a1.a1) AS BIGINT) AS h1
         |  FROM edges e JOIN a1 ON a1.v = e.pb GROUP BY e.pa),
         |a2 AS (
         |  SELECT e.pb AS v, CAST(SUM(h1.h1) AS BIGINT) AS a2
         |  FROM edges e JOIN h1 ON h1.u = e.pa GROUP BY e.pb),
         |h2 AS (
         |  SELECT e.pa AS u, CAST(SUM(a2.a2) AS BIGINT) AS h2
         |  FROM edges e JOIN a2 ON a2.v = e.pb GROUP BY e.pa)
         |SELECT a2.v AS node, a2.a2 AS authority,
         |  COALESCE(h2.h2, 0) AS hub
         |FROM a2 LEFT JOIN h2 ON h2.u = a2.v
         |ORDER BY authority DESC, node
         |LIMIT 10""".stripMargin,
    "q2_min_cost_supplier" ->
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey,
        |    MIN(ROUND(l_extendedprice / l_quantity, 4)) AS cost
        |  FROM lineitem GROUP BY 1, 2),
        |eligible AS (
        |  SELECT p_partkey, s_name, s_acctbal, n_name, cost
        |  FROM ps
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE p_type = 'SMALL' AND p_size <= 15 AND r_name = 'EUROPE')
        |SELECT s_acctbal, s_name, n_name, p_partkey, cost
        |FROM eligible e
        |WHERE cost = (SELECT MIN(cost) FROM eligible e2
        |              WHERE e2.p_partkey = e.p_partkey)
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin,
    "q9_product_profit" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(ROUND(SUM(
        |    CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))
        |    - CAST(0.1 AS DECIMAL(3,1)) * CAST(p_retailprice AS DECIMAL(8,4)) * CAST(l_quantity AS DECIMAL(8,4))
        |  ), 2) AS DOUBLE) AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%gear%'
        |GROUP BY 1, 2
        |ORDER BY nation, o_year DESC""".stripMargin,
    "q11_important_stock" ->
      """WITH val AS (
        |  SELECT l_partkey,
        |    SUM(CAST(l_quantity AS DECIMAL(18,4)) * CAST(p_retailprice AS DECIMAL(18,4))) AS v
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  JOIN part ON l_partkey = p_partkey
        |  WHERE r_name = 'ASIA'
        |  GROUP BY 1)
        |SELECT l_partkey AS p_partkey, CAST(ROUND(v, 2) AS DOUBLE) AS stock_value
        |FROM val
        |WHERE v * (SELECT COUNT(*) FROM val) > 2 * (SELECT SUM(v) FROM val)
        |ORDER BY stock_value DESC, p_partkey""".stripMargin,
    "q20_potential_promotion" ->
      """WITH pairqty AS (
        |  SELECT l_suppkey, l_partkey,
        |    SUM(CAST(l_quantity AS DECIMAL(18,4))) AS total_qty,
        |    SUM(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
        |               AND l_shipdate < TIMESTAMP '1998-01-01'
        |         THEN CAST(l_quantity AS DECIMAL(18,4))
        |         ELSE CAST(0 AS DECIMAL(18,4)) END) AS qty97
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE 'small%'
        |  GROUP BY 1, 2)
        |SELECT s_name, s_acctbal
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'AMERICA'
        |  AND EXISTS (SELECT 1 FROM pairqty
        |              WHERE l_suppkey = s_suppkey
        |                AND qty97 > 0 AND total_qty > 2 * qty97)
        |ORDER BY s_name""".stripMargin,
    "graph_pagerank" -> pagerankOracle,
    // The stored twin replays the SAME oracle from the parquet tables:
    // the graft-store hop must be invisible to the result hash.
    "graph_pagerank_stored" -> pagerankOracle,
    "q_rolling_revenue_30d" ->
      """SELECT o_custkey, o_orderkey, day,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
        |    PARTITION BY o_custkey ORDER BY day
        |    RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS DOUBLE) AS roll_rev_30d
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |        date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day
        |      FROM orders WHERE o_custkey <= 150)
        |ORDER BY o_custkey, day, o_orderkey""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS sum_disc_price,
        |  ROUND(AVG(l_quantity), 6) AS avg_qty,
        |  ROUND(AVG(l_discount), 6) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1999-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,
    "q5_nation_revenue" ->
      """SELECT n_name,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE c_nationkey = s_nationkey AND r_name = 'EUROPE'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,
    "q4_order_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "profile_orders" -> {
      def one(c: String) =
        s"""SELECT '$c' AS col_name, COUNT($c) AS n_nonnull,
           |  COUNT(DISTINCT $c) AS n_distinct,
           |  CAST(MIN($c) AS VARCHAR) AS min_v, CAST(MAX($c) AS VARCHAR) AS max_v
           |FROM orders""".stripMargin
      Seq("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")
        .map(one).mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },
    "q_lateral_topn" ->
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        |FROM customer c JOIN LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o ON true
        |ORDER BY c.c_custkey, o.o_orderkey""".stripMargin,
    "q_fullouter_balance" ->
      """WITH c AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nationkey, COUNT(*) AS n_cust,
        |    CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS cust_bal
        |  FROM customer WHERE c_acctbal > 9900 GROUP BY 1),
        |s AS (
        |  SELECT CAST(s_nationkey AS BIGINT) AS nationkey, COUNT(*) AS n_supp,
        |    CAST(SUM(CAST(s_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS supp_bal
        |  FROM supplier WHERE s_acctbal > 9000 GROUP BY 1)
        |SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
        |  COALESCE(n_cust, 0) AS n_cust, COALESCE(cust_bal, 0.0) AS cust_bal,
        |  COALESCE(n_supp, 0) AS n_supp, COALESCE(supp_bal, 0.0) AS supp_bal
        |FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
        |ORDER BY nationkey""".stripMargin,
    "q_top_customers_window" ->
      """SELECT c_mktsegment, rk, c_custkey, acctbal FROM (
        |  SELECT c_mktsegment, c_custkey, ROUND(c_acctbal, 2) AS acctbal,
        |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rk
        |  FROM customer) t
        |WHERE rk <= 3
        |ORDER BY c_mktsegment, rk""".stripMargin,
    "q_part_stats" ->
      """SELECT p_brand, COUNT(*) AS n_parts, COUNT(DISTINCT p_type) AS n_types,
        |  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
        |  CAST(MAX(p_size) AS BIGINT) AS max_size
        |FROM part
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin,
    "q_rollup_revenue" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
        |  COALESCE(l_linestatus, 'ALL') AS linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin,
    "q_grouping_sets" ->
      """SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
        |  COALESCE(o_orderstatus, 'ALL') AS status,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
        |ORDER BY priority, status""".stripMargin,
    "q_customers_no_orders" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
        |  COUNT(*) AS n_inactive,
        |  ROUND(AVG(c_acctbal), 4) AS avg_bal
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |GROUP BY CAST(c_nationkey AS BIGINT)
        |ORDER BY nationkey""".stripMargin,
    "q_customer_quartiles" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS nationkey, quartile, COUNT(*) AS n,
        |  ROUND(MIN(c_acctbal), 2) AS min_bal, ROUND(MAX(c_acctbal), 2) AS max_bal
        |FROM (
        |  SELECT c_nationkey, c_acctbal,
        |    CAST(NTILE(4) OVER (PARTITION BY c_nationkey
        |      ORDER BY c_acctbal, c_custkey) AS BIGINT) AS quartile
        |  FROM customer) t
        |GROUP BY CAST(c_nationkey AS BIGINT), quartile
        |ORDER BY nationkey, quartile""".stripMargin,
    "q_cube_revenue" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
        |  COALESCE(l_linestatus, 'ALL') AS linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin,
    "q_unpivot_balance" ->
      """WITH wide AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
        |    CAST(COUNT(*) AS DOUBLE) AS n_cust,
        |    ROUND(AVG(c_acctbal), 4) AS avg_bal,
        |    ROUND(MAX(c_acctbal), 4) AS max_bal
        |  FROM customer GROUP BY 1)
        |SELECT nationkey, metric, value
        |FROM wide
        |UNPIVOT (value FOR metric IN (n_cust, avg_bal, max_bal))
        |ORDER BY nationkey, metric""".stripMargin,
    "q_set_ops_all" ->
      """WITH k96 AS (SELECT o_custkey FROM orders
        |             WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'),
        |k97 AS (SELECT o_custkey FROM orders
        |        WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'),
        |u AS (
        |  SELECT 'intersect_all' AS op, o_custkey FROM (
        |    SELECT o_custkey FROM k96 INTERSECT ALL SELECT o_custkey FROM k97) t1
        |  UNION ALL
        |  SELECT 'except_all' AS op, o_custkey FROM (
        |    SELECT o_custkey FROM k96 EXCEPT ALL SELECT o_custkey FROM k97) t2)
        |SELECT op, COUNT(*) AS n_rows, COUNT(DISTINCT o_custkey) AS n_custs
        |FROM u GROUP BY op
        |ORDER BY op""".stripMargin,
    "q_set_ops" ->
      """WITH b96 AS (SELECT o_custkey FROM orders
        |             WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'),
        |b97 AS (SELECT o_custkey FROM orders
        |        WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'),
        |u AS (
        |  SELECT 'both' AS cohort, o_custkey FROM (SELECT o_custkey FROM b96 INTERSECT SELECT o_custkey FROM b97) t1
        |  UNION ALL
        |  SELECT 'only_1996' AS cohort, o_custkey FROM (SELECT o_custkey FROM b96 EXCEPT SELECT o_custkey FROM b97) t2
        |  UNION ALL
        |  SELECT 'only_1997' AS cohort, o_custkey FROM (SELECT o_custkey FROM b97 EXCEPT SELECT o_custkey FROM b96) t3)
        |SELECT cohort, COUNT(*) AS n_customers
        |FROM u
        |GROUP BY cohort
        |ORDER BY cohort""".stripMargin,
    "q_quantiles" ->
      """SELECT l_returnflag,
        |  ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
        |  ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS p75
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q_above_avg_customers" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS nationkey, COUNT(*) AS n_rich
        |FROM customer c
        |JOIN (SELECT c_nationkey AS nk, AVG(c_acctbal) AS nation_avg
        |      FROM customer GROUP BY c_nationkey) a ON c.c_nationkey = a.nk
        |WHERE c_acctbal > nation_avg * 1.5
        |GROUP BY CAST(c_nationkey AS BIGINT)
        |ORDER BY nationkey""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin,
    "q7_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE n1.n_name IN ('NATION_18', 'NATION_19')
        |  AND n2.n_name IN ('NATION_18', 'NATION_19')
        |  AND n1.n_name <> n2.n_name
        |  AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY n1.n_name, n2.n_name, CAST(year(l_shipdate) AS BIGINT)
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    "q10_returned_items" ->
      """SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS acctbal, n_name,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin,
    "q14_promo_revenue" ->
      """SELECT ROUND(100.0 * CAST(ROUND(SUM(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
        |    ELSE CAST(0 AS DECIMAL(18,4)) END), 2) AS DOUBLE)
        |  / CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE), 6) AS promo_revenue
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-09-01' AND l_shipdate < TIMESTAMP '1996-10-01'""".stripMargin,
    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,
    "q17_small_qty_revenue" ->
      """SELECT ROUND(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) / 7.0, 6) AS avg_yearly
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#13'
        |  AND l_quantity < (SELECT CAST(0.2 AS DOUBLE) * AVG(l2.l_quantity)
        |                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin,
    "q18_large_volume" ->
      """SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty
        |FROM (SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |      FROM lineitem GROUP BY l_orderkey
        |      HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 300) b
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 100""".stripMargin,
    "q8_market_share" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  ROUND(CAST(ROUND(SUM(CASE WHEN n2.n_name = 'NATION_7'
        |      THEN CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
        |      ELSE CAST(0 AS DECIMAL(18,4)) END), 2) AS DOUBLE)
        |    / CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE), 6) AS mkt_share
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN region ON n1.n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY CAST(year(o_orderdate) AS BIGINT)
        |ORDER BY o_year""".stripMargin,
    "q12_ship_lag" ->
      """SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 60
        |         THEN 'late' ELSE 'ontime' END AS lag_class,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1
        |ORDER BY lag_class""".stripMargin,
    "q13_customer_distribution" ->
      """SELECT c_count, COUNT(*) AS custdist
        |FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |      FROM customer
        |      LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |        AND o_orderpriority <> '4-NOT SPECIFIED'
        |      GROUP BY c_custkey) a
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q19_disjunctive_revenue" ->
      """SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#21' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q21_waiting_suppliers" ->
      """SELECT s_name, COUNT(*) AS numwait
        |FROM supplier
        |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |WHERE o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > o3.o_orderdate + INTERVAL 90 DAY)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 20""".stripMargin,
    "q22_sleeping_customers" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS nationkey, COUNT(*) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
        |FROM customer c
        |WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
        |                   FROM customer WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c.c_custkey
        |                  AND o_orderdate >= TIMESTAMP '1999-01-01')
        |GROUP BY c_nationkey
        |ORDER BY nationkey""".stripMargin,
    "q_not_in_nulls" ->
      """SELECT c_custkey, c_name
        |FROM customer
        |WHERE c_custkey NOT IN
        |  (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,
    "quality_constraints" ->
      """WITH s AS (SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) AS u,
        |  SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS c,
        |  SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS tp,
        |  SUM(CASE WHEN o_orderdate < TIMESTAMP '1990-01-01'
        |        OR o_orderdate >= TIMESTAMP '2002-01-01' THEN 1 ELSE 0 END) AS dr,
        |  SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END) AS dom
        |  FROM orders),
        |fk AS (SELECT COUNT(*) AS v FROM orders o
        |       WHERE o_custkey IS NOT NULL
        |         AND NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o.o_custkey))
        |SELECT check_name, CAST(violations AS BIGINT) AS violations,
        |  violations = 0 AS passed
        |FROM (SELECT 'o_orderkey_unique' AS check_name, u AS violations FROM s
        |      UNION ALL SELECT 'o_custkey_complete', c FROM s
        |      UNION ALL SELECT 'o_totalprice_positive', tp FROM s
        |      UNION ALL SELECT 'o_orderdate_in_range', dr FROM s
        |      UNION ALL SELECT 'o_orderstatus_domain', dom FROM s
        |      UNION ALL SELECT 'o_custkey_fk_customer', v FROM fk) t
        |ORDER BY check_name""".stripMargin)

  /** The graph stored twins replay their self-contained siblings'
    * oracles VERBATIM (the pagerankOracle precedent): the store hop —
    * write, manifest commit, snapshot-pinned read — must be invisible
    * to the result hash, and sharing the oracle string makes that the
    * thing the gate proves. affinity_edges_stored gets the raw
    * affinitySql replay: a hash match proves the write→read round trip
    * is lossless at the row level, not just under aggregation. */
  val oracles: Map[String, String] = baseOracles ++ Map(
    "graph_spectral_cut_stored" -> baseOracles("graph_spectral_cut"),
    "graph_modularity_stored" -> baseOracles("graph_modularity"),
    "graph_hits_stored" -> baseOracles("graph_hits"),
    "graph_triangles_stored" -> baseOracles("graph_triangles"),
    "graph_communities_stored" -> baseOracles("graph_communities"),
    "graph_ppr_stored" -> baseOracles("graph_ppr"),
    "affinity_edges_stored" ->
      s"""WITH $affinitySql
         |SELECT pa, pb FROM edges ORDER BY pa, pb""".stripMargin,
    // replays the purchase-pair derivation on raw parquet — a hash
    // match proves the store hop (write → commit → manifest-pinned
    // read) is lossless for the prgraph substrate the graph_*_stored
    // twins consume
    "graph_edges_stored" ->
      """WITH pairs AS (
        |  SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS c,
        |         's:' || CAST(l_suppkey AS VARCHAR) AS s
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |)
        |SELECT s, COUNT(*) AS n_customers FROM pairs GROUP BY s
        |ORDER BY n_customers DESC, s LIMIT 20""".stripMargin)
}

/** Deterministic MEAN for hash-gated outputs. Two failure modes bracket
  * the design: (a) `round(avg(doubles), 6)` — partial aggregates merge
  * in task-completion order, so the double sum varies run to run and a
  * 6dp boundary occasionally flips (observed: emb_kmeans, one full-run
  * flake); (b) summing 6dp-rounded decimals and dividing by a small
  * count makes .xxxxxx5 quotient ties SYSTEMATIC (~1/n of cells), and
  * Spark (exact-binary HALF_UP) vs DuckDB (scaled-double) disagree on
  * exact ties (observed: emb_label_centroids at sf0.1) — and the
  * per-element 6dp round itself ties across engines (observed: one
  * 1-micro element diff in an emb_kmeans cluster sum). The working
  * pattern: round ELEMENTS at 10dp (ties there are measure-zero for
  * data-derived values — the ml_psi_drift term discipline), sum as
  * exact DECIMAL(28,10) (order-independent), make ONE double division,
  * round the quotient to 6dp. DuckDB mirror:
  * `ROUND(CAST(SUM(CAST(ROUND(x, 10) AS DECIMAL(28,10))) AS DOUBLE)
  *    / n, 6)`. */
/** Tmp-dir graft-store roots for per-process materialized artifacts. */
private[operators] object StoreRoots {
  /** Per-process token for shared tmp store roots (r11 ADVICE): two
    * concurrent harness processes (bench + correctness, parallel CI)
    * must not race on one store directory, while within a process the
    * path must stay STABLE so a write-if-absent materializer actually
    * reuses its own snapshot. The pid is exactly that: fixed for the
    * session, distinct across processes. */
  private lazy val procToken: String = ProcessHandle.current().pid().toString

  /** Roots already handed out by THIS process — the first acquisition
    * of a root deletes any directory left by a previous process (pid
    * reuse against a stale /tmp, or a fixture regenerated under the
    * same dir name in a long-lived machine) so a materializer can never
    * serve another process's snapshot to a hash-gated query (r12
    * ADVICE). Within the process the root then stays stable, which is
    * what lets build-once/probe-many twins actually reuse it. */
  private val claimed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** `/tmp/graft-store-<kind>-<fixture>-p<pid>` — keyed by fixture dir
    * so sf0.001/0.01/0.1 runs never cross-read, and by process so
    * concurrent harnesses never cross-write. */
  def tmpRoot(kind: String, dir: String): String = {
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-store-$kind-${new java.io.File(dir).getName}-p$procToken")
      .getAbsolutePath
    if (claimed.add(root)) {
      val f = new java.io.File(root)
      if (f.exists()) {
        def rm(x: java.io.File): Unit = {
          Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(); ()
        }
        rm(f)
      }
    }
    root
  }

  /** Deletes the store at `root`, so the caller's writes start from an
    * empty store and its version numbers (1, 2, ...) stay deterministic
    * however often the query runs. */
  def reset(s: SparkSession, root: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
  }
}

private[graft] object DetMean {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._
  /** 10dp-exact element for the decimal sum. */
  def el10(x: Column): Column = round(x, 10).cast("decimal(28,10)")
  /** Final mean: exact decimal sum → one double division → 6dp. */
  def mean6(sum10: Column, n: Column): Column =
    round(sum10.cast("double") / n, 6)
  /** EXACT product of two 6dp values for moment sums: both factors hop
    * to DECIMAL(18,6) (a no-op round — the inputs are already 6dp) and
    * multiply in decimal domain to DECIMAL(37,12), so the product keeps
    * all 12 fractional digits. `el10(x*y)` — the r12 text_heaps_law
    * driver failure — rounds the 12-digit double product at 10dp, and a
    * digit-11 tie of exactly 5 rounds differently under Spark's
    * BigDecimal HALF_UP vs DuckDB's libm-domain round. No rounding at
    * all closes the class. DuckDB mirror:
    * `SUM(CAST(a AS DECIMAL(18,6)) * CAST(b AS DECIMAL(18,6)))`. */
  def prod12(a: Column, b: Column): Column =
    round(a, 6).cast("decimal(18,6)") * round(b, 6).cast("decimal(18,6)")
}

/** Table loaders (one parquet per table, TESTDATA.md). */
object Tables {
  def table(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")
  def lineitem(s: SparkSession, dir: String) = table(s, dir, "lineitem")
  def orders(s: SparkSession, dir: String) = table(s, dir, "orders")
  def customer(s: SparkSession, dir: String) = table(s, dir, "customer")
  def supplier(s: SparkSession, dir: String) = table(s, dir, "supplier")
  def part(s: SparkSession, dir: String) = table(s, dir, "part")
  def nation(s: SparkSession, dir: String) = table(s, dir, "nation")
  def region(s: SparkSession, dir: String) = table(s, dir, "region")
  /** The driver has shipped events.parquet with two physical encodings of
    * `ts` across fixture generations — TIMESTAMP(NANOS) (which Spark's
    * parquet reader rejects without the legacy `nanosAsLong` conf) and
    * plain timestamp[us] (which reads natively, as TIMESTAMP_NTZ when
    * isAdjustedToUTC=false). Dispatch on the schema the reader actually
    * produces instead of assuming either generation:
    *   - LongType (nanos-as-long path): integer-divide to micros — `div`,
    *     not `/`, because ns-epoch values exceed double's 53-bit mantissa.
    *   - TimestampNTZType: cast to TIMESTAMP. Sessions pin
    *     spark.sql.session.timeZone=UTC, so the cast is wall-clock
    *     identity and downstream window/unix_timestamp semantics match
    *     the oracle's naive-timestamp reads.
    *   - TimestampType: use as-is.
    *
    * Side effect, deliberate: `nanosAsLong` is a session conf (no per-read
    * option exists). It only affects columns physically typed
    * TIMESTAMP(NANOS), so setting it up-front is a no-op for micros
    * fixtures. All graft entry points (Verify/Bench/tests) use
    * short-lived single-purpose sessions. */
  def events(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, dir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(s: SparkSession, dir: String) = table(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String) = table(s, dir, "embeddings")
  /** The embedding corpus as (vec_id, v: array<double>). Each call builds
    * its own scan, so two reads in one query carry fresh expression ids
    * (a self-join of one scan can lose attribute references nested in a
    * lambda; see ann_ivf_probe). */
  private[operators] def vectors(s: SparkSession, dir: String): DataFrame =
    embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** Memoized corpus row count for the corpus-ADAPTIVE operators
    * (dedup_embedding_cos bit width, emb_outlier_knn cell count): those
    * queries need |corpus| at PLAN-construction time to size their LSH
    * width / IVF cells, which costs one driver-side count job per
    * DataFrame build — Verify/Bench construct plans repeatedly, so the
    * count is memoized per (fixture dir, table). The fixture parquet
    * dirs are immutable for a session's lifetime (driver contract), so
    * a cached count never goes stale; anything mutable (graft-store
    * paths) goes through its own snapshot machinery, not this. Bounded:
    * one Long per distinct (dir, table) ever touched. */
  private val countCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.Long]
  def memoCount(s: SparkSession, dir: String, name: String): Long =
    countCache.computeIfAbsent((dir, name), { k =>
      java.lang.Long.valueOf(table(s, k._1, k._2).count())
    }).longValue()

  /** Spread an under-split input to the session's shuffle parallelism
    * before a row-EXPLOSIVE stage (stride-1 grams, per-position shingle
    * keys): parquet splits by `maxPartitionBytes` of INPUT, so a small
    * text corpus in one file plans the whole ~40× gram explosion — and
    * the checkpoint/shuffle write it feeds — as ONE task (measured at
    * the sf0.8 twin: dedup_substring_cut's extraction serialized 440 s
    * on a single core while 31 sat idle). No-op whenever the scan
    * already carries at least the target parallelism — the real-cluster
    * case, where a 100 TB corpus arrives in thousands of splits and
    * re-shuffling raw text would cost a corpus-sized exchange for
    * nothing. When it does fire, the shuffled payload is the RAW text
    * (k× smaller than the gram stream whose extraction it unlocks),
    * hash-spread by the given keys (uniform ids beat round-robin: no
    * sort-before-repartition pass, deterministic placement). */
  def spread(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame = {
    // streaming inputs: .rdd would force batch execution (illegal on a
    // stream), and micro-batch sizing is the source's job — no-op
    if (df.isStreaming) return df
    val target = df.sparkSession.sessionState.conf.numShufflePartitions
    if (df.rdd.getNumPartitions >= target) df
    else if (keys.nonEmpty) df.repartition(target, keys: _*)
    else df.repartition(target)
  }
}
