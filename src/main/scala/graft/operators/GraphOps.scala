package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed graph primitives for dedup-cluster resolution.
  *
  * A near-dup pipeline does not end at candidate PAIRS: (a,b) and (b,c)
  * similar means {a,b,c} is one duplicate cluster, and the corpus keeps
  * exactly one canonical doc per cluster. That closure is connected
  * components over the pair graph.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) — each round
  * is two shuffles of the edge list (a groupBy-min and a join back), and
  * the edge set contracts toward one star per component rooted at the
  * component's minimum node id in O(log n) rounds — NOT O(diameter) like
  * naive hash-min label propagation, so million-node chain-shaped
  * clusters (boilerplate families) still converge in a handful of rounds.
  *
  * Scale notes (100 TB): the per-round plan is partial-aggregated
  * (map-side combine collapses a hot node's neighbor list to one partial
  * min per task) and the join back is an equi-join AQE can skew-split.
  * Each round ends in `localCheckpoint` — without it the iterated plan's
  * lineage grows linearly and Catalyst re-analysis dominates after ~10
  * rounds; on a real cluster prefer `spark.sparkContext.setCheckpointDir`
  * + reliable `checkpoint()` for executor-loss resilience.
  */
object GraphOps {

  /** Target rows per partition for ITERATION-SUBSTRATE tables (edge
    * lists, rank/label state). Iterated stages pay per-partition task
    * overhead every round, and the substrate is node/catalog-bounded —
    * orders of magnitude smaller than the corpus that built it — so
    * running each round at the session's full shuffle parallelism is
    * pure scheduler overhead (measured at sf0.1: the same stored graph
    * queries run 2-3× FASTER on local[4] than local[32], e.g.
    * graph_pagerank_stored 2.9 vs 6.3 s — the constant-per-partition
    * cost dominates ~3k-row rounds). ~250k rows/partition keeps a task
    * at tens of MB while bounding round latency. */
  private val IterRowsPerPart = 250000L

  /** Size-derived partition count for an iteration substrate of `rows`
    * rows: ceil(rows / IterRowsPerPart), clamped to [1, session shuffle
    * parallelism] so a genuinely big graph keeps every configured core
    * busy (the cap is the knob a real cluster already sets). */
  private[operators] def iterParts(df: DataFrame, rows: Long): Int = {
    val cap = df.sparkSession.sessionState.conf.numShufflePartitions
    math.max(1, math.min(cap,
      math.ceil(rows.toDouble / IterRowsPerPart).toInt))
  }

  /** Connected components over an undirected edge list.
    *
    * Returns (node, cc) for every node incident to at least one
    * surviving edge, where `cc` is the minimum node id in the component.
    * Self-loops and duplicate/reversed edges are tolerated; null
    * endpoints drop. Isolated nodes never appear (callers coalesce to
    * the node's own id). Throws if not converged within `maxIter`
    * rounds — a wrong-but-plausible labeling must never leave silently.
    */
  def connectedComponents(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 50, localThreshold: Long = 1L << 20): DataFrame = {
    var e = edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .na.drop()
      .filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .distinct()
      .localCheckpoint()

    // order-independent, overflow-free edge-set fingerprint; a (count,
    // xor-of-xxhash64) collision between DIFFERENT consecutive edge sets
    // is ~2^-64 — convergence detection, not correctness-bearing state
    def fp(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    var cur = fp(e)

    // Small-graph fast path — the same reasoning as a broadcast join:
    // after candidate generation the PAIR graph is typically orders of
    // magnitude smaller than the corpus (near-dup pairs, not documents),
    // and each distributed star round costs ~6 shuffles of fixed
    // scheduler latency. Below the threshold (default 2^20 edges ≈ 16 MB
    // of longs) union-find on the driver is exact, O(E α(E)), and one
    // collect. Above it, the star iteration does the only thing that
    // scales. Measured at sf0.1 (775 edges): 2.6 s → ~0.1 s.
    if (cur._1 > 0 && cur._1 <= localThreshold) {
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      val nodes = scala.collection.mutable.SortedSet.empty[Long]
      e.collect().foreach { row =>
        val (u, v) = (row.getLong(0), row.getLong(1))
        nodes += u; nodes += v
        val (ru, rv) = (find(u), find(v))
        if (ru != rv) { // min root wins, so roots ARE component minima
          if (ru < rv) parent(rv) = ru else parent(ru) = rv
        }
      }
      val spark = edges.sparkSession
      return spark.createDataFrame(nodes.toSeq.map(n => (n, find(n)))).toDF("node", "cc")
    }

    var converged = cur._1 == 0L
    var iter = 0
    while (!converged && iter < maxIter) {
      val next = smallStar(largeStar(e)).localCheckpoint()
      val nfp = fp(next)
      converged = nfp == cur
      e = next; cur = nfp; iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents: no fixpoint after $maxIter rounds (edges=${cur._1})")

    e.select(col("u").as("node"), col("v").as("cc"))
      .union(e.select(col("v").as("node"), col("v").as("cc")))
      .groupBy(col("node")).agg(min(col("cc")).as("cc"))
  }

  /** Large-star: every node connects its strictly-larger neighbors to
    * its minimum neighbor (including itself). Input/output edges are
    * canonical (u > v). */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val m = sym.groupBy(col("u")).agg(least(min(col("v")), col("u")).as("m"))
    sym.join(m, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .distinct()
  }

  /** Small-star: every node connects its strictly-smaller neighbors (and
    * itself) to the minimum of those. In canonical form the
    * smaller-neighbor sets are exactly the edge list grouped by u. */
  private def smallStar(e: DataFrame): DataFrame = {
    val m = e.groupBy(col("u")).agg(min(col("v")).as("m"))
    e.join(m, "u")
      .filter(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
      .union(m.select(col("u"), col("m").as("v")))
      .distinct()
  }

  /** PageRank over a directed edge list (`src`, `dst`), `iters` power
    * iterations from a uniform start.
    *
    * Contract: every node must appear as a `src` (symmetrize an
    * undirected graph first) — a node with in-edges but no out-edges
    * would otherwise leak its mass, and a node with no in-edges drops
    * from the rank vector after one iteration.
    *
    * `damping` and `teleport` are passed SEPARATELY instead of deriving
    * teleport = 1 − damping: the caller supplies both as decimal
    * literals so an external SQL replay that parses the same literals
    * (e.g. `CAST(0.15 AS DOUBLE)`) lands on bit-identical doubles —
    * `1 - 0.85` computed in binary is one ULP off the parsed `0.15`.
    * Ranks round to 12 dp each iteration, collapsing cross-engine
    * summation-order noise (~1e-20 at rank scale) so iterated results
    * stay exactly replayable.
    *
    * Scale shape (100 TB): the raw edge list materializes once and every
    * iteration re-reads those blocks; the per-iteration rank join's
    * physical plan is PICKED by the measured node count (broadcast hash
    * join under `broadcastNodeLimit`, co-partitioned shuffle join that
    * moves only the rank table above it — see the body), and the only
    * corpus-sized shuffle either way is the contribution groupBy on
    * `dst`, which AQE can skew-split. On a real cluster swap
    * localCheckpoint for reliable `checkpoint()`. */
  def pagerank(edges: DataFrame, damping: Double, teleport: Double,
      iters: Int, broadcastNodeLimit: Long = 10000000L): DataFrame =
    powerIterate(edges, damping, iters, broadcastNodeLimit,
      init = n => round(lit(1.0 / n), 12),
      jump = n => lit(teleport / n))

  /** Personalized PageRank: power iteration where ALL teleport mass
    * returns to one seed node instead of spreading uniformly — the
    * "similar to this node" ranking (recommendation seeds, related-item
    * graphs), as opposed to [[pagerank]]'s global centrality.
    *
    * Same iteration body as [[pagerank]]. Init is rank=1 at the seed, 0
    * elsewhere; each step is `damping·Σ share + teleport·1_seed`. Nodes
    * keep rank rows once any in-neighbor has mass — on a symmetrized
    * graph that is every node reachable from the seed, which is exactly
    * PPR's support. */
  def personalizedPagerank(edges: DataFrame, seed: String, damping: Double,
      teleport: Double, iters: Int,
      broadcastNodeLimit: Long = 10000000L): DataFrame =
    powerIterate(edges, damping, iters, broadcastNodeLimit,
      init = _ => when(col("node") === seed, 1.0).otherwise(0.0),
      jump = _ => when(col("dst") === seed, lit(teleport)).otherwise(lit(0.0)))

  /** The power-iteration body shared by [[pagerank]] and
    * [[personalizedPagerank]]. Only two columns differ between them,
    * each a function of the node count `n`: `init` is the starting rank
    * of each `node`, `jump` the teleport mass landing on each `dst`.
    * Each round's rank is `round(jump + damping·Σ share, 12)`. */
  private def powerIterate(edges: DataFrame, damping: Double, iters: Int,
      broadcastNodeLimit: Long, init: Long => Column,
      jump: Long => Column): DataFrame = {
    // ONE materialization of the raw edge list — everything else in the
    // computation (degree, node count, every iteration's scan) reads
    // these in-memory blocks. The round-8 formulation materialized a
    // deg-ANNOTATED edge list instead, whose plan embedded the upstream
    // edge pipeline once under each union branch and twice more under
    // the degree agg — 4 corpus-sized rebuilds before the first
    // iteration (measured: the er checkpoint alone was 9.2 s of the
    // 11 s query at sf0.1). On a real cluster use reliable
    // checkpoint() so the edge blocks survive executor loss.
    //
    // The node count DECIDES the iteration plan instead of a comment
    // documenting the caveat: ≤ broadcastNodeLimit nodes → broadcast
    // the rank table into each round (zero edge movement); above it,
    // O(nodes) rank state would OOM every executor as a broadcast, so
    // the edge list is re-laid-out hash-partitioned on src ONCE and
    // each round is a co-partitioned join that only ever shuffles the
    // rank table. The decision costs nothing extra: it reads the node
    // count off the degree table the algorithm needs anyway, and only
    // the big path pays the one-time repartition.
    val e0 = edges.localCheckpoint()
    val outdeg0 = e0.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    // contract: every node appears as a src, so outdeg IS the node set;
    // one agg row also yields the edge count (Σ deg) for free — it
    // sizes the iteration substrate's partitioning (see iterParts)
    val hdr = outdeg0.agg(count(lit(1)), sum(col("deg"))).head()
    val n = hdr.getLong(0)
    val mEdges = if (hdr.isNullAt(1)) 0L else hdr.getLong(1)
    val pN = iterParts(outdeg0, n)
    val big = n > broadcastNodeLimit
    // small path: compact the already-materialized blocks to the
    // size-derived partition count (coalesce is a narrow re-read of the
    // checkpointed blocks, no shuffle) — every round below is a scan +
    // agg over these, and per-partition task overhead is the dominant
    // cost of a node-bounded round
    val e = if (big) e0.repartition(col("src")).localCheckpoint()
      else e0.coalesce(iterParts(e0, mEdges))
    val outdeg = if (big) outdeg0 else outdeg0.coalesce(pN)
    var ranks = outdeg.select(col("src").as("node"))
      .withColumn("rank", init(n))
      .coalesce(pN).localCheckpoint()
    for (_ <- 1 to iters) {
      // The per-node SHARE (rank/deg) is computed node-side before the
      // join — folding deg into the rank table instead of carrying a
      // deg column on every edge keeps the edge blocks skinny. Small
      // graphs: broadcast hash join — each iteration is an in-memory
      // edge scan + a partial-agg shuffle of |nodes| rows. Big graphs:
      // plain equi-join against the src-partitioned edge blocks — AQE
      // skew-splits hot nodes and the corpus-sized side never moves.
      // CRITICAL either way: localCheckpoint the new rank state every
      // iteration — without it, iteration k's join subtree embeds
      // iterations 1..k-1's whole plan, lineage deepens geometrically,
      // and AQE re-plans the nest (measured 24 s vs ~2 s at sf0.1 for
      // 3 iterations).
      val shares = ranks.join(outdeg, col("node") === col("src"))
        .select(col("node"), (col("rank") / col("deg")).as("share"))
      val joined =
        if (big) e.join(shares, col("src") === col("node"))
        else e.join(broadcast(shares), col("src") === col("node"))
      ranks = joined
        .groupBy(col("dst"))
        .agg(sum(col("share")).as("s"))
        .select(col("dst").as("node"),
          round(jump(n) + lit(damping) * col("s"), 12).as("rank"))
        .coalesce(pN).localCheckpoint()
    }
    ranks
  }

  /** Synchronous label propagation (community detection) over a
    * SYMMETRIZED edge list (`u`, `v`): every node starts labeled with
    * its own id; each iteration relabels every node with the most
    * frequent label among its neighbors, ties broken to the SMALLEST
    * label — fully deterministic, unlike the classic randomized-order
    * LPA, so the result is oracle-replayable. Returns (node, label)
    * after `iters` rounds.
    *
    * Scale shape: same checkpointed-iteration discipline as [[pagerank]]
    * — the edge list materializes once, and each round is one
    * (u, label) count aggregation plus a node-sized argmax, both
    * partial-aggregated. The argmax is `min(struct(-count, label))` —
    * a single agg, never a window over the full neighbor-count table.
    * Like [[pagerank]], the node count PICKS the join plan: small node
    * sets broadcast the label table into each round; past
    * `broadcastNodeLimit` the edges pre-hash-partition on `v` once and
    * each round co-partition-joins, moving only the label table. */
  def labelPropagation(edges: DataFrame, iters: Int,
      broadcastNodeLimit: Long = 10000000L): DataFrame = {
    val e0 = edges.localCheckpoint()
    var labels = e0.select(col("u").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint()
    // both counts read the two eager checkpoints (one label row per
    // node, one e0 row per edge): the node count gates the join plan
    // and sizes the label-table partitioning, and the EDGE count sizes
    // the edge side (r17 ADVICE: a dense graph under the broadcast
    // limit — 1M nodes, hundreds of millions of edges — must not
    // serialize every round's edge scan onto the node-derived handful
    // of tasks; same rule as pagerank's iterParts(e0, mEdges)). Only
    // the big path pays the one-time v-partitioned re-layout.
    val n = labels.count()
    val mEdges = e0.count()
    val pN = iterParts(labels, n)
    val big = n > broadcastNodeLimit
    val e = if (big) e0.repartition(col("v")).localCheckpoint()
      else e0.coalesce(iterParts(e0, mEdges))
    if (!big) labels = labels.coalesce(pN)
    for (_ <- 1 to iters) {
      val withNbr =
        if (big) e.join(labels, col("v") === col("node"))
        else e.join(broadcast(labels), col("v") === col("node"))
      labels = withNbr
        .groupBy(col("u"), col("label")).agg(count(lit(1)).as("c"))
        .groupBy(col("u"))
        .agg(min(struct((-col("c")).as("nc"), col("label").as("l"))).as("m"))
        .select(col("u").as("node"), col("m.l").as("label"))
        .coalesce(pN).localCheckpoint()
    }
    labels
  }
}
