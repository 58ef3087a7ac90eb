package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (`Array[Float]` column).
  *
  * Two paths, as a training-data pipeline needs both:
  *  - brute-force top-k cosine against a probe vector: one scan, O(n·d),
  *    the exact baseline. The probe is broadcast (a 1-row dimension), so
  *    the plan is scan → broadcast-nested-loop → project → top-k; no
  *    shuffle of the big side. This is the shape that scales: at 100 TB
  *    the scan partitions stream independently and TakeOrderedAndProject
  *    keeps only k rows per partition.
  *  - sign-bucket LSH ANN: restrict candidates to the probe's bucket
  *    first. Same answer quality for near-duplicate retrieval at a
  *    fraction of the scan (bucket pruning happens before the dot
  *    product). With a persisted bucket column this becomes partition
  *    pruning on the scan itself.
  */
object SimilarityOps {
  import Tables._
  import VectorOps._

  private val PROBE_ID = 1

  /** Leading dims covered by `emb_covariance` — 6 keeps the unpivoted
    * triangle (21 pairs) readable while exercising the full one-pass
    * second-moment shape; the plan is dim-count-generic. */
  private val CovDims = 6

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // exact top-10 cosine neighbors of probe vec_id=1 (native fused
    // cosine Expression: one pass, zero allocation, codegen'd)
    "ann_topk_bruteforce" -> { (s, dir) =>
      val e = embeddings(s, dir).withColumn("v", col("embedding").cast("array<double>"))
      val probe = e.filter(col("vec_id") === PROBE_ID)
        .select(col("v").as("p"))
      e.filter(col("vec_id") =!= PROBE_ID)
        .crossJoin(broadcast(probe))
        .select(col("vec_id"),
          round(graft.functions.VectorFunctions.cosine_sim(col("v"), col("p")), 6)
            .as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(10)
    },
    // Vector-corpus distribution sanity check, two diagnostics in one
    // pass: (a) the overall L2-norm envelope (min/max across the corpus
    // — a [1, 1] envelope says already unit-norm, so cosine = dot), and
    // (b) a 0.1-wide histogram of COMPONENT values (catches clipped
    // dims, dead dims, and scale outliers that break quantization
    // codebooks). The explode is corpus×dims rows but the shuffle
    // carries only ~20 bucket keys through a partial-aggregated count —
    // map-side combine does all the volume work. 6dp round BEFORE the
    // floor-bucket so both engines bucket identical doubles.
    "emb_value_hist" -> { (s, dir) =>
      val v = col("embedding").cast("array<double>")
      val e = embeddings(s, dir)
        .select(round(sqrt(VectorOps.dot(v, v)), 6).as("norm"), v.as("v"))
      val env = e.agg(round(min(col("norm")), 6).as("min_norm"),
        round(max(col("norm")), 6).as("max_norm"))
      e.select(explode(col("v")).as("x"))
        .select(floor(round(col("x"), 6) * 10).cast("long").as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(env))
        .orderBy(col("bucket"))
    },
    // Covariance matrix of the leading embedding dims — the second-moment
    // statistic every vector-column pipeline eventually needs (PCA /
    // whitening / Mahalanobis outlier gates all start here). Shape: the
    // corpus collapses in ONE partial-aggregated pass to d + d(d+1)/2 + 1
    // scalar sums (per-dim sums, upper-triangular cross-product sums,
    // count) — the shuffle carries a single ~30-column row per map task,
    // never vectors; cov(i,j) is then pure arithmetic on that one row,
    // unpivoted to the (i, j, cov) triangle by a stack projection. The
    // same plan at d=1024 is a treeAggregate of a d×d gram matrix — the
    // map-side-combine discipline is identical, only the carrier widens.
    // Determinism: components round to 6dp and accumulate as exact
    // decimals (order-independent under any partitioning); the final
    // cov formula runs in f64 on already-exact sums in both engines.
    "emb_covariance" -> { (s, dir) =>
      val d = CovDims
      val comps = (1 to d).map(i =>
        round(element_at(col("embedding").cast("array<double>"), i), 6)
          .cast("decimal(12,6)").as(s"x$i"))
      val sums = (1 to d).map(i => sum(col(s"x$i")).as(s"s$i"))
      val prods = for { i <- 1 to d; j <- i to d }
        yield sum(col(s"x$i") * col(s"x$j")).as(s"p${i}_$j")
      val pairs = for { i <- 1 to d; j <- i to d } yield (i, j)
      val stackSql = pairs.map { case (i, j) =>
        s"CAST($i AS BIGINT), CAST($j AS BIGINT), " +
          s"CAST(p${i}_$j AS DOUBLE), CAST(s$i AS DOUBLE), CAST(s$j AS DOUBLE)"
      }.mkString(s"stack(${pairs.size}, ", ", ", ") AS (i, j, sxy, sx, sy)")
      embeddings(s, dir).select(comps: _*)
        .agg(count(lit(1)).as("n"), (sums ++ prods): _*)
        .select(col("n"), expr(stackSql))
        .select(col("i"), col("j"),
          round((col("sxy") - col("sx") * col("sy") / col("n")) /
            (col("n") - 1), 6).as("cov"), col("n"))
        .orderBy(col("i"), col("j"))
    },
    // Top principal component by power iteration — PCA's first step, run
    // ENTIRELY in-plan and oracle-replayable: the corpus collapses once
    // to the emb_covariance moment row (localCheckpointed — exactly ONE
    // corpus pass feeds all iterations), the 6×6 covariance unfolds to a
    // 36-row matrix table, and three unrolled multiply-normalize rounds
    // run as joins over that dimension-sized table (the pagerank-oracle
    // discipline: every product multiplies EXACTLY in decimal domain —
    // never rounded, the r12 tie-class fix — every division is one
    // double op, so DuckDB replays the iteration bit-for-bit). Seed =
    // the uniform unit vector as a shared literal. Output: PC1 loadings + the Rayleigh-quotient eigenvalue
    // estimate ‖Cv‖ from a fourth multiply. At d=1024 the same shape
    // holds — the matrix table is d² rows, iteration cost is d²-sized,
    // corpus cost stays the single moment pass.
    "emb_pca_power" -> { (s, dir) =>
      val d = CovDims
      val comps = (1 to d).map(i =>
        round(element_at(col("embedding").cast("array<double>"), i), 6)
          .cast("decimal(12,6)").as(s"x$i"))
      val sums = (1 to d).map(i => sum(col(s"x$i")).as(s"s$i"))
      val prods = for { i <- 1 to d; j <- i to d }
        yield sum(col(s"x$i") * col(s"x$j")).as(s"p${i}_$j")
      val pairs = for { i <- 1 to d; j <- i to d } yield (i, j)
      val stackSql = pairs.map { case (i, j) =>
        s"CAST($i AS BIGINT), CAST($j AS BIGINT), " +
          s"CAST(p${i}_$j AS DOUBLE), CAST(s$i AS DOUBLE), CAST(s$j AS DOUBLE)"
      }.mkString(s"stack(${pairs.size}, ", ", ", ") AS (i, j, sxy, sx, sy)")
      val tri = embeddings(s, dir).select(comps: _*)
        .agg(count(lit(1)).as("n"), (sums ++ prods): _*)
        .select(col("n"), expr(stackSql))
        .select(col("i"), col("j"),
          round((col("sxy") - col("sx") * col("sy") / col("n")) /
            (col("n") - 1), 6).as("c"))
      val cov = tri.union(tri.filter(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("c")))
        .localCheckpoint()
      var v = s.range(1, d + 1).select(col("id").as("j"),
        lit(0.4082482905).as("v")) // 1/sqrt(6) to 10dp
      var lastNorm: DataFrame = null
      for (_ <- 1 to 4) {
        // EXACT decimal products (6dp c × 10dp v → scale 16; 10dp-
        // quantized w squared → scale 20): rounding the double product
        // at 10dp was the r12 cross-engine tie class, and these sums
        // seed every element of the next iteration
        val w = cov.join(v, "j")
          .select(col("i"),
            (col("c").cast("decimal(12,6)") * col("v").cast("decimal(14,10)"))
              .as("t"))
          .groupBy(col("i")).agg(sum(col("t")).cast("double").as("w"))
        val w10 = round(col("w"), 10).cast("decimal(18,10)")
        val nrm = w.agg(sqrt(sum(w10 * w10).cast("double")).as("nrm"))
        lastNorm = nrm
        v = w.crossJoin(broadcast(nrm))
          .select(col("i").as("j"), round(col("w") / col("nrm"), 10).as("v"))
      }
      // after 4 multiply-normalize rounds: v is the PC1 estimate and the
      // final pre-normalization magnitude ‖Cv₃‖ estimates the eigenvalue
      v.crossJoin(broadcast(lastNorm))
        .select(col("j").as("pos"), col("v").as("loading"),
          round(col("nrm"), 6).as("eigenvalue"))
        .orderBy(col("pos"))
    },
    // per-label embedding centroids over the first 8 dims — the vector
    // AGGREGATION shape (class prototypes, cluster re-centering,
    // drift monitoring): slice the dims you need FIRST (pruning before
    // explosion — the explode multiplies rows by dim count, so slicing
    // is a dim-count× row reduction), posexplode, then one partial-
    // aggregated groupBy (label, pos). The shuffle carries
    // labels × dims rows, never vectors; at 100 TB this is the same
    // map-side-combine discipline as vocabulary counting. Floats cast
    // to double BEFORE averaging so both engines accumulate in f64;
    // 6dp round absorbs summation-order ULPs.
    "emb_label_centroids" -> { (s, dir) =>
      embeddings(s, dir)
        .select(col("label").cast("long").as("label"),
          posexplode(slice(col("embedding").cast("array<double>"), 1, 8)))
        .withColumnRenamed("col", "v")
        .groupBy(col("label"), col("pos").cast("long").as("pos"))
        .agg(DetMean.mean6(sum(DetMean.el10(col("v"))),
          count(lit(1))).as("centroid"),
          count(lit(1)).as("n_vecs"))
        .orderBy(col("label"), col("pos"))
    },
    // batched-probe ANN: top-3 per probe for a SET of query vectors in
    // one corpus scan — the realistic serving/dedup shape (queries come
    // in batches, and per-query scans would read the corpus Q times).
    // The probe set broadcasts (queries are always the small side);
    // per-probe top-k is a window over probe_id, so only the scored
    // pairs shuffle — Q·n rows of (id, id, score), never the vectors.
    "ann_batch_topk" -> { (s, dir) =>
      val probeIds = Seq(1, 7, 42)
      val e = embeddings(s, dir).withColumn("v", col("embedding").cast("array<double>"))
      val probes = e.filter(col("vec_id").isin(probeIds.map(_.toLong): _*))
        .select(col("vec_id").as("probe_id"), col("v").as("p"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("probe_id")).orderBy(col("cos_sim").desc, col("vec_id"))
      e.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          round(graft.functions.VectorFunctions.cosine_sim(col("v"), col("p")), 6)
            .as("cos_sim"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .orderBy(col("probe_id"), col("rk"))
    },
    // LSH-bucketed ANN: probe's sign-bucket only, top-5
    "ann_lsh_bucket" -> { (s, dir) =>
      val e = embeddings(s, dir)
        .withColumn("v", col("embedding").cast("array<double>"))
        .withColumn("bucket", signBucket(col("v"), 4))
      val probe = e.filter(col("vec_id") === PROBE_ID)
        .select(col("v").as("p"), col("bucket").as("pbucket"))
      e.filter(col("vec_id") =!= PROBE_ID)
        .join(broadcast(probe), col("bucket") === col("pbucket"))
        .select(col("vec_id"),
          round(graft.functions.VectorFunctions.cosine_sim(col("v"), col("p")), 6)
            .as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(5)
    },
    // MMR diversified re-rank (Carbonell & Goldstein, SIGIR'98) — the
    // step between retrieval and consumption: from the probe's top-
    // MmrShortlist cosine shortlist, greedily select MmrSelect results
    // maximizing λ·relevance − (1−λ)·max-similarity-to-already-selected,
    // so near-duplicate hits can't crowd the result page (the
    // contrastive-negative / RAG-context shape). Cost splits exactly
    // where it must at 100 TB: the corpus pays ONE brute-force scan for
    // the shortlist (the ann_topk_bruteforce plan — broadcast probe,
    // per-partition top-k, no vector shuffle); everything after runs on
    // the K-bounded shortlist (≤K² pairwise sims, localCheckpointed
    // once), and each greedy round is a semi-join + argmax over ≤K rows
    // — selection cost is independent of corpus size. The greedy loop
    // is unrolled in-plan (MmrSelect is a compile-time constant, the
    // corpus_tokenize_bpe discipline); λ and 1−λ are SEPARATE literals
    // (0.7, 0.3) because 1−0.7 in f64 is not 0.3 and both engines must
    // score identical doubles; rel/sim round to 6dp before any
    // comparison, ties break on vec_id. Round 1's score is its
    // relevance (the standard convention: nothing is selected yet).
    "ann_mmr_rerank" -> { (s, dir) => mmrGreedy(mmrShortlist(s, dir)) },
    // The 100 TB twin: identical greedy selection, but the shortlist is
    // IVF-routed — the probe searches only its IvfNProbe nearest
    // literal-codebook cells (the IvfCodebook geometry), so shortlist
    // cost is ∝ nprobe/K of the corpus instead of a full cosine scan.
    // The brute-force form above stays as the ground-truth twin (recall
    // of the routed shortlist vs. exact is the ann_ivf_recall method).
    // Oracle replays the exact candidate rule, so this is hash-gated,
    // not just rows-gated.
    "ann_mmr_rerank_ivf" -> { (s, dir) => mmrGreedy(mmrShortlistIvf(s, dir)) },
    // Hybrid retrieval via reciprocal-rank fusion (Cormack, Clarke &
    // Büttcher, SIGIR'09): the production RAG/curation retriever runs a
    // LEXICAL arm (BM25) and a DENSE arm (embedding cosine) and fuses
    // rankings with RRF(d) = Σ_arms 1/(k + rank_arm(d)), k=60 — rank
    // fusion needs no score calibration between arms, which is exactly
    // why it won out over score interpolation in practice. Scale shape:
    // each arm is one independent corpus scan ending in a distributed
    // TakeOrderedAndProject top-RrfShortlist (broadcast one-row stats /
    // broadcast probe — no corpus shuffle, no global window); the fusion
    // join then runs over two ≤15-row shortlists, so fusion cost is
    // independent of corpus size. A doc missing from one arm contributes
    // 0 from that arm (RRF over the shortlist union — the standard
    // convention). Determinism: ranks are integers assigned over rounded
    // 6dp scores with id tie-breaks, so both engines fuse identical
    // rank pairs; 1/(60+rank) is the same f64 on both sides.
    "ann_hybrid_rrf" -> { (s, dir) =>
      val e = embeddings(s, dir)
        .withColumn("v", col("embedding").cast("array<double>"))
      val probe = e.filter(col("vec_id") === PROBE_ID).select(col("v").as("p"))
      val dense = e.filter(col("vec_id") =!= PROBE_ID)
        .crossJoin(broadcast(probe))
        .select(col("vec_id"),
          round(graft.functions.VectorFunctions.cosine_sim(col("v"), col("p")), 6)
            .as("cs"))
      rrfFuse(s, dir, dense)
    },
    // The 100 TB twin: same lexical arm and fusion, but the dense arm's
    // candidates ride the IVF cell equi-join (nprobe/K of the corpus
    // scored) instead of a corpus-wide cosine scan. The brute-force form
    // above stays as the ground-truth twin; the oracle replays the exact
    // IVF candidate rule so this is hash-gated.
    "ann_hybrid_rrf_ivf" -> { (s, dir) =>
      rrfFuse(s, dir, ivfProbeCandidates(s, dir).select(col("vec_id"), col("cs")))
    },
    // Radius (range) similarity search — the third retrieval primitive
    // after top-k and bucketed top-k: for a SET of probes, every
    // corpus vector with cosine ≥ 0.2, reported per probe as bounded
    // aggregates (hit count, mean/max cosine) rather than unbounded
    // hit lists. Candidates come from sign-bucket equality BEFORE any
    // distance work — the same LSH pruning as ann_lsh_bucket, here as
    // a broadcast multi-probe join (probes are a ~1% hash sample of
    // the corpus, so the probe side stays broadcast-sized at any
    // scale); the mean cosine sums in exact decimal so the per-probe
    // reduction is partition-order-independent. At 100 TB this is the
    // retrieval shape of "find everything near these N seeds" —
    // dedup-cluster expansion, contamination probes — and with a
    // persisted bucket column the bucket filter becomes partition
    // pruning on the scan.
    "ann_range_search" -> { (s, dir) =>
      val cos = graft.functions.VectorFunctions.cosine_sim _
      val e = embeddings(s, dir)
        .withColumn("v", col("embedding").cast("array<double>"))
        .withColumn("bucket", signBucket(col("v"), 4))
      val probes = e.filter(col("vec_id") % 101 === 0)
        .select(col("vec_id").as("probe_id"), col("v").as("p"),
          col("bucket").as("pbucket"))
      e.join(broadcast(probes),
          col("bucket") === col("pbucket") && col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"),
          round(cos(col("v"), col("p")), 6).as("cs"))
        .filter(col("cs") >= 0.2)
        .groupBy(col("probe_id"))
        // cs is already a 6dp value, so the mean can be EXACT integer
        // arithmetic end to end: sum micro-units (cs·10⁶, an integer
        // within 1e-9 in double, rounded exactly on both engines), one
        // HALF_UP integer division — floor((2s+n)/(2n)) for the
        // positive sums the cs≥0.2 filter guarantees — then /10⁶ in
        // double. The DetMean double-division form left a residual
        // .xxxxxx5 quotient-tie class (Spark exact-binary HALF_UP vs
        // DuckDB scaled-double round) that the sf0.2 twin sweep
        // actually hit; exact integers have no ties to disagree on.
        .agg(count(lit(1)).as("n_hits"),
          sum(round(col("cs") * 1e6, 0).cast("long")).as("s6"),
          max(col("cs")).as("max_cos"))
        .select(col("probe_id"), col("n_hits"),
          // the double division is decision-exact here: operands stay
          // under 2^53 and the true quotient is never within 1/(2n) of
          // an integer boundary without being ON it, so floor() agrees
          // with exact rational floor on both engines
          (floor((col("s6") * 2 + col("n_hits")) / (col("n_hits") * 2))
            .cast("double") / 1e6).as("avg_cos"),
          col("max_cos"))
        .orderBy(col("probe_id"))
    },
    // IVF ANN with a deterministic literal codebook: every vector is
    // assigned to its nearest of IvfCells seed cells as a pure codegen
    // projection (the bounded-collect codebook shape, see dedup_semantic),
    // each probe searches only its IvfNProbe nearest cells, and the exact
    // top-IvfTopK is ranked inside the probed cells. The corpus side is
    // filtered by cell key BEFORE any distance work — the IVF speedup —
    // and with a persisted cell column this becomes partition pruning on
    // the scan. Deterministic seed cells (vec_id < IvfCells) make it
    // oracle-exact, unlike the sampled-KMeans SimilarityLib twin.
    "ann_ivf_probe" -> { (s, dir) =>
      val e = vectors(s, dir)
      val codebook = ivfCellSims(e)
      // Barriers.opaque: a lambda-derived join key must not generate an
      // alias-equality constraint (see OpaqueIdentity's scaladoc — the
      // inferred filter lands on the probes side referencing this scan)
      val assigned = e.withColumn("cell",
        graft.functions.Barriers.opaque(codebook.cell(col("v"))))
      // probes get their OWN scan (fresh expression ids): the join in
      // ivfTopK is otherwise a self-join whose relation dedup can miss
      // attribute references nested inside the explode(transform(...))
      // lambda (observed: runtime ATTRIBUTE_NOT_FOUND) — and a separate
      // scan also pushes the probe-id filter down to its own parquet read
      ivfTopK(assigned, vectors(s, dir), codebook)
    },
    // Index-at-ingest, step 1: TRAIN the IVF index once — assign every
    // corpus vector to its nearest literal-codebook cell — and persist
    // (vec_id, cell, v) to graft-store. This is the production split
    // 100 TB retrieval requires: the assignment scan runs once per
    // ingest (here: once per process, alphabetically before the probe
    // twin in any full sweep), and every probe thereafter reads the
    // manifest-pinned snapshot instead of re-deriving geometry per
    // query. Storing v alongside the cell key makes the snapshot a real
    // IVF index — a cell-keyed layout the probe scans pruned — and the
    // store codec round-trips doubles bit-exactly, so probe cosines
    // over stored vectors hash-match the parquet-derived truth. Oracle
    // replays the assignment rule (nearest cell, ties to the smaller
    // cell id): a hash match proves train→commit→read is lossless.
    "ann_ivf_index_stored" -> { (s, dir) =>
      val root = StoreRoots.tmpRoot("ivfidx", dir)
      graft.sources.GraftStore.write(ivfIndexTable(s, dir), root,
        overwrite = true)
      graft.sources.GraftStore.read(s, root)
        .select(col("vec_id"), col("cell"))
        .orderBy(col("vec_id"))
    },
    // Index-at-ingest, step 3: MAINTAIN the IVF index incrementally —
    // the daily-batch shape 100 TB retrieval actually runs (the full
    // rebuild in ann_ivf_index_stored is the bootstrap, not the steady
    // state). The base corpus (vec_id % 5 ≠ 0) trains and lands as
    // snapshot v1; the arriving batch (% 5 = 0) is assigned against the
    // SAME frozen codebook — a batch-sized projection, never a corpus
    // rescan — and APPENDED as v2 (one O(delta) manifest commit);
    // `readChanges` then proves the CDC read surfaces exactly the
    // batch's index rows. The readout pins all three store surfaces at
    // once: v1 time travel (base), sinceVersion delta (batch), latest
    // (union) — maintenance cost ∝ batch, probes see the union snapshot
    // immediately. Mirrors dedup_minhash_delta_stored on the retrieval
    // side. Oracle replays both slices' assignments from raw parquet.
    "ann_ivf_delta_stored" -> { (s, dir) =>
      val root = StoreRoots.tmpRoot("ivfdeltaidx", dir)
      StoreRoots.reset(s, root)
      val e = vectors(s, dir)
      // codebook FROZEN from the full id domain (seeds are vec_id <
      // IvfCells literals) — base and batch must share it, or the index
      // would mix geometries
      val codebook = ivfCellSims(e)
      graft.sources.GraftStore.write(e.filter(col("vec_id") % 5 =!= 0)
        .select(col("vec_id"), codebook.cell(col("v")).as("cell")),
        root, overwrite = true)
      graft.sources.GraftStore.write(e.filter(col("vec_id") % 5 === 0)
        .select(col("vec_id"), codebook.cell(col("v")).as("cell")), root)
      val base = s.read.format("graft-store").option("version", 1L).load(root)
        .groupBy(col("cell")).agg(count(lit(1)).as("n_base"))
      val delta = graft.sources.GraftStore.readChanges(s, root, sinceVersion = 1L)
        .groupBy(col("cell")).agg(count(lit(1)).as("n_delta"))
      val total = graft.sources.GraftStore.read(s, root)
        .groupBy(col("cell")).agg(count(lit(1)).as("n_total"))
      base.join(delta, Seq("cell"), "full_outer")
        .join(total, Seq("cell"), "full_outer")
        .select(col("cell"),
          coalesce(col("n_base"), lit(0L)).as("n_base"),
          coalesce(col("n_delta"), lit(0L)).as("n_delta"),
          coalesce(col("n_total"), lit(0L)).as("n_total"))
        .orderBy(col("cell"))
    },
    // Index-at-ingest, step 4: MAINTAIN the IVF index under DELETES —
    // the other half of the steady state ann_ivf_delta_stored covers
    // for appends (VERDICT r13 task #5: a MERGE/DELETE on the base
    // table must not leave orphaned index entries). Lifecycle, each
    // stage costed for 100 TB: (1) base table + index land as v1;
    // (2) a takedown batch hits the BASE table as a row-level DELETE
    // (copy-on-write; only stats-matching files rewrite); (3) the net
    // delete batch is recovered from file-level CDC — removed-files
    // rows EXCEPT re-added rows, both DML-delta-sized — with
    // GraftStore.netDeletedKeys, no row-level change log; (4) the
    // index absorbs it as ONE O(delta) tombstone append (StoredIndex —
    // no index data file rewritten); (5) reads see the live view via a
    // broadcast anti-join against the delta-sized tombstone set;
    // (6) compaction folds tombstones physically and vacuums the dead
    // files, returning the read tax to zero. The readout pins all four
    // surfaces per cell — v1 census, CDC-recovered dead keys joined
    // back to their cells, the tombstone-masked live view, and the
    // post-compaction physical scan (which must equal the live view) —
    // against one oracle that replays the assignment rule and the
    // delete predicate from raw parquet.
    "ann_ivf_tombstone_stored" -> { (s, dir) =>
      val baseRoot = StoreRoots.tmpRoot("ivftombbase", dir)
      val idxRoot = StoreRoots.tmpRoot("ivftombidx", dir)
      Seq(baseRoot, idxRoot).foreach(StoreRoots.reset(s, _))
      val e = vectors(s, dir)
      val codebook = ivfCellSims(e)
      // v1 of both stores; the base repartitions so the copy-on-write
      // rewrite has survivors in every touched file (the CDC except
      // actually filters, instead of removed == dead trivially)
      graft.sources.GraftStore.write(e.repartition(4), baseRoot,
        overwrite = true)
      graft.sources.GraftStore.write(
        e.select(col("vec_id"), codebook.cell(col("v")).as("cell")),
        idxRoot, overwrite = true)
      val dead = takeDown(s, baseRoot, idxRoot)
      val idxV1 = s.read.format("graft-store").option("version", 1L)
        .load(idxRoot)
      // eager pins: compaction below OVERWRITES the index store and
      // vacuums superseded files, so everything reading a pre-
      // compaction snapshot must materialize first (cell-bounded rows)
      val v1Agg = idxV1.groupBy(col("cell")).agg(count(lit(1)).as("n_v1"))
        .localCheckpoint(eager = true)
      val deadAgg = idxV1.join(dead, Seq("vec_id"))
        .groupBy(col("cell")).agg(count(lit(1)).as("n_dead"))
        .localCheckpoint(eager = true)
      val liveAgg = graft.sources.StoredIndex.readLive(s, idxRoot, Seq("vec_id"))
        .groupBy(col("cell")).agg(count(lit(1)).as("n_live"))
        .localCheckpoint(eager = true)
      graft.sources.StoredIndex.compactTombstones(s, idxRoot, Seq("vec_id"))
      val afterAgg = graft.sources.GraftStore.read(s, idxRoot)
        .groupBy(col("cell")).agg(count(lit(1)).as("n_after_vacuum"))
      v1Agg.join(deadAgg, Seq("cell"), "full_outer")
        .join(liveAgg, Seq("cell"), "full_outer")
        .join(afterAgg, Seq("cell"), "full_outer")
        .select(col("cell"),
          coalesce(col("n_v1"), lit(0L)).as("n_v1"),
          coalesce(col("n_dead"), lit(0L)).as("n_dead"),
          coalesce(col("n_live"), lit(0L)).as("n_live"),
          coalesce(col("n_after_vacuum"), lit(0L)).as("n_after_vacuum"))
        .orderBy(col("cell"))
    },
    // Index-at-ingest, step 6: MAINTAIN the IVF index under a full SQL
    // MERGE — updates, deletes, and inserts in ONE statement, the
    // nightly reconciliation shape (corrected vectors re-embed, revoked
    // ones leave, late arrivals land). The base is a CATALOG table hit
    // by MERGE INTO (group-based copy-on-write); the index is maintained
    // from file-level CDC alone: net-deleted keys tombstone, and every
    // ADDED row (upserts + rewritten survivors — the readChanges side,
    // DML-delta-sized) is retracted-and-reinserted with a fresh
    // assignment. GENERATIONS make that sound: maintenance batches
    // stamp the store's monotonically-increasing commit version, and a
    // tombstone masks only OLDER generations — so the same batch can
    // tombstone a key and re-insert it (the Iceberg-sequence-number
    // trick; StoredIndex scaladoc). Gate: per-cell census of the live
    // index, split into carried/updated/inserted — updated vectors are
    // NEGATED, so they genuinely change cells; the oracle replays the
    // merged corpus and frozen-codebook assignment from raw parquet.
    // Cost at 100 TB: two O(delta) index commits, zero index rescans.
    "ann_ivf_upsert_stored" -> { (s, dir) =>
      val wh = SourceOps.sqlWarehouse
      // a DEDICATED catalog name: Spark caches catalog instances per
      // session, so reusing "graft" after another consumer instantiated
      // it with a different warehouse would silently bind this table to
      // THEIR root while the CDC reads below compute OURS. A name only
      // this query registers always binds to wh.
      s.conf.set("spark.sql.catalog.graftups",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graftups.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftups.gold")
      s.sql("DROP TABLE IF EXISTS graftups.gold.ivf_ups")
      val idxRoot = StoreRoots.tmpRoot("ivfupsidx", dir)
      StoreRoots.reset(s, idxRoot)
      val e = vectors(s, dir)
      val codebook = ivfCellSims(e) // FROZEN pre-merge
      e.createOrReplaceTempView("emb_ups_src")
      s.sql("""CREATE TABLE graftups.gold.ivf_ups AS
              |SELECT vec_id, v FROM emb_ups_src""".stripMargin)
      val baseRoot = s"$wh/gold/ivf_ups"
      val v1 = graft.sources.GraftStore.currentVersion(baseRoot).get
      graft.sources.GraftStore.write(
        s.read.format("graft-store").load(baseRoot)
          .select(col("vec_id"), codebook.cell(col("v")).as("cell")),
        idxRoot, overwrite = true)
      // ONE MERGE: corrected embeddings (negated — cells flip), a
      // revocation range, and late arrivals keyed past the domain
      s.sql("""MERGE INTO graftups.gold.ivf_ups t USING (
              |  SELECT vec_id, transform(v, x -> -x) AS nv, 'U' AS op
              |  FROM emb_ups_src
              |  WHERE vec_id % 10 = 3 AND NOT (vec_id >= 100 AND vec_id < 220)
              |  UNION ALL
              |  SELECT vec_id, v, 'D' FROM emb_ups_src
              |  WHERE vec_id >= 100 AND vec_id < 220
              |  UNION ALL
              |  SELECT vec_id + 1000000, v, 'I' FROM emb_ups_src
              |  WHERE vec_id % 97 = 1
              |) src ON t.vec_id = src.vec_id
              |WHEN MATCHED AND src.op = 'D' THEN DELETE
              |WHEN MATCHED AND src.op = 'U' THEN UPDATE SET v = src.nv
              |WHEN NOT MATCHED THEN INSERT (vec_id, v)
              |  VALUES (src.vec_id, src.nv)""".stripMargin)
      // CDC → index maintenance: retract every changed key, re-derive
      val dead = graft.sources.GraftStore.netDeletedKeys(
        s, baseRoot, v1, Seq("vec_id"))
      val changed = graft.sources.GraftStore.readChanges(s, baseRoot, v1)
      graft.sources.StoredIndex.appendTombstones(s, idxRoot,
        changed.select(col("vec_id")).union(dead).distinct())
      graft.sources.StoredIndex.appendRows(s, idxRoot,
        changed.select(col("vec_id"), codebook.cell(col("v")).as("cell")))
      graft.sources.StoredIndex.readLive(s, idxRoot, Seq("vec_id"))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_live"),
          sum(when(col("vec_id") % 10 === 3 &&
            col("vec_id") < 1000000, 1L).otherwise(0L)).as("n_updated"),
          sum(when(col("vec_id") >= 1000000, 1L).otherwise(0L))
            .as("n_inserted"))
        .orderBy(col("cell"))
    },
    // Index-at-ingest, step 5: PROBE through the tombstone mask — the
    // user-facing consequence of step 4: a vector deleted from the base
    // table must STOP BEING RETURNED by similarity search immediately,
    // before any compaction runs. The probe plan is ann_ivf_probe_stored's
    // (cell equi-join against the broadcast probe fan-out, per-probe
    // top-k) with ONE addition: each side reads the index through
    // StoredIndex.readLive, whose delta-sized broadcast anti-join drops
    // the tombstoned vec_ids inline — no rebuild, no rescan, read tax
    // one broadcast probe per row. The oracle replays the probe over
    // raw parquet EXCLUDING the deleted id range: passing proves the
    // mask reaches the ranking (deleted candidates vanish AND survivors'
    // ranks close up), not merely the census counts of step 4.
    "ann_ivf_probe_live" -> { (s, dir) =>
      val baseRoot = StoreRoots.tmpRoot("ivflivebase", dir)
      val idxRoot = StoreRoots.tmpRoot("ivfliveidx", dir)
      Seq(baseRoot, idxRoot).foreach(StoreRoots.reset(s, _))
      val e = vectors(s, dir)
      val codebook0 = ivfCellSims(e)
      graft.sources.GraftStore.write(e.repartition(4), baseRoot,
        overwrite = true)
      graft.sources.GraftStore.write(
        e.select(col("vec_id"), codebook0.cell(col("v")).as("cell"), col("v")),
        idxRoot, overwrite = true)
      takeDown(s, baseRoot, idxRoot)
      // each side reads the live view independently (fresh expression
      // ids — the ann_ivf_probe self-join-dedup hazard)
      val idx = graft.sources.StoredIndex.readLive(s, idxRoot, Seq("vec_id"))
      val idxProbes = graft.sources.StoredIndex.readLive(s, idxRoot, Seq("vec_id"))
      ivfTopK(idx, idxProbes,
        ivfCellSims(idxProbes.select(col("vec_id"), col("v"))))
    },
    // Index-at-ingest, step 2: PROBE the stored IVF index. Everything —
    // centroids (the K index rows with vec_id < IvfCells), probe
    // vectors, and the cell-assigned corpus — comes from the snapshot;
    // the plan contains index-table scans, a cell equi-join against the
    // broadcast probe fan-out, and per-probe top-k, but NO training
    // stage and NO parquet corpus scan (gated in PlanShapeSpec).
    // Hash-gated against the same oracle as ann_ivf_probe: the stored
    // index must reproduce the exact candidate rule.
    "ann_ivf_probe_stored" -> { (s, dir) =>
      // probe side gets its OWN snapshot read (fresh expression ids —
      // the ann_ivf_probe self-join-dedup hazard applies to DSv2 scans
      // too), and the centroid collect pulls K rows from the INDEX, not
      // from a training pass
      val idx = storedIvfIndex(s, dir)
      val idxProbes = storedIvfIndex(s, dir)
      ivfTopK(idx, idxProbes,
        ivfCellSims(idxProbes.select(col("vec_id"), col("v"))))
    },
    // Hard-negative mining — the contrastive-training data op that
    // closes the retrieval loop: for each sampled labeled anchor, the
    // top-3 most-similar vectors with a DIFFERENT label (the negatives
    // that actually teach a contrastive model, vs. trivially-far random
    // negatives). Routed through the IVF literal-codebook cells exactly
    // like ann_ivf_probe — anchors probe their IvfNProbe nearest cells
    // and score ONLY cell-colocated candidates, so pair volume is
    // ∝ nprobe/K of the anchor×corpus product and the label filter
    // rides the same equi-join. Anchors are a ~1% id sample (broadcast-
    // sized at any corpus scale); each candidate has exactly ONE cell,
    // so no anchor-candidate pair can arrive twice. At 100 TB this is
    // the batch-mining pass behind every contrastive fine-tune: one
    // cell-keyed join, per-anchor WindowGroupLimit top-k, no all-pairs.
    "ann_hard_negatives" -> { (s, dir) =>
      val cos = graft.functions.VectorFunctions.cosine_sim _
      val e = embeddings(s, dir)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"))
      val codebook = ivfCellSims(e.select(col("vec_id"), col("v")))
      val assigned = e.withColumn("cell",
        graft.functions.Barriers.opaque(codebook.cell(col("v"))))
      // fresh scan for anchors (expression-id hygiene; pushes the
      // anchor-sample filter to its own parquet read — see ann_ivf_probe)
      val eA = embeddings(s, dir)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"))
      val anchors = eA.filter(col("vec_id") % 97 === 0)
        .select(col("vec_id").as("anchor_id"),
          col("label").as("anchor_label"), col("v").as("p"),
          codebook.probeCells(col("v")).as("pcell"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("anchor_id")).orderBy(col("cos_sim").desc, col("vec_id"))
      assigned.join(broadcast(anchors), col("cell") === col("pcell") &&
          col("label") =!= col("anchor_label"))
        .select(col("anchor_id"), col("anchor_label"), col("vec_id"),
          col("label").as("neg_label"),
          round(cos(col("v"), col("p")), 6).as("cos_sim"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .orderBy(col("anchor_id"), col("rk"))
    },
    // two unrolled Lloyd iterations of k-means over the full 64-dim
    // embeddings — the cluster-training step behind IVF/SemDeDup
    // codebooks, expressed in the bounded-collect-codebook shape: seeds
    // (vec_id < KmK) are a literal codebook, the re-estimated centroids
    // are a second K×d literal (collected rounded to 6dp so both engines
    // share the exact iteration-2 input), and BOTH assignments happen in
    // one codegen projection per row — so the corpus is scanned twice,
    // shuffled never (the only shuffles carry K×d centroid parts and K
    // result rows). `n_moved` is the assignment-churn convergence signal
    // an operator owner watches across iterations. At 100 TB this is the
    // canonical k-means-on-Spark discipline: per-row argmin against a
    // broadcast codebook + map-side-combined partial sums.
    "emb_kmeans" -> { (s, dir) =>
      val e = vectors(s, dir)
      def argmin(codebook: Column, v: Column): Column =
        array_min(transform(codebook, c =>
          struct(round(sqDist(v, c.getField("cv")), 6).as("d"),
            c.getField("cell").as("cell")))).getField("cell")
      val seeds = e.filter(col("vec_id") < KmK).collect().sortBy(_.getLong(0))
      val seedArr = array(seeds.map { r =>
        struct(lit(r.getLong(0)).as("cell"), typedLit(r.getSeq[Double](1)).as("cv"))
      }.toIndexedSeq: _*)
      // pass 1: assign to seeds, re-estimate centroids (K×d rows shuffle)
      val cent1 = e.withColumn("cell", argmin(seedArr, col("v")))
        .select(col("cell"), posexplode(col("v")))
        .groupBy(col("cell"), col("pos"))
        .agg(DetMean.mean6(sum(DetMean.el10(col("col"))),
          count(lit(1))).as("c"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
        .select(col("cell"), transform(col("pc"), p => p.getField("c")).as("cv"))
        .collect().sortBy(_.getLong(0))
      val centArr = array(cent1.map { r =>
        struct(lit(r.getLong(0)).as("cell"), typedLit(r.getSeq[Double](1)).as("cv"))
      }.toIndexedSeq: _*)
      // pass 2: both assignments in one projection; aggregate per cluster
      val best = array_min(transform(centArr, c =>
        struct(round(sqDist(col("v"), c.getField("cv")), 6).as("d"),
          c.getField("cell").as("cell"))))
      e.select(col("vec_id"),
          argmin(seedArr, col("v")).as("cell0"), best.as("b"))
        .groupBy(col("b.cell").as("cluster"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("cell0") =!= col("b.cell"), 1L).otherwise(0L))
            .cast("long").as("n_moved"),
          DetMean.mean6(sum(DetMean.el10(col("b.d"))),
            count(lit(1))).as("inertia"))
        .orderBy(col("cluster"))
    },
    // product-quantization codebook report: split the 64-dim vector into
    // PqM 8-dim subspaces, assign every subvector to its nearest of PqK
    // literal codes (subslices of the seed vectors), and report per
    // (subspace, code) usage + mean squared reconstruction error — the
    // table a PQ index owner reads to spot dead codes and lossy
    // subspaces. Row-local explode (×PqM) + argmin projection + one
    // small aggregation; codes never leave the row, so at 100 TB this is
    // a pure scan — the memory win (64 floats → PqM bytes) is the point.
    "emb_pq_error" -> { (s, dir) =>
      val e = vectors(s, dir)
      val seeds = e.filter(col("vec_id") < PqK).collect().sortBy(_.getLong(0))
      val codebook = array((for {
        m <- 1 to PqM; r <- seeds
      } yield struct(lit(m).as("m"), lit(r.getLong(0)).as("code"),
        typedLit(r.getSeq[Double](1).slice((m - 1) * 8, m * 8)).as("cv")))
        .toIndexedSeq: _*)
      val subs = explode(array((1 to PqM).map(m =>
        struct(lit(m.toLong).as("m"),
          slice(col("v"), (m - 1) * 8 + 1, 8).as("sub"))): _*))
      e.select(col("vec_id"), subs.as("s"))
        .select(col("vec_id"), col("s.m").as("m"), col("s.sub").as("sub"))
        .withColumn("best", array_min(transform(
          filter(codebook, c => c.getField("m") === col("m")),
          c => struct(round(sqDist(col("sub"), c.getField("cv")), 6).as("d"),
            c.getField("code").as("code")))))
        .groupBy(col("m"), col("best.code").as("code"))
        .agg(count(lit(1)).as("n_subvecs"),
          DetMean.mean6(sum(DetMean.el10(col("best.d"))),
            count(lit(1))).as("mse"))
        .orderBy(col("m"), col("code"))
    },
    // Embedding outlier detection by diagonal Mahalanobis distance:
    // per-dimension mean/variance from the decimal-moment discipline
    // (64-row stats table, broadcast back), then each vector scores
    // Σ((x−μ)/σ)² and the top-20 outliers surface — the embedding-
    // hygiene pass that catches corrupt encoders and out-of-
    // distribution rows before they poison ANN indexes or codebooks.
    // Corpus work is one posexplode + two partial-aggregated passes;
    // nothing corpus-sized ever joins anything bigger than 64 rows.
    "emb_outliers" -> { (s, dir) =>
      // EXACT integer arithmetic end to end (the text_heaps_law
      // discipline — round(x*x, 6)/round(ratio, 6) of double products
      // is the cross-engine rounding-tie class): 6dp values become ×10⁶
      // BIGINTs, the per-dim moments are BIGINT sums, and each
      // Mahalanobis term (x−μ)²/σ² = (x6·n − Σx6)² / (n·Σx6² − (Σx6)²)
      // is a ratio of exact integers quantized by integer floor
      // division at 10⁻⁶ — no double is ever rounded, so the sum is
      // order- and engine-independent by construction.
      val e = embeddings(s, dir)
        .select(col("vec_id"),
          posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "x")))
        .withColumn("x6",
          (round(col("x"), 6).cast("decimal(18,6)") * lit(1000000)).cast("long"))
      val stats = e.groupBy(col("pos").as("sp"))
        .agg(count(lit(1)).as("n"), sum(col("x6")).as("sx6"),
          sum(col("x6") * col("x6")).as("sx212"))
      e.join(broadcast(stats), col("pos") === col("sp"))
        .withColumn("dx", col("x6") * col("n") - col("sx6"))
        .withColumn("den", col("n") * col("sx212") - col("sx6") * col("sx6"))
        .select(col("vec_id"), expr(
          "CAST(CAST(dx AS DECIMAL(19,0)) * CAST(dx AS DECIMAL(19,0)) " +
            "* 1000000 AS DECIMAL(38,0)) div den").as("term6"))
        .groupBy(col("vec_id"))
        .agg(round(sum(col("term6")).cast("double") / lit(1e6), 6).as("maha2"))
        .orderBy(col("maha2").desc, col("vec_id"))
        .limit(20)
    },
    // Clustering-quality gate for the IVF partition: centroid-based
    // ("simplified") silhouette per cell — a(v) = distance to the OWN
    // cell's true centroid, b(v) = min distance to any other centroid,
    // s = (b − a)/max(a, b) — the metric an index owner reads before
    // trusting a cell layout (cells near 0 overlap their neighbours →
    // probes must widen; negative cells are misassigned mass). The
    // full-pairwise silhouette is O(n²); the centroid form is the one
    // that exists at 100 TB, and it reuses the exact IVF assignment
    // rule the probes run (nearest literal seed cell, ties to the
    // smaller id), so the score audits the REAL layout.
    //
    // Scale shape: one assignment projection (codegen, corpus-sized),
    // one per-(cell, dim) decimal-mean pass (cells × dims rows — the
    // emb_label_centroids discipline), then the corpus streams once
    // against the 8-row broadcast centroid grid (the bounded-grid BNLJ
    // class) and collapses to per-cell means. Nothing after the maps
    // exceeds cells × dims. Determinism: 10dp centroid means, 6dp
    // distances, one 6dp ratio per vector, el10/mean6 cell means.
    "emb_silhouette" -> { (s, dir) =>
      val e = vectors(s, dir)
      val codebook = ivfCellSims(e)
      // 2 consumers (centroid agg + scoring) — pin ONE assignment pass
      val assigned = e.withColumn("cell",
        graft.functions.Barriers.opaque(codebook.cell(col("v"))))
        .localCheckpoint()
      val cents = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(round(sum(DetMean.el10(col("x"))).cast("double") /
          count(lit(1)), 10).as("c"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
        .select(col("cell").as("ccell"),
          expr("transform(pc, p -> p.c)").as("cv"))
      assigned.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("cell"),
          (col("ccell") === col("cell")).as("own"),
          round(sqrt(sqDist(col("v"), col("cv"))), 6).as("d"))
        .groupBy(col("vec_id"), col("cell"))
        .agg(max(when(col("own"), col("d"))).as("a"),
          min(when(!col("own"), col("d"))).as("b"))
        .select(col("cell"),
          round(when(greatest(col("a"), col("b")) > 0,
            (col("b") - col("a")) / greatest(col("a"), col("b")))
            .otherwise(lit(0.0)), 6).as("sil"))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vecs"),
          DetMean.mean6(sum(DetMean.el10(col("sil"))),
            count(lit(1))).as("avg_silhouette"))
        .orderBy(col("cell"))
    },
    // PQ SERVING under the oracle gate: the full ADC query path —
    // encode the corpus against the literal seed codebook (same
    // assignment as emb_pq_error), build the probe's per-(subspace,
    // code) distance table (PqM×PqK rows — THE trick: query-time cost
    // is a table lookup per code byte, never a float loop over the
    // original vectors), shortlist top-40 by ADC distance, exact
    // re-rank the shortlist to top-10. Deterministic end to end
    // (rounded 6dp terms, exact DECIMAL ADC sums, id tie-breaks), so
    // the hash gate pins the SEMANTICS of approximate serving, not a
    // lucky recall. Scale shape: the corpus-sized work is one scan of
    // the code table joined to a broadcast PqM×PqK lookup; re-rank
    // touches only the 40-row shortlist. The trained-KMeans production
    // twin is SimilarityLib.pqTopKRerank (PqSpec).
    "ann_pq_rerank" -> { (s, dir) =>
      val e = vectors(s, dir)
      val seeds = e.filter(col("vec_id") < PqK).collect().sortBy(_.getLong(0))
      val codebook = array((for {
        m <- 1 to PqM; r <- seeds
      } yield struct(lit(m).as("m"), lit(r.getLong(0)).as("code"),
        typedLit(r.getSeq[Double](1).slice((m - 1) * 8, m * 8)).as("cv")))
        .toIndexedSeq: _*)
      val subs = explode(array((1 to PqM).map(m =>
        struct(lit(m.toLong).as("m"),
          slice(col("v"), (m - 1) * 8 + 1, 8).as("sub"))): _*))
      val enc = e.select(col("vec_id"), subs.as("s"))
        .select(col("vec_id"), col("s.m").as("m"), col("s.sub").as("sub"))
        .withColumn("best", array_min(transform(
          filter(codebook, c => c.getField("m") === col("m")),
          c => struct(round(sqDist(col("sub"), c.getField("cv")), 6).as("d"),
            c.getField("code").as("code")))))
        .select(col("vec_id"), col("m"), col("best.code").as("code"))
      val probe = e.filter(col("vec_id") === PROBE_ID).select(col("v").as("p"))
      val psubs = probe.select(explode(array((1 to PqM).map(m =>
          struct(lit(m.toLong).as("m"),
            slice(col("p"), (m - 1) * 8 + 1, 8).as("psub"))): _*)).as("s"))
        .select(col("s.m").as("m"), col("s.psub").as("psub"))
      val dt = psubs
        .select(col("m"), col("psub"),
          explode(filter(codebook, c => c.getField("m") === col("m"))).as("c"))
        .select(col("m"), col("c.code").as("code"),
          round(sqDist(col("psub"), col("c.cv")), 6).as("d"))
      val adc = enc.join(broadcast(dt), Seq("m", "code"))
        .groupBy(col("vec_id"))
        .agg(round(sum(col("d").cast("decimal(18,6)")).cast("double"), 6)
          .as("adc_dist"))
      adc.filter(col("vec_id") =!= PROBE_ID)
        .orderBy(col("adc_dist"), col("vec_id")).limit(40)
        .join(e, "vec_id")
        .crossJoin(broadcast(probe))
        .select(col("vec_id"), round(sqDist(col("v"), col("p")), 6).as("dist"),
          col("adc_dist"))
        .orderBy(col("dist"), col("vec_id")).limit(10)
    },
    // recall@k of the IVF probe against exact brute-force ground truth —
    // ANN quality measurement as an operator, the report an index owner
    // reads before widening nprobe. Both arms are deterministic, so the
    // recall itself is oracle-exact. One corpus scan per arm; the IVF
    // arm's scan prunes to the probed cells.
    // Quantized-retrieval quality audit: recall@k of symmetric int8
    // scalar quantization (SimilarityLib.quantizeInt8 — q = round(x/s),
    // s = maxAbs/127, the 8× memory tier of the serving stack) against
    // exact float cosine, per probe, plus the mean absolute similarity
    // error over the exact top-k. The int8 ranking rule is the cosine
    // of the CODE vectors (integer dot, exact on both engines) — no
    // dequantization in the hot path, the property that makes int8
    // serving free. Both arms share one corpus scan + 3-row broadcast;
    // cost is corpus-linear, state is k-bounded. The audit is what a
    // serving owner runs before flipping a corpus to int8: recall@k is
    // the accept/reject number, sim error the margin explanation.
    "ann_int8_recall" -> { (s, dir) =>
      val cos = graft.functions.VectorFunctions.cosine_sim _
      val e = SimilarityLib.quantizeInt8(vectors(s, dir), "v")
        .select(col("vec_id"), col("v"),
          col("q_codes").cast("array<double>").as("qv"))
      val probes = e.filter(col("vec_id").isin(IvfProbeIds.map(_.toLong): _*))
        .select(col("vec_id").as("probe_id"), col("v").as("p"),
          col("qv").as("pq"))
      val scored = e.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          round(cos(col("v"), col("p")), 6).as("fs"),
          round(cos(col("qv"), col("pq")), 6).as("qs"))
      def w(c: org.apache.spark.sql.Column) =
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("probe_id")).orderBy(c.desc, col("vec_id"))
      val topF = scored.withColumn("rk", row_number().over(w(col("fs"))))
        .filter(col("rk") <= IvfTopK)
      val topQ = scored.withColumn("rk", row_number().over(w(col("qs"))))
        .filter(col("rk") <= IvfTopK)
        .select(col("probe_id"), col("vec_id"), lit(1).as("hit"))
      topF.join(topQ, Seq("probe_id", "vec_id"), "left")
        .groupBy(col("probe_id"))
        .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hits"),
          DetMean.mean6(sum(DetMean.el10(abs(col("fs") - col("qs")))),
            count(lit(1))).as("mean_abs_sim_err"))
        .withColumn("recall", round(col("n_hits") / lit(IvfTopK.toDouble), 2))
        .select(col("probe_id"), col("n_hits"), col("recall"),
          col("mean_abs_sim_err"))
        .orderBy(col("probe_id"))
    },
    // kNN-distance outlier mining over IVF cells — the data-cleaning
    // operator that surfaces mislabeled/corrupt/off-distribution
    // vectors before they poison training: a point whose distance to
    // its 3rd-nearest neighbor is large sits alone in embedding space.
    // Exact all-pairs is corpus²; routing pairs through the literal-
    // codebook cell assignment (the dedup_semantic / IVF rule: nearest
    // centroid by 6dp cosine, ties to the smaller cell id) bounds pair
    // volume by Σ cell² — the same approximation every production
    // outlier miner makes, and the cells are the ones the ANN index
    // already maintains. Top-20 most-isolated vectors by k-th-NN
    // distance (k = 3, clamped for tiny cells).
    //
    // Scale shape: assignment is corpus × K-broadcast; pairs are
    // cell-equi-joined (never a corpus cross join); the k-th order
    // statistic is a per-vector window over cell-bounded rows.
    // Determinism: distances round 6dp; ranks tie-break by neighbor
    // id; the report ties break by vec_id.
    "emb_outlier_knn" -> { (s, dir) =>
      val cos = graft.functions.VectorFunctions.cosine_sim _
      val e = vectors(s, dir)
      // CORPUS-ADAPTIVE cell count (r16): the fixed 8-cell layout made
      // the within-cell pair join quadratic — measured shuffle ×4.03
      // per data doubling (109→438 MB at sf0.4→sf0.8). ⌊√n⌋ cells is
      // the standard single-level IVF balance: assignment explores
      // n·√n candidates and within-cell pairs total ≈ n·√n — both
      // O(n^1.5), vs n²/8 before. floor(sqrt) is IEEE-exact at perfect
      // squares on both engines (correctly-rounded sqrt), so the
      // oracle's FLOOR(SQRT(COUNT(*))) lands the same cell count.
      // memoized per fixture dir: repeated plan construction must not
      // re-pay the count job (ADVICE r16). Note the adaptive cell count
      // makes which neighbors are WITHIN-CELL a function of n — kNN
      // distance estimates are cell-local by contract (single-probe
      // IVF), so outlier scores at different corpus sizes are not
      // comparable row-for-row; the report's ORDERING within one corpus
      // is the product.
      val nVec = Tables.memoCount(s, dir, "embeddings")
      val cells = math.max(IvfCells.toLong,
        math.floor(math.sqrt(nVec.toDouble)).toLong)
      val cents = e.filter(col("vec_id") < cells)
        .select(col("vec_id").as("cell"), col("v").as("cv"))
      val wAssign = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id"))
        .orderBy(round(cos(col("v"), col("cv")), 6).desc, col("cell"))
      val dot = graft.functions.VectorFunctions.vec_dot _
      // per-pair L2 via the dot identity ‖a−b‖² = ⟨a,a⟩+⟨b,b⟩−2⟨a,b⟩:
      // norms precompute once per row, the pair stage pays ONE fused
      // codegen dot instead of an interpreted zip_with per pair
      // (measured 5.3 s → the interpreted form's cost was the lambda)
      val assigned = e.crossJoin(broadcast(cents))
        .withColumn("rn", row_number().over(wAssign))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("cell"), col("v"),
          dot(col("v"), col("v")).as("n2"))
        .localCheckpoint() // 3 consumers: pair join sides + cell census
      // cell census from the assignment (NOT a per-pair count window:
      // a plain rank-≤-k filter lets Spark insert WindowGroupLimit and
      // prune the pair stream to k rows per vec BEFORE its shuffle)
      val sizes = assigned.groupBy(col("cell")).agg(count(lit(1)).as("sz"))
      val nbrs = assigned.select(col("cell"), col("vec_id").as("nb"),
        col("v").as("vb"), col("n2").as("nb2"))
      val pairs = assigned.join(nbrs, Seq("cell"))
        .filter(col("vec_id") =!= col("nb"))
        .select(col("vec_id"), col("cell"), col("nb"),
          round(col("n2") + col("nb2") -
            lit(2.0) * dot(col("v"), col("vb")), 6).as("dist"))
      val wk = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id")).orderBy(col("dist"), col("nb"))
      pairs.withColumn("rk", row_number().over(wk))
        .filter(col("rk") <= 3) // → WindowGroupLimit (plan-gated)
        .join(broadcast(sizes), Seq("cell"))
        // a vec's pair count is its cell size − 1; keep the k-th
        // (or last, for cells smaller than k+1) neighbor — identical
        // row selection to the old per-pair count window
        .filter(col("rk") === least(lit(3L), col("sz") - 1))
        .select(col("vec_id"), col("cell"), col("sz").as("n_in_cell"),
          col("dist").as("knn_dist"))
        .orderBy(col("knn_dist").desc, col("vec_id")).limit(20)
    },
    // Binary (sign-bit) retrieval audit — the 64× memory tier below
    // int8 (ann_int8_recall): each dimension keeps only its sign, and
    // candidates rank by Hamming distance, computed here as
    // (d − ⟨s_a, s_b⟩)/2 over ±1 sign vectors so the codegen'd vec_dot
    // does all the work (one fused pass, no per-bit branching). This
    // is the audit before flipping a corpus to binary embeddings +
    // rerank: recall@k against exact float cosine is the accept
    // number, the mean Hamming distance of the TRUE top-k the margin
    // story (how many bits separate real neighbors from the crowd).
    //
    // Scale shape: identical to the int8 audit — one corpus scan, a
    // 3-row probe broadcast, k-bounded state; the sign projection is
    // row-local. Determinism: Hamming is integer-exact (±1 dots are
    // integer-valued doubles); cosine rounds 6dp; the mean follows the
    // exact-decimal discipline; ties break by vec_id.
    "ann_binary_hamming" -> { (s, dir) =>
      val cos = graft.functions.VectorFunctions.cosine_sim _
      val dot = graft.functions.VectorFunctions.vec_dot _
      val e = vectors(s, dir)
        .withColumn("sv", transform(col("v"),
          x => when(x >= 0, lit(1.0)).otherwise(lit(-1.0))))
      val probes = e.filter(col("vec_id").isin(IvfProbeIds.map(_.toLong): _*))
        .select(col("vec_id").as("probe_id"), col("v").as("p"),
          col("sv").as("ps"))
      val scored = e.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          round(cos(col("v"), col("p")), 6).as("fs"),
          ((size(col("v")).cast("double") - dot(col("sv"), col("ps"))) /
            lit(2.0)).cast("long").as("h"))
      def w(c: org.apache.spark.sql.Column) =
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("probe_id")).orderBy(c, col("vec_id"))
      val topF = scored.withColumn("rk", row_number().over(w(col("fs").desc)))
        .filter(col("rk") <= IvfTopK)
      val topH = scored.withColumn("rk", row_number().over(w(col("h"))))
        .filter(col("rk") <= IvfTopK)
        .select(col("probe_id"), col("vec_id"), lit(1).as("hit"))
      topF.join(topH, Seq("probe_id", "vec_id"), "left")
        .groupBy(col("probe_id"))
        .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hits"),
          DetMean.mean6(sum(DetMean.el10(col("h"))), count(lit(1)))
            .as("mean_hamming_true_topk"))
        .withColumn("recall", round(col("n_hits") / lit(IvfTopK.toDouble), 2))
        .select(col("probe_id"), col("n_hits"), col("recall"),
          col("mean_hamming_true_topk"))
        .orderBy(col("probe_id"))
    },
    "ann_ivf_recall" -> { (s, dir) =>
      val cos = graft.functions.VectorFunctions.cosine_sim _
      // K-bounded materialization of the IVF arm (k·|probes| = 15 rows,
      // the bounded-collect codebook rule): re-planning its lambda-heavy
      // tree inside a bigger query trips Spark's relation dedup / .rdd
      // binding (runtime ATTRIBUTE_NOT_FOUND) — a literal row set is the
      // robust boundary, and eval cost past this point scales with the
      // shortlist, never the corpus
      val ivf = ivfProbeRows(s, dir)
        .select(col("probe_id"), col("vec_id"), lit(1).as("hit"))
      val e = vectors(s, dir)
      val probes = e.filter(col("vec_id").isin(IvfProbeIds.map(_.toLong): _*))
        .select(col("vec_id").as("probe_id"), col("v").as("p"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("probe_id")).orderBy(col("cos_sim").desc, col("vec_id"))
      val exact = e.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          round(cos(col("v"), col("p")), 6).as("cos_sim"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= IvfTopK)
        .select(col("probe_id"), col("vec_id"))
      exact.join(ivf, Seq("probe_id", "vec_id"), "left")
        .groupBy(col("probe_id"))
        .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hits"))
        .withColumn("recall", round(col("n_hits") / lit(IvfTopK.toDouble), 2))
        .orderBy(col("probe_id"))
    },
    // NDCG@k of the IVF arm against exact brute-force ranking — recall
    // counts WHICH true neighbors the index returned; NDCG grades WHERE
    // it put them. Relevance of an IVF result = its exact-rank gain
    // (k+1-rank for exact top-k members, 0 outside — rank-derived, since
    // the corpus has no human labels); DCG discounts by log2(position+1)
    // over the IVF list, normalized by the ideal DCG. Both arms are
    // deterministic, so ranking quality itself sits under the hash gate.
    // Float discipline: each log2 rounds to 6dp BEFORE dividing, each
    // term rounds to 6dp and sums as exact DECIMAL (text_perplexity
    // rule), so the quotient of two exactly-represented decimals is
    // engine-identical. Cost shape: one corpus scan per arm (the IVF arm
    // cell-pruned), then joins on k·|probes| rows — eval cost scales
    // with the shortlist, never the corpus.
    "ann_ndcg" -> { (s, dir) =>
      val cos = graft.functions.VectorFunctions.cosine_sim _
      // K-bounded materialization (the ann_ivf_recall note)
      val ivf = ivfProbeRows(s, dir)
        .select(col("probe_id"), col("vec_id"), col("rk"))
      val e = vectors(s, dir)
      val probes = e.filter(col("vec_id").isin(IvfProbeIds.map(_.toLong): _*))
        .select(col("vec_id").as("probe_id"), col("v").as("p"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("probe_id")).orderBy(col("cos_sim").desc, col("vec_id"))
      val gains = e.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          round(cos(col("v"), col("p")), 6).as("cos_sim"))
        .withColumn("erk", row_number().over(w))
        .filter(col("erk") <= IvfTopK)
        .select(col("probe_id"), col("vec_id"),
          (lit(IvfTopK + 1) - col("erk")).as("g"))
      val terms = ivf.join(gains, Seq("probe_id", "vec_id"), "left")
        .select(col("probe_id"),
          round(coalesce(col("g"), lit(0)) / round(log2(col("rk") + 1), 6), 6)
            .as("term"))
      val dcg = terms.groupBy(col("probe_id"))
        .agg(sum(col("term").cast("decimal(18,6)")).cast("double").as("dcg"))
      val idcg = s.range(1, IvfTopK + 1).toDF("i")
        .select(round((lit(IvfTopK + 1) - col("i")) /
          round(log2(col("i") + 1), 6), 6).as("term"))
        .agg(sum(col("term").cast("decimal(18,6)")).cast("double").as("idcg"))
      dcg.crossJoin(broadcast(idcg))
        .select(col("probe_id"), round(col("dcg"), 6).as("dcg"),
          round(col("dcg") / col("idcg"), 6).as("ndcg"))
        .orderBy(col("probe_id"))
    },
    // Matryoshka truncation quality (Kusupati et al. 2022, NeurIPS:
    // Matryoshka Representation Learning) — the report an embedding
    // owner reads before serving truncated vectors: for each prefix
    // tier d ∈ {64, 32, 16, 8}, retrieval recall@k of tier-d cosine
    // against the full-dim exact top-k, per probe. The dims=64 rows are
    // the self-anchor (recall 1 by construction — a free sanity gate
    // under the same hash).
    //
    // Scale shape: ONE corpus scan computes all four tier cosines per
    // row (prefix slices of the same vector — no re-read per tier),
    // stacked to (dims, cos) and ranked by a window whose rank<=k
    // filter Spark rewrites to WindowGroupLimit: per-partition top-k
    // state, only survivors shuffle. Everything after the window is
    // k·|tiers|·|probes| rows (60 here), K-bounded by construction —
    // eval cost scales with the shortlist, never the corpus. The
    // shortlist is localCheckpointed for its two consumers (tier arm +
    // full-dim reference arm).
    "emb_mrl_quality" -> { (s, dir) =>
      val topk = mrlTierTopK(s, dir).localCheckpoint()
      val full = topk.filter(col("dims") === 64)
        .select(col("probe_id"), col("vec_id"), lit(1).as("hit"))
      // k·|probes| rows — always broadcastable; checkpoint stats loss
      // would otherwise push this onto a sort-merge join.
      topk.join(broadcast(full), Seq("probe_id", "vec_id"), "left")
        .groupBy(col("dims"), col("probe_id"))
        .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hits"))
        .withColumn("recall", round(col("n_hits") / lit(IvfTopK.toDouble), 2))
        .orderBy(col("dims"), col("probe_id"))
    },
    // Embedding anisotropy audit (Ethayarajh 2019, EMNLP: "How
    // Contextual are Contextualized Word Representations?") — the
    // geometry health check an embedding owner runs before trusting
    // cosine retrieval: in a healthy space, unrelated pairs center near
    // cosine 0; anisotropic spaces (a few rogue high-variance
    // dimensions) push the whole distribution toward +1, silently
    // compressing every similarity score. Pairs are the deterministic
    // stride rule (i, i+199) — RNG-free "random" pairs, prime stride
    // coprime to any id periodicity. Output: the 0.1-wide cosine
    // histogram with per-bin share and mean — the anisotropy curve.
    //
    // Scale shape: ONE self-equi-join on the shifted id (hash join on
    // vec_id, never pairwise) then a partial-aggregated 20-bin
    // collapse; at any corpus size this is one shuffle of N rows.
    // Determinism: 6dp cosines, integer binning on the rounded value,
    // decimal-sum bin means.
    "emb_anisotropy" -> { (s, dir) =>
      val cos = graft.functions.VectorFunctions.cosine_sim _
      val e = vectors(s, dir)
      val pairs = e.select(col("vec_id"), col("v"))
        .join(e.select((col("vec_id") - 199).as("vec_id"), col("v").as("vb")),
          Seq("vec_id"))
        .select(round(cos(col("v"), col("vb")), 6).as("cs"))
      val tot = pairs.agg(count(lit(1)).as("n_pairs"))
      pairs
        .withColumn("bin", least(lit(19L),
          greatest(lit(0L), floor((col("cs") + 1.0) * 10).cast("long"))))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          DetMean.mean6(sum(DetMean.el10(col("cs"))), count(lit(1)))
            .as("mean_cos"))
        .crossJoin(broadcast(tot))
        .select(col("bin"), col("n"),
          round(col("n").cast("double") / col("n_pairs"), 6).as("share"),
          col("mean_cos"))
        .orderBy(col("bin"))
    },
    // k-center greedy coreset (Gonzalez 1985; Sener & Savarese 2018,
    // ICLR: active learning as core-set selection) — farthest-point
    // sampling over the embedding corpus: repeatedly pick the point
    // farthest (cosine distance) from everything already picked. The
    // selected K points 2-approximate the optimal covering, and the
    // emitted radius sequence (each pick's distance to the prior set)
    // is the coverage curve a curation owner reads to size K. Seed =
    // lowest vec_id (all-ties argmax under the deterministic
    // (mind desc, vec_id) order), radius 2.0 by convention.
    //
    // Scale shape: greedy selection is inherently sequential in K, so
    // the unroll is K corpus passes, each ONE broadcast of the newest
    // 1-row pick against the checkpointed (vec_id, v, mind) state —
    // never pairwise, never a growing join. State is corpus-linear and
    // updates in place (LEAST), checkpointed per step so the plan stays
    // flat; total work is K·N distances, the textbook cost. Distances
    // are 6dp-rounded cosines (one LEAST lattice — order-independent).
    "emb_coreset_kcenter" -> { (s, dir) =>
      val cos = graft.functions.VectorFunctions.cosine_sim _
      var mind = vectors(s, dir)
        .withColumn("mind", lit(2.0))
        .localCheckpoint(eager = false)
      // a corpus of fewer than K vectors runs out of candidates: the
      // picks stop there (the DuckDB twin's `LIMIT 1` steps go empty)
      val picks = Iterator.range(1, CoresetK + 1).map { step =>
        // the greedy pick is a SINGLETON row — collect it with head()
        // and re-inject (vec_id, v, mind) as literals, the
        // spectralCutBody scalar1 discipline (r17 verdict item 6: the
        // unrolled loop was ~24 tiny driver-scheduled jobs at an
        // ~85 ms/job floor). The head() is ALSO the state checkpoint's
        // materializing action (lazy localCheckpoint + TakeOrdered
        // computes every partition), so each step is exactly one job.
        // No arithmetic happens on the driver: the doubles are ferried
        // verbatim, the update expression and the radius rounding are
        // the same Spark expressions as before — the decimal lattice
        // is untouched and the oracle replay unchanged.
        mind.orderBy(col("mind").desc, col("vec_id")).head(1).headOption.map { bestRow =>
          val sid = bestRow.getLong(0)
          val sv = bestRow.getSeq[Double](1)
          val sMind = bestRow.getDouble(2)
          mind = mind
            .withColumn("mind", least(col("mind"),
              round(lit(1.0) - round(cos(col("v"), typedLit(sv)), 6), 6)))
            .filter(col("vec_id") =!= lit(sid))
            .select(col("vec_id"), col("v"), col("mind"))
            .localCheckpoint(eager = false)
          s.range(1).select(lit(step.toLong).as("step"),
            lit(sid).as("vec_id"), round(lit(sMind), 6).as("radius"))
        }
      }.takeWhile(_.isDefined).flatten.toSeq
      picks.reduceOption(_ unionAll _)
        .getOrElse(s.range(0).select(lit(0L).as("step"), lit(0L).as("vec_id"),
          lit(0.0).as("radius")))
        .orderBy(col("step"))
    },
    // bitext / parallel-pair mining (LASER/CCMatrix-style): align two
    // embedding populations (labels 0 and 1 standing in for the two
    // languages' encoder outputs) by MUTUAL best match + ratio margin —
    // a forward-best b for a survives only if a is also b's best in the
    // reverse direction (kills hub vectors that are everyone's nearest
    // neighbor), scored by cos1/cos2 (the margin criterion: how much
    // the best beats the runner-up — raw cosine thresholds don't
    // transfer across language pairs, margins do). Candidate generation
    // is the IvfCodebook geometry, NOT a cross join: the B population
    // is indexed into its nearest literal-codebook cell, each A vector
    // probes its IvfNProbe nearest cells, and only cell-colocated pairs
    // are scored — an equi-join on the cell key, so pair count scales as
    // nprobe/K of the cross product and the join shuffles on a real key
    // (at 100 TB: K grows with the corpus, per-cell work stays bounded).
    // The margin logic downstream is unchanged and runs within the
    // candidate set on both engines. One scored table feeds the forward
    // ranking, the runner-up, and the reverse ranking — localCheckpoint
    // for the three consumers (the dedup_ngram_jaccard rationale).
    "emb_bitext_mine" -> { (s, dir) =>
      val scored = bitextScored(s, dir).localCheckpoint(eager = false)
      val wf = org.apache.spark.sql.expressions.Window
        .partitionBy(col("a_id")).orderBy(col("c").desc, col("b_id"))
      val fw = scored.withColumn("rk", row_number().over(wf))
        .filter(col("rk") <= 2)
        .groupBy(col("a_id"))
        .agg(max(when(col("rk") === 1,
            struct(col("c").as("c"), col("b_id").as("b_id")))).as("b1"),
          max(when(col("rk") === 2, col("c"))).as("c2"))
        .select(col("a_id"), col("b1.b_id").as("b_id"),
          col("b1.c").as("cos_sim"), col("c2"))
      val wb = org.apache.spark.sql.expressions.Window
        .partitionBy(col("b_id")).orderBy(col("c").desc, col("a_id"))
      val bw = scored.withColumn("rk", row_number().over(wb))
        .filter(col("rk") === 1)
        .select(col("b_id"), col("a_id"))
      fw.join(bw, Seq("a_id", "b_id"))
        .select(col("a_id"), col("b_id"), col("cos_sim"),
          round(col("cos_sim") / col("c2"), 6).as("ratio_margin"))
        .orderBy(col("a_id"))
    })

  /** MMR re-rank constants: shortlist size, selected count. λ = 0.7 is
    * written as paired literals 0.7 / 0.3 at both use sites (Spark and
    * DuckDB) — never 1−λ, which differs from 0.3 in f64. */
  private val MmrShortlist = 20
  /** emb_coreset_kcenter picks — small enough that the unrolled greedy
    * plan (K corpus passes) stays cheap, large enough for a real curve. */
  private val CoresetK = 8
  private val MmrSelect = 5

  /** RRF constant k=60 (the SIGIR'09 value), per-arm shortlist depth, and
    * fused result count for `ann_hybrid_rrf`. */
  private val RrfK = 60
  private val RrfShortlist = 15
  private val RrfSelect = 10

  /** ann_mmr_rerank's shortlist — the only corpus-sized stage, exposed
    * pre-checkpoint so PlanShapeSpec can gate its shape (broadcast
    * probe + TakeOrderedAndProject, zero shuffles of the corpus). */
  private[operators] def mmrShortlist(s: SparkSession, dir: String): DataFrame = {
    val cosF = graft.functions.VectorFunctions.cosine_sim _
    val e = vectors(s, dir)
    val probe = e.filter(col("vec_id") === PROBE_ID).select(col("v").as("p"))
    e.filter(col("vec_id") =!= PROBE_ID)
      .crossJoin(broadcast(probe))
      .select(col("vec_id"), col("v"),
        round(cosF(col("v"), col("p")), 6).as("rel"))
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(MmrShortlist)
  }

  /** The MMR greedy loop, shared by the brute-force and IVF-routed
    * shortlist twins: K-bounded after the shortlist (≤K² pairwise sims
    * localCheckpointed once; each round a semi-join + argmax over ≤K
    * rows), so selection cost is independent of how the shortlist was
    * retrieved — exactly the property that lets the shortlist arm swap
    * from exact scan to IVF at scale without touching selection
    * semantics. `short0` must expose (vec_id, v, rel). */
  private def mmrGreedy(short0: DataFrame): DataFrame = {
    val cosF = graft.functions.VectorFunctions.cosine_sim _
    val short = short0.localCheckpoint()
    val pair = short.select(col("vec_id").as("ca"), col("v").as("va"))
      .crossJoin(short.select(col("vec_id").as("cb"), col("v").as("vb")))
      .filter(col("ca") =!= col("cb"))
      .select(col("ca"), col("cb"),
        round(cosF(col("va"), col("vb")), 6).as("sim"))
      .localCheckpoint()
    val base = short.select(col("vec_id"), col("rel"))
    var sel = base.orderBy(col("rel").desc, col("vec_id")).limit(1)
      .select(col("vec_id"), col("rel"), lit(1L).as("rank"),
        col("rel").as("mmr_score"))
      .localCheckpoint()
    for (r <- 2 to MmrSelect) {
      val msim = pair
        .join(sel.select(col("vec_id").as("cb")), Seq("cb"), "semi")
        .groupBy(col("ca")).agg(max(col("sim")).as("msim"))
      val pick = base
        .join(sel.select(col("vec_id")), Seq("vec_id"), "anti")
        .join(msim, col("vec_id") === col("ca"))
        .select(col("vec_id"), col("rel"),
          (lit(0.7) * col("rel") - lit(0.3) * col("msim")).as("score"))
        .orderBy(col("score").desc, col("vec_id")).limit(1)
        .select(col("vec_id"), col("rel"), lit(r.toLong).as("rank"),
          round(col("score"), 6).as("mmr_score"))
      sel = sel.unionByName(pick).localCheckpoint()
    }
    sel.select(col("rank"), col("vec_id"), col("rel"), col("mmr_score"))
      .orderBy(col("rank"))
  }

  /** RRF fusion, shared by the brute-force and IVF dense-arm twins: the
    * lexical BM25 arm and the shortlist-sized rank/fuse stages are
    * identical; only the dense candidate generator differs. `dense` must
    * expose (vec_id, cs) — pre-limit, so each twin's candidate plan ends
    * in the same distributed TakeOrderedAndProject here. */
  private def rrfFuse(s: SparkSession, dir: String, dense: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val lexRanked = TextOps.bm25Scored(s, dir)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(RrfShortlist)
      .select(col("doc_id").as("lex_id"),
        row_number().over(w.orderBy(col("score").desc, col("doc_id")))
          .cast("long").as("lex_rank"))
    val denseRanked = dense
      .orderBy(col("cs").desc, col("vec_id"))
      .limit(RrfShortlist)
      .select(col("vec_id").as("dense_id"),
        row_number().over(w.orderBy(col("cs").desc, col("vec_id")))
          .cast("long").as("dense_rank"))
    lexRanked
      .join(denseRanked, col("lex_id") === col("dense_id"), "full_outer")
      .select(coalesce(col("lex_id"), col("dense_id")).as("doc_id"),
        col("lex_rank"), col("dense_rank"),
        round(coalesce(lit(1.0) / (lit(RrfK) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("dense_rank")), lit(0.0)), 6)
          .as("rrf_score"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
      .limit(RrfSelect)
  }

  /** IVF-routed candidates of PROBE_ID as (vec_id, v, cs, rel): the
    * corpus assigned to its nearest literal-codebook cell (pure codegen
    * projection), the probe exploded onto its IvfNProbe nearest cells,
    * and cosine scored ONLY for cell-colocated rows — the IvfCodebook
    * geometry, here shared by the MMR and RRF routed twins. The probe gets
    * its own scan (fresh expression ids + pushed-down id filter — the
    * self-join-dedup hazard noted in ann_ivf_probe) and the lambda-
    * derived cell key is opaque-wrapped (OpaqueIdentity scaladoc). */
  private[operators] def ivfProbeCandidates(s: SparkSession, dir: String): DataFrame = {
    val cos = graft.functions.VectorFunctions.cosine_sim _
    val e = vectors(s, dir)
    val codebook = ivfCellSims(e)
    val assigned = e.withColumn("cell",
      graft.functions.Barriers.opaque(codebook.cell(col("v"))))
    val probe = vectors(s, dir).filter(col("vec_id") === PROBE_ID)
      .select(col("v").as("p"), codebook.probeCells(col("v")).as("pcell"))
    assigned.join(broadcast(probe), col("cell") === col("pcell") &&
        col("vec_id") =!= PROBE_ID)
      .select(col("vec_id"), col("v"),
        round(cos(col("v"), col("p")), 6).as("cs"))
      .withColumn("rel", col("cs"))
  }

  /** emb_mrl_quality's per-tier top-k shortlist, exposed pre-checkpoint
    * so PlanShapeSpec can gate the shape the scaladoc claims: one corpus
    * scan computes ALL prefix-tier cosines (tiers stacked row-local, no
    * per-tier re-read), and rank<=k over (dims, probe) rewrites to
    * WindowGroupLimit so only k rows per (tier, probe) survive the
    * shuffle. Output: (dims, probe_id, vec_id), k·|tiers|·|probes| rows. */
  private[operators] def mrlTierTopK(s: SparkSession, dir: String): DataFrame = {
    val cos = graft.functions.VectorFunctions.cosine_sim _
    val tiers = Seq(64, 32, 16, 8)
    val e = vectors(s, dir)
    val probes = e.filter(col("vec_id").isin(IvfProbeIds.map(_.toLong): _*))
      .select(col("vec_id").as("probe_id"), col("v").as("p"))
    val cosCols = tiers.map(d =>
      round(cos(slice(col("v"), 1, d), slice(col("p"), 1, d)), 6)
        .as(s"c$d"))
    val scored = e.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id") +: col("vec_id") +: cosCols: _*)
    val stacked = scored.select(col("probe_id"), col("vec_id"),
      expr(s"stack(${tiers.size}, " +
        tiers.map(d => s"${d}L, c$d").mkString(", ") + ") AS (dims, cs)"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("dims"), col("probe_id"))
      .orderBy(col("cs").desc, col("vec_id"))
    stacked.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= IvfTopK)
      .select(col("dims"), col("probe_id"), col("vec_id"))
  }

  /** ann_mmr_rerank_ivf's shortlist — IVF-routed top-MmrShortlist,
    * exposed pre-checkpoint so PlanShapeSpec can gate the cell equi-join
    * (no corpus-wide cosine, no cartesian). */
  private[operators] def mmrShortlistIvf(s: SparkSession, dir: String): DataFrame =
    ivfProbeCandidates(s, dir)
      .select(col("vec_id"), col("v"), col("rel"))
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(MmrShortlist)

  /** ann_ivf_probe geometry, shared by query and oracle. */
  private val IvfCells = 8
  private val IvfNProbe = 2
  private val IvfTopK = 5
  private val IvfProbeIds = Seq(3, 11, 42)

  /** The IVF assignment rule over a literal codebook. `cellSims` maps a
    * vector column to the array of (sim, -cell, cell) structs, one per
    * cell, lexicographically ordered so array_max / sort mean "sim desc,
    * ties to the smallest cell". Call sites alias the columns themselves
    * and wrap a join key in `Barriers.opaque` (OpaqueIdentity scaladoc). */
  private final class IvfCodebook(cellSims: Column => Column) {
    /** The nearest cell, ties to the smaller cell id. */
    def cell(v: Column): Column = array_max(cellSims(v)).getField("cell")

    /** The IvfNProbe nearest cells, exploded one row each. */
    def probeCells(v: Column): Column = explode(transform(
      slice(reverse(array_sort(cellSims(v))), 1, IvfNProbe),
      c => c.getField("cell")))
  }

  /** Deterministic literal IVF codebook (seeds = vec_id < IvfCells): the
    * bounded-collect codebook shape shared by the ann_ivf family,
    * ann_hard_negatives, emb_silhouette, the IVF-routed MMR/RRF twins and
    * emb_bitext_mine — K×d literals broadcast in the plan, assignment is
    * pure codegen, no shuffle. `e` must expose (vec_id, v). */
  private def ivfCellSims(e: DataFrame): IvfCodebook = {
    val cos = graft.functions.VectorFunctions.cosine_sim _
    val cents = e.filter(col("vec_id") < IvfCells).collect().sortBy(_.getLong(0))
    val centArr = array(cents.map { r =>
      struct(lit(r.getLong(0)).as("cell"),
        typedLit(r.getSeq[Double](1)).as("cv"))
    }.toIndexedSeq: _*)
    new IvfCodebook(v => transform(centArr, c =>
      struct(round(cos(v, c.getField("cv")), 6).as("sim"),
        (-c.getField("cell")).as("negc"), c.getField("cell").as("cell"))))
  }

  /** The ann_ivf_probe ranking, shared by the parquet, stored and live
    * probes: the IvfProbeIds probes fan out onto their IvfNProbe nearest
    * cells (broadcast), join the corpus on the cell key, score cosine
    * only for cell-colocated rows and keep the exact top-IvfTopK per
    * probe. `corpus` exposes (vec_id, v, cell); `probeSide` exposes
    * (vec_id, v) and must be a read of its own (fresh expression ids —
    * the self-join hazard noted in ann_ivf_probe). */
  private def ivfTopK(corpus: DataFrame, probeSide: DataFrame,
      codebook: IvfCodebook): DataFrame = {
    val cos = graft.functions.VectorFunctions.cosine_sim _
    val probes = probeSide.filter(col("vec_id").isin(IvfProbeIds.map(_.toLong): _*))
      .select(col("vec_id").as("probe_id"), col("v").as("p"),
        codebook.probeCells(col("v")).as("pcell"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id")).orderBy(col("cos_sim").desc, col("vec_id"))
    corpus.join(broadcast(probes), col("cell") === col("pcell") &&
        col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(cos(col("v"), col("p")), 6).as("cos_sim"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= IvfTopK)
      .orderBy(col("probe_id"), col("rk"))
  }

  /** The takedown batch of the live-index queries: vec_ids [100, 220)
    * leave the base store (v1) as a row-level DELETE, the net-deleted
    * keys are recovered from its file-level CDC, and the index absorbs
    * them as one tombstone append. Returns the dead keys. */
  private def takeDown(s: SparkSession, baseRoot: String, idxRoot: String): DataFrame = {
    graft.sources.GraftStore.delete(baseRoot, Array(
      org.apache.spark.sql.sources.And(
        org.apache.spark.sql.sources.GreaterThanOrEqual("vec_id", 100L),
        org.apache.spark.sql.sources.LessThan("vec_id", 220L))))
    val dead = graft.sources.GraftStore.netDeletedKeys(
      s, baseRoot, sinceVersion = 1L, Seq("vec_id"))
    graft.sources.StoredIndex.appendTombstones(s, idxRoot, dead)
    dead
  }

  /** The ann_ivf_probe result as a literal K-bounded DataFrame
    * (k·|probes| rows collected once): composing queries (recall, NDCG)
    * join it against their own corpus scans, and re-planning the probe
    * arm's lambda-heavy tree inside theirs trips Spark's relation dedup /
    * .rdd binding (runtime ATTRIBUTE_NOT_FOUND on a codebook lambda
    * reference). The collect is bounded by construction — never grows
    * with the corpus. */
  private def ivfProbeRows(s: SparkSession, dir: String): DataFrame = {
    val probe = queries("ann_ivf_probe")(s, dir)
    s.createDataFrame(
      java.util.Arrays.asList(probe.collect(): _*), probe.schema)
  }

  /** emb_bitext_mine's candidate generation + scoring, pre-checkpoint
    * (package-private so PlanShapeSpec can gate the candidate plan — the
    * checkpoint boundary hides it from the downstream query's plan): the
    * B population indexed into its nearest literal-codebook cell, each A
    * vector probing its IvfNProbe nearest cells, cosine scored only for
    * cell-colocated pairs — an equi-join on the cell key, never A×B.
    * Each side gets its own scan (fresh expression ids — the
    * self-join-dedup hazard noted in ann_ivf_probe) and its own
    * pushed-down label filter. */
  private[graft] def bitextScored(s: SparkSession, dir: String): DataFrame = {
    val cos = graft.functions.VectorFunctions.cosine_sim _
    val e = embeddings(s, dir).select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))
    val codebook = ivfCellSims(e.select(col("vec_id"), col("v")))
    val eB = embeddings(s, dir).select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))
    val srcA = e.filter(col("label") === 0)
      .select(col("vec_id").as("a_id"), col("v").as("va"),
        codebook.probeCells(col("v")).as("pcell"))
    val srcB = eB.filter(col("label") === 1)
      .select(col("vec_id").as("b_id"), col("v").as("vb"),
        // opaque: lambda-derived join key (OpaqueIdentity scaladoc)
        graft.functions.Barriers.opaque(codebook.cell(col("v"))).as("cell"))
    srcA.join(srcB, col("pcell") === col("cell"))
      .select(col("a_id"), col("b_id"),
        round(cos(col("va"), col("vb")), 6).as("c"))
  }

  /** The full IVF index table (vec_id, cell, v): every corpus vector
    * with its nearest-literal-codebook cell assignment — the artifact
    * ann_ivf_index_stored persists and ann_ivf_probe_stored scans. */
  private def ivfIndexTable(s: SparkSession, dir: String): DataFrame = {
    val e = vectors(s, dir)
    e.select(col("vec_id"), ivfCellSims(e).cell(col("v")).as("cell"), col("v"))
  }

  /** Snapshot-pinned read of the stored IVF index, building it once per
    * process if absent (so the probe twin stays self-contained when run
    * alone, and pays only the scan when the index query ran first). */
  private def storedIvfIndex(s: SparkSession, dir: String): DataFrame =
    graft.sources.GraftStore.materializeOnce(s,
      StoreRoots.tmpRoot("ivfidx", dir))(ivfIndexTable(s, dir))

  /** emb_kmeans / emb_pq_error geometry, shared by query and oracle. */
  private val KmK = 8
  private val PqM = 8
  private val PqK = 4

  /** Squared euclidean distance as a left-fold — deterministic element
    * order on both engines (mirrors [[VectorOps.dot]]). */
  private def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  private def sqDistSql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a)+1), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"

  private def cosSql(v: String, p: String): String =
    s"ROUND(${dotSql(v, p)} / (sqrt(${dotSql(v, v)}) * sqrt(${dotSql(p, p)})), 6)"

  val oracles: Map[String, String] = Map(
    "ann_hybrid_rrf" ->
      s"""WITH ${TextOps.bm25ScoredCtes},
         |lex0 AS (SELECT doc_id, score FROM scored
         |         ORDER BY score DESC, doc_id LIMIT $RrfShortlist),
         |lex AS (SELECT doc_id AS lex_id,
         |          CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
         |            AS BIGINT) AS lex_rank
         |        FROM lex0),
         |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |      FROM embeddings),
         |probe AS (SELECT v AS p FROM e WHERE vec_id = $PROBE_ID),
         |d0 AS (SELECT vec_id, ${cosSql("v", "p")} AS cs
         |       FROM e, probe WHERE vec_id <> $PROBE_ID
         |       ORDER BY cs DESC, vec_id LIMIT $RrfShortlist),
         |dense AS (SELECT vec_id AS dense_id,
         |            CAST(ROW_NUMBER() OVER (ORDER BY cs DESC, vec_id)
         |              AS BIGINT) AS dense_rank
         |          FROM d0)
         |SELECT COALESCE(lex_id, dense_id) AS doc_id, lex_rank, dense_rank,
         |  ROUND(COALESCE(CAST(1.0 AS DOUBLE) / ($RrfK + lex_rank), 0.0) +
         |        COALESCE(CAST(1.0 AS DOUBLE) / ($RrfK + dense_rank), 0.0), 6)
         |    AS rrf_score
         |FROM lex FULL OUTER JOIN dense ON lex_id = dense_id
         |ORDER BY rrf_score DESC, doc_id
         |LIMIT $RrfSelect""".stripMargin,
    // Same lexical arm and fusion; the dense arm's candidates replay the
    // IVF cell rule instead of a corpus-wide cosine scan.
    "ann_hybrid_rrf_ivf" ->
      s"""WITH ${TextOps.bm25ScoredCtes},
         |lex0 AS (SELECT doc_id, score FROM scored
         |         ORDER BY score DESC, doc_id LIMIT $RrfShortlist),
         |lex AS (SELECT doc_id AS lex_id,
         |          CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
         |            AS BIGINT) AS lex_rank
         |        FROM lex0),
         |$ivfProbeCandSql,
         |d0 AS (SELECT vec_id, cs FROM cand
         |       ORDER BY cs DESC, vec_id LIMIT $RrfShortlist),
         |dense AS (SELECT vec_id AS dense_id,
         |            CAST(ROW_NUMBER() OVER (ORDER BY cs DESC, vec_id)
         |              AS BIGINT) AS dense_rank
         |          FROM d0)
         |SELECT COALESCE(lex_id, dense_id) AS doc_id, lex_rank, dense_rank,
         |  ROUND(COALESCE(CAST(1.0 AS DOUBLE) / ($RrfK + lex_rank), 0.0) +
         |        COALESCE(CAST(1.0 AS DOUBLE) / ($RrfK + dense_rank), 0.0), 6)
         |    AS rrf_score
         |FROM lex FULL OUTER JOIN dense ON lex_id = dense_id
         |ORDER BY rrf_score DESC, doc_id
         |LIMIT $RrfSelect""".stripMargin,
    "emb_value_hist" ->
      s"""WITH ve AS (
         |  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |env AS (
         |  SELECT ROUND(MIN(ROUND(sqrt(${dotSql("v", "v")}), 6)), 6) AS min_norm,
         |    ROUND(MAX(ROUND(sqrt(${dotSql("v", "v")}), 6)), 6) AS max_norm
         |  FROM ve),
         |h AS (
         |  SELECT CAST(FLOOR(ROUND(x, 6) * 10) AS BIGINT) AS bucket, COUNT(*) AS n
         |  FROM (SELECT unnest(v) AS x FROM ve)
         |  GROUP BY bucket)
         |SELECT bucket, n, min_norm, max_norm
         |FROM h, env
         |ORDER BY bucket""".stripMargin,
    "emb_covariance" -> {
      val d = CovDims
      val pairs = for { i <- 1 to d; j <- i to d } yield (i, j)
      val sumCols =
        (1 to d).map(i => s"SUM(v[$i]) AS s$i") ++
          pairs.map { case (i, j) => s"SUM(v[$i] * v[$j]) AS p${i}_$j" }
      val arms = pairs.map { case (i, j) =>
        s"SELECT CAST($i AS BIGINT) AS i, CAST($j AS BIGINT) AS j, " +
          s"CAST(p${i}_$j AS DOUBLE) AS sxy, CAST(s$i AS DOUBLE) AS sx, " +
          s"CAST(s$j AS DOUBLE) AS sy, n FROM s"
      }
      s"""WITH e AS (
         |  SELECT list_transform(embedding[1:$d],
         |    x -> CAST(ROUND(CAST(x AS DOUBLE), 6) AS DECIMAL(12,6))) AS v
         |  FROM embeddings),
         |s AS (
         |  SELECT COUNT(*) AS n, ${sumCols.mkString(", ")}
         |  FROM e)
         |SELECT i, j, ROUND((sxy - sx * sy / n) / (n - 1), 6) AS cov, n
         |FROM (${arms.mkString(" UNION ALL ")})
         |ORDER BY i, j""".stripMargin
    },
    "emb_pca_power" -> {
      val d = CovDims
      val pairs = for { i <- 1 to d; j <- i to d } yield (i, j)
      val sumCols =
        (1 to d).map(i => s"SUM(v[$i]) AS s$i") ++
          pairs.map { case (i, j) => s"SUM(v[$i] * v[$j]) AS p${i}_$j" }
      val arms = pairs.map { case (i, j) =>
        s"SELECT CAST($i AS BIGINT) AS i, CAST($j AS BIGINT) AS j, " +
          s"CAST(p${i}_$j AS DOUBLE) AS sxy, CAST(s$i AS DOUBLE) AS sx, " +
          s"CAST(s$j AS DOUBLE) AS sy, n FROM s"
      }
      // one unrolled multiply-normalize round reading vPREV, emitting vK
      def round(k: Int): String = {
        val prev = if (k == 1) "v0" else s"v${k - 1}"
        s"""w$k AS (
           |  SELECT cov.i,
           |    CAST(SUM(CAST(c AS DECIMAL(12,6)) * CAST(v AS DECIMAL(14,10)))
           |      AS DOUBLE) AS w
           |  FROM cov JOIN $prev ON cov.j = $prev.j GROUP BY cov.i),
           |n$k AS (
           |  SELECT SQRT(CAST(SUM(CAST(ROUND(w, 10) AS DECIMAL(18,10))
           |    * CAST(ROUND(w, 10) AS DECIMAL(18,10))) AS DOUBLE)) AS nrm
           |  FROM w$k),
           |v$k AS (
           |  SELECT i AS j, ROUND(w / nrm, 10) AS v FROM w$k, n$k)""".stripMargin
      }
      s"""WITH e AS (
         |  SELECT list_transform(embedding[1:$d],
         |    x -> CAST(ROUND(CAST(x AS DOUBLE), 6) AS DECIMAL(12,6))) AS v
         |  FROM embeddings),
         |s AS (
         |  SELECT COUNT(*) AS n, ${sumCols.mkString(", ")}
         |  FROM e),
         |tri AS (
         |  SELECT i, j, ROUND((sxy - sx * sy / n) / (n - 1), 6) AS c
         |  FROM (${arms.mkString(" UNION ALL ")})),
         |cov AS (
         |  SELECT i, j, c FROM tri
         |  UNION ALL SELECT j AS i, i AS j, c FROM tri WHERE i <> j),
         |v0 AS (
         |  SELECT r.range AS j, CAST(0.4082482905 AS DOUBLE) AS v
         |  FROM range(1, ${d + 1}) r),
         |${(1 to 4).map(round).mkString(",\n")}
         |SELECT v4.j AS pos, v4.v AS loading, ROUND(n4.nrm, 6) AS eigenvalue
         |FROM v4, n4
         |ORDER BY pos""".stripMargin
    },
    "ann_topk_bruteforce" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings),
         |probe AS (SELECT v AS p FROM e WHERE vec_id = $PROBE_ID)
         |SELECT vec_id, ${cosSql("v", "p")} AS cos_sim
         |FROM e, probe
         |WHERE vec_id <> $PROBE_ID
         |ORDER BY cos_sim DESC, vec_id
         |LIMIT 10""".stripMargin,
    "emb_anisotropy" ->
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |pairs AS (
         |  SELECT ${cosSql("a.v", "b.v")} AS cs
         |  FROM e a JOIN e b ON b.vec_id = a.vec_id + 199),
         |tot AS (SELECT COUNT(*) AS n_pairs FROM pairs),
         |binned AS (
         |  SELECT LEAST(CAST(19 AS BIGINT), GREATEST(CAST(0 AS BIGINT),
         |    CAST(FLOOR((cs + 1.0) * 10) AS BIGINT))) AS bin, cs
         |  FROM pairs)
         |SELECT bin, COUNT(*) AS n,
         |  ROUND(CAST(COUNT(*) AS DOUBLE) / tot.n_pairs, 6) AS share,
         |  ROUND(CAST(SUM(CAST(ROUND(cs, 10) AS DECIMAL(28,10)))
         |    AS DOUBLE) / COUNT(*), 6) AS mean_cos
         |FROM binned, tot
         |GROUP BY bin, tot.n_pairs
         |ORDER BY bin""".stripMargin,
    "emb_coreset_kcenter" -> {
      val steps = (1 to CoresetK).map { i =>
        s"""s$i AS (
           |  SELECT vec_id, v, mind FROM m${i - 1}
           |  ORDER BY mind DESC, vec_id LIMIT 1),
           |m$i AS (
           |  SELECT m.vec_id, m.v,
           |    LEAST(m.mind, ROUND(CAST(1.0 AS DOUBLE)
           |      - ${cosSql("m.v", "s.v")}, 6)) AS mind
           |  FROM m${i - 1} m, s$i s WHERE m.vec_id <> s.vec_id)""".stripMargin
      }
      val sel = (1 to CoresetK).map(i =>
        s"SELECT CAST($i AS BIGINT) AS step, vec_id, ROUND(mind, 6) AS radius FROM s$i")
        .mkString("\nUNION ALL ")
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |m0 AS (SELECT vec_id, v, CAST(2.0 AS DOUBLE) AS mind FROM e),
         |${steps.mkString(",\n")}
         |$sel
         |ORDER BY step""".stripMargin
    },
    "emb_mrl_quality" -> {
      val tiers = Seq(64, 32, 16, 8)
      val arms = tiers.map(d =>
        s"""SELECT probe_id, vec_id, CAST($d AS BIGINT) AS dims,
           |  ${cosSql(s"(v[1:$d])", s"(p[1:$d])")} AS cs
           |FROM e, probes WHERE vec_id <> probe_id""".stripMargin)
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |probes AS (
         |  SELECT vec_id AS probe_id, v AS p FROM e
         |  WHERE vec_id IN (${IvfProbeIds.mkString(", ")})),
         |scored AS (${arms.mkString("\n  UNION ALL\n  ")}),
         |topk AS (
         |  SELECT dims, probe_id, vec_id FROM (
         |    SELECT dims, probe_id, vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY dims, probe_id
         |        ORDER BY cs DESC, vec_id) AS rk
         |    FROM scored)
         |  WHERE rk <= $IvfTopK),
         |fullk AS (
         |  SELECT probe_id, vec_id, 1 AS hit FROM topk WHERE dims = 64)
         |SELECT t.dims, t.probe_id,
         |  CAST(SUM(COALESCE(f.hit, 0)) AS BIGINT) AS n_hits,
         |  ROUND(CAST(SUM(COALESCE(f.hit, 0)) AS DOUBLE) / $IvfTopK, 2)
         |    AS recall
         |FROM topk t
         |LEFT JOIN fullk f ON f.probe_id = t.probe_id AND f.vec_id = t.vec_id
         |GROUP BY t.dims, t.probe_id
         |ORDER BY t.dims, t.probe_id""".stripMargin
    },
    "emb_label_centroids" ->
      """SELECT CAST(label AS BIGINT) AS label,
        |  CAST(pos0 AS BIGINT) AS pos,
        |  ROUND(CAST(SUM(CAST(ROUND(CAST(v AS DOUBLE), 10)
        |    AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*), 6) AS centroid,
        |  COUNT(*) AS n_vecs
        |FROM (
        |  -- single-unnest indexed form: (pos, value) pairing is a
        |  -- structural subscript, not a version-sensitive parallel zip
        |  SELECT label, pos - 1 AS pos0, e8[pos] AS v FROM (
        |    SELECT label, e8, unnest(generate_series(1, len(e8))) AS pos
        |    FROM (SELECT label, embedding[1:8] AS e8 FROM embeddings))) t
        |GROUP BY 1, 2
        |ORDER BY label, pos""".stripMargin,
    "ann_batch_topk" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings),
         |probes AS (SELECT vec_id AS probe_id, v AS p FROM e WHERE vec_id IN (1, 7, 42)),
         |scored AS (
         |  SELECT probe_id, vec_id, ${cosSql("v", "p")} AS cos_sim
         |  FROM e, probes
         |  WHERE vec_id <> probe_id),
         |ranked AS (
         |  SELECT probe_id, vec_id, cos_sim,
         |    ROW_NUMBER() OVER (PARTITION BY probe_id
         |      ORDER BY cos_sim DESC, vec_id) AS rk
         |  FROM scored)
         |SELECT probe_id, vec_id, cos_sim, rk
         |FROM ranked
         |WHERE rk <= 3
         |ORDER BY probe_id, rk""".stripMargin,
    "ann_mmr_rerank" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings),
         |probe AS (SELECT v AS p FROM e WHERE vec_id = $PROBE_ID),
         |short AS (
         |  SELECT vec_id, v, ${cosSql("v", "p")} AS rel
         |  FROM e, probe WHERE vec_id <> $PROBE_ID
         |  ORDER BY rel DESC, vec_id LIMIT $MmrShortlist),
         |$mmrOracleTail""".stripMargin,
    // Same greedy tail; the shortlist CTE replays the IVF candidate rule
    // (cell-assigned corpus joined to the probe's nprobe cells).
    "ann_mmr_rerank_ivf" ->
      s"""WITH $ivfProbeCandSql,
         |short AS (
         |  SELECT vec_id, v, cs AS rel FROM cand
         |  ORDER BY rel DESC, vec_id LIMIT $MmrShortlist),
         |$mmrOracleTail""".stripMargin,
    "ann_lsh_bucket" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings),
         |eb AS (SELECT vec_id, v, ${signBucketSql("v", 4)} AS bucket FROM e),
         |probe AS (SELECT v AS p, bucket AS pbucket FROM eb WHERE vec_id = $PROBE_ID)
         |SELECT vec_id, ${cosSql("v", "p")} AS cos_sim
         |FROM eb, probe
         |WHERE vec_id <> $PROBE_ID AND bucket = pbucket
         |ORDER BY cos_sim DESC, vec_id
         |LIMIT 5""".stripMargin,
    "ann_range_search" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings),
         |eb AS (SELECT vec_id, v, ${signBucketSql("v", 4)} AS bucket FROM e),
         |probes AS (SELECT vec_id AS probe_id, v AS p, bucket AS pbucket
         |           FROM eb WHERE vec_id % 101 = 0),
         |hits AS (
         |  SELECT probe_id, ${cosSql("v", "p")} AS cs
         |  FROM eb JOIN probes
         |    ON bucket = pbucket AND vec_id <> probe_id)
         |SELECT probe_id, COUNT(*) AS n_hits,
         |  CAST(FLOOR((2 * SUM(CAST(ROUND(cs * 1000000, 0) AS BIGINT))
         |              + COUNT(*)) / (2 * COUNT(*))) AS DOUBLE)
         |    / 1000000.0 AS avg_cos,
         |  MAX(cs) AS max_cos
         |FROM hits WHERE cs >= 0.2
         |GROUP BY probe_id
         |ORDER BY probe_id""".stripMargin,
    "ann_int8_recall" ->
      s"""WITH e0 AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |q AS (
         |  SELECT vec_id, v, list_transform(v, x -> ROUND(x / s)) AS qv
         |  FROM (SELECT vec_id, v,
         |          GREATEST(list_max(list_transform(v, x -> abs(x))), 1e-12)
         |            / 127.0 AS s
         |        FROM e0)),
         |p AS (SELECT vec_id AS probe_id, v AS pv, qv AS pq FROM q
         |      WHERE vec_id IN (${IvfProbeIds.mkString(", ")})),
         |sc AS (
         |  SELECT p.probe_id, q.vec_id,
         |    ${cosSql("q.v", "p.pv")} AS fs,
         |    ${cosSql("q.qv", "p.pq")} AS qs
         |  FROM q CROSS JOIN p WHERE q.vec_id <> p.probe_id),
         |tf AS (SELECT probe_id, vec_id, fs, qs FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
         |    ORDER BY fs DESC, vec_id) AS rk FROM sc) WHERE rk <= $IvfTopK),
         |tq AS (SELECT probe_id, vec_id FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
         |    ORDER BY qs DESC, vec_id) AS rk FROM sc) WHERE rk <= $IvfTopK)
         |SELECT tf.probe_id,
         |  CAST(SUM(CASE WHEN tq.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hits,
         |  ROUND(SUM(CASE WHEN tq.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |    / CAST($IvfTopK AS DOUBLE), 2) AS recall,
         |  ROUND(CAST(SUM(CAST(ROUND(abs(fs - qs), 10) AS DECIMAL(28,10)))
         |    AS DOUBLE) / COUNT(*), 6) AS mean_abs_sim_err
         |FROM tf LEFT JOIN tq
         |  ON tf.probe_id = tq.probe_id AND tf.vec_id = tq.vec_id
         |GROUP BY tf.probe_id
         |ORDER BY tf.probe_id""".stripMargin,
    "emb_silhouette" ->
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |c AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id < $IvfCells),
         |asg AS (
         |  SELECT vec_id, cell, v FROM (
         |    SELECT e.vec_id, c.cell, e.v,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
         |        ${cosSql("e.v", "c.cv")} DESC, c.cell) AS rn
         |    FROM e CROSS JOIN c) WHERE rn = 1),
         |px AS (
         |  SELECT cell, pos, v[pos] AS x FROM (
         |    SELECT cell, v, unnest(generate_series(1, len(v))) AS pos
         |    FROM asg)),
         |cent AS (
         |  SELECT cell, pos,
         |    ROUND(CAST(SUM(CAST(ROUND(x, 10) AS DECIMAL(28,10))) AS DOUBLE)
         |      / COUNT(*), 10) AS cc
         |  FROM px GROUP BY cell, pos),
         |cvt AS (
         |  SELECT cell AS ccell, list(cc ORDER BY pos) AS cv
         |  FROM cent GROUP BY cell),
         |d AS (
         |  SELECT a.vec_id, a.cell, (t.ccell = a.cell) AS own,
         |    ROUND(sqrt(${sqDistSql("a.v", "t.cv")}), 6) AS d
         |  FROM asg a CROSS JOIN cvt t),
         |ab AS (
         |  SELECT vec_id, cell,
         |    MAX(CASE WHEN own THEN d END) AS a,
         |    MIN(CASE WHEN NOT own THEN d END) AS b
         |  FROM d GROUP BY vec_id, cell),
         |sil AS (
         |  SELECT cell,
         |    ROUND(CASE WHEN GREATEST(a, b) > 0 THEN (b - a) / GREATEST(a, b)
         |               ELSE 0.0 END, 6) AS sil
         |  FROM ab)
         |SELECT cell, COUNT(*) AS n_vecs,
         |  ROUND(CAST(SUM(CAST(ROUND(sil, 10) AS DECIMAL(28,10))) AS DOUBLE)
         |    / COUNT(*), 6) AS avg_silhouette
         |FROM sil
         |GROUP BY cell
         |ORDER BY cell""".stripMargin,
    "emb_outlier_knn" ->
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |cfg AS (
         |  SELECT GREATEST($IvfCells, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT)) AS cells
         |  FROM e),
         |c AS (SELECT vec_id AS cell, v AS cv FROM e
         |      WHERE vec_id < (SELECT cells FROM cfg)),
         |asg AS (
         |  SELECT vec_id, cell, v FROM (
         |    SELECT e.vec_id, c.cell, e.v,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
         |        ${cosSql("e.v", "c.cv")} DESC, c.cell) AS rn
         |    FROM e CROSS JOIN c) WHERE rn = 1),
         |n2 AS (
         |  SELECT vec_id, cell, v, ${dotSql("v", "v")} AS n2 FROM asg),
         |sizes AS (SELECT cell, COUNT(*) AS sz FROM asg GROUP BY cell),
         |pairs AS (
         |  SELECT a.vec_id, a.cell, b.vec_id AS nb,
         |    ROUND(a.n2 + b.n2 - 2.0 * ${dotSql("a.v", "b.v")}, 6) AS dist
         |  FROM n2 a JOIN n2 b
         |    ON a.cell = b.cell AND a.vec_id <> b.vec_id),
         |k AS (
         |  SELECT vec_id, cell, dist,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, nb) AS rk
         |  FROM pairs)
         |SELECT k.vec_id, k.cell, s.sz AS n_in_cell, k.dist AS knn_dist
         |FROM k JOIN sizes s ON s.cell = k.cell
         |WHERE k.rk = LEAST(3, s.sz - 1)
         |ORDER BY knn_dist DESC, vec_id
         |LIMIT 20""".stripMargin,
    "ann_binary_hamming" ->
      s"""WITH e0 AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |sv AS (
         |  SELECT vec_id, v,
         |    list_transform(v, x -> CASE WHEN x >= 0 THEN 1.0 ELSE -1.0 END) AS s
         |  FROM e0),
         |p AS (SELECT vec_id AS probe_id, v AS pv, s AS ps FROM sv
         |      WHERE vec_id IN (${IvfProbeIds.mkString(", ")})),
         |sc AS (
         |  SELECT p.probe_id, q.vec_id,
         |    ${cosSql("q.v", "p.pv")} AS fs,
         |    CAST((len(q.v) - ${dotSql("q.s", "p.ps")}) / 2.0 AS BIGINT) AS h
         |  FROM sv q CROSS JOIN p WHERE q.vec_id <> p.probe_id),
         |tf AS (SELECT probe_id, vec_id, h FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
         |    ORDER BY fs DESC, vec_id) AS rk FROM sc) WHERE rk <= $IvfTopK),
         |th AS (SELECT probe_id, vec_id FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
         |    ORDER BY h, vec_id) AS rk FROM sc) WHERE rk <= $IvfTopK)
         |SELECT tf.probe_id,
         |  CAST(SUM(CASE WHEN th.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hits,
         |  ROUND(SUM(CASE WHEN th.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |    / CAST($IvfTopK AS DOUBLE), 2) AS recall,
         |  ROUND(CAST(SUM(CAST(ROUND(tf.h, 10) AS DECIMAL(28,10)))
         |    AS DOUBLE) / COUNT(*), 6) AS mean_hamming_true_topk
         |FROM tf LEFT JOIN th
         |  ON tf.probe_id = th.probe_id AND tf.vec_id = th.vec_id
         |GROUP BY tf.probe_id
         |ORDER BY tf.probe_id""".stripMargin,
    "ann_ivf_probe" -> ivfProbeOracle,
    // the tombstone-masked live probe: deleted vectors vanish from the
    // ranking, survivors' ranks close up
    "ann_ivf_probe_live" ->
      ivfProbeOracle("AND NOT (a.vec_id >= 100 AND a.vec_id < 220)"),
    // The stored-index probe replays the SAME oracle: the persisted
    // geometry must reproduce the exact candidate rule, hash-identically.
    "ann_ivf_probe_stored" -> ivfProbeOracle,
    // The index build replays the assignment rule (nearest literal-
    // codebook cell, ties to the smaller cell id) row for row.
    "ann_ivf_index_stored" ->
      s"""WITH n AS (
         |  SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm
         |  FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |        FROM embeddings)),
         |c AS (SELECT vec_id AS cell, v AS cv, nrm AS cnrm FROM n WHERE vec_id < $IvfCells),
         |sims AS (
         |  SELECT n.vec_id, c.cell,
         |    ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
         |      ROUND(${dotSql("n.v", "c.cv")} / (n.nrm * c.cnrm), 6) DESC, c.cell) AS rn
         |  FROM n CROSS JOIN c)
         |SELECT vec_id, cell FROM sims WHERE rn = 1
         |ORDER BY vec_id""".stripMargin,
    "ann_ivf_delta_stored" ->
      s"""WITH n AS (
         |  SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm
         |  FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |        FROM embeddings)),
         |c AS (SELECT vec_id AS cell, v AS cv, nrm AS cnrm FROM n WHERE vec_id < $IvfCells),
         |asg AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT n.vec_id, c.cell,
         |      ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
         |        ROUND(${dotSql("n.v", "c.cv")} / (n.nrm * c.cnrm), 6) DESC, c.cell) AS rn
         |    FROM n CROSS JOIN c) WHERE rn = 1)
         |SELECT cell,
         |  CAST(SUM(CASE WHEN vec_id % 5 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_base,
         |  CAST(SUM(CASE WHEN vec_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_delta,
         |  COUNT(*) AS n_total
         |FROM asg
         |GROUP BY cell
         |ORDER BY cell""".stripMargin,
    "ann_ivf_upsert_stored" ->
      s"""WITH src AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |fin AS (
         |  SELECT vec_id,
         |    CASE WHEN vec_id % 10 = 3 THEN list_transform(v, x -> -x)
         |         ELSE v END AS v
         |  FROM src WHERE NOT (vec_id >= 100 AND vec_id < 220)
         |  UNION ALL
         |  SELECT vec_id + 1000000, v FROM src WHERE vec_id % 97 = 1),
         |n AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM fin),
         |c AS (
         |  SELECT vec_id AS cell, v AS cv, sqrt(${dotSql("v", "v")}) AS cnrm
         |  FROM src WHERE vec_id < $IvfCells),
         |asg AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT n.vec_id, c.cell,
         |      ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
         |        ROUND(${dotSql("n.v", "c.cv")} / (n.nrm * c.cnrm), 6) DESC, c.cell) AS rn
         |    FROM n CROSS JOIN c) WHERE rn = 1)
         |SELECT cell, COUNT(*) AS n_live,
         |  CAST(SUM(CASE WHEN vec_id % 10 = 3 AND vec_id < 1000000
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
         |  CAST(SUM(CASE WHEN vec_id >= 1000000 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_inserted
         |FROM asg
         |GROUP BY cell
         |ORDER BY cell""".stripMargin,
    "ann_ivf_tombstone_stored" ->
      s"""WITH n AS (
         |  SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm
         |  FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |        FROM embeddings)),
         |c AS (SELECT vec_id AS cell, v AS cv, nrm AS cnrm FROM n WHERE vec_id < $IvfCells),
         |asg AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT n.vec_id, c.cell,
         |      ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
         |        ROUND(${dotSql("n.v", "c.cv")} / (n.nrm * c.cnrm), 6) DESC, c.cell) AS rn
         |    FROM n CROSS JOIN c) WHERE rn = 1)
         |SELECT cell,
         |  COUNT(*) AS n_v1,
         |  CAST(SUM(CASE WHEN vec_id >= 100 AND vec_id < 220 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_dead,
         |  CAST(SUM(CASE WHEN vec_id < 100 OR vec_id >= 220 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_live,
         |  CAST(SUM(CASE WHEN vec_id < 100 OR vec_id >= 220 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_after_vacuum
         |FROM asg
         |GROUP BY cell
         |ORDER BY cell""".stripMargin,
    "ann_hard_negatives" ->
      s"""WITH n AS (
         |  SELECT vec_id, label, v, sqrt(${dotSql("v", "v")}) AS nrm
         |  FROM (SELECT vec_id, label,
         |          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |        FROM embeddings)),
         |c AS (SELECT vec_id AS cell, v AS cv, nrm AS cnrm FROM n WHERE vec_id < $IvfCells),
         |sims AS (
         |  SELECT n.vec_id, n.label, n.v, n.nrm, c.cell,
         |    ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
         |      ROUND(${dotSql("n.v", "c.cv")} / (n.nrm * c.cnrm), 6) DESC, c.cell) AS rn
         |  FROM n CROSS JOIN c),
         |assigned AS (SELECT vec_id, label, v, nrm, cell FROM sims WHERE rn = 1),
         |acells AS (
         |  SELECT vec_id AS anchor_id, label AS anchor_label, v AS p,
         |    nrm AS pnrm, cell AS pcell
         |  FROM sims
         |  WHERE rn <= $IvfNProbe AND vec_id % 97 = 0),
         |ranked AS (
         |  SELECT anchor_id, anchor_label, a.vec_id, a.label AS neg_label,
         |    ROUND(${dotSql("a.v", "p")} / (a.nrm * pnrm), 6) AS cos_sim,
         |    ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY
         |      ROUND(${dotSql("a.v", "p")} / (a.nrm * pnrm), 6) DESC, a.vec_id) AS rk
         |  FROM assigned a JOIN acells ON a.cell = pcell AND a.label <> anchor_label)
         |SELECT anchor_id, anchor_label, vec_id, neg_label, cos_sim,
         |  CAST(rk AS BIGINT) AS rk
         |FROM ranked
         |WHERE rk <= 3
         |ORDER BY anchor_id, rk""".stripMargin,
    "emb_kmeans" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings),
         |seeds AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id < $KmK),
         |d0 AS (
         |  SELECT e.vec_id, e.v, s.cell,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
         |      ROUND(${sqDistSql("e.v", "s.cv")}, 6), s.cell) AS rn
         |  FROM e CROSS JOIN seeds s),
         |a0 AS (SELECT vec_id, v, cell FROM d0 WHERE rn = 1),
         |cpos AS (
         |  SELECT cell, pos,
         |    ROUND(CAST(SUM(CAST(ROUND(x, 10) AS DECIMAL(28,10))) AS DOUBLE)
         |      / COUNT(*), 6) AS c
         |  FROM (SELECT cell, pos, v[pos] AS x FROM (
         |          SELECT cell, v, unnest(generate_series(1, len(v))) AS pos
         |          FROM a0)) t
         |  GROUP BY 1, 2),
         |cent1 AS (SELECT cell, list(c ORDER BY pos) AS cv FROM cpos GROUP BY cell),
         |d1 AS (
         |  SELECT a0.vec_id, a0.cell AS cell0, c.cell,
         |    ROUND(${sqDistSql("a0.v", "c.cv")}, 6) AS d,
         |    ROW_NUMBER() OVER (PARTITION BY a0.vec_id ORDER BY
         |      ROUND(${sqDistSql("a0.v", "c.cv")}, 6), c.cell) AS rn
         |  FROM a0 CROSS JOIN cent1 c)
         |SELECT cell AS cluster, COUNT(*) AS n_vecs,
         |  CAST(SUM(CASE WHEN cell0 <> cell THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
         |  ROUND(CAST(SUM(CAST(ROUND(d, 10) AS DECIMAL(28,10))) AS DOUBLE)
         |    / COUNT(*), 6) AS inertia
         |FROM d1
         |WHERE rn = 1
         |GROUP BY 1
         |ORDER BY cluster""".stripMargin,
    "emb_pq_error" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings),
         |seeds AS (SELECT vec_id AS code, v FROM e WHERE vec_id < $PqK),
         |cb AS (
         |  SELECT t.m, code, v[((t.m-1)*8+1):(t.m*8)] AS cv
         |  FROM seeds, range(1, ${PqM + 1}) t(m)),
         |subs AS (
         |  SELECT vec_id, t.m, v[((t.m-1)*8+1):(t.m*8)] AS sub
         |  FROM e, range(1, ${PqM + 1}) t(m)),
         |scored AS (
         |  SELECT s.vec_id, s.m, cb.code,
         |    ROUND(${sqDistSql("s.sub", "cb.cv")}, 6) AS d,
         |    ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m ORDER BY
         |      ROUND(${sqDistSql("s.sub", "cb.cv")}, 6), cb.code) AS rn
         |  FROM subs s JOIN cb ON s.m = cb.m)
         |SELECT m, code, COUNT(*) AS n_subvecs,
         |  ROUND(CAST(SUM(CAST(ROUND(d, 10) AS DECIMAL(28,10))) AS DOUBLE)
         |    / COUNT(*), 6) AS mse
         |FROM scored
         |WHERE rn = 1
         |GROUP BY 1, 2
         |ORDER BY m, code""".stripMargin,
    "emb_outliers" ->
      """WITH ex AS (
        |  SELECT vec_id, p - 1 AS pos, CAST(embedding[p] AS DOUBLE) AS x
        |  FROM (SELECT vec_id, embedding,
        |          unnest(generate_series(1, len(embedding))) AS p
        |        FROM embeddings)),
        |x6t AS (
        |  SELECT vec_id, pos,
        |    CAST(CAST(ROUND(x, 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS x6
        |  FROM ex),
        |st AS (
        |  SELECT pos, COUNT(*) AS n,
        |    CAST(SUM(x6) AS BIGINT) AS sx6,
        |    CAST(SUM(x6 * x6) AS BIGINT) AS sx212
        |  FROM x6t GROUP BY pos),
        |t AS (
        |  SELECT vec_id,
        |    CAST((CAST(x6 * n - sx6 AS HUGEINT) * CAST(x6 * n - sx6 AS HUGEINT)
        |      * 1000000) // CAST(n * sx212 - sx6 * sx6 AS HUGEINT) AS BIGINT)
        |      AS term6
        |  FROM x6t JOIN st USING (pos))
        |SELECT vec_id,
        |  ROUND(CAST(SUM(term6) AS DOUBLE) / 1e6, 6) AS maha2
        |FROM t
        |GROUP BY vec_id
        |ORDER BY maha2 DESC, vec_id
        |LIMIT 20""".stripMargin,
    "ann_pq_rerank" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings),
         |seeds AS (SELECT vec_id AS code, v FROM e WHERE vec_id < $PqK),
         |cb AS (
         |  SELECT t.m, code, v[((t.m-1)*8+1):(t.m*8)] AS cv
         |  FROM seeds, range(1, ${PqM + 1}) t(m)),
         |subs AS (
         |  SELECT vec_id, t.m, v[((t.m-1)*8+1):(t.m*8)] AS sub
         |  FROM e, range(1, ${PqM + 1}) t(m)),
         |scored AS (
         |  SELECT s.vec_id, s.m, cb.code,
         |    ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m ORDER BY
         |      ROUND(${sqDistSql("s.sub", "cb.cv")}, 6), cb.code) AS rn
         |  FROM subs s JOIN cb ON s.m = cb.m),
         |enc AS (SELECT vec_id, m, code FROM scored WHERE rn = 1),
         |pr AS (SELECT v AS p FROM e WHERE vec_id = $PROBE_ID),
         |psubs AS (
         |  SELECT t.m, p[((t.m-1)*8+1):(t.m*8)] AS psub
         |  FROM pr, range(1, ${PqM + 1}) t(m)),
         |dt AS (
         |  SELECT ps.m, cb.code, ROUND(${sqDistSql("ps.psub", "cb.cv")}, 6) AS d
         |  FROM psubs ps JOIN cb ON ps.m = cb.m),
         |adc AS (
         |  SELECT enc.vec_id,
         |    ROUND(CAST(SUM(CAST(dt.d AS DECIMAL(18,6))) AS DOUBLE), 6) AS adc_dist
         |  FROM enc JOIN dt ON enc.m = dt.m AND enc.code = dt.code
         |  GROUP BY enc.vec_id),
         |short AS (
         |  SELECT vec_id, adc_dist FROM adc
         |  WHERE vec_id <> $PROBE_ID
         |  ORDER BY adc_dist, vec_id
         |  LIMIT 40)
         |SELECT s.vec_id,
         |  ROUND(${sqDistSql("e.v", "pr.p")}, 6) AS dist,
         |  s.adc_dist
         |FROM short s JOIN e ON e.vec_id = s.vec_id CROSS JOIN pr
         |ORDER BY dist, s.vec_id
         |LIMIT 10""".stripMargin,
    "ann_ivf_recall" ->
      s"""WITH ivf AS (SELECT probe_id, vec_id FROM ($ivfProbeOracle) iv),
         |en AS (
         |  SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm
         |  FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |        FROM embeddings)),
         |eprobes AS (
         |  SELECT vec_id AS probe_id, v AS p, nrm AS pnrm FROM en
         |  WHERE vec_id IN (${IvfProbeIds.mkString(", ")})),
         |eranked AS (
         |  SELECT probe_id, en.vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY
         |      ROUND(${dotSql("en.v", "p")} / (en.nrm * pnrm), 6) DESC, en.vec_id) AS rk
         |  FROM en CROSS JOIN eprobes
         |  WHERE en.vec_id <> probe_id),
         |exact AS (SELECT probe_id, vec_id FROM eranked WHERE rk <= $IvfTopK)
         |SELECT e.probe_id,
         |  CAST(SUM(CASE WHEN i.vec_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_hits,
         |  ROUND(SUM(CASE WHEN i.vec_id IS NULL THEN 0 ELSE 1 END) * 1.0 / $IvfTopK, 2) AS recall
         |FROM exact e
         |LEFT JOIN ivf i ON e.probe_id = i.probe_id AND e.vec_id = i.vec_id
         |GROUP BY e.probe_id
         |ORDER BY e.probe_id""".stripMargin,
    "ann_ndcg" ->
      s"""WITH ivf AS (SELECT probe_id, vec_id, rk FROM ($ivfProbeOracle) iv),
         |en AS (
         |  SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm
         |  FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |        FROM embeddings)),
         |eprobes AS (
         |  SELECT vec_id AS probe_id, v AS p, nrm AS pnrm FROM en
         |  WHERE vec_id IN (${IvfProbeIds.mkString(", ")})),
         |eranked AS (
         |  SELECT probe_id, en.vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY
         |      ROUND(${dotSql("en.v", "p")} / (en.nrm * pnrm), 6) DESC, en.vec_id) AS erk
         |  FROM en CROSS JOIN eprobes
         |  WHERE en.vec_id <> probe_id),
         |gains AS (
         |  SELECT probe_id, vec_id, $IvfTopK + 1 - erk AS g
         |  FROM eranked WHERE erk <= $IvfTopK),
         |terms AS (
         |  SELECT i.probe_id,
         |    ROUND(COALESCE(g.g, 0) / ROUND(log2(i.rk + 1), 6), 6) AS term
         |  FROM ivf i LEFT JOIN gains g
         |    ON g.probe_id = i.probe_id AND g.vec_id = i.vec_id),
         |dcg AS (
         |  SELECT probe_id, CAST(SUM(CAST(term AS DECIMAL(18,6))) AS DOUBLE) AS dcg
         |  FROM terms GROUP BY probe_id),
         |idcg AS (
         |  SELECT CAST(SUM(CAST(ROUND(($IvfTopK + 1 - i) / ROUND(log2(i + 1), 6), 6)
         |    AS DECIMAL(18,6))) AS DOUBLE) AS idcg
         |  FROM range(1, ${IvfTopK + 1}) t(i))
         |SELECT probe_id, ROUND(dcg, 6) AS dcg, ROUND(dcg / idcg, 6) AS ndcg
         |FROM dcg, idcg
         |ORDER BY probe_id""".stripMargin,
    "emb_bitext_mine" ->
      s"""WITH n AS (
         |  SELECT vec_id, label, v, sqrt(${dotSql("v", "v")}) AS nrm
         |  FROM (SELECT vec_id, label,
         |          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |        FROM embeddings)),
         |c AS (SELECT vec_id AS cell, v AS cv, nrm AS cnrm
         |      FROM n WHERE vec_id < $IvfCells),
         |sims AS (
         |  SELECT n.vec_id, n.label, n.v, c.cell,
         |    ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
         |      ROUND(${dotSql("n.v", "c.cv")} / (n.nrm * c.cnrm), 6) DESC,
         |      c.cell) AS rn
         |  FROM n CROSS JOIN c),
         |sa AS (SELECT vec_id AS a_id, v AS va, cell AS pcell
         |       FROM sims WHERE label = 0 AND rn <= $IvfNProbe),
         |sb AS (SELECT vec_id AS b_id, v AS vb, cell
         |       FROM sims WHERE label = 1 AND rn = 1),
         |scored AS (
         |  SELECT a_id, b_id, ${cosSql("va", "vb")} AS c
         |  FROM sa JOIN sb ON sa.pcell = sb.cell),
         |fw AS (
         |  SELECT a_id, b_id, c,
         |    ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY c DESC, b_id) AS rk
         |  FROM scored),
         |f1 AS (SELECT a_id, b_id, c AS cos_sim FROM fw WHERE rk = 1),
         |f2 AS (SELECT a_id, c AS c2 FROM fw WHERE rk = 2),
         |bw AS (
         |  SELECT b_id, a_id FROM (
         |    SELECT a_id, b_id,
         |      ROW_NUMBER() OVER (PARTITION BY b_id ORDER BY c DESC, a_id) AS rk
         |    FROM scored) t WHERE rk = 1)
         |SELECT f1.a_id, f1.b_id, f1.cos_sim,
         |  ROUND(f1.cos_sim / f2.c2, 6) AS ratio_margin
         |FROM f1
         |JOIN f2 ON f2.a_id = f1.a_id
         |JOIN bw ON bw.a_id = f1.a_id AND bw.b_id = f1.b_id
         |ORDER BY f1.a_id""".stripMargin)

  /** CTE chain replaying [[ivfProbeCandidates]] in DuckDB: corpus
    * assigned to its nearest literal-codebook cell, PROBE_ID exploded to
    * its IvfNProbe nearest cells, cosine scored only for cell-colocated
    * rows. Ends in `cand(vec_id, v, cs)`. No leading WITH so callers can
    * prepend their own CTEs. */
  private def ivfProbeCandSql: String =
    s"""n AS (
       |  SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm
       |  FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |        FROM embeddings)),
       |c AS (SELECT vec_id AS cell, v AS cv, nrm AS cnrm FROM n WHERE vec_id < $IvfCells),
       |sims AS (
       |  SELECT n.vec_id, n.v, n.nrm, c.cell,
       |    ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
       |      ROUND(${dotSql("n.v", "c.cv")} / (n.nrm * c.cnrm), 6) DESC, c.cell) AS rn
       |  FROM n CROSS JOIN c),
       |assigned AS (SELECT vec_id, v, nrm, cell FROM sims WHERE rn = 1),
       |pc AS (SELECT v AS p, nrm AS pnrm, cell AS pcell FROM sims
       |       WHERE rn <= $IvfNProbe AND vec_id = $PROBE_ID),
       |cand AS (
       |  SELECT a.vec_id, a.v,
       |    ROUND(${dotSql("a.v", "p")} / (a.nrm * pnrm), 6) AS cs
       |  FROM assigned a JOIN pc ON a.cell = pcell AND a.vec_id <> $PROBE_ID)""".stripMargin

  /** The MMR greedy rounds + final select, shared by the brute-force and
    * IVF oracle twins — everything after a `short(vec_id, v, rel)` CTE.
    * No leading WITH; callers append after their shortlist CTE. */
  private def mmrOracleTail: String = {
    val rounds = (2 to MmrSelect).map { r =>
      val prevIds = (1 until r).map(i => s"SELECT vec_id FROM s$i")
        .mkString(" UNION ALL ")
      s"""s$r AS (
         |  SELECT vec_id, rel, CAST($r AS BIGINT) AS rank,
         |    ROUND(score, 6) AS mmr_score
         |  FROM (
         |    SELECT c.vec_id, c.rel,
         |      0.7 * c.rel - 0.3 * (
         |        SELECT MAX(sim) FROM pair
         |        WHERE ca = c.vec_id AND cb IN ($prevIds)) AS score
         |    FROM short c
         |    WHERE c.vec_id NOT IN ($prevIds))
         |  ORDER BY score DESC, vec_id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val union = (1 to MmrSelect).map(i => s"SELECT * FROM s$i")
      .mkString(" UNION ALL ")
    s"""pair AS (
       |  SELECT a.vec_id AS ca, b.vec_id AS cb, ${cosSql("a.v", "b.v")} AS sim
       |  FROM short a, short b WHERE a.vec_id <> b.vec_id),
       |s1 AS (
       |  SELECT vec_id, rel, CAST(1 AS BIGINT) AS rank, rel AS mmr_score
       |  FROM short ORDER BY rel DESC, vec_id LIMIT 1),
       |$rounds
       |SELECT rank, vec_id, rel, mmr_score FROM ($union)
       |ORDER BY rank""".stripMargin
  }

  private def ivfProbeOracle: String = ivfProbeOracle("")

  /** The shared probe replay, with an optional extra candidate-side
    * predicate (the live-index twin excludes the deleted id range). */
  private def ivfProbeOracle(candidateCond: String): String =
    s"""WITH n AS (
       |  SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm
       |  FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |        FROM embeddings)),
       |c AS (SELECT vec_id AS cell, v AS cv, nrm AS cnrm FROM n WHERE vec_id < $IvfCells),
       |sims AS (
       |  SELECT n.vec_id, n.v, n.nrm, c.cell,
       |    ROUND(${dotSql("n.v", "c.cv")} / (n.nrm * c.cnrm), 6) AS sim,
       |    ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
       |      ROUND(${dotSql("n.v", "c.cv")} / (n.nrm * c.cnrm), 6) DESC, c.cell) AS rn
       |  FROM n CROSS JOIN c),
       |assigned AS (SELECT vec_id, v, nrm, cell FROM sims WHERE rn = 1),
       |pcells AS (
       |  SELECT vec_id AS probe_id, v AS p, nrm AS pnrm, cell AS pcell
       |  FROM sims
       |  WHERE rn <= $IvfNProbe AND vec_id IN (${IvfProbeIds.mkString(", ")})),
       |ranked AS (
       |  SELECT probe_id, a.vec_id,
       |    ROUND(${dotSql("a.v", "p")} / (a.nrm * pnrm), 6) AS cos_sim,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY
       |      ROUND(${dotSql("a.v", "p")} / (a.nrm * pnrm), 6) DESC, a.vec_id) AS rk
       |  FROM assigned a JOIN pcells ON a.cell = pcell AND a.vec_id <> probe_id
       |    $candidateCond)
       |SELECT probe_id, vec_id, cos_sim, rk
       |FROM ranked
       |WHERE rk <= $IvfTopK
       |ORDER BY probe_id, rk""".stripMargin
}
