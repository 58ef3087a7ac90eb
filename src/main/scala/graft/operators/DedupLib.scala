package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reusable dedup operators over arbitrary (id, text) DataFrames — the
  * production-speed twins of the oracle-checked queries in [[DedupOps]].
  *
  * Hash family is xxhash64 (codegen'd, 8-byte longs) instead of md5 hex
  * strings: ~an order of magnitude less hashing + shuffle byte volume at
  * the cost of DuckDB replayability (which the query variants keep). Plan
  * shapes are identical: shingle → signature (one aggregation) → band →
  * bucket self-join. Nothing here is O(n²) in documents.
  */
object DedupLib {

  /** Word n-gram shingles of `textCol`; docs shorter than `n` words drop. */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val w = split(col(textCol), " ")
    df.select(col(idCol).as("doc_id"), w.as("w"))
      .filter(size(col("w")) >= n)
      .withColumn("sh", explode(transform(
        sequence(lit(1), size(col("w")) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(o => element_at(col("w"), i + o)): _*))))
      .select(col("doc_id"), col("sh"))
  }

  /** k xxhash64 minhashes per doc (k aggregate columns, one pass). */
  def minhashSignatures(sh: DataFrame, k: Int = 16): DataFrame = {
    val cols = (1 to k).map(i => min(xxhash64(lit(i), col("sh"))).as(s"h$i"))
    sh.groupBy(col("doc_id")).agg(cols.head, cols.tail: _*)
  }

  /** LSH banding: k minhashes into `bands` bands of k/bands rows; emits
    * (doc_id, band, bh). Same-band equal-hash docs are candidates. */
  def bandHashes(sig: DataFrame, k: Int = 16, bands: Int = 4): DataFrame = {
    require(k % bands == 0, s"k=$k not divisible by bands=$bands")
    val rows = k / bands
    val bandCols = (0 until bands).map { b =>
      xxhash64((1 to rows).map(r => col(s"h${b * rows + r}")): _*)
    }
    sig.select(col("doc_id"), posexplode(array(bandCols: _*)))
      .toDF("doc_id", "band", "bh")
  }

  /** Candidate near-dup pairs `(doc_a, doc_b)` from band keys: the
    * (band, bh) bucket self-join, each pair once with `doc_a < doc_b`
    * and no self-pair. `bands` has columns `doc_id`, `band`, `bh`;
    * callers add their own ordering. */
  def candidatePairs(bands: DataFrame): DataFrame = {
    val a = bands.as("a"); val b = bands.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Bucket pair expansion: every unordered pair of elements of the
    * array column `arr`, as columns `a` and `b` (other columns drop).
    * Precondition: each array is sorted and distinct, so every pair
    * comes out once with `a < b`; an array of n elements gives
    * n(n−1)/2 rows, of 0 or 1 element none. Generator-only (posexplode
    * plus a tail-slice explode): nested transform lambdas allocated
    * interpreted structs per pair, measured 1.4x slower warm and 4x
    * cold at sf0.1. */
  def arrayPairs(df: DataFrame, arr: String, a: String, b: String): DataFrame =
    df.select(col(arr), posexplode(col(arr)).as(Seq("i", a)))
      .select(col(a), explode(slice(col(arr), col("i") + lit(2),
        size(col(arr)))).as(b))

  /** Full MinHash-LSH pipeline: text table → candidate pairs. */
  def minhashCandidates(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, bands: Int = 4, shingleWords: Int = 3): DataFrame =
    candidatePairs(bandHashes(minhashSignatures(
      shingles(df, idCol, textCol, shingleWords), k), k, bands))

  /** Drop shingles whose document frequency exceeds `maxDf` — the skew
    * guard applied before any shingle-keyed self-join. Shape chosen for
    * 100 TB, not for small-corpus latency: the hot list is produced by a
    * partial-aggregated groupBy (map-side combine collapses a
    * billion-row hot key to one partial count per task — no single
    * reducer ever materializes the key's rows, unlike a count window)
    * and is then broadcast anti-joined, adding zero shuffles to the
    * shingle stream. Ubiquitous shingles carry no discriminative signal,
    * so dropping them barely moves Jaccard while bounding every join
    * key's fanout at `maxDf`².
    *
    * `broadcastHot=false` switches the anti-join to a shuffled one: the
    * hot list is the Zipf head of the shingle distribution, which grows
    * with corpus vocabulary — once it no longer fits a broadcast
    * (multi-GB at extreme corpus sizes), the shuffled anti-join is the
    * correct shape and still skew-safe (the ANTI side of a hot key is
    * discarded, never multiplied). */
  def capShingleDf(sh: DataFrame, maxDf: Int, broadcastHot: Boolean = true): DataFrame = {
    val hot = sh.groupBy(col("sh"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") > maxDf)
      .select(col("sh"))
    // a USING join moves the key column first; restore the caller's
    // column order (downstream ops like verifyJaccard rename positionally)
    sh.join(if (broadcastHot) broadcast(hot) else hot, Seq("sh"), "left_anti")
      .select(sh.columns.map(col).toSeq: _*)
  }

  /** Verify candidates with exact shingle-set Jaccard; keeps pairs at or
    * above `threshold`. Join is candidates × shingles (bounded), never
    * all-pairs. */
  def verifyJaccard(
      candidates: DataFrame, sh: DataFrame, threshold: Double): DataFrame = {
    val distinctSh = sh.distinct()
    val sizes = distinctSh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val aSh = distinctSh.toDF("doc_a", "sh")
    val bSh = distinctSh.toDF("doc_b", "sh")
    val inter = candidates
      .join(aSh, "doc_a").join(bSh, Seq("doc_b", "sh"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.toDF("doc_a", "sza"), "doc_a")
      .join(sizes.toDF("doc_b", "szb"), "doc_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sza") + col("szb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** PPJoin prefix-filtered EXACT Jaccard-≥-t similarity self-join
    * (Bayardo et al. WWW'07) over (id, token) rows, threshold given as
    * the rational tNum/tDen so every cut is exact integer arithmetic
    * (see dedup_prefix_filter for why: engines disagree on decimal
    * literals at ceil boundaries). Canonical global token order =
    * (document frequency ASC, token); prefix length |S|−⌈t·|S|⌉+1;
    * symmetric length filter and the positional overlap bound prune
    * candidates before the array-intersect verify. Returns verified
    * (doc_a, doc_b, inter, sza, szb) pairs — every pair with
    * J ≥ tNum/tDen, no false negatives (PrefixFilterSpec pins this
    * against brute force on randomized corpora). Input token rows need
    * not be distinct. */
  def prefixFilterPairs(sh0: DataFrame, idCol: String, tokCol: String,
      tNum: Int = 4, tDen: Int = 5): DataFrame = {
    require(tNum > 0 && tDen > tNum, s"need 0 < tNum/tDen < 1, got $tNum/$tDen")
    val sh = sh0.select(col(idCol).as("doc_id"), col(tokCol).as("h")).distinct()
    val arr = sh
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("h"))))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("df"), col("h")))).as("ts"))
      .select(col("doc_id"),
        transform(col("ts"), x => x.getField("h")).as("toks"),
        size(col("ts")).cast("long").as("sz"))
      .localCheckpoint(eager = false)
    // ⌈t·sz⌉ = (tNum·sz + tDen − 1) div tDen, in exact longs
    val preLen = (col("sz") -
      floor((lit(tNum) * col("sz") + (tDen - 1)) / tDen) + 1).cast("int")
    val pre = arr.select(col("doc_id"), col("sz"),
      posexplode(slice(col("toks"), lit(1), preLen)))
      .toDF("doc_id", "sz", "pos", "tok")
    val cand = pre.as("a").join(pre.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id") &&
        lit(tDen) * col("b.sz") >= lit(tNum) * col("a.sz") &&
        lit(tDen) * col("a.sz") >= lit(tNum) * col("b.sz") &&
        lit(tNum + tDen) * (least(col("a.sz") - col("a.pos") - 1,
          col("b.sz") - col("b.pos") - 1) + 1) >=
          lit(tNum) * (col("a.sz") + col("b.sz")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(arr.select(col("doc_id").as("doc_a"), col("toks").as("ta"),
        col("sz").as("sza")), "doc_a")
      .join(arr.select(col("doc_id").as("doc_b"), col("toks").as("tb"),
        col("sz").as("szb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .filter(lit(tDen) * col("inter") >=
        lit(tNum) * (col("sza") + col("szb") - col("inter")))
      .select(col("doc_a"), col("doc_b"), col("inter"), col("sza"), col("szb"))
  }

  /** 64-bit SimHash per doc from xxhash64 word hashes (bit-parallel: one
    * aggregation over words, no per-bit explode). */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = df.select(col(idCol).as("doc_id"),
      explode(split(col(textCol), " ")).as("word"))
      .withColumn("h", xxhash64(col("word")))
    val bitSums = (0 until 64).map { bit =>
      sum(when(col("h").bitwiseAND(lit(1L << bit)) =!= 0L, 1).otherwise(-1)).as(s"b$bit")
    }
    val sums = words.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    sums.select(col("doc_id"),
      (0 until 64).map(bit =>
        when(col(s"b$bit") > 0, lit(1L << bit)).otherwise(lit(0L)))
        .reduce((x, y) => x.bitwiseOR(y)).as("simhash"))
  }

  /** Hamming distance between simhash values — pair verifier. */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Per-ROW MinHash signature, folded to one long: k array_min passes
    * over the shingle array, hashed together. No explode, no groupBy —
    * a single projection, which makes it legal anywhere a plain column
    * is (streaming pre-aggregation state included,
    * [[graft.streaming.DocStream.dedupNear]]). NULL for docs shorter
    * than `shingleWords` words (no signature ≠ empty signature; also
    * guards Spark's descending `sequence(1, n)` when n < 1).
    *
    * NOT a batch-side speedup: measured at sf0.1, this shape is ~70×
    * SLOWER than [[minhashSignatures]]'s explode + groupBy (52 s vs
    * 0.74 s for the full candidate pipeline) — higher-order functions
    * (`transform`/`array_min`) stay outside whole-stage codegen and
    * the k min passes re-evaluate the inner shingle hashing (no
    * common-subexpression elimination across lambdas). Use it ONLY
    * where a per-row expression is structurally required (streaming
    * dedup before any aggregation); batch pipelines keep the exploded
    * shape.
    *
    * Equality semantics: two docs collide iff ALL k minhashes agree —
    * P ≈ J^k for Jaccard J, so this catches near-identical docs
    * (J ≈ 1) at very high precision and deliberately NOT moderately
    * similar ones (J = 0.7, k = 8 ⇒ P ≈ 0.06). For recall over
    * moderate similarity use the banded candidate path
    * ([[minhashCandidates]]); signature equality is the shape whose
    * dedup state is one 8-byte long per doc. */
  def rowMinhashSig(text: Column, k: Int = 8, shingleWords: Int = 3): Column = {
    val w = split(text, " ")
    val sh = transform(
      sequence(lit(1), size(w) - (shingleWords - 1)),
      i => concat_ws(" ", (0 until shingleWords).map(o => element_at(w, i + o)): _*))
    val mins = (1 to k).map(i => array_min(transform(sh, s => xxhash64(lit(i), s))))
    when(size(w) >= shingleWords, xxhash64(mins: _*))
  }

  /** Winnowing fingerprints, production hash family: the row-local
    * selection of [[DedupOps.winnowFingerprints]] with xxhash64 longs in
    * place of md5 hex prefixes — 8 bytes per gram key instead of 18
    * chars, and no hex encode. Selection per window is the plain MIN
    * hash (no position tiebreak key: the emitted fingerprint SET is
    * unambiguous under equal values, and production callers don't need
    * positions), so any shared W-gram window still shares a fingerprint.
    * Emits distinct (`doc_id`, `fp`) rows; docs too short for one full
    * window drop. Zero shuffle — a pure map stage, streaming-legal. */
  def winnowFingerprints64(df: DataFrame, idCol: String, textCol: String,
      w: Int = 4, shingleWords: Int = 3): DataFrame = {
    val words = split(col(textCol), " ")
    val hashes = transform(
      sequence(lit(1), size(col("__w")) - (shingleWords - 1)),
      i => xxhash64(concat_ws(" ",
        (0 until shingleWords).map(o => element_at(col("__w"), i + o)): _*)))
    val mins = transform(
      sequence(lit(w), size(col("__h"))),
      p => array_min(slice(col("__h"), p - (w - 1), lit(w))))
    df.select(col(idCol).as("doc_id"), words.as("__w"))
      .filter(size(col("__w")) >= shingleWords + w - 1)
      .withColumn("__h", hashes)
      .select(col("doc_id"), explode(array_distinct(mins)).as("fp"))
  }

  /** Winnowing overlap pairs: docs sharing at least `minShared`
    * fingerprints, with the standard DF cap bounding any fingerprint's
    * pair fanout (collect_set + [[arrayPairs]] — no fingerprint
    * self-join). */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
      w: Int = 4, minShared: Int = 2, maxDf: Int = 100): DataFrame = {
    // spread at the BATCH call site, not inside winnowFingerprints64 —
    // the fingerprint map stage itself stays zero-shuffle and
    // streaming-legal (a streaming Dataset cannot answer .rdd)
    val grouped = winnowFingerprints64(Tables.spread(df, col(idCol)),
        idCol, textCol, w)
      .groupBy(col("fp"))
      .agg(sort_array(collect_set(col("doc_id"))).as("docs"))
      .filter(size(col("docs")).between(2, maxDf))
    arrayPairs(grouped, "docs", "doc_a", "doc_b")
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** The whole near-dup pipeline as one call: MinHash-LSH candidates →
    * exact-Jaccard verification of candidates only → connected
    * components over verified pairs → keep each cluster's minimum-id
    * document. Returns the deduplicated corpus (all original columns).
    *
    * This is the operator a corpus pipeline actually wants ("give me
    * the corpus without near-dups"); the pieces stay public for
    * pipelines that need to intervene between stages. Every stage is
    * the bounded shape documented on its function: banded candidate
    * join (never all-pairs), candidate-restricted verify, DF-capped
    * shingles, O(log n)-round clustering with the small-graph fast
    * path. */
  def dedupCorpus(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, k: Int = 16, bands: Int = 4,
      shingleWords: Int = 3, maxShingleDf: Int = 1000): DataFrame = {
    val sh = capShingleDf(shingles(df, idCol, textCol, shingleWords), maxShingleDf)
    val pairs = verifyJaccard(
      minhashCandidates(df, idCol, textCol, k, bands, shingleWords), sh, threshold)
    val labels = GraphOps.connectedComponents(pairs, "doc_a", "doc_b")
    // no broadcast hint: the drop set is the duplicate subset, usually
    // small but unbounded in principle; a shuffled left_anti is
    // skew-safe (the anti side of a hot key discards, never multiplies)
    val drop = labels.filter(col("node") =!= col("cc"))
      .select(col("node").cast(df.schema(idCol).dataType).as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** Incremental cross-run dedup: filter `incoming` down to rows whose
    * `keyCol` is (probably) NOT already in `seen` — the newcomer gate of
    * a continuously-ingesting corpus, where re-scanning the full
    * historical corpus per batch is off the table.
    *
    * Shape: one aggregation over `seen` builds a Bloom filter
    * (mergeable partial sketches per partition — the driver merges
    * fixed-size bitsets, never rows), which then rides to every
    * executor as a broadcast and gates `incoming` in a single scan with
    * zero shuffles. At 100 TB the filter is built once per epoch and
    * reused across incoming batches; `expectedItems`/`fpp` size it
    * (1 % fpp ≈ 9.6 bits/key — a billion seen keys ≈ 1.2 GB, still
    * broadcastable; shard the key space if beyond that).
    *
    * Semantics: NO false negatives — a key in `seen` is always dropped.
    * False positives at rate ≈ `fpp` drop genuinely-new rows; for
    * dedup that trades a sliver of recall for never re-admitting a
    * duplicate, the standard direction. Exact-or-nothing callers should
    * use a `left_anti` join instead (shuffles both sides). Null keys in
    * `incoming` pass through (a null is never a known duplicate). */
  /** Row-local md5-family LSH band keys — the SAME banded grouping as
    * the batch `dedup_minhash_lsh`/`dedup_incremental` path (one md5
    * per 3-gram shingle, K 16-bit slices, K/2 two-slice bands) computed
    * inside one projection: no explode, no groupBy, so it is
    * streaming-legal and composes with stateless ingest gates. Docs too
    * short to shingle (and null text) get an empty array — exactly the
    * rows the batch path never bands. */
  def rowLshBands(text: Column, k: Int = 8): Column = {
    // Every expensive intermediate is LET-BOUND through a one-element
    // transform(array(x), v => body) so it evaluates once per row:
    // higher-order-function lambdas run interpreted with NO common-
    // subexpression elimination, so the previous inline shape
    // re-evaluated split(text) for every element_at (O(words²) chars
    // split per row) and re-ran the whole md5 array once per hash slot
    // (8 array_min passes). Same values, measured ~30× less work per
    // row (stream_bench dedup-gate p50 2174 → ~70 ms/batch at sf0.1).
    // PERF ASSUMPTION (pinned r18 per the r17 advice): the let-binding
    // only works while Catalyst does NOT inline or CSE-collapse
    // element_at(transform(array(x), f), 1) — true on Spark 3.5/4.x,
    // where no optimizer rule simplifies single-element transforms. A
    // future rule that does would silently revert the ~30× win
    // (correctness unaffected — same values either way). If Spark grows
    // a stable common-expression API (`with` expressions are still
    // private[sql] in 4.1), migrate this to it and delete the trick.
    def let1(x: Column)(body: Column => Column): Column =
      element_at(transform(array(x), body), 1)
    let1(split(text, " ")) { w =>
      // ascending guard: sequence(1, n) with a filter, because
      // sequence(1, size-2) runs DESCENDING when size < 3
      val idx = filter(sequence(lit(1), greatest(size(w), lit(1))),
        i => i <= size(w) - 2)
      val ms = transform(idx, i => md5(concat_ws(" ",
        element_at(w, i), element_at(w, i + 1), element_at(w, i + 2))))
      // one fold computes all k slice-minima in a single pass over the
      // md5 array ("￿" sorts above every hex digit, and ms is
      // non-empty whenever the size(w) >= 3 branch below is taken, so
      // the sentinel never survives into a result)
      val folded = aggregate(ms,
        array((1 to k).map(_ => lit("￿")): _*),
        (acc, m) => array((1 to k).map(j =>
          least(element_at(acc, j), substring(m, (j - 1) * 4 + 1, 4))): _*))
      let1(folded) { mins0 =>
        val mins = (1 to k).map(j => element_at(mins0, j))
        when(size(w) >= 3,
          array((0 until k / 2).map(b =>
            concat(mins(2 * b), mins(2 * b + 1))): _*))
          .otherwise(typedLit(Seq.empty[String]))
      }
    }
  }

  def bloomNewcomers(
      seen: DataFrame, incoming: DataFrame, keyCol: String,
      expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    // both sides hash the key's STRING form so seen/incoming agree even
    // when the key column types drift (e.g. long ids vs string ids)
    val bf = seen.select(col(keyCol).cast("string").as("k")).na.drop()
      .stat.bloomFilter("k", expectedItems, fpp)
    val bcast = incoming.sparkSession.sparkContext.broadcast(bf)
    val mightContain = udf((k: String) => k != null && bcast.value.mightContainString(k))
    incoming.filter(col(keyCol).isNull || !mightContain(col(keyCol).cast("string")))
  }

  /** SemDeDup-style semantic dedup against an explicit codebook (Abbas
    * et al. 2023, arXiv:2303.09540). `centroids` is bounded — it enters
    * the plan as LITERALS, the shape of applying a trained KMeans/IVF
    * codebook at 100 TB: cell assignment is a pure whole-stage-codegen
    * projection with no join, no aggregate, no shuffle of the corpus.
    *
    * Every row of `df` (`idCol: long`, `vecCol: array<float|double>`) is
    * assigned to its nearest-cosine cell (cosines rounded to 6dp so any
    * engine replays the argmax; ties go to the smallest cell id). A row
    * is a duplicate iff a same-cell row with smaller id has cosine >=
    * `tau` — keep-min-id: deterministic, one pass, no iteration. Returns
    * (`idCol`, `cell`, `is_dup`). Pair generation is keyed on `cell`, so
    * it is O(sum cell²) and never global O(n²); size the codebook as
    * cells ~ n/targetCellSize to keep cells bounded as the corpus grows.
    *
    * Compose with [[SimilarityLib.buildIvf]] for trained centroids, or
    * pass deterministic seed rows for an oracle-replayable variant (the
    * `dedup_semantic` query). */
  /** Nearest-cosine codebook cell of `v` as a pure codegen expression:
    * the bounded `centroids` enter the plan as literals, so assignment
    * is a projection — streaming-legal (stateless) and shuffle-free.
    * Cosines round to 6dp so any engine replays the argmax; ties go to
    * the smallest cell id (lexicographic struct max on (sim, -cell)). */
  def nearestCell(v: Column, centroids: Seq[(Long, Array[Double])]): Column = {
    require(centroids.nonEmpty, "nearestCell needs a non-empty codebook")
    val cos = graft.functions.VectorFunctions.cosine_sim _
    val centArr = array(centroids.sortBy(_._1).map { case (id, cv) =>
      struct(lit(id).as("cell"), typedLit(cv.toSeq).as("cv"))
    }.toIndexedSeq: _*)
    array_max(transform(centArr, c =>
      struct(round(cos(v, c.getField("cv")), 6).as("sim"),
        (-c.getField("cell")).as("negc"), c.getField("cell").as("cell"))))
      .getField("cell")
  }

  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Long, Array[Double])], tau: Double): DataFrame = {
    val cos = graft.functions.VectorFunctions.cosine_sim _
    val e = df.select(col(idCol), col(vecCol).cast("array<double>").as("_v"))
    val assigned = e.select(col(idCol), col("_v"),
      // opaque: lambda-derived join key — without it the self-join's
      // inferred alias-equality constraint can land a filter referencing
      // this side's attributes on the other side (OpaqueIdentity scaladoc)
      graft.functions.Barriers.opaque(
        nearestCell(col("_v"), centroids)).as("cell"))
    val a = assigned.as("a"); val b = assigned.as("b")
    val dups = a.join(b, col("a.cell") === col("b.cell") &&
        col(s"b.$idCol") < col(s"a.$idCol"))
      .filter(round(cos(col("a._v"), col("b._v")), 6) >= tau)
      .select(col(s"a.$idCol").as(idCol)).distinct()
    assigned.select(col(idCol), col("cell"))
      .join(dups.withColumn("is_dup", lit(1)), Seq(idCol), "left")
      .select(col(idCol), col("cell"),
        coalesce(col("is_dup"), lit(0)).as("is_dup"))
  }
}
