package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` / `embeddings` — the
  * training-data-pipeline extensions (BASELINE.json): exact hash dedup,
  * MinHash+LSH banding, SimHash, blocked n-gram Jaccard, and
  * sign-bucketed embedding-cosine near-dup.
  *
  * Scale design: every variant is candidate-bucketed (LSH bands, blocking
  * keys, sign buckets) so the pair join is `bucket → pairs-within-bucket`,
  * never an O(n²) cross join — the only shape that survives 100 TB. The
  * hash family is md5 (not Spark's xxhash64) specifically so the DuckDB
  * oracle can replay signatures byte-for-byte; swap `Hashes.shingleHash`
  * to xxhash64 for production speed (same plan shape, no oracle).
  */
object DedupOps {
  import Tables._

  /** Word-3-gram shingles, guarded for short docs (both engines must agree
    * on the guard or empty-shingle docs diverge). */
  private def withShingles(df: DataFrame): DataFrame = {
    // explode the POSITION, concat in the projection: Generate+Project
    // fuse in whole-stage codegen, so per-shingle work is three codegen
    // element_at + one concat — the transform-lambda form built an
    // interpreted string array per doc first (measured ×0.65 warm,
    // ×5 cold at sf0.1; same shingle stream bit-for-bit)
    val w = split(col("text"), " ")
    // spread before the per-position explode + per-shingle hashing: the
    // single-file fixture otherwise runs the whole shingle stream — the
    // dominant map compute of every consumer (minhash signatures,
    // containment, prefix filter) — as one task (no-op on split scans)
    spread(df, col("doc_id")).withColumn("w", w)
      .filter(size(col("w")) >= 3)
      .withColumn("i", explode(sequence(lit(1), size(col("w")) - 2)))
      .withColumn("sh", concat_ws(" ", element_at(col("w"), col("i")),
        element_at(col("w"), col("i") + 1),
        element_at(col("w"), col("i") + 2)))
      .drop("w", "i")
  }
  private val shinglesSql =
    """SELECT doc_id, lang, n_chars,
      |  unnest(list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
      |FROM (SELECT doc_id, lang, n_chars, string_split(text,' ') AS w
      |      FROM documents WHERE len(string_split(text,' ')) >= 3)""".stripMargin

  private val K = 8 // minhash signature size; banded 4 x 2

  /** Document-frequency cap for Jaccard verify shingles: a shingle seen in
    * more than this many docs within a block is dropped before the
    * pair-generating self-join. Constant as the corpus grows — that is
    * precisely what keeps the hottest shuffle key bounded at 100× scale. */
  private val MaxShingleDf = 100

  /** MinHash LSH band keys per document — `(doc_id, band, bh)`, K/2
    * bands of two 16-bit md5-slice minhashes each. One md5 per shingle
    * sliced into K sub-hashes (not K md5 calls — 8× less hashing, same
    * oracle replayability). Shared by the full-corpus pair query and the
    * incremental ingest gate, which probes these keys instead of
    * generating pairs. */
  /** Per-doc K-column minhash signature (doc_id, h1..hK) — the md5
    * 16-bit-slice family shared by the band keys and the estimator-
    * quality report. */
  private def minhashSig(docs: DataFrame): DataFrame = {
    val sh = withShingles(docs).withColumn("m", md5(col("sh")))
    val sigCols = (1 to K).map(i =>
      min(substring(col("m"), (i - 1) * 4 + 1, 4)).as(s"h$i"))
    sh.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
  }

  private def lshBands(docs: DataFrame): DataFrame =
    lshBandsFromSig(minhashSig(docs))

  /** Band keys from an ALREADY-COMPUTED signature table — the probe
    * side of the stored-signature path shares the exact band algebra
    * with the self-contained one. */
  private def lshBandsFromSig(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), posexplode(array(
      (0 until K / 2).map(b =>
        concat(col(s"h${2 * b + 1}"), col(s"h${2 * b + 2}"))): _*)))
      .toDF("doc_id", "band", "bh")

  /** Shared-group counts of a DF-capped shingle-group table: every pair
    * of docs sharing a group, with `inter` = groups shared and `sza`,
    * `szb` = each doc's group count, as (doc_b, doc_a, inter, sza, szb).
    * Precondition: `grouped` holds one `docs` array per group, sorted,
    * distinct and capped at [[MaxShingleDf]], so pairs come out
    * `doc_a < doc_b` and no group fans out past MaxShingleDf². Callers
    * apply their own ratio and threshold. */
  private def sharedCounts(grouped: DataFrame): DataFrame = {
    val inter = DedupLib.arrayPairs(grouped.filter(size(col("docs")) >= 2),
        "docs", "doc_a", "doc_b")
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
    val sizes = grouped
      .select(explode(col("docs")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sza"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "szb"), "doc_b")
  }

  /** Snapshot-pinned read of the stored MinHash signature table,
    * building it once per process if absent — the dedup half of the
    * index-at-ingest story (the ANN half is `ann_ivf_index_stored`):
    * at 100 TB signatures are computed when a document LANDS, and every
    * downstream near-dup pass probes the signature snapshot instead of
    * re-shingling the corpus. */
  private def storedMinhashSig(s: SparkSession, dir: String): DataFrame =
    graft.sources.GraftStore.materializeOnce(s,
      StoreRoots.tmpRoot("mhidx", dir))(
      minhashSig(documents(s, dir).select(col("doc_id"), col("text"))))

  /** Maximal cross-doc duplicated spans per document — `(doc_id, source,
    * island, st, en)` with `[st, en)` half-open char intervals. The
    * ExactSubstr core shared by the report (`dedup_substring`) and the
    * cut (`dedup_substring_cut`): 40-char grams at stride 1, grams in
    * ≥2 distinct docs located by a grouped aggregate + semi-join
    * (never a pair join), hit positions union-merged per doc by the
    * running-max-of-ends sweep. Three measured cost levers (each ~2-3×
    * at sf0.1): group by the RAW gram — hashing 1.3M grams through md5
    * cost more than shuffling the extra 8 bytes/key it saved; "≥2
    * distinct docs" as min(doc_id) ≠ max(doc_id) — the full distinct
    * count pays a two-phase Expand for a threshold test that two
    * partial-aggregating extrema answer; and localCheckpoint the gram
    * table — extraction is the dominant term, and both the aggregate
    * and the probe side of the semi-join consume it. */
  private[operators] def dupSpans(docs: DataFrame): DataFrame = {
    val k = 40
    // spread BEFORE the stride-1 explode: a single-file corpus otherwise
    // runs the whole ~40× gram extraction + checkpoint write as one task
    val g = spread(docs.filter(length(col("text")) >= k), col("doc_id"))
      .select(col("doc_id"), col("source"), col("text"),
        explode(sequence(lit(1), length(col("text")) - (k - 1))).as("pos"))
      .select(col("doc_id"), col("source"), col("pos"),
        expr(s"substring(text, pos, $k)").as("gh"))
      .localCheckpoint()
    sharedGramSpans(g, k)
  }

  /** Maximal cross-doc duplicated spans of the gram table `g`
    * (doc_id, source, pos, gh = the k-char gram at pos): grams held by
    * ≥2 distinct docs are located by a grouped aggregate + semi-join
    * (never a pair join), and their positions union-merge per doc into
    * maximal [st, en) spans by the running-max-of-ends sweep, intervals
    * [pos, pos+k). Shared by the stride-1 and the winnowing-seeded
    * substring-dedup variants. */
  private def sharedGramSpans(g: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dup = g.groupBy(col("gh"))
      .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
      .filter(col("lo") =!= col("hi"))
      .select(col("gh"))
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val prevEnd = max(col("pos") + k)
      .over(byPos.rowsBetween(Window.unboundedPreceding, -1))
    g.join(dup, Seq("gh"), "semi")
      .withColumn("brk",
        when(col("pos") > coalesce(prevEnd, lit(-1)), 1L).otherwise(0L))
      .withColumn("island",
        sum(col("brk")).over(byPos.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("source"), col("island"))
      .agg(min(col("pos")).as("st"), (max(col("pos")) + k).as("en"))
  }

  /** Window size (in gram positions) for the winnowing-seeded substring
    * dedup. Coverage guarantee: within any cross-doc-shared substring,
    * consecutive selected positions are ≤ SubWinnowW apart (< the gram
    * width), so a true shared span's selected hits always merge into ONE
    * island; shared spans of length ≥ 40 + SubWinnowW - 1 are always
    * detected. */
  private[operators] val SubWinnowW = 8

  /** The 100 TB shape of [[dupSpans]]: identical gram width and island
    * algebra, but only WINNOWED gram positions enter the shuffle — per
    * trailing window of [[SubWinnowW]] positions, the lexicographically
    * smallest gram (ties to the rightmost position, the standard
    * winnowing tie-break) is selected, row-locally. Selection is
    * content-determined, so two documents sharing a substring select the
    * same grams inside it — the self-synchronization that makes the
    * seeded variant sound — and shuffle volume drops to ~2/(W+1) of
    * stride-1's while extraction stays embarrassingly parallel. The
    * price is approximate span BOUNDARIES (the first selected gram can
    * start up to W-1 chars into the true span) and missed spans shorter
    * than k + W - 1; the containment property (every winnowed span lies
    * inside a stride-1 span) is spec-proven in SubstringDedupSpec.
    * Prefix windows (p < W) shrink to 1..p so short docs still select —
    * "robust winnowing". Selection runs as ONE native codegen'd
    * monotonic-deque argmin pass per document ([[graft.functions
    * .WinnowSelect]]: 8-codepoint gram prefixes compared, rightmost tie
    * wins — O(n) comparisons, no per-position key allocation). The
    * expression is spec-pinned EXACTLY equal to the SQL selection rule
    * the DuckDB oracle replays (`WinnowSpec`), so the oracle stays
    * valid; the full 40-char gram is substring'd for SELECTED positions
    * only. Text compares as raw UTF-8 on both engines (fixture is
    * ASCII). */
  private[operators] def dupSpansWinnowed(docs: DataFrame): DataFrame = {
    val k = 40; val w = SubWinnowW
    // same spread-before-extraction as dupSpans: the WinnowSelect argmin
    // pass is row-local compute over the whole corpus text
    val g = spread(docs.filter(length(col("text")) >= k), col("doc_id"))
      .select(col("doc_id"), col("source"), col("text"),
        explode(graft.functions.Winnow.column(col("text"), k, w)).as("posi"))
      .select(col("doc_id"), col("source"),
        col("posi").cast("long").as("pos"),
        expr(s"substring(text, posi, $k)").as("gh"))
      .localCheckpoint()
    sharedGramSpans(g, k)
  }

  /** One row per word of `docs` with its md5 hex digest `hex` — the
    * SimHash bit source both engines replay. */
  private def md5Words(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .withColumn("hex", md5(col("word")))

  /** Value 0–15 of the `p`-th (1-based) hex digit of [[md5Words]]' `hex`. */
  private def hexNibble(p: Int): Column = {
    val a = ascii(substring(col("hex"), p, 1))
    when(a >= 97, a - 87).otherwise(a - 48)
  }

  /** Per-source report of duplicated `spans` (doc_id, source, st, en):
    * docs affected, span count and duplicated chars. */
  private def spanReport(spans: DataFrame): DataFrame =
    spans.groupBy(col("source"))
      .agg(count_distinct(col("doc_id")).as("docs_affected"),
        count(lit(1)).as("dup_spans"),
        sum(col("en") - col("st")).cast("long").as("dup_chars"))

  /** Excise `spans` (doc_id, st, en half-open) from `docs` and hash the
    * reconstructed survivor text — the shared cut algebra behind the
    * stride-1 (`dedup_substring_cut`) and winnowing-seeded
    * (`dedup_substring_cut_winnowed`) excision queries. Kept segments
    * are the complement intervals (lag-of-ends → next-start gaps plus
    * the max-end → end-of-text tail), substring'd from the original and
    * reassembled in start order; hashing the REBUILT STRING means any
    * off-by-one in the interval algebra — either engine, either
    * direction — fails loudly. Affected docs only; segment rows ∝ spans
    * found, and the rebuild shuffles only (doc_id, gs, segment) — never
    * a corpus-wide text reshuffle. */
  private def cutRebuilt(docs0: DataFrame, sp0: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = docs0.select(col("doc_id"), col("text"))
    val sp = sp0.select(col("doc_id"), col("st"), col("en"))
    val bySt = Window.partitionBy(col("doc_id")).orderBy(col("st"))
    val gaps = sp.select(col("doc_id"),
      coalesce(lag(col("en"), 1).over(bySt), lit(1)).as("gs"),
      col("st").as("ge"))
    val tails = sp.groupBy(col("doc_id")).agg(max(col("en")).as("gs"))
      .join(docs, Seq("doc_id"))
      .select(col("doc_id"), col("gs"), (length(col("text")) + 1).as("ge"))
    val pieces = gaps.unionByName(tails)
      .join(docs, Seq("doc_id"))
      .select(col("doc_id"), col("gs"),
        expr("substring(text, gs, ge - gs)").as("seg"))
    pieces.groupBy(col("doc_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("gs"), col("seg")))),
        x => x.getField("seg")), "").as("kept"))
      .select(col("doc_id"),
        length(col("kept")).cast("long").as("kept_chars"),
        md5(col("kept")).as("h"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // exact dedup: content-hash groups with representative + multiplicity
    "dedup_exact" -> { (s, dir) =>
      documents(s, dir)
        .groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy(col("h"))
    },
    // Source×source duplication matrix — the "which feeds copy from
    // each other" intelligence a multi-crawl ingest needs before
    // deciding what to drop at the SOURCE level (a mirror site is a
    // config fix, not a per-doc dedup problem). The fixture corpus has
    // no exact dups, so (the text_pii_redact planting discipline) every
    // 7th document gains a 'mirror' re-crawl copy — mirrored exactly in
    // the oracle, so the gate exercises a non-empty matrix. Exact-dup
    // pairs come from a content-hash self-join with a canonical
    // (doc_id <) order; pair volume is Σ c² over hash groups — bounded
    // by the duplication being measured, never corpus². Diagonal cells
    // = within-source duplication; off-diagonal = cross-feed copying.
    "dedup_source_matrix" -> { (s, dir) =>
      val base = documents(s, dir)
        .select(col("doc_id"), col("text"), col("source"))
      val mirror = base.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
          lit("mirror").as("source"))
      val h = base.unionByName(mirror)
        .select(md5(col("text")).as("h"), col("doc_id"), col("source"))
      val a = h.select(col("h"), col("doc_id").as("ida"), col("source").as("src_a"))
      val b = h.select(col("h").as("hb"), col("doc_id").as("idb"),
        col("source").as("src_b"))
      a.join(b, col("h") === col("hb") && col("ida") < col("idb"))
        .groupBy(least(col("src_a"), col("src_b")).as("source_1"),
          greatest(col("src_a"), col("src_b")).as("source_2"))
        .agg(count(lit(1)).as("n_dup_pairs"),
          count_distinct(col("ida")).as("n_left_docs"))
        .orderBy(col("source_1"), col("source_2"))
    },
    // Exact duplicated-SUBSTRING detection (Lee et al. 2021,
    // "Deduplicating Training Data Makes Language Models Better",
    // arXiv:2107.06499 — the ExactSubstr pass that complements document-
    // level MinHash): every 40-char gram at stride 1, grams seen in ≥2
    // distinct docs mark their positions, and each doc's hit intervals
    // [pos, pos+40) union-merge with the events_interval_union sweep
    // (running-max-of-ends break detection) into maximal duplicated
    // spans — the boilerplate/template regions an LM pipeline cuts out
    // of otherwise-unique documents. Report: per-source affected docs,
    // merged spans, covered chars. Duplication is detected by a grouped
    // min≠max extrema test, never a pair join — pair volume never
    // exists (see dupSpans for the measured cost levers). Scale: the
    // gram table is corpus_bytes × k/stride rows; production widens the
    // stride and seeds candidates from dedup_winnowing fingerprints, or
    // runs suffix arrays per partition as Lee et al. do.
    "dedup_substring" -> { (s, dir) =>
      spanReport(dupSpans(documents(s, dir)))
        .orderBy(col("source"))
    },
    // The CUT, not just the report: duplicated spans excised and each
    // affected document's surviving text reconstructed — the edit Lee
    // et al.'s ExactSubstr pass actually ships. Kept segments are the
    // complement intervals (lag-of-ends → next-start gaps plus the
    // max-end → end-of-text tail), substring'd from the original and
    // reassembled in start order; the gate hashes the REBUILT STRING,
    // so any off-by-one in the interval algebra — either engine, either
    // direction — fails loudly. Affected docs only (the untouched
    // corpus passes through unchanged by construction); segment rows ∝
    // spans found, and the rebuild shuffles only (doc_id, gs, segment)
    // — never a corpus-wide text reshuffle.
    "dedup_substring_cut" -> { (s, dir) =>
      cutRebuilt(documents(s, dir), dupSpans(documents(s, dir)))
    },
    // The excision at the 100 TB shape: dedup_substring_cut's rebuild
    // over [[dupSpansWinnowed]]'s spans — winnow-selected gram positions
    // only enter the shuffle, so the whole cut (detection + rebuild)
    // runs at the reduced gram volume. Span boundaries are approximate
    // (up to W-1 chars of surviving duplicate at each edge, spans
    // shorter than k+W-1 may survive whole — SubstringDedupSpec bounds
    // both), which is the documented trade Lee et al.-style pipelines
    // take when they widen the stride; the gate hashes the rebuilt text
    // under the SAME winnowed rule replayed by the oracle.
    "dedup_substring_cut_winnowed" -> { (s, dir) =>
      cutRebuilt(documents(s, dir), dupSpansWinnowed(documents(s, dir)))
    },
    // The winnowing-seeded twin of dedup_substring — identical report
    // over [[dupSpansWinnowed]]'s spans: only winnow-selected gram
    // positions (min-gram per trailing window of SubWinnowW, rightmost
    // tie-break) enter the group-by shuffle, cutting shuffled gram
    // volume to ~2/(W+1) of stride-1's. This is the shape to run at
    // 100 TB; the stride-1 query stays as the exact truth the
    // containment spec measures against (every winnowed span is inside
    // a stride-1 span; shared spans ≥ k+W-1 chars are never missed).
    "dedup_substring_winnowed" -> { (s, dir) =>
      spanReport(dupSpansWinnowed(documents(s, dir)))
        .orderBy(col("source"))
    },
    // MinHash + LSH banding → candidate near-dup pairs. One md5 per
    // shingle sliced into K 16-bit sub-hashes (not K md5 calls — 8× less
    // hashing, same oracle replayability); bands are slice concats.
    // Deliberately a self-JOIN (unlike dedup_ngram_jaccard's array-pair
    // explosion): band buckets are mostly 1-2 docs, and measured at
    // sf0.1 the join beats the collect_set+explode shape there
    // (1.45 s vs 1.65 s warm) — group size decides which shape wins.
    // Method-agreement Venn over the three near-dup candidate
    // generators — minhash-LSH (whole-doc shingle Jaccard), simhash
    // (whole-doc Hamming), winnowing (shared-passage fingerprints):
    // which pairs does each method see that the others miss? The mask
    // histogram (1=minhash, 2=simhash, 4=winnowing, sums = overlaps)
    // is the tuning readout an owner reads before deciding which
    // method (or union) gates ingest — whole-doc methods agree on
    // near-identical docs, winnowing alone flags partial-copy pairs.
    // Composes the three EXISTING pipelines verbatim on both engines
    // (the oracle nests the three pair oracles as subqueries), so the
    // venn can only disagree if a method definition itself drifts.
    // Scale: cost is the sum of the three candidate generators — each
    // banded/bucketed, never all-pairs; the merge is pair-keyed.
    "dedup_method_venn" -> { (s, dir) =>
      def p(q: String, m: Long) = DedupOps.queries(q)(s, dir)
        .select(col("doc_a"), col("doc_b"), lit(m).as("m"))
      p("dedup_minhash_lsh", 1L)
        .unionByName(p("dedup_simhash_pairs", 2L))
        .unionByName(p("dedup_winnowing", 4L))
        .groupBy(col("doc_a"), col("doc_b")).agg(sum(col("m")).as("mask"))
        .groupBy(col("mask")).agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("mask"))
    },
    "dedup_minhash_lsh" -> { (s, dir) =>
      DedupLib.candidatePairs(
          lshBands(documents(s, dir).select(col("doc_id"), col("text"))))
        .orderBy(col("doc_a"), col("doc_b"))
    },
    // Index-at-ingest for near-dup: persist the per-doc K-column
    // minhash signature table to graft-store ONCE (the shingle +
    // min-hash aggregation is the expensive half of every LSH pass),
    // read the snapshot back. Oracle replays the signature algebra
    // byte-for-byte: a hash match proves train→commit→read is lossless
    // at signature granularity, so every stored-probe consumer
    // inherits exactness.
    "dedup_minhash_index_stored" -> { (s, dir) =>
      val root = StoreRoots.tmpRoot("mhidx", dir)
      graft.sources.GraftStore.write(
        minhashSig(documents(s, dir).select(col("doc_id"), col("text"))),
        root, overwrite = true)
      graft.sources.GraftStore.read(s, root).orderBy(col("doc_id"))
    },
    // The stored-signature twin of dedup_minhash_lsh: band keys explode
    // from the SNAPSHOT (no shingling, no md5 — the corpus text is
    // never touched), self-join on (band, bh) as before. Hash-equal to
    // the self-contained twin under the same oracle; the bench delta
    // between the two is the measured signature-computation tax the
    // ingest-time index removes from every dedup pass.
    "dedup_minhash_lsh_stored" -> { (s, dir) =>
      DedupLib.candidatePairs(lshBandsFromSig(storedMinhashSig(s, dir)))
        .orderBy(col("doc_a"), col("doc_b"))
    },
    // The INGEST LOOP composed end to end on the persisted signature
    // index: day-1 signatures (even doc_ids) land as the base snapshot,
    // day-2 signatures (odd doc_ids) APPEND, the delta is recovered
    // through the store's CDC read (`readChanges` since the base
    // version — files the new snapshot has that the base lacked), and
    // candidate pairs come from banding the DELTA against the full
    // snapshot — new×all, never all×all. This is what daily dedup at
    // 100 TB actually runs: signature compute is delta-sized, the pair
    // join is delta×index, and the corpus text is never re-read.
    // Output = every LSH pair touching a new doc; oracle replays it as
    // the full pair set filtered to odd-doc participation — a hash
    // match proves base+append+CDC-read compose losslessly.
    "dedup_minhash_delta_stored" -> { (s, dir) =>
      val root = StoreRoots.tmpRoot("mhdelta", dir)
      val sigs = minhashSig(documents(s, dir).select(col("doc_id"), col("text")))
      // overwrite-then-append: content-idempotent across re-runs in one
      // process (the overwrite resets the store to the base half)
      graft.sources.GraftStore.write(sigs.filter(col("doc_id") % 2 === 0),
        root, overwrite = true)
      val base = graft.sources.GraftStore.currentVersion(root).get
      graft.sources.GraftStore.write(sigs.filter(col("doc_id") % 2 === 1), root)
      val delta = graft.sources.GraftStore.readChanges(s, root, sinceVersion = base)
      val full = graft.sources.GraftStore.read(s, root)
      val a = lshBandsFromSig(delta).as("a")
      val b = lshBandsFromSig(full).as("b")
      a.join(b, col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") =!= col("b.doc_id"))
        .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
          greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
        .distinct()
        .orderBy(col("doc_a"), col("doc_b"))
    },
    // The INGEST LOOP under DELETES — the takedown path a corpus with
    // removal obligations (DMCA, GDPR, licensing) runs daily, mirroring
    // ann_ivf_tombstone_stored on the dedup side (VERDICT r13 task #5):
    // purged documents must stop producing candidate pairs WITHOUT
    // recomputing a single signature. doc_ids < 40 are deleted from the
    // base corpus store (row-level copy-on-write); the net delete batch
    // comes back through file-level CDC (netDeletedKeys — removed rows
    // EXCEPT re-added rows, both DML-delta-sized); the signature index
    // absorbs it as ONE O(delta) tombstone append; candidate pairs are
    // banded from the tombstone-masked LIVE view; then compaction folds
    // tombstones physically and the pairs are re-derived from the
    // post-vacuum physical store. Output = each pair with the number of
    // views (live-masked / post-compaction) that produced it — the
    // oracle pins n_views = 2, so the query passes ONLY if both the
    // logical mask and the physical fold yield exactly the purged pair
    // set. At 100 TB: delete detection ∝ rewritten files, index
    // maintenance ∝ delete batch, pair generation ∝ surviving bands —
    // the corpus text is never re-read.
    "dedup_minhash_tombstone_stored" -> { (s, dir) =>
      val baseRoot = StoreRoots.tmpRoot("doctombbase", dir)
      val idxRoot = StoreRoots.tmpRoot("mhtombidx", dir)
      Seq(baseRoot, idxRoot).foreach(StoreRoots.reset(s, _))
      val docs0 = documents(s, dir).select(col("doc_id"), col("text"))
      graft.sources.GraftStore.write(docs0.repartition(4), baseRoot,
        overwrite = true)
      graft.sources.GraftStore.write(minhashSig(docs0), idxRoot,
        overwrite = true)
      // the takedown batch: doc_ids < 40 leave the corpus
      graft.sources.GraftStore.delete(baseRoot, Array(
        org.apache.spark.sql.sources.LessThan("doc_id", 40L)))
      val dead = graft.sources.GraftStore.netDeletedKeys(
        s, baseRoot, sinceVersion = 1L, Seq("doc_id"))
      graft.sources.StoredIndex.appendTombstones(s, idxRoot, dead)
      // eager pin: compaction overwrites + vacuums the index store, so
      // the live-view pairs must materialize first
      val livePairs = DedupLib.candidatePairs(lshBandsFromSig(
        graft.sources.StoredIndex.readLive(s, idxRoot, Seq("doc_id"))))
        .localCheckpoint(eager = true)
      graft.sources.StoredIndex.compactTombstones(s, idxRoot, Seq("doc_id"))
      val afterPairs = DedupLib.candidatePairs(lshBandsFromSig(
        graft.sources.GraftStore.read(s, idxRoot)))
      livePairs.unionByName(afterPairs)
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n_views"))
        .orderBy(col("doc_a"), col("doc_b"))
    },
    // 16-bit SimHash per document (md5-derived bit family)
    "dedup_simhash" -> { (s, dir) =>
      val words = md5Words(documents(s, dir))
      val sumCols = (1 to 16).map(p =>
        sum(when(hexNibble(p) >= 8, 1).otherwise(-1)).as(s"s$p"))
      val sums = words.groupBy(col("doc_id")).agg(sumCols.head, sumCols.tail: _*)
      sums.select(col("doc_id"),
        (1 to 16).map(p =>
          when(col(s"s$p") > 0, lit(1L) * (1L << (p - 1))).otherwise(lit(0L)))
          .reduce(_ + _).cast("long").as("simhash"))
        .orderBy(col("doc_id"))
    },
    // SimHash PAIR GENERATION (Manku/Jain/Sarma WWW'07 — the Google
    // near-dup-crawl design): dedup_simhash emits per-doc hashes; this
    // completes the algorithm with the band-blocked candidate join and
    // Hamming verify. 60-bit md5-derived simhash (15 hex chars × 4
    // bits — 60 not 64 keeps every bit weight positive in a BIGINT on
    // both engines), split into 4 bands of 15 bits; pairs within
    // Hamming ≤ 3 MUST agree on at least one intact band (pigeonhole:
    // 3 flipped bits can dirty at most 3 of 4 bands), so the band
    // equi-join is exact for the ≤3 threshold — same guarantee shape
    // as the minhash bands and the PPJoin prefix, a third instance of
    // the candidate-generation-without-cross-join discipline. 15-bit
    // band values spread ~uniformly, so buckets stay tiny however the
    // corpus grows; the verify is one xor+popcount per candidate.
    "dedup_simhash_pairs" -> { (s, dir) =>
      val words = md5Words(documents(s, dir))
      // decode each of the 15 nibbles ONCE in a projection; the 60 bit
      // sums then reference plain int columns (±1 as arithmetic, no
      // CASE) instead of re-evaluating ascii(substr(...)) 4x per char
      val withHv = words.select(col("doc_id") +:
        (1 to 15).map(i => hexNibble(i).as(s"hv$i")): _*)
      val sumCols = (0 until 60).map { p =>
        sum(shiftright(col(s"hv${p / 4 + 1}"), p % 4).bitwiseAND(lit(1)) * 2 - 1)
          .as(s"s$p")
      }
      val sums = withHv.groupBy(col("doc_id")).agg(sumCols.head, sumCols.tail: _*)
      val sims = sums.select(col("doc_id"),
        (0 until 60).map(p =>
          when(col(s"s$p") > 0, lit(1L) * (1L << p)).otherwise(lit(0L)))
          .reduce(_ + _).cast("long").as("h"))
        .localCheckpoint(eager = false)
      val bands = sims.select(col("doc_id"), col("h"),
        posexplode(array((0 until 4).map(b =>
          shiftright(col("h"), b * 15).bitwiseAND(lit((1L << 15) - 1))): _*)))
        .toDF("doc_id", "h", "band", "bv")
      bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.h").as("ha"), col("b.h").as("hb"))
        .distinct()
        .withColumn("hamming",
          bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
        .filter(col("hamming") <= 3)
        .select(col("doc_a"), col("doc_b"), col("hamming"))
        .orderBy(col("doc_a"), col("doc_b"))
    },
    // blocked n-gram Jaccard: same (lang, length-bucket) block only.
    // Shape: ONE aggregation groups the distinct doc set per shingle
    // (collect_set), the DF cap is an array-size filter, and candidate
    // pairs explode from each ≤cap-sized array — no shingle self-JOIN
    // at all. Measured 30% faster than the previous window+self-join
    // formulation (1.56 s vs 2.23 s warm at sf0.1) with one fewer
    // shuffle of the full shingle stream.
    //
    // Skew guard: a shingle's document frequency bounds its pair fanout
    // — one boilerplate trigram shared by M docs contributes M(M-1)/2
    // pairs, the straggler factory at 100 TB. The array-size cap at
    // MaxShingleDf (standard near-dup practice: ubiquitous shingles
    // carry no discriminative signal) bounds every group at
    // MaxShingleDf² pairs. Caveat: the collect_set buffer for a hot
    // shingle grows with its DF until the filter drops it — for extreme
    // corpora run [[DedupLib.capShingleDf]] (partial-aggregated count +
    // broadcast anti-join, no per-key buffering) FIRST, then this.
    // Mirrored exactly in the DuckDB oracle.
    "dedup_ngram_jaccard" -> { (s, dir) =>
      val sh = withShingles(documents(s, dir)
          .select(col("doc_id"), col("lang"), col("n_chars"), col("text")))
        .withColumn("bucket", (col("n_chars") / 100).cast("long"))
        .select(col("doc_id"), col("lang"), col("bucket"), col("sh"))
      // localCheckpoint: `grouped` feeds BOTH the pair explosion and the
      // doc-size aggregation, and exchange reuse does not fire across
      // the copies (collect_set's nondeterminism defeats canonical
      // equality — verified 0 ReusedExchange in the AQE final plan), so
      // without it the scan+explode+collect_set subtree runs once per
      // consumer (3× total). At sf0.1 the materialization roughly breaks
      // even (warm 1.83→1.72 s); the reason to keep it is scale: the
      // saved work is two extra full corpus scans + shingle shuffles,
      // which grow with the corpus while the checkpointed set stays the
      // POST-aggregation DF-capped group list. eager=false keeps query
      // CONSTRUCTION lazy (plan inspection / EXPLAIN must not run jobs);
      // materialization happens at the first action.
      val grouped = sh.groupBy(col("lang"), col("bucket"), col("sh"))
        .agg(sort_array(collect_set(col("doc_id"))).as("docs"))
        .filter(size(col("docs")) <= MaxShingleDf)
        .localCheckpoint(eager = false)
      sharedCounts(grouped)
        .withColumn("jaccard", round(col("inter").cast("double") /
          (col("sza") + col("szb") - col("inter")), 6))
        .filter(col("jaccard") >= 0.1)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    },
    // shingle CONTAINMENT — inter / min(|A|,|B|) — the asymmetric
    // near-subset detector Jaccard misses: a short doc pasted inside a
    // long one scores ~1.0 here but low Jaccard (the union is dominated
    // by the long doc). Same bounded-group machinery as jaccard, but
    // blocked by lang ONLY: a length-bucket block would split exactly
    // the cross-length pairs containment exists to find.
    "dedup_containment" -> { (s, dir) =>
      val sh = withShingles(documents(s, dir)
          .select(col("doc_id"), col("lang"), col("n_chars"), col("text")))
        .select(col("doc_id"), col("lang"), col("sh"))
      // same localCheckpoint rationale as dedup_ngram_jaccard above
      val grouped = sh.groupBy(col("lang"), col("sh"))
        .agg(sort_array(collect_set(col("doc_id"))).as("docs"))
        .filter(size(col("docs")) <= MaxShingleDf)
        .localCheckpoint(eager = false)
      sharedCounts(grouped)
        .withColumn("containment", round(col("inter").cast("double") /
          least(col("sza"), col("szb")), 6))
        .filter(col("containment") >= 0.2)
        .select(col("doc_a"), col("doc_b"), col("containment"))
        .orderBy(col("doc_a"), col("doc_b"))
    },
    // cluster RESOLUTION: candidate pairs are not the end of a dedup
    // pipeline — (a,b),(b,c) similar means {a,b,c} is ONE cluster and
    // the corpus keeps one canonical doc. Transitive closure over the
    // minhash pair graph via [[GraphOps.connectedComponents]]
    // (large-star/small-star, O(log n) rounds); every doc gets its
    // cluster's minimum doc_id as cluster_id (singletons: own id).
    "dedup_clusters" -> { (s, dir) =>
      val pairs = queries("dedup_minhash_lsh")(s, dir)
      val labels = GraphOps.connectedComponents(pairs, "doc_a", "doc_b")
        .withColumnRenamed("node", "doc_id")
      import org.apache.spark.sql.expressions.Window
      documents(s, dir).select(col("doc_id").cast("long").as("doc_id"))
        .join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cc"), col("doc_id")).as("cluster_id"))
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
        .orderBy(col("doc_id"))
    },
    // the same closure as a RECURSIVE CTE (Spark 4's WITH RECURSIVE →
    // UnionLoopExec): label = min root whose BFS frontier reaches the
    // node. Spark's recursion supports UNION ALL only (no UNION /
    // aggregates in the recursive term), so naive path enumeration
    // explodes as walks on dense bucket-cliques (deg^levels — observed
    // >1M rows on a 12-node component at sf0.1). The tame formulation:
    // SELECT DISTINCT in the recursive term IS allowed, which caps each
    // level at the live (node, root) state set — Σ k² per component —
    // and the r.root < e.b prune keeps only states that can still lower
    // a label (sound: the min root reaches every node via a simple
    // path whose intermediates all exceed it). Termination is the level
    // bound: 12 covers component diameter with 2.4× headroom over the
    // observed max (5 at sf0.1) — components are LSH bucket-cliques
    // chained shallowly, and both the DuckDB oracle (full closure) and
    // the GraphOpsSpec equality assertion would catch a breach. The
    // production path is [[GraphOps.connectedComponents]]
    // (large-star/small-star, O(log n) rounds) — this is the
    // SQL-surface twin for ad-hoc use.
    "dedup_clusters_rec" -> { (s, dir) =>
      queries("dedup_minhash_lsh")(s, dir).select(col("doc_a"), col("doc_b"))
        .createOrReplaceTempView("lsh_pairs")
      documents(s, dir).select(col("doc_id").cast("long").as("doc_id"))
        .createOrReplaceTempView("docs_all")
      s.sql("""
        WITH RECURSIVE edges AS (
          SELECT doc_a AS a, doc_b AS b FROM lsh_pairs
          UNION ALL SELECT doc_b, doc_a FROM lsh_pairs),
        -- anchor on PAIRED nodes only: singletons need no recursion,
        -- and they dominate the corpus
        reach (node, root, lvl) AS (
          SELECT DISTINCT a, a, 0 FROM edges
          UNION ALL
          SELECT DISTINCT e.b, r.root, r.lvl + 1 FROM reach r
          JOIN edges e ON e.a = r.node
          WHERE r.root < e.b AND r.lvl < 12),
        labels AS (
          SELECT node AS doc_id, MIN(root) AS cluster_id
          FROM reach GROUP BY node)
        SELECT d.doc_id,
          COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
          CAST(COUNT(*) OVER (PARTITION BY COALESCE(l.cluster_id, d.doc_id))
            AS BIGINT) AS cluster_size
        FROM docs_all d LEFT JOIN labels l ON l.doc_id = d.doc_id
        ORDER BY d.doc_id""")
    },
    // EDIT-DISTANCE near-dup: Levenshtein over a fixed-length text
    // prefix, within (lang, first-two-words) blocks. Edit distance
    // catches character-level mutations (typos, OCR noise) that
    // token-shingle methods miss entirely — but it is O(len²) per
    // pair, so the scale discipline is double truncation: prefix
    // BLOCKING bounds who meets whom (near-identical texts share their
    // opening words; vocabulary² blocks stay small and the DF cap
    // drops degenerate ones), and the distance runs on a 40-char
    // prefix, making per-pair cost a constant. Spark's levenshtein()
    // and DuckDB's agree on ASCII.
    "dedup_levenshtein" -> { (s, dir) =>
      val pref = documents(s, dir)
        .select(col("doc_id"), col("lang"),
          concat_ws(" ", slice(split(col("text"), " "), 1, 2)).as("bucket"),
          substring(col("text"), 1, 40).as("pfx"))
      val grouped = pref.groupBy(col("lang"), col("bucket"))
        .agg(sort_array(collect_set(struct(col("doc_id"), col("pfx")))).as("docs"))
        .filter(size(col("docs")).between(2, MaxShingleDf))
      DedupLib.arrayPairs(grouped, "docs", "a", "b")
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          levenshtein(col("a.pfx"), col("b.pfx")).cast("long").as("edit_dist"))
        .filter(col("edit_dist") <= 10)
        .orderBy(col("doc_a"), col("doc_b"))
    },
    // production-speed twins of the hash-heavy queries, riding
    // [[DedupLib]]'s xxhash64 family (codegen'd 8-byte longs instead of
    // md5 hex strings). Same plan shape and banding (K=8 into 4 bands),
    // no DuckDB counterpart (xxhash64 doesn't exist there) → no oracle;
    // they exist so the bench quantifies the md5→xxhash64 delta the
    // DedupOps doc claims.
    "dedup_minhash_fast" -> { (s, dir) =>
      DedupLib.minhashCandidates(
          documents(s, dir).select(col("doc_id"), col("text")),
          "doc_id", "text", k = K, bands = K / 2)
        .orderBy(col("doc_a"), col("doc_b"))
    },
    "dedup_simhash_fast" -> { (s, dir) =>
      DedupLib.simhash64(
          documents(s, dir).select(col("doc_id"), col("text")), "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    "dedup_winnowing_fast" -> { (s, dir) =>
      DedupLib.winnowPairs(documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_a"), col("doc_b"))
    },
    // embedding near-dup: sign-bucket LSH then exact cosine (native
    // fused Expression — same fold order as the oracle's
    // dot/(sqrt*sqrt), so rounded values agree). Bucket width is
    // CORPUS-ADAPTIVE (r16): a fixed 4-bit bucket made this self-join
    // quadratic — measured wall ×3.4-4.4 per data doubling with flat
    // byte gauges (pairs = n²/32) — so the bit count now grows as
    // ⌈log₂⌈n/64⌉⌉ (VectorOps.adaptiveSignBits, integer-exact on both
    // engines), keeping expected bucket size ≤ 64 and total candidate
    // pairs O(n). The corpus count is memoized per fixture dir
    // (Tables.memoCount) so repeated plan construction pays the
    // single-agg job once, not per build.
    //
    // CONTRACT — recall is a function of n, by design: adaptive width
    // means growing the corpus RAISES the LSH bit count, so a pair of
    // vectors that bucketed together at n₁ can land in different
    // buckets at n₂ > n₁ and silently drop out of the result. That is
    // the standard LSH recall-vs-cost dial (candidate volume stays
    // O(n) only because expected recall per non-identical pair falls
    // as buckets narrow); sign-LSH keeps PERFECT recall for exact
    // duplicates at every width (equal vectors share every sign bit).
    // A consumer who needs scale-stable NEAR-dup recall should pin
    // `bits` explicitly and pay the quadratic bucket growth, or use
    // the banded minhash family whose recall is set by (k, bands),
    // not n.
    "dedup_embedding_cos" -> { (s, dir) =>
      val e0 = embeddings(s, dir)
        .withColumn("v", col("embedding").cast("array<double>"))
      val bits = VectorOps.adaptiveSignBits(memoCount(s, dir, "embeddings"))
      val e = e0
        .withColumn("bucket", VectorOps.signBucket(col("v"), bits))
        .select(col("vec_id"), col("bucket"), col("v"))
      val a = e.as("a"); val b = e.as("b")
      a.join(b, col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
        .withColumn("cos_sim", round(
          graft.functions.VectorFunctions.cosine_sim(col("a.v"), col("b.v")), 6))
        .filter(col("cos_sim") >= 0.25)
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"), col("cos_sim"))
        .orderBy(col("vec_a"), col("vec_b"))
    },
    // cross-modal dedup agreement: do the TEXT near-dup candidates
    // (minhash-LSH pairs) also look like duplicates in EMBEDDING space?
    // Each candidate pair picks up both docs' vectors (vec_id == doc_id
    // where an embedding exists) and reports exact cosine; a pair whose
    // cosine is low — or whose embedding is missing (NULL, kept via
    // left joins: absence is itself a signal) — is exactly the case a
    // curation owner audits before trusting either signal alone. Scale:
    // pairs are corpus-sublinear, so the two id-equi-joins against the
    // embedding table are the cheap side of the DAG; the vectors never
    // join each other, only the pair list.
    "dedup_crosscheck" -> { (s, dir) =>
      val e = vectors(s, dir)
      queries("dedup_minhash_lsh")(s, dir)
        .join(e.select(col("vec_id").as("doc_a"), col("v").as("va")),
          Seq("doc_a"), "left")
        .join(e.select(col("vec_id").as("doc_b"), col("v").as("vb")),
          Seq("doc_b"), "left")
        .select(col("doc_a"), col("doc_b"),
          round(graft.functions.VectorFunctions.cosine_sim(col("va"), col("vb")), 6)
            .as("cos_sim"))
        .withColumn("semantic_agree",
          when(col("cos_sim").isNull, lit(null).cast("boolean"))
            .otherwise(col("cos_sim") >= 0.9))
        .orderBy(col("doc_a"), col("doc_b"))
    },
    // duplication spectrum: how many clusters exist at each multiplicity
    // — the report a curation run reads to decide how aggressive dedup
    // must be (a heavy tail of big clusters = mine the corpus harder).
    // One extra vocabulary-bounded aggregate over the dedup_clusters
    // labels; singletons included, so the n_docs column sums back to the
    // corpus size as a built-in sanity check.
    "dedup_cluster_sizes" -> { (s, dir) =>
      queries("dedup_clusters")(s, dir)
        .groupBy(col("cluster_size"))
        .agg(countDistinct(col("cluster_id")).as("n_clusters"),
          count(lit(1)).as("n_docs"))
        .orderBy(col("cluster_size"))
    },
    // SemDeDup-style semantic dedup: assign every embedding to its
    // nearest cell, then mark as duplicate any vector that has a
    // same-cell neighbor with smaller id and cosine >= tau (keep-min-id
    // rule — deterministic, no iteration). Cells here are one Lloyd
    // assignment step against K deterministic seed centroids (the K
    // smallest vec_ids) so the DuckDB oracle can replay the clustering
    // bit-for-bit; production swaps in [[SimilarityLib]] IVF-trained
    // centroids with K ~ n/targetCellSize — the plan shape (broadcast
    // K-row centroid join, per-cell pair join) is identical. Scale: the
    // pair join is keyed on cell, so pair generation is O(sum cell²),
    // never global O(n²); K grows with the corpus to bound cell size.
    "dedup_semantic" -> { (s, dir) =>
      val e = vectors(s, dir)
      // The SemK centroid rows are collected to the driver — bounded by
      // construction, the same bounded-collect contract as SimilarityLib
      // codebook training — and re-enter the plan as literals inside
      // [[DedupLib.semanticDedup]]: cell assignment is a pure
      // whole-stage-codegen projection. Deterministic seeds (the SemK
      // smallest vec_ids) keep the whole query DuckDB-replayable;
      // production swaps in SimilarityLib.buildIvf centroids.
      // SPARK_GRAFT_SEM_TRAINED=1 swaps in KMeans-trained centroids
      // ([[SimilarityLib.buildIvf]]) — the production path. NOT for
      // oracle runs (trained centroids aren't SQL-replayable); it exists
      // so SemanticDedupSpec can assert the swap changes ZERO plan nodes,
      // making the "production swaps in trained centroids" claim a
      // tested property instead of a comment.
      val cents =
        if (sys.env.contains("SPARK_GRAFT_SEM_TRAINED"))
          trainedSemCentroids(e)
        else
          e.filter(col("vec_id") < SemK).collect()
            .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
      DedupLib.semanticDedup(e, "vec_id", "v", cents, SemTau)
        .orderBy(col("vec_id"))
    },
    // the MATERIALIZED dedup decision — what a pipeline actually ships:
    // per document, its cluster label and whether it is the cluster's
    // survivor. Survivor rule = highest [[TextOps.classifierScore]] (ties →
    // smallest doc_id), so dedup keeps the BEST copy, not an arbitrary
    // one — min-id keep rules systematically prefer whichever copy was
    // crawled first, which at corpus scale biases retention toward older
    // (often worse) variants. Scale shape: clusters come from the
    // LSH+connected-components path (never O(n²)); the quality score is
    // a pure projection joined on doc_id; the survivor pick is one
    // window over cluster_id — match-level cardinality, one shuffle.
    "dedup_keep_best" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val labeled = queries("dedup_clusters")(s, dir)
        .select(col("doc_id"), col("cluster_id"))
      val scored = documents(s, dir)
        .select(col("doc_id"),
          TextOps.classifierScore(col("text")).as("quality_score"))
      val pick = Window.partitionBy(col("cluster_id"))
        .orderBy(col("quality_score").desc, col("doc_id"))
      labeled.join(scored, Seq("doc_id"))
        .withColumn("keep",
          when(row_number().over(pick) === 1, 1).otherwise(0))
        .orderBy(col("doc_id"))
    },
    // estimator-quality report: per LSH candidate pair, the MinHash
    // Jaccard ESTIMATE (fraction of agreeing signature slots) next to
    // the TRUE shingle-set Jaccard and the absolute error — the tuning
    // report that justifies K and the banding (too few hashes → noisy
    // estimates → band false positives/negatives). Scale shape: the
    // pair set is already band-bounded (corpus-sublinear); true-Jaccard
    // shingle sets join per pair doc, so exact verification cost scales
    // with CANDIDATES, never the corpus — the same candidates-only
    // discipline as dedup_ngram_jaccard's verify stage.
    "dedup_minhash_est" -> { (s, dir) =>
      val docs = documents(s, dir).select(col("doc_id"), col("text"))
      // ONE signature computation feeds band keys AND both estimate
      // sides — the naive composition (reusing the pair QUERY) rebuilt
      // the shingle+md5+groupBy subtree three times, since exchange
      // reuse does not fire across self-join aliases. At sf0.1 the win
      // is modest (1.78 → 1.65 s best-of-N; the sig subtree is cheap
      // at 5k docs) but structural at scale: the saved work is two
      // extra corpus-sized shingle scans, which grow with the corpus
      // while the checkpointed signature table stays |docs| × K slices.
      // eager=false keeps EXPLAIN job-free; materializes at first use.
      val sig = minhashSig(docs).localCheckpoint(eager = false)
      val pairs = DedupLib.candidatePairs(lshBandsFromSig(sig))
      val sigA = sig.toDF("doc_a" +: (1 to K).map(i => s"a$i"): _*)
      val sigB = sig.toDF("doc_b" +: (1 to K).map(i => s"b$i"): _*)
      val agree = (1 to K).map(i =>
        when(col(s"a$i") === col(s"b$i"), 1).otherwise(0)).reduce(_ + _)
      val est = pairs.join(sigA, Seq("doc_a")).join(sigB, Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          round(agree.cast("double") / K, 6).as("est_jaccard"))
      val sets = withShingles(docs)
        .groupBy(col("doc_id")).agg(collect_set(col("sh")).as("s"))
      val setA = sets.toDF("doc_a", "sa")
      val setB = sets.toDF("doc_b", "sb")
      est.join(setA, Seq("doc_a")).join(setB, Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("est_jaccard"),
          round(size(array_intersect(col("sa"), col("sb"))).cast("double") /
            size(array_union(col("sa"), col("sb"))), 6).as("true_jaccard"))
        .withColumn("abs_err",
          round(abs(col("est_jaccard") - col("true_jaccard")), 6))
        .orderBy(col("doc_a"), col("doc_b"))
    },
    // INCREMENTAL ingest dedup — the shape real pipelines run daily:
    // classify a new batch (here the doc_id%5==0 slice) against the
    // EXISTING corpus without ever re-deduping the corpus itself.
    // exact_dup = content hash already present; near_dup = shares an
    // LSH band key with an existing doc; new = neither. The existing
    // side reduces to two small indexes (distinct content hashes,
    // distinct band keys — both corpus-sublinear) that the batch SEMI-
    // joins against: no pair explosion, no quadratic term, and at 100 TB
    // the indexes are exactly what a graft-store table would persist
    // between ingests (the streaming twin keeps them as state —
    // [[graft.streaming.DocStream]]). Batch-internal duplicates are
    // deliberately NOT classified here: they are the previous queries'
    // job once the batch is admitted.
    "dedup_incremental" -> { (s, dir) =>
      val docs = documents(s, dir).select(col("doc_id"), col("text"))
      val isBatch = col("doc_id") % 5 === 0
      val hashed = docs.withColumn("h", md5(col("text")))
      val batch = hashed.filter(isBatch)
      val bands = lshBands(docs)
      val exactIds = batch
        .join(hashed.filter(!isBatch).select(col("h")), Seq("h"), "left_semi")
        .select(col("doc_id")).withColumn("is_exact", lit(1))
      val nearIds = bands.filter(isBatch)
        .join(bands.filter(!isBatch).select(col("band"), col("bh")),
          Seq("band", "bh"), "left_semi")
        .select(col("doc_id")).distinct().withColumn("is_near", lit(1))
      batch.select(col("doc_id"))
        .join(exactIds, Seq("doc_id"), "left")
        .join(nearIds, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("is_exact") === 1, "exact_dup")
            .when(col("is_near") === 1, "near_dup")
            .otherwise("new").as("status"))
        .orderBy(col("doc_id"))
    },
    // winnowing (the MOSS scheme): per-doc fingerprints from
    // [[winnowFingerprints]], then pairs sharing >= WinnowMinShared
    // fingerprints via a DF-capped collect_set and
    // [[DedupLib.arrayPairs]] — no self-join of the fingerprint stream, and
    // a boilerplate fingerprint shared by >MaxShingleDf docs is dropped
    // before it can fan out quadratically. Winnowing's claim vs plain
    // minhash: selection is LOCAL (any shared window of text guarantees
    // a shared fingerprint), so it localizes copied PASSAGES, not just
    // whole-doc similarity — while keeping ~2/W of grams.
    "dedup_winnowing" -> { (s, dir) =>
      val fps = winnowFingerprints(
          documents(s, dir).select(col("doc_id"), col("text")))
        .select(col("doc_id"), col("h")).distinct()
      val grouped = fps.groupBy(col("h"))
        .agg(sort_array(collect_set(col("doc_id"))).as("docs"))
        .filter(size(col("docs")).between(2, MaxShingleDf))
      DedupLib.arrayPairs(grouped, "docs", "doc_a", "doc_b")
        .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= WinnowMinShared)
        .orderBy(col("doc_a"), col("doc_b"))
    },
    // winnowing's advantage over whole-doc minhash, cashed: the retained
    // fingerprint POSITIONS localize each copied passage to its actual
    // offsets in both documents — [[winnowSpans]] aligns shared
    // fingerprints by constant offset and emits per-pair runs
    // (start_a, start_b, len).
    "dedup_winnowing_spans" -> { (s, dir) =>
      winnowSpans(documents(s, dir).select(col("doc_id"), col("text")))
        .orderBy(col("doc_a"), col("doc_b"), col("start_a"), col("start_b"))
    },
    // PREFIX-FILTERED similarity join (Bayardo et al. WWW'07 / PPJoin):
    // the EXACT all-pairs Jaccard-≥-t algorithm, vs the DF-cap blocking
    // of dedup_ngram_jaccard which trades recall for boundedness. The
    // guarantee: order every doc's shingle set canonically (global
    // document-frequency ASC, then token — rarest first), keep only
    // each doc's first |S| - ⌈t·|S|⌉ + 1 tokens as its "prefix"; any
    // pair with Jaccard ≥ t MUST share a prefix token (pigeonhole), so
    // joining on prefix tokens loses nothing. The df-ASC ordering is
    // what makes it scale: prefixes hold each doc's RAREST shingles, so
    // prefix-token join groups are the corpus's coldest keys — the
    // opposite end of the df spectrum from the skew that kills naive
    // shingle joins. Three exact pre-verify prunes stack on the join:
    //  - symmetric length filter: 5·sz_b ≥ 4·sz_a (⇔ sz_b ≥ ⌈t·sz_a⌉);
    //  - POSITIONAL filter (PPJoin's addition): for the first shared
    //    token — at 1-based canonical positions (ia, ib) — every shared
    //    token sits at ≥ those positions in BOTH lists (the order is
    //    global), so overlap o ≤ min(sz_a−ia, sz_b−ib)+1; J ≥ 0.8 needs
    //    9·o ≥ 4·(sz_a+sz_b), so a join row survives only if its
    //    position bound clears that. The first-shared-token row always
    //    exists among the matches (it provably lies in both prefixes
    //    when J ≥ t), so keeping pairs where ANY row passes is exact.
    //  - tokens are 12-hex md5 slices, not raw shingles: fixed-width
    //    keys through the join and 2× smaller arrays through the verify
    //    (md5 so the oracle replays byte-for-byte — the [[DedupOps]]
    //    hash-family rule; a cross-doc slice collision would perturb
    //    one intersection count identically in both engines).
    //
    // All thresholds in exact integer arithmetic — ⌈0.8·sz⌉ =
    // (4·sz+4) div 5, J ≥ 0.8 ⇔ 5·inter ≥ 4·union — because the two
    // engines parse the literal 0.8 differently (DuckDB DECIMAL(1,1),
    // JVM ieee754 double) and ceil() at the representation boundary
    // would diverge exactly at sz ≡ 0 (mod 5).
    //
    // localCheckpoint: `arr` feeds the prefix explosion AND both verify
    // joins (same rationale as dedup_ngram_jaccard's grouped).
    // Core lives in [[DedupLib.prefixFilterPairs]] (generalized to any
    // rational threshold; exactness property-pinned against brute force
    // in PrefixFilterSpec). Implementation notes that matter here: the
    // global df comes from an unordered COUNT window over the distinct
    // token stream — one pass, measured 2.5x faster at sf0.1 than the
    // groupBy+join formulation whose dfreq branch re-runs the
    // post-distinct aggregation (only the Exchange below it is
    // reusable); the per-doc ordered array localCheckpoints once for
    // the prefix explosion AND both verify joins.
    "dedup_prefix_filter" -> { (s, dir) =>
      val sh = withShingles(documents(s, dir).select(col("doc_id"), col("text")))
        .select(col("doc_id"), substring(md5(col("sh")), 1, 12).as("h"))
      DedupLib.prefixFilterPairs(sh, "doc_id", "h", tNum = 4, tDen = 5)
        .select(col("doc_a"), col("doc_b"),
          round(col("inter") / (col("sza") + col("szb") - col("inter")), 6).as("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    },
    // Record-linkage / entity resolution on STRUCTURED records (the
    // text-dedup family's catalog twin): candidate pairs block on
    // (p_name, p_type), then verify with per-attribute tolerances —
    // size within ±1, price within 0.5 % — the classic block-then-
    // verify ER shape (Fellegi–Sunter blocking). Output = per-block
    // duplicate census. Scale: the self-join is an equi-join on the
    // block key — only within-block pairs materialize, never all-pairs
    // — AND (r16) each block's pair generation is bounded: only the
    // ErBlockCap members with the smallest keys participate, via a
    // row_number truncation that Spark rewrites to WindowGroupLimit
    // (per-partition top-k prune BEFORE the window shuffle, plan-gated
    // in PlanShapeSpec). A blocking key too coarse for its corpus —
    // the standard ER pathology, reproduced by the twin fixture whose
    // verbatim p_name copies double every block per doubling — now
    // yields ≤ cap·(cap−1)/2 pairs per block instead of growing
    // quadratically; total pairs become linear in the block COUNT.
    // Truncation (not capShingleDf's drop-the-key) keeps oversized
    // blocks represented in the census with a deterministic bounded
    // sample; n_records stays the full census so the readout still
    // reports the true block size next to its (possibly capped) pair
    // count. Tolerance compares are exact double arithmetic on both
    // engines — no epsilon ambiguity; the cap is exact integer rank.
    "dedup_er_catalog" -> { (s, dir) =>
      val pr = part(s, dir).select(col("p_partkey"), col("p_name"),
        col("p_type"), col("p_size"), col("p_retailprice"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("p_name"), col("p_type")).orderBy(col("p_partkey"))
      val capped = pr.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= ErBlockCap).drop("rk")
      val b = capped.select(col("p_name").as("nb"), col("p_type").as("tb"),
        col("p_partkey").as("kb"), col("p_size").as("szb"),
        col("p_retailprice").as("prb"))
      val pairs = capped.join(b,
          col("p_name") === col("nb") && col("p_type") === col("tb") &&
            col("p_partkey") < col("kb"))
        .filter(abs(col("p_size") - col("szb")) <= 1 &&
          abs(col("p_retailprice") - col("prb")) <= lit(0.005) * col("p_retailprice"))
      val blocks = pr.groupBy(col("p_name"), col("p_type"))
        .agg(count(lit(1)).as("n_records"))
      pairs.groupBy(col("p_name"), col("p_type"))
        .agg(count(lit(1)).as("n_pairs"))
        .join(blocks, Seq("p_name", "p_type"))
        .select(col("p_name").as("name"), col("p_type").as("type"),
          col("n_records"), col("n_pairs"))
        .orderBy(col("name"), col("type"))
    },
    // Content-defined chunking dedup (Muthitacharoen et al. 2001, SOSP:
    // LBFS; FastCDC's fixed-boundary-test family) at word granularity —
    // the storage/training-corpus primitive that exact whole-doc dedup
    // misses and stride-1 substring dedup over-pays for: cut each
    // document into variable chunks at CONTENT-LOCAL boundaries (a word
    // closes its chunk iff (31·len + first-codepoint) % 8 = 0 — a pure
    // function of the word, so an insertion re-chunks only its own
    // chunk and shared runs re-align immediately, the CDC property),
    // then exact-dedup the chunks corpus-wide. Per source: chunk count,
    // distinct count, dup ratio, and the largest duplicate class — the
    // table that says where chunk-level dedup would reclaim volume.
    //
    // Scale shape: word explode → per-doc ordered window (the text
    // family's standard cost class) → chunk reassembly groupBy → ONE
    // corpus-wide groupBy on the raw chunk string (expected ~8 words;
    // grouping the raw key beats md5 at this length — measured rule
    // from the hash-family bench). Expected chunk volume is words/8;
    // nothing is pairwise and the boundary test is codegen'd scalar
    // work. Determinism: integer boundary rule, integer counts; the
    // only division is the final 6dp ratio.
    "dedup_cdc_chunks" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val chunks = documents(s, dir)
        .select(col("doc_id"), col("source"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
        .filter(length(col("w")) > 0)
        // ASCII-ONLY boundary rule (r11 ADVICE): Spark ascii() returns
        // the first UTF-8 BYTE (negative for ≥ 0x80) while the DuckDB
        // oracle's unicode() returns the first CODEPOINT — they agree
        // exactly on ASCII, which the fixture is (verified: max
        // codepoint 0x79). A multilingual corpus would swap this term
        // for a byte-explicit hash with identical semantics on both
        // engines; the chunking shape is unchanged either way.
        .withColumn("is_b",
          (length(col("w")) * 31 + ascii(col("w"))) % 8 === 0)
        .withColumn("cid", coalesce(
          sum(when(col("is_b"), 1L).otherwise(0L)).over(w), lit(0L)))
        .groupBy(col("doc_id"), col("source"), col("cid"))
        .agg(concat_ws(" ", transform(
          sort_array(collect_list(struct(col("pos"), col("w")))),
          x => x.getField("w"))).as("chunk"))
      chunks.groupBy(col("source"), col("chunk"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("source"))
        .agg(sum(col("cnt")).as("n_chunks"),
          count(lit(1)).as("n_unique"),
          max(col("cnt")).as("max_dup"))
        .select(col("source"), col("n_chunks"), col("n_unique"),
          round(lit(1.0) - col("n_unique").cast("double") / col("n_chunks"), 6)
            .as("dup_ratio"),
          col("max_dup"))
        .orderBy(col("source"))
    })

  /** Semantic-dedup constants shared by query and oracle: K seed cells,
    * within-cell cosine duplicate threshold. */
  private val SemK = 8
  private val SemTau = 0.25

  /** KMeans-trained codebook for `dedup_semantic`'s production path:
    * same K, same bounded-centroid contract, different (trained) cell
    * geometry. Package-visible so SemanticDedupSpec can drive the swap
    * directly. */
  private[operators] def trainedSemCentroids(e: DataFrame): Seq[(Long, Array[Double])] = {
    val (_, centers) = SimilarityLib.buildIvf(e, "vec_id", "v", SemK)
    centers.zipWithIndex.map { case (c, i) => (i.toLong, c.toArray) }.toSeq
  }

  /** Winnowing window width (in grams) and the minimum shared-fingerprint
    * count for a pair to surface. Shared by query, oracle, and spec. */
  private[operators] val WinnowW = 4
  private val WinnowMinShared = 2

  /** Max records per ER blocking-key group that participate in pair
    * generation (dedup_er_catalog): per-block pairs are bounded at
    * cap·(cap−1)/2 however coarse the blocking key turns out to be.
    * Truncation is deterministic (smallest p_partkey first) and
    * mirrored exactly in the oracle's ROW_NUMBER. */
  private val ErBlockCap = 64

  /** Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken, SIGMOD
    * 2003): hash every word-3-gram positionally, then for every sliding
    * window of [[WinnowW]] consecutive grams select the window's MINIMUM
    * hash (rightmost position on ties — the paper's rule). The guarantee:
    * every window of text contributes a fingerprint, so any sufficiently
    * long shared passage between two documents yields a shared
    * fingerprint — while only ~2/(W+1) of grams are kept, shrinking the
    * corpus-sized gram stream before it ever shuffles toward the pair
    * join.
    *
    * The argmin-with-tiebreak is expressed engine-agnostically as
    * `min(hash || zero-padded(BIG - pos))` over the window: the string
    * min picks the smallest hash first, then (inverted pos) the RIGHTMOST
    * among equal hashes, and the winning position decodes back out of the
    * key. A plain `min(hash)` compared to the current row is NOT
    * winnowing — a monotonically increasing hash run would select
    * nothing and void the coverage guarantee.
    *
    * Expects (`doc_id`, `text`); returns the selected distinct
    * (`doc_id`, `pos`, `h`) rows (positions retained so WinnowingSpec can
    * assert the gap-≤-W coverage property).
    *
    * Scale shape: winnowing is INTRA-document, so selection runs as a
    * pure per-row array projection — gram keys and window minima are
    * arrays inside one map stage (higher-order fns are CodegenFallback,
    * but the stage is shuffle-free and single-pass: the keys array is
    * materialized ONCE via a projected column, so lambdas never
    * re-evaluate the md5s), ZERO shuffle before
    * the downstream pair join. (A first cut used a per-doc_id window
    * function: same output, but it paid a corpus-sized Exchange + Sort
    * just to line up grams the row already holds — the formulation the
    * DuckDB oracle still uses, since SQL has no per-row array windows.)
    * Stateless by the same token: streaming-legal, composable at
    * ingest like [[graft.streaming.DocStream]]'s gates. */
  private[operators] def winnowFingerprints(df: DataFrame): DataFrame = {
    val keys = transform(
      sequence(lit(1), size(col("w")) - 2),
      i => concat(substring(md5(concat_ws(" ",
          element_at(col("w"), i), element_at(col("w"), i + 1),
          element_at(col("w"), i + 2))), 1, 8),
        lpad((lit(PosBase) - i).cast("string"), 10, "0")))
    val winMins = transform(
      sequence(lit(WinnowW), size(col("k"))),
      p => array_min(slice(col("k"), p - (WinnowW - 1), lit(WinnowW))))
    // spread first: the per-gram md5 keying below is the corpus's
    // dominant compute and otherwise inherits a single-file scan's
    // one-task parallelism (no-op once the scan is properly split)
    spread(df, col("doc_id")).withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= WinnowW + 2)
      .withColumn("k", keys)
      .select(col("doc_id"),
        explode(array_distinct(winMins)).as("mk"))
      .select(col("doc_id"),
        (lit(PosBase) - substring(col("mk"), 9, 10).cast("long")).as("pos"),
        substring(col("mk"), 1, 8).as("h"))
  }

  /** Localize copied passages: align shared winnowing fingerprints by
    * constant positional offset and merge them into runs.
    *
    * A passage copied between two documents shows up as a sequence of
    * shared fingerprints whose `pos_a - pos_b` is CONSTANT (the relative
    * shift of the copy), with consecutive `pos_a` gaps ≤ [[WinnowW]]
    * (the winnowing coverage guarantee: every window of W grams selects
    * one fingerprint, so inside a shared passage selections can never be
    * farther apart than W). So: per (doc_a, doc_b, offset) group, split
    * the matched positions into gap-≤-W islands and emit each island
    * with ≥ [[WinnowMinShared]] fingerprints as a span —
    * (start_a, start_b, len, n_fp), `len` in word positions (gram span
    * + the 3-word gram width).
    *
    * Scale shape: pair generation is the DF-capped
    * [[DedupLib.arrayPairs]] expansion (never a fingerprint-stream
    * self-join); the island windows partition by (pair, offset) —
    * match-level volume, already past the band cap, orders of magnitude
    * below corpus size — so the Window here is pair-local
    * postprocessing, not a corpus shuffle. */
  private[operators] def winnowSpans(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // no distinct(): winnowFingerprints dedups per-doc selections via
    // array_distinct on the encoded keys (one row per (doc_id,pos,h) by
    // construction), and the collect_set below dedups again anyway.
    // Verified plan-identical with and without (the optimizer was
    // already collapsing it) — dropped so the intent is in the code,
    // not in an optimizer rewrite.
    val fps = winnowFingerprints(df)
      .select(col("doc_id"), col("pos"), col("h"))
    val grouped = fps.groupBy(col("h"))
      .agg(sort_array(collect_set(struct(col("doc_id"), col("pos")))).as("es"))
      .filter(size(array_distinct(transform(col("es"), e => e("doc_id"))))
        .between(2, MaxShingleDf))
    val matches = DedupLib.arrayPairs(grouped, "es", "a", "b")
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.pos").as("pos_a"), col("b.pos").as("pos_b"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("off", col("pos_a") - col("pos_b"))
    val w = Window.partitionBy(col("doc_a"), col("doc_b"), col("off"))
      .orderBy(col("pos_a"))
    matches
      .withColumn("gap", col("pos_a") - lag(col("pos_a"), 1).over(w))
      .withColumn("brk",
        when(col("gap").isNull || col("gap") > WinnowW, 1).otherwise(0))
      .withColumn("run_id", sum(col("brk")).over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("off"), col("run_id"))
      .agg(min(col("pos_a")).as("start_a"), min(col("pos_b")).as("start_b"),
        (max(col("pos_a")) - min(col("pos_a")) + lit(3)).as("len"),
        count(lit(1)).as("n_fp"))
      .filter(col("n_fp") >= WinnowMinShared)
      .select(col("doc_a"), col("doc_b"), col("start_a"), col("start_b"),
        col("len"), col("n_fp"))
  }

  /** Position-inversion base for the winnowing argmin key (any constant
    * larger than the max gram count per document works). */
  private val PosBase = 1000000000

  private def simhashOracle: String = {
    val hexVal: Int => String = p =>
      s"(CASE WHEN ascii(substr(hex,$p,1)) >= 97 THEN ascii(substr(hex,$p,1)) - 87 ELSE ascii(substr(hex,$p,1)) - 48 END)"
    val sums = (1 to 16).map(p =>
      s"SUM(CASE WHEN ${hexVal(p)} >= 8 THEN 1 ELSE -1 END) AS s$p").mkString(",\n    ")
    val bits = (1 to 16).map(p =>
      s"CASE WHEN s$p > 0 THEN ${1L << (p - 1)} ELSE 0 END").mkString(" + ")
    s"""SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM (
       |  SELECT doc_id, $sums
       |  FROM (SELECT doc_id, md5(unnest(string_split(text,' '))) AS hex FROM documents) w
       |  GROUP BY doc_id) t
       |ORDER BY doc_id""".stripMargin
  }

  /** CTE chain producing the minhash-LSH candidate pairs — shared by the
    * pair query's oracle, the cluster query's recursive closure, and the
    * `pipeline_curate` capstone in [[CurationOps]]. */
  private[operators] def minhashPairsCtes: String = {
    val hs = (1 to K).map(i =>
      s"min(substr(md5(sh), ${(i - 1) * 4 + 1}, 4)) AS h$i").mkString(", ")
    val bandExprs = (0 until K / 2).map(b => s"h${2 * b + 1} || h${2 * b + 2}").mkString(", ")
    s"""shingles AS ($shinglesSql),
       |sig AS (SELECT doc_id, $hs FROM shingles GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, band, barr[band + 1] AS bh FROM (
       |    SELECT doc_id, [$bandExprs] AS barr,
       |      unnest(generate_series(0, ${K / 2 - 1})) AS band FROM sig)),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)""".stripMargin
  }

  private def minhashOracle: String =
    s"""WITH $minhashPairsCtes
       |SELECT doc_a, doc_b FROM pairs
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Recursive-CTE chain ending in `assigned(doc_id, cluster_id)` — the
    * transitive closure of the LSH pair graph (min reachable doc_id per
    * node; UNION dedups, so the iteration terminates). Shared by the
    * cluster labeling, size-spectrum, and keep-best oracles. */
  private def clusterCtes: String =
    s"""$minhashPairsCtes,
       |edges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(u, r) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) n
       |  UNION
       |  SELECT e.u, rc.r FROM edges e JOIN reach rc ON rc.u = e.v),
       |labels AS (SELECT u AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY u),
       |assigned AS (
       |  SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id
       |  FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id)""".stripMargin

  private def clustersOracle: String =
    s"""WITH RECURSIVE $clusterCtes
       |SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |       CAST(cluster_id AS BIGINT) AS cluster_id,
       |       CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
       |FROM assigned
       |ORDER BY doc_id""".stripMargin

  /** DuckDB replay of [[dupSpansWinnowed]] — shared CTE chain ending in
    * `sp(doc_id, source, island, st, en)`, consumed by both the winnowed
    * report and the winnowed cut oracles. */
  private def winnowedSpanCtes: String =
    s"""g AS (
       |  SELECT doc_id, source,
       |    unnest(generate_series(1, length(text) - 39)) AS pos, text
       |  FROM documents WHERE length(text) >= 40),
       |gg AS (
       |  SELECT doc_id, source, pos, text,
       |    substring(text, pos, 8) ||
       |      lpad(CAST($PosBase - pos AS VARCHAR), 10, '0') AS mk
       |  FROM g),
       |selw AS (
       |  SELECT doc_id, source, text,
       |    MIN(mk) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN ${SubWinnowW - 1} PRECEDING AND CURRENT ROW) AS mk
       |  FROM gg),
       |sel AS (SELECT DISTINCT doc_id, source, text, mk FROM selw),
       |hh AS (
       |  SELECT doc_id, source, pos, substring(text, pos, 40) AS gh
       |  FROM (SELECT doc_id, source, text,
       |          $PosBase - CAST(substring(mk, 9, 10) AS BIGINT) AS pos
       |        FROM sel)),
       |dup AS (SELECT gh FROM hh GROUP BY gh HAVING MIN(doc_id) <> MAX(doc_id)),
       |hits AS (SELECT doc_id, source, pos FROM hh WHERE gh IN (SELECT gh FROM dup)),
       |mk2 AS (
       |  SELECT doc_id, source, pos,
       |    CASE WHEN pos > coalesce(max(pos + 40) OVER (
       |        PARTITION BY doc_id ORDER BY pos
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
       |      THEN 1 ELSE 0 END AS brk
       |  FROM hits),
       |isl AS (
       |  SELECT doc_id, source, pos,
       |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM mk2),
       |sp AS (
       |  SELECT doc_id, source, island, MIN(pos) AS st, MAX(pos) + 40 AS en
       |  FROM isl GROUP BY 1, 2, 3)""".stripMargin

  private val baseOracles: Map[String, String] = Map(
    "dedup_cdc_chunks" ->
      """WITH wp AS (
        |  SELECT doc_id, source, i AS pos, ws[i] AS w
        |  FROM (SELECT doc_id, source, string_split(text, ' ') AS ws
        |        FROM documents) d,
        |    unnest(range(1, len(ws) + 1)) AS t(i)
        |  WHERE len(ws[i]) > 0),
        |mk AS (
        |  SELECT doc_id, source, pos, w,
        |    ((length(w) * 31 + unicode(w)) % 8 = 0) AS is_b
        |  FROM wp),
        |ch AS (
        |  SELECT doc_id, source, pos, w,
        |    COALESCE(SUM(CASE WHEN is_b THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0) AS cid
        |  FROM mk),
        |chunks AS (
        |  SELECT doc_id, source, cid,
        |    string_agg(w, ' ' ORDER BY pos) AS chunk
        |  FROM ch GROUP BY 1, 2, 3),
        |g AS (
        |  SELECT source, chunk, COUNT(*) AS cnt
        |  FROM chunks GROUP BY 1, 2)
        |SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_chunks,
        |  COUNT(*) AS n_unique,
        |  ROUND(1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(cnt), 6) AS dup_ratio,
        |  CAST(MAX(cnt) AS BIGINT) AS max_dup
        |FROM g
        |GROUP BY source
        |ORDER BY source""".stripMargin,
    "dedup_prefix_filter" ->
      """WITH shr AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(w)-1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |  FROM (SELECT doc_id, string_split(text,' ') AS w FROM documents
        |        WHERE len(string_split(text,' ')) >= 3)),
        |sh AS (SELECT DISTINCT doc_id, substring(md5(sh), 1, 12) AS h FROM shr),
        |dfreq AS (SELECT h, COUNT(*) AS df FROM sh GROUP BY h),
        |arr AS (
        |  SELECT doc_id, list(s.h ORDER BY df, s.h) AS toks, COUNT(*) AS sz
        |  FROM sh s JOIN dfreq USING (h) GROUP BY doc_id),
        |pre AS (
        |  SELECT doc_id, sz, ia, pfx[ia] AS tok FROM (
        |    SELECT doc_id, sz, pfx, unnest(generate_series(1, len(pfx))) AS ia
        |    FROM (SELECT doc_id, sz, toks[1:(sz - (4*sz+4)//5 + 1)] AS pfx
        |          FROM arr))),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM pre a JOIN pre b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |   AND 5*b.sz >= 4*a.sz AND 5*a.sz >= 4*b.sz
        |   AND 9*(least(a.sz - a.ia, b.sz - b.ia) + 1) >= 4*(a.sz + b.sz)),
        |ver AS (
        |  SELECT doc_a, doc_b, len(list_intersect(x.toks, y.toks)) AS inter,
        |    x.sz AS sza, y.sz AS szb
        |  FROM cand JOIN arr x ON x.doc_id = doc_a JOIN arr y ON y.doc_id = doc_b)
        |SELECT doc_a, doc_b,
        |  ROUND(inter*1.0/(sza+szb-inter), 6) AS jaccard
        |FROM ver WHERE 5*inter >= 4*(sza+szb-inter)
        |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_substring" ->
      """WITH g AS (
        |  SELECT doc_id, source,
        |    unnest(generate_series(1, length(text) - 39)) AS pos, text
        |  FROM documents WHERE length(text) >= 40),
        |gg AS (
        |  SELECT doc_id, source, pos, substring(text, pos, 40) AS gh
        |  FROM g),
        |dup AS (
        |  SELECT gh FROM gg GROUP BY gh HAVING MIN(doc_id) <> MAX(doc_id)),
        |hits AS (
        |  SELECT doc_id, source, pos FROM gg WHERE gh IN (SELECT gh FROM dup)),
        |mk AS (
        |  SELECT doc_id, source, pos,
        |    CASE WHEN pos > coalesce(max(pos + 40) OVER (
        |        PARTITION BY doc_id ORDER BY pos
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |      THEN 1 ELSE 0 END AS brk
        |  FROM hits),
        |isl AS (
        |  SELECT doc_id, source, pos,
        |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM mk),
        |sp AS (
        |  SELECT doc_id, source, island, MIN(pos) AS st, MAX(pos) + 40 AS en
        |  FROM isl GROUP BY 1, 2, 3)
        |SELECT source,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS docs_affected,
        |  CAST(count(*) AS BIGINT) AS dup_spans,
        |  CAST(SUM(en - st) AS BIGINT) AS dup_chars
        |FROM sp GROUP BY source ORDER BY source""".stripMargin,
    "dedup_substring_winnowed" ->
      s"""WITH $winnowedSpanCtes
         |SELECT source,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS docs_affected,
         |  CAST(count(*) AS BIGINT) AS dup_spans,
         |  CAST(SUM(en - st) AS BIGINT) AS dup_chars
         |FROM sp GROUP BY source ORDER BY source""".stripMargin,
    "dedup_substring_cut_winnowed" ->
      s"""WITH $winnowedSpanCtes,
         |gaps AS (
         |  SELECT doc_id,
         |    coalesce(lag(en) OVER (PARTITION BY doc_id ORDER BY st), 1) AS gs,
         |    st AS ge
         |  FROM sp
         |  UNION ALL
         |  SELECT t.doc_id, t.gs, length(d.text) + 1 AS ge
         |  FROM (SELECT doc_id, MAX(en) AS gs FROM sp GROUP BY doc_id) t
         |  JOIN documents d USING (doc_id)),
         |pieces AS (
         |  SELECT p.doc_id, p.gs, substring(d.text, p.gs, p.ge - p.gs) AS seg
         |  FROM gaps p JOIN documents d USING (doc_id)),
         |rebuilt AS (
         |  SELECT doc_id, string_agg(seg, '' ORDER BY gs) AS kept
         |  FROM pieces GROUP BY doc_id)
         |SELECT doc_id, CAST(length(kept) AS BIGINT) AS kept_chars, md5(kept) AS h
         |FROM rebuilt ORDER BY doc_id""".stripMargin,
    "dedup_substring_cut" ->
      """WITH g AS (
        |  SELECT doc_id, unnest(generate_series(1, length(text) - 39)) AS pos, text
        |  FROM documents WHERE length(text) >= 40),
        |gg AS (
        |  SELECT doc_id, pos, substring(text, pos, 40) AS gh FROM g),
        |dup AS (
        |  SELECT gh FROM gg GROUP BY gh HAVING MIN(doc_id) <> MAX(doc_id)),
        |hits AS (
        |  SELECT doc_id, pos FROM gg WHERE gh IN (SELECT gh FROM dup)),
        |mk AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos > coalesce(max(pos + 40) OVER (
        |        PARTITION BY doc_id ORDER BY pos
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |      THEN 1 ELSE 0 END AS brk
        |  FROM hits),
        |isl AS (
        |  SELECT doc_id, pos,
        |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM mk),
        |sp AS (
        |  SELECT doc_id, island, MIN(pos) AS st, MAX(pos) + 40 AS en
        |  FROM isl GROUP BY 1, 2),
        |gaps AS (
        |  SELECT doc_id,
        |    coalesce(lag(en) OVER (PARTITION BY doc_id ORDER BY st), 1) AS gs,
        |    st AS ge
        |  FROM sp
        |  UNION ALL
        |  SELECT t.doc_id, t.gs, length(d.text) + 1 AS ge
        |  FROM (SELECT doc_id, MAX(en) AS gs FROM sp GROUP BY doc_id) t
        |  JOIN documents d USING (doc_id)),
        |pieces AS (
        |  SELECT p.doc_id, p.gs, substring(d.text, p.gs, p.ge - p.gs) AS seg
        |  FROM gaps p JOIN documents d USING (doc_id)),
        |rebuilt AS (
        |  SELECT doc_id, string_agg(seg, '' ORDER BY gs) AS kept
        |  FROM pieces GROUP BY doc_id)
        |SELECT doc_id, CAST(length(kept) AS BIGINT) AS kept_chars, md5(kept) AS h
        |FROM rebuilt ORDER BY doc_id""".stripMargin,
    "dedup_source_matrix" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, 'mirror' FROM documents
        |  WHERE doc_id % 7 = 0),
        |h AS (
        |  SELECT md5(text) AS h, doc_id, source FROM all_docs),
        |p AS (
        |  SELECT LEAST(a.source, b.source) AS source_1,
        |    GREATEST(a.source, b.source) AS source_2, a.doc_id AS ida
        |  FROM h a JOIN h b ON a.h = b.h AND a.doc_id < b.doc_id)
        |SELECT source_1, source_2, COUNT(*) AS n_dup_pairs,
        |  CAST(COUNT(DISTINCT ida) AS BIGINT) AS n_left_docs
        |FROM p GROUP BY 1, 2
        |ORDER BY source_1, source_2""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(text) AS h, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents
        |GROUP BY md5(text)
        |ORDER BY h""".stripMargin,
    "dedup_minhash_lsh" -> minhashOracle,
    // stored twin replays the same oracle: the store hop must be
    // invisible to the candidate pairs
    "dedup_minhash_lsh_stored" -> minhashOracle,
    // the delta gate = all LSH pairs with at least one new (odd) doc
    "dedup_minhash_delta_stored" ->
      s"""WITH $minhashPairsCtes
         |SELECT doc_a, doc_b FROM pairs
         |WHERE doc_a % 2 = 1 OR doc_b % 2 = 1
         |ORDER BY doc_a, doc_b""".stripMargin,
    // the takedown gate = pairs among SURVIVING docs only, each seen by
    // both the tombstone-masked live view and the post-compaction scan
    "dedup_minhash_tombstone_stored" ->
      s"""WITH $minhashPairsCtes
         |SELECT doc_a, doc_b, CAST(2 AS BIGINT) AS n_views FROM pairs
         |WHERE doc_a >= 40 AND doc_b >= 40
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_minhash_index_stored" -> {
      val hs = (1 to K).map(i =>
        s"min(substr(md5(sh), ${(i - 1) * 4 + 1}, 4)) AS h$i").mkString(", ")
      s"""WITH shingles AS ($shinglesSql)
         |SELECT doc_id, $hs FROM shingles GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin
    },
    "dedup_clusters" -> clustersOracle,
    "dedup_clusters_rec" -> clustersOracle,
    "dedup_minhash_est" -> {
      val agree = (1 to K).map(i =>
        s"CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH $minhashPairsCtes,
         |sh_sets AS (
         |  SELECT doc_id, list_distinct(list(sh)) AS s FROM shingles GROUP BY doc_id),
         |est AS (
         |  SELECT p.doc_a, p.doc_b,
         |    ROUND(($agree) / ${K}.0, 6) AS est_jaccard
         |  FROM pairs p
         |  JOIN sig a ON a.doc_id = p.doc_a
         |  JOIN sig b ON b.doc_id = p.doc_b),
         |tru AS (
         |  SELECT p.doc_a, p.doc_b,
         |    ROUND(len(list_intersect(sa.s, sb.s)) * 1.0 /
         |      len(list_distinct(sa.s || sb.s)), 6) AS true_jaccard
         |  FROM pairs p
         |  JOIN sh_sets sa ON sa.doc_id = p.doc_a
         |  JOIN sh_sets sb ON sb.doc_id = p.doc_b)
         |SELECT e.doc_a, e.doc_b, e.est_jaccard, t.true_jaccard,
         |  ROUND(ABS(e.est_jaccard - t.true_jaccard), 6) AS abs_err
         |FROM est e JOIN tru t ON t.doc_a = e.doc_a AND t.doc_b = e.doc_b
         |ORDER BY e.doc_a, e.doc_b""".stripMargin
    },
    "dedup_incremental" ->
      s"""WITH $minhashPairsCtes,
         |batch AS (
         |  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 5 = 0),
         |existing AS (
         |  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 5 <> 0),
         |exact_ids AS (
         |  SELECT DISTINCT b.doc_id FROM batch b
         |  JOIN existing e ON e.h = b.h),
         |near_ids AS (
         |  SELECT DISTINCT bb.doc_id FROM bands bb
         |  JOIN bands eb ON bb.band = eb.band AND bb.bh = eb.bh
         |  WHERE bb.doc_id % 5 = 0 AND eb.doc_id % 5 <> 0)
         |SELECT b.doc_id,
         |  CASE WHEN b.doc_id IN (SELECT doc_id FROM exact_ids) THEN 'exact_dup'
         |       WHEN b.doc_id IN (SELECT doc_id FROM near_ids) THEN 'near_dup'
         |       ELSE 'new' END AS status
         |FROM batch b
         |ORDER BY doc_id""".stripMargin,
    "dedup_keep_best" ->
      s"""WITH RECURSIVE $clusterCtes,
         |quality AS (${TextOps.classifierScoreSql})
         |SELECT CAST(a.doc_id AS BIGINT) AS doc_id,
         |       CAST(a.cluster_id AS BIGINT) AS cluster_id,
         |       q.quality_score,
         |       CASE WHEN ROW_NUMBER() OVER (PARTITION BY a.cluster_id
         |         ORDER BY q.quality_score DESC, a.doc_id) = 1
         |         THEN 1 ELSE 0 END AS keep
         |FROM assigned a JOIN quality q ON q.doc_id = a.doc_id
         |ORDER BY doc_id""".stripMargin,
    "dedup_cluster_sizes" ->
      s"""SELECT cluster_size,
         |  COUNT(DISTINCT cluster_id) AS n_clusters,
         |  COUNT(*) AS n_docs
         |FROM ($clustersOracle) labeled
         |GROUP BY cluster_size
         |ORDER BY cluster_size""".stripMargin,
    "dedup_levenshtein" ->
      s"""WITH pref AS (
         |  SELECT doc_id, lang,
         |         array_to_string(string_split(text, ' ')[1:2], ' ') AS bucket,
         |         substr(text, 1, 40) AS pfx
         |  FROM documents),
         |grouped AS (
         |  SELECT lang, bucket,
         |         list_sort(list(DISTINCT {'doc_id': doc_id, 'pfx': pfx})) AS docs
         |  FROM pref
         |  GROUP BY lang, bucket
         |  HAVING len(list(DISTINCT {'doc_id': doc_id, 'pfx': pfx}))
         |         BETWEEN 2 AND $MaxShingleDf),
         |t1 AS (
         |  SELECT docs, unnest(range(1, len(docs))) AS i FROM grouped),
         |pairs AS (
         |  SELECT docs[i].doc_id AS doc_a, docs[i].pfx AS pa,
         |         unnest(docs[i+1:], recursive := false) AS other
         |  FROM t1)
         |SELECT doc_a, other.doc_id AS doc_b,
         |       CAST(levenshtein(pa, other.pfx) AS BIGINT) AS edit_dist
         |FROM pairs
         |WHERE levenshtein(pa, other.pfx) <= 10
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_simhash" -> simhashOracle,
    "dedup_simhash_pairs" -> {
      val hexVal: Int => String = p =>
        s"(CASE WHEN ascii(substr(hex,$p,1)) >= 97 THEN ascii(substr(hex,$p,1)) - 87 ELSE ascii(substr(hex,$p,1)) - 48 END)"
      val sums = (0 until 60).map(p =>
        s"SUM(CASE WHEN (${hexVal(p / 4 + 1)} >> ${p % 4}) & 1 = 1 THEN 1 ELSE -1 END) AS s$p")
        .mkString(",\n    ")
      val bits = (0 until 60).map(p =>
        s"CASE WHEN s$p > 0 THEN ${1L << p} ELSE 0 END").mkString(" + ")
      val bandVals = (0 until 4).map(b =>
        s"(h >> ${b * 15}) & ${(1L << 15) - 1}").mkString(", ")
      s"""WITH sums AS (
         |  SELECT doc_id, $sums
         |  FROM (SELECT doc_id, md5(unnest(string_split(text,' '))) AS hex
         |        FROM documents) w
         |  GROUP BY doc_id),
         |sims AS (SELECT doc_id, CAST($bits AS BIGINT) AS h FROM sums),
         |bands AS (
         |  SELECT doc_id, h, unnest([$bandVals]) AS bv,
         |    unnest(range(0, 4)) AS band
         |  FROM sims),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    a.h AS ha, b.h AS hb
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
         |FROM cand
         |WHERE bit_count(xor(ha, hb)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin
    },
    "dedup_ngram_jaccard" ->
      s"""WITH grouped AS (
         |  SELECT lang, CAST(n_chars // 100 AS BIGINT) AS bucket, sh,
         |         list_sort(list(DISTINCT doc_id)) AS docs
         |  FROM ($shinglesSql)
         |  GROUP BY lang, bucket, sh
         |  HAVING len(list(DISTINCT doc_id)) <= $MaxShingleDf),
         |t1 AS (
         |  SELECT docs, unnest(range(1, len(docs))) AS i
         |  FROM grouped WHERE len(docs) >= 2),
         |inter AS (
         |  SELECT doc_a, doc_b, COUNT(*) AS inter FROM (
         |    SELECT docs[i] AS doc_a, unnest(docs[i+1:]) AS doc_b FROM t1) t
         |  GROUP BY doc_a, doc_b),
         |sizes AS (
         |  SELECT doc_id, COUNT(*) AS sz
         |  FROM (SELECT unnest(docs) AS doc_id FROM grouped) u
         |  GROUP BY doc_id)
         |SELECT doc_a, doc_b,
         |  ROUND(inter * 1.0 / (sa.sz + sb.sz - inter), 6) AS jaccard
         |FROM inter
         |JOIN sizes sa ON sa.doc_id = doc_a
         |JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE ROUND(inter * 1.0 / (sa.sz + sb.sz - inter), 6) >= 0.1
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_containment" ->
      s"""WITH grouped AS (
         |  SELECT lang, sh, list_sort(list(DISTINCT doc_id)) AS docs
         |  FROM ($shinglesSql)
         |  GROUP BY lang, sh
         |  HAVING len(list(DISTINCT doc_id)) <= $MaxShingleDf),
         |t1 AS (
         |  SELECT docs, unnest(range(1, len(docs))) AS i
         |  FROM grouped WHERE len(docs) >= 2),
         |inter AS (
         |  SELECT doc_a, doc_b, COUNT(*) AS inter FROM (
         |    SELECT docs[i] AS doc_a, unnest(docs[i+1:]) AS doc_b FROM t1) t
         |  GROUP BY doc_a, doc_b),
         |sizes AS (
         |  SELECT doc_id, COUNT(*) AS sz
         |  FROM (SELECT unnest(docs) AS doc_id FROM grouped) u
         |  GROUP BY doc_id)
         |SELECT doc_a, doc_b,
         |  ROUND(inter * 1.0 / least(sa.sz, sb.sz), 6) AS containment
         |FROM inter
         |JOIN sizes sa ON sa.doc_id = doc_a
         |JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE ROUND(inter * 1.0 / least(sa.sz, sb.sz), 6) >= 0.2
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_crosscheck" ->
      s"""WITH $minhashPairsCtes,
         |e AS (
         |  SELECT vec_id, v, sqrt(${VectorOps.dotSql("v", "v")}) AS norm
         |  FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |        FROM embeddings))
         |SELECT doc_a, doc_b,
         |  ROUND(${VectorOps.dotSql("a.v", "b.v")} / (a.norm * b.norm), 6) AS cos_sim,
         |  CASE WHEN a.vec_id IS NULL OR b.vec_id IS NULL THEN NULL
         |       ELSE ROUND(${VectorOps.dotSql("a.v", "b.v")} / (a.norm * b.norm), 6) >= 0.9
         |  END AS semantic_agree
         |FROM pairs
         |LEFT JOIN e a ON a.vec_id = doc_a
         |LEFT JOIN e b ON b.vec_id = doc_b
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_embedding_cos" ->
      s"""WITH cfg AS (
         |  SELECT ${VectorOps.adaptiveSignBitsSql("COUNT(*)")} AS bits
         |  FROM embeddings),
         |e AS (
         |  SELECT vec_id,
         |         substr(${VectorOps.signBucketSql("v", 16)}, 1,
         |                (SELECT bits FROM cfg)) AS bucket, v,
         |         sqrt(${VectorOps.dotSql("v", "v")}) AS norm
         |  FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |        FROM embeddings))
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  ROUND(${VectorOps.dotSql("a.v", "b.v")} / (a.norm * b.norm), 6) AS cos_sim
         |FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE ROUND(${VectorOps.dotSql("a.v", "b.v")} / (a.norm * b.norm), 6) >= 0.25
         |ORDER BY vec_a, vec_b""".stripMargin,
    "dedup_winnowing" ->
      s"""WITH grams AS (
         |  SELECT doc_id, i AS pos,
         |         substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 8) AS h
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
         |        WHERE len(string_split(text, ' ')) >= 3) d,
         |       unnest(range(1, len(w)-1)) AS t(i)),
         |winmin AS (
         |  SELECT doc_id, pos,
         |         MIN(h || lpad(CAST($PosBase - pos AS VARCHAR), 10, '0'))
         |           OVER (PARTITION BY doc_id ORDER BY pos
         |                 ROWS BETWEEN ${WinnowW - 1} PRECEDING AND CURRENT ROW) AS mk
         |  FROM grams),
         |fps AS (
         |  SELECT DISTINCT doc_id, substr(mk, 1, 8) AS h
         |  FROM winmin WHERE pos >= $WinnowW),
         |grouped AS (
         |  SELECT h, list_sort(list(DISTINCT doc_id)) AS docs
         |  FROM fps GROUP BY h
         |  HAVING len(list(DISTINCT doc_id)) BETWEEN 2 AND $MaxShingleDf),
         |t1 AS (SELECT docs, unnest(range(1, len(docs))) AS i FROM grouped),
         |pairs AS (SELECT docs[i] AS doc_a, unnest(docs[i+1:]) AS doc_b FROM t1)
         |SELECT doc_a, doc_b, COUNT(*) AS n_shared
         |FROM pairs
         |GROUP BY doc_a, doc_b
         |HAVING COUNT(*) >= $WinnowMinShared
         |ORDER BY doc_a, doc_b""".stripMargin,
    // the spans oracle replays fingerprints WITH their decoded positions,
    // then the same offset-aligned gaps-and-islands (classic SQL form:
    // LAG + running-sum run ids) the Spark side computes
    "dedup_winnowing_spans" ->
      s"""WITH grams AS (
         |  SELECT doc_id, i AS pos,
         |         substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 8) AS h
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
         |        WHERE len(string_split(text, ' ')) >= 3) d,
         |       unnest(range(1, len(w)-1)) AS t(i)),
         |winmin AS (
         |  SELECT doc_id, pos,
         |         MIN(h || lpad(CAST($PosBase - pos AS VARCHAR), 10, '0'))
         |           OVER (PARTITION BY doc_id ORDER BY pos
         |                 ROWS BETWEEN ${WinnowW - 1} PRECEDING AND CURRENT ROW) AS mk
         |  FROM grams),
         |fps AS (
         |  SELECT DISTINCT doc_id,
         |         $PosBase - CAST(substr(mk, 9, 10) AS BIGINT) AS spos,
         |         substr(mk, 1, 8) AS h
         |  FROM winmin WHERE pos >= $WinnowW),
         |df AS (
         |  SELECT h FROM fps GROUP BY h
         |  HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND $MaxShingleDf),
         |m AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         a.spos AS pos_a, b.spos AS pos_b
         |  FROM fps a JOIN fps b ON a.h = b.h AND a.doc_id < b.doc_id
         |  JOIN df ON a.h = df.h),
         |w1 AS (
         |  SELECT doc_a, doc_b, pos_a, pos_b, pos_a - pos_b AS off,
         |         LAG(pos_a) OVER (PARTITION BY doc_a, doc_b, pos_a - pos_b
         |                          ORDER BY pos_a) AS prev
         |  FROM m),
         |w2 AS (
         |  SELECT *, SUM(CASE WHEN prev IS NULL OR pos_a - prev > $WinnowW
         |                     THEN 1 ELSE 0 END)
         |            OVER (PARTITION BY doc_a, doc_b, off ORDER BY pos_a) AS run_id
         |  FROM w1)
         |SELECT doc_a, doc_b, MIN(pos_a) AS start_a, MIN(pos_b) AS start_b,
         |       MAX(pos_a) - MIN(pos_a) + 3 AS len, COUNT(*) AS n_fp
         |FROM w2
         |GROUP BY doc_a, doc_b, off, run_id
         |HAVING COUNT(*) >= $WinnowMinShared
         |ORDER BY doc_a, doc_b, start_a, start_b""".stripMargin,
    "dedup_semantic" ->
      s"""WITH n AS (
         |  SELECT vec_id, v, sqrt(${VectorOps.dotSql("v", "v")}) AS nrm
         |  FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |        FROM embeddings)),
         |c AS (SELECT vec_id AS cell, v AS cv, nrm AS cnrm FROM n WHERE vec_id < $SemK),
         |sims AS (
         |  SELECT n.vec_id, n.v, n.nrm, c.cell,
         |    ROUND(${VectorOps.dotSql("n.v", "c.cv")} / (n.nrm * c.cnrm), 6) AS sim
         |  FROM n CROSS JOIN c),
         |a AS (
         |  SELECT vec_id, v, nrm, cell FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn
         |    FROM sims) t
         |  WHERE rn = 1),
         |d AS (
         |  SELECT DISTINCT x.vec_id
         |  FROM a x JOIN a y ON x.cell = y.cell AND y.vec_id < x.vec_id
         |  WHERE ROUND(${VectorOps.dotSql("x.v", "y.v")} / (x.nrm * y.nrm), 6) >= $SemTau)
         |SELECT a.vec_id, a.cell, CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END AS is_dup
         |FROM a LEFT JOIN d ON a.vec_id = d.vec_id
         |ORDER BY a.vec_id""".stripMargin,
    "dedup_er_catalog" ->
      s"""WITH pr AS (
        |  SELECT p_partkey, p_name, p_type, p_size, p_retailprice FROM part),
        |capped AS (
        |  SELECT * FROM (
        |    SELECT pr.*, ROW_NUMBER() OVER (
        |      PARTITION BY p_name, p_type ORDER BY p_partkey) AS rk
        |    FROM pr) t WHERE rk <= $ErBlockCap),
        |pairs AS (
        |  SELECT a.p_name, a.p_type
        |  FROM capped a JOIN capped b
        |    ON a.p_name = b.p_name AND a.p_type = b.p_type
        |   AND a.p_partkey < b.p_partkey
        |  WHERE ABS(a.p_size - b.p_size) <= 1
        |    AND ABS(a.p_retailprice - b.p_retailprice)
        |        <= 0.005 * a.p_retailprice),
        |blocks AS (
        |  SELECT p_name, p_type, COUNT(*) AS n_records
        |  FROM pr GROUP BY 1, 2)
        |SELECT p.p_name AS name, p.p_type AS type,
        |  b.n_records, COUNT(*) AS n_pairs
        |FROM pairs p JOIN blocks b
        |  ON p.p_name = b.p_name AND p.p_type = b.p_type
        |GROUP BY 1, 2, 3
        |ORDER BY name, type""".stripMargin)

  /** The method-Venn oracle composes the three PAIR oracles verbatim as
    * subqueries — zero new method logic on either engine, so the venn
    * can only disagree if the per-method definitions themselves drift. */
  val oracles: Map[String, String] = baseOracles +
    ("dedup_method_venn" ->
      s"""WITH mh AS (SELECT doc_a, doc_b FROM
         |  (${baseOracles("dedup_minhash_lsh")})),
         |sh AS (SELECT doc_a, doc_b FROM
         |  (${baseOracles("dedup_simhash_pairs")})),
         |wn AS (SELECT doc_a, doc_b FROM
         |  (${baseOracles("dedup_winnowing")})),
         |u AS (
         |  SELECT doc_a, doc_b, 1 AS m FROM mh
         |  UNION ALL SELECT doc_a, doc_b, 2 FROM sh
         |  UNION ALL SELECT doc_a, doc_b, 4 FROM wn),
         |masks AS (
         |  SELECT doc_a, doc_b, CAST(SUM(m) AS BIGINT) AS mask
         |  FROM u GROUP BY doc_a, doc_b)
         |SELECT mask, COUNT(*) AS n_pairs
         |FROM masks GROUP BY mask
         |ORDER BY mask""".stripMargin)
}

/** Array-as-vector helpers shared by dedup + similarity search. Pure
  * builtin higher-order functions (codegen'd, no UDF) with exact DuckDB
  * SQL counterparts generated alongside so both engines fold identically. */
object VectorOps {
  /** Left-fold dot product over array<double> columns (deterministic
    * element order on both engines). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a)+1), i -> $a[i] * $b[i]))"

  /** First-k-dims sign pattern — an axis-aligned hyperplane LSH bucket. */
  def signBucket(v: Column, k: Int): Column =
    concat((1 to k).map(i =>
      when(element_at(v, i) > 0, lit("1")).otherwise(lit("0"))): _*)

  def signBucketSql(v: String, k: Int): String =
    (1 to k).map(i => s"(CASE WHEN $v[$i] > 0 THEN '1' ELSE '0' END)")
      .mkString("(", " || ", ")")

  /** Corpus-adaptive sign-LSH width: the smallest bit count that keeps
    * the EXPECTED bucket at ≤ `target` vectors, clamped to [lo, hi] —
    * bits = ⌈log₂⌈n/target⌉⌉. A FIXED bit count makes every
    * bucketed self-join quadratic (pairs = n²/2^(bits+1)); adaptive
    * bits keep per-bucket pairs bounded so total candidates are O(n ·
    * target). Pure INTEGER arithmetic (ceil-div + bit length) because
    * the two engines' float log₂ disagree exactly at powers of two
    * (Scala log(x)/log(2) can land 1 ulp above an integer where DuckDB
    * LOG2 is exact, flipping CEIL); the oracle mirrors this formula
    * with `length(bin(m-1))`. */
  def adaptiveSignBits(n: Long, target: Long = 64, lo: Int = 4, hi: Int = 16): Int = {
    val m = (n + target - 1) / target
    val raw = if (m <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(m - 1)
    math.min(hi, math.max(lo, raw))
  }

  /** The oracle-side twin of [[adaptiveSignBits]] (DuckDB SQL over
    * `cnt`, a COUNT(*) column reference). */
  def adaptiveSignBitsSql(cnt: String, target: Long = 64, lo: Int = 4, hi: Int = 16): String =
    s"LEAST($hi, GREATEST($lo, CASE WHEN (($cnt + ${target - 1}) // $target) <= 1 " +
      s"THEN 0 ELSE length(bin((($cnt + ${target - 1}) // $target) - 1)) END))"
}
