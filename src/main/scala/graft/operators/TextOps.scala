package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table: token counting,
  * quality scoring, language-ID heuristic, document fingerprinting.
  *
  * These are the LLM-training-pipeline extensions (BASELINE.json) the
  * reference lacks. Everything is built from codegen'd builtin functions —
  * no UDFs — so the whole pipeline stays inside WholeStageCodegen and
  * scales linearly with document count: per-doc work only, no shuffles
  * except the final small aggregations.
  *
  * Every formula is deliberately expressible in ANSI-ish SQL so the DuckDB
  * oracle can replay it exactly (`replace`-count idiom for occurrence
  * counting; `least/greatest` for clamps).
  */
object TextOps {
  import Tables._

  /** Occurrences of word `w` in text via the replace-length idiom —
    * identical semantics in Spark and DuckDB (non-overlapping left scan). */
  private def occurrences(text: Column, w: String): Column = {
    val padded = concat(lit(" "), text, lit(" "))
    val needle = s" $w "
    // each removal also eats the trailing space; re-scan stays aligned
    // because both engines scan left-to-right non-overlapping
    (length(padded) - length(regexp_replace(padded, needle, " "))) /
      lit(needle.length - 1)
  }
  private def occursSql(w: String): String =
    s"(length(' '||text||' ') - length(regexp_replace(' '||text||' ', ' $w ', ' ', 'g'))) / ${w.length + 1}"

  /** Tokens = single-space-separated words (the synthetic corpus shape). */
  private def tokens(text: Column): Column = size(split(text, " "))

  /** The document quality score (unrounded): length + word-length +
    * stopword components, weighted 0.4/0.4/0.2. Single definition shared
    * by the batch `text_quality` query and the streaming
    * [[graft.streaming.DocStream.qualityFilter]], so batch and stream
    * can never disagree on which documents survive a gate. */
  def qualityScore(text: Column): Column = {
    val t = tokens(text)
    val lenScore = least(t.cast("double") / 100.0, lit(1.0))
    val avgWordLen = (length(text) - t + 1).cast("double") / t
    val wordLenScore = greatest(lit(0.0), lit(1.0) - abs(avgWordLen - 5.0) / 5.0)
    val stopScore = least(occurrences(text, "the").cast("double") /
      greatest(t.cast("double"), lit(1.0)) * 10.0, lit(1.0))
    lenScore * 0.4 + wordLenScore * 0.4 + stopScore * 0.2
  }

  /** DuckDB SQL text of [[qualityScore]] — one definition, mirrored
    * verbatim wherever a gate must mean the same thing in both engines
    * (the `text_quality` oracle and the `pipeline_curate` capstone). */
  private[operators] def qualityScoreSql: String = {
    val t = "len(string_split(text, ' '))"
    val lenScore = s"least($t / 100.0, 1.0)"
    val awl = s"(length(text) - $t + 1) * 1.0 / $t"
    val wls = s"greatest(0.0, 1.0 - abs($awl - 5.0) / 5.0)"
    val stop = s"least((${occursSql("the")}) * 1.0 / greatest($t * 1.0, 1.0) * 10.0, 1.0)"
    s"($lenScore * 0.4 + $wls * 0.4 + $stop * 0.2)"
  }

  // language marker words (the corpus vocab is shared across langs, so
  // these exist to exercise the operator shape deterministically, not to
  // be linguistically meaningful)
  private val markers = Map(
    "de" -> Seq("scan", "filter", "vector"),
    "en" -> Seq("the", "spark", "table"),
    "es" -> Seq("group", "query", "stream"),
    "fr" -> Seq("key", "customer", "agg"),
    "zh" -> Seq("window", "order", "small"))

  private def langScore(text: Column, lang: String): Column =
    markers(lang).map(w => occurrences(text, w)).reduce(_ + _)
  private def langScoreSql(lang: String): String =
    markers(lang).map(occursSql).mkString(" + ")

  /** text_pii_redact regex classes — deliberately backtracking-free
    * (single char classes, fixed alternation-free shape) so Java regex
    * and DuckDB's RE2 agree match-for-match. */
  private val PhonePat = "[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"
  private val EmailPat = "[a-z0-9]+@[a-z]+[.][a-z]+"
  private val IpPat = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"

  /** (pattern, mask) per PII class, in application order — ONE shared
    * definition for the batch audit (`text_pii_redact`), the streaming
    * scrub ([[graft.streaming.DocStream.piiScrub]]), and the oracle, so
    * "redacted" means the same thing everywhere. */
  private[graft] val PiiPatterns: Seq[(String, String)] =
    Seq(PhonePat -> "[PHONE]", EmailPat -> "[EMAIL]", IpPat -> "[IP]")

  /** Mask every PII class in `text` (stateless, codegen'd, streaming-legal). */
  def piiRedact(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (p, m)) =>
      regexp_replace(c, lit(p), lit(m))
    }

  /** Normalization pass shared by the batch `text_normalize` gate and
    * the streaming [[graft.streaming.DocStream.normalizeDocs]]: lower →
    * strip non-printable → collapse whitespace → trim. ONE definition,
    * so "normalized" means the same bytes in both engines — the
    * operation ORDER is load-bearing and md5-pinned by the oracle. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^ -~]", ""), " +", " "))

  /** Word bigrams of `docs` as (doc_id, w1, w2), in no order. The text
    * splits ONCE into a projected column (an inline `split` re-evaluates
    * for every element_at inside a lambda: measured 2.3 s → 0.5 s for
    * the gram scan alone at sf0.1), then the POSITION explodes and the
    * pair projects in codegen. The under-split single-file scan spreads
    * first (no-op on properly split inputs — Tables.spread). */
  private def bigrams(docs: DataFrame): DataFrame =
    Tables.spread(docs, col("doc_id"))
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(1), size(col("w")) - 1)).as("i"))
      .select(col("doc_id"), element_at(col("w"), col("i")).as("w1"),
        element_at(col("w"), col("i") + 1).as("w2"))

  /** BPE merge candidates of a (word, wc) vocabulary: every adjacent
    * character pair of each word of ≥ 2 chars, weighted by its count,
    * as (pair, n). Vocabulary-sized, never corpus-sized. */
  private def mergePairs(vocab: DataFrame): DataFrame =
    vocab.filter(length(col("word")) >= 2)
      .select(col("wc"), explode(transform(
        sequence(lit(1), length(col("word")) - 1),
        i => concat(col("word").substr(i, lit(1)),
          col("word").substr(i + 1, lit(1))))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("wc")).as("n"))

  /** The 20 most frequent merge candidates of (pair, n), ranked `rk`
    * by count desc then pair (TakeOrderedAndProject, no global sort).
    * Callers add their own ordering. */
  private def topMerges(pairs: DataFrame): DataFrame =
    pairs.orderBy(col("n").desc, col("pair")).limit(20)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("n").desc, col("pair"))).cast("long"))
      .select(col("rk"), col("pair"), col("n"))

  /** Per-language relative quality gate over `docs`: the threshold is
    * `percentile`, an aggregate over the [[qualityScore]] column `score`
    * within one language, broadcast back onto the scored rows. One row
    * per `lang` with `n_docs`, `n_kept` (score ≥ threshold),
    * `threshold` and `avg_kept`; callers add their own ordering. */
  private def qualityGate(docs: DataFrame, percentile: Column): DataFrame = {
    val scored = docs.select(col("lang"), qualityScore(col("text")).as("score"))
    val thr = scored.groupBy(col("lang").as("tl")).agg(percentile.as("thr"))
    val kept = col("score") >= col("thr")
    scored.join(broadcast(thr), col("lang") === col("tl"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(kept, 1L).otherwise(0L)).as("n_kept"),
        round(min(col("thr")), 6).as("threshold"),
        DetMean.mean6(sum(when(kept, DetMean.el10(col("score")))),
          sum(when(kept, 1L).otherwise(0L))).as("avg_kept"))
  }

  /** Heaps'-law vocabulary curve of `docs`: the token stream in
    * (doc_id, pos) order, each word's first-occurrence global index, and
    * the vocabulary seen by each of 10 halving checkpoints
    * `n_tokens` = total div 2^(10−j). One row per checkpoint with `j`,
    * `n_tokens`, the `keep` columns (drawn from `j`, `n_tokens`,
    * `total`), `vocab`, and the 6dp logs of `n_tokens` and `vocab`
    * scaled to exact BIGINTs `x6`, `y6`.
    *
    * Scale shape: one corpus-sized explode → per-doc counts (doc-
    * bounded) → a doc-count-sized prefix-sum window (NOT a corpus
    * window: the global index is doc_offset + intra-doc rank, so the
    * only corpus-sized shuffles are the explode's group-bys) → the
    * first-occurrence table is vocabulary-bounded, and the checkpoint
    * join is |vocab| × 10 against a broadcast 10-row table. */
  private def heapsCurve(docs: DataFrame, keep: Column*): DataFrame = {
    val J = 10
    val w = org.apache.spark.sql.expressions.Window
    val toks = docs
      .select(col("doc_id"), posexplode(split(col("text"), " "))
        .as(Seq("pos", "word")))
      .filter(length(col("word")) > 0)
    val perDoc = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("ntok"))
    val offs = perDoc.withColumn("off",
      coalesce(sum(col("ntok")).over(
        w.orderBy(col("doc_id")).rowsBetween(w.unboundedPreceding, -1)),
        lit(0L)))
      // doc-bounded; 2 consumers (gidx join + checkpoint grid) each
      // re-derived the corpus explode behind it (6 scans → 2)
      .localCheckpoint(eager = false)
    val gidx = toks.join(broadcast(offs.select(col("doc_id"), col("off"))),
        Seq("doc_id"))
      .withColumn("ridx", row_number().over(
        w.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .select(col("word"), (col("off") + col("ridx")).as("gidx"))
    val first = gidx.groupBy(col("word")).agg(min(col("gidx")).as("fidx"))
    val cps = offs.agg(sum(col("ntok")).as("total"))
      .select(col("total"), explode(sequence(lit(1), lit(J))).as("j"))
      .withColumn("n_tokens",
        expr(s"total div shiftleft(CAST(1 AS BIGINT), $J - j)"))
    val curve = first.crossJoin(broadcast(cps))
      .filter(col("fidx") <= col("n_tokens"))
      .groupBy(col("j") +: col("n_tokens") +: keep: _*)
      .agg(count(lit(1)).as("vocab"))
    // OLS coordinates in EXACT integer arithmetic (the r12 driver hash
    // failure was round(x*y, 6) of double-domain products — a 7th-digit
    // tie of exactly 5 rounds differently under Spark's BigDecimal
    // HALF_UP vs DuckDB's libm round): the 6dp log values become scaled
    // BIGINTs (x·10⁶ via an exact decimal hop, never a double truncate —
    // Spark's double→long cast truncates while DuckDB's rounds), so
    // every moment a caller sums is a BIGINT sum of BIGINT products.
    def i6(c: Column) =
      (round(c, 6).cast("decimal(18,6)") * lit(1000000)).cast("long")
    curve.select(Seq(col("j"), col("n_tokens")) ++ keep ++ Seq(col("vocab"),
      i6(log(col("n_tokens"))).as("x6"),
      i6(log(col("vocab"))).as("y6")): _*)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Unicode/whitespace normalization — the cleaning pass upstream of
    // every tokenizer: lowercase, strip non-printable characters,
    // collapse whitespace runs, trim. The synthetic corpus is already
    // clean, so (the text_pii_redact discipline) the query PLANTS
    // deterministic dirt — leading/trailing pad, an uppercased copy,
    // control characters — mirrored exactly in the oracle, and the
    // md5-of-normalized-output hash gate then pins every regex and the
    // operation ORDER (lower → strip → collapse → trim; reordering
    // changes the bytes). Pure codegen'd projection: zero shuffle at
    // any scale, like the PII scrub it sits next to in a curation DAG.
    "text_normalize" -> { (s, dir) =>
      val dirty = concat(lit("  "), upper(col("text")),
        lit(" \u0007\t "), col("text"), lit("  "))
      val norm = normalizeText(dirty)
      documents(s, dir)
        .select(col("doc_id"),
          length(dirty).cast("long").as("len_dirty"),
          length(norm).cast("long").as("len_norm"),
          md5(norm).as("norm_md5"))
        .orderBy(col("doc_id"))
    },
    // PII detection + redaction — the scrub every training corpus passes
    // through before the tokenizer sees it. The synthetic corpus carries
    // no PII, so the query PLANTS deterministic phone/email/IP strings
    // (derived from doc_id, mirrored exactly in the oracle) and then
    // detects and masks them with the three regex classes; the report is
    // the per-language audit a pipeline owner signs off on (how many of
    // each class, how many documents were already clean, how many
    // characters the masks removed). Pure codegen'd projection + one
    // tiny aggregation — at 100 TB the scrub streams per-row with zero
    // shuffle, which is exactly why PII removal is never the bottleneck
    // stage of a curation DAG.
    "text_pii_redact" -> { (s, dir) =>
      val id = col("doc_id")
      def str(c: Column) = c.cast("string")
      val phone = concat_ws("-",
        lpad(str(id * 7 % 100), 2, "0"), lpad(str(id * 13 % 1000), 3, "0"),
        lpad(str(id * 31 % 1000), 3, "0"), lpad(str(id * 97 % 10000), 4, "0"))
      val email = concat(lit("user"), str(id), lit("@mail.example"))
      val ip = concat(lit("10."), str(id % 256), lit("."),
        str(id * 3 % 256), lit("."), str(id * 7 % 256))
      val txt = concat(col("text"),
        when(id % 3 === 0, concat(lit(" call "), phone)).otherwise(lit("")),
        when(id % 4 === 0, concat(lit(" mail "), email)).otherwise(lit("")),
        when(id % 5 === 0, concat(lit(" host "), ip)).otherwise(lit("")))
      val red = piiRedact(txt)
      def hits(p: String) = size(regexp_extract_all(txt, lit(p), lit(0)))
      documents(s, dir)
        .select(col("lang"), hits(PhonePat).as("np"), hits(EmailPat).as("ne"),
          hits(IpPat).as("ni"), (length(txt) - length(red)).as("delta"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("np")).cast("long").as("n_phones"),
          sum(col("ne")).cast("long").as("n_emails"),
          sum(col("ni")).cast("long").as("n_ips"),
          sum(when(col("np") + col("ne") + col("ni") === 0, 1L).otherwise(0L))
            .cast("long").as("n_clean"),
          sum(col("delta")).cast("long").as("chars_redacted"))
        .orderBy(col("lang"))
    },
    // character-level Shannon entropy, lowest-40 report — the gibberish/
    // degeneracy detector orthogonal to the word-level quality signals:
    // base64 blobs, repeated-character runs, and single-token spam all
    // collapse char entropy while sailing past stopword or length
    // ratios. Shape: one char explode → (doc, char) partial-aggregated
    // counts → doc totals as a window over the COUNTED table (≤
    // |alphabet| rows per doc, never re-scanning the char stream) →
    // 6dp-rounded p·log2 p terms summed as exact DECIMAL
    // (text_perplexity discipline), TakeOrdered for the bottom-40.
    // Double division c/n is ieee-identical in both engines.
    "text_char_entropy" -> { (s, dir) =>
      val counts = documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
        .groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("c"))
      val p = col("c").cast("double") / col("n")
      counts
        .withColumn("n", sum(col("c")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))))
        .withColumn("term", round(p * log2(p), 6))
        .groupBy(col("doc_id"), col("n"))
        .agg((-sum(col("term").cast("decimal(18,6)"))).cast("double").as("e"))
        .select(col("doc_id"), col("n").cast("long").as("n_chars"),
          round(col("e"), 6).as("entropy_bits"))
        .orderBy(col("entropy_bits"), col("doc_id"))
        .limit(40)
    },
    // per-(lang, source) token statistics
    "text_token_stats" -> { (s, dir) =>
      documents(s, dir)
        .select(col("lang"), col("source"),
          tokens(col("text")).as("toks"), col("n_chars"))
        .groupBy(col("lang"), col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("toks").cast("long")).cast("long").as("total_tokens"),
          round(avg(col("toks")), 6).as("avg_tokens"),
          round(avg(col("n_chars")), 6).as("avg_chars"))
        .orderBy(col("lang"), col("source"))
    },
    // BPE-ish token accounting: regex token classes (letter runs, digit
    // runs, punctuation marks) + a subword estimate of ceil(len/4) per
    // word — the ~4-chars-per-BPE-token rule of thumb used for corpus
    // budgeting. Pure codegen'd regexp/array builtins, one pass per doc.
    "text_bpe_tokens" -> { (s, dir) =>
      val words = regexp_extract_all(col("text"), lit("[A-Za-z]+"), lit(0))
      val nums = regexp_extract_all(col("text"), lit("[0-9]+"), lit(0))
      val puncts = regexp_extract_all(col("text"), lit("[^A-Za-z0-9 ]"), lit(0))
      val bpe = aggregate(
        transform(words, w => ceil(length(w) / lit(4.0))),
        lit(0L), (a, x) => a + x)
      documents(s, dir)
        .select(col("lang"), size(words).as("n_words"), size(nums).as("n_nums"),
          size(puncts).as("n_punct"), bpe.as("bpe"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).cast("long").as("word_tokens"),
          sum(col("n_nums")).cast("long").as("num_tokens"),
          sum(col("n_punct")).cast("long").as("punct_tokens"),
          sum(col("bpe")).cast("long").as("bpe_tokens"))
        .orderBy(col("lang"))
    },
    // first BPE merge iteration — the corpus-scale step of tokenizer
    // TRAINING: count adjacent symbol (character) pairs across the
    // corpus, weighted by word frequency, and rank the merge
    // candidates. The scale shape is the tokenizer-training discipline:
    // reduce the corpus to its word VOCABULARY first (distinct words ×
    // counts — sublinear in the corpus, the same trick every BPE
    // trainer uses), then explode each vocab word's ≤len-1 pairs and
    // re-aggregate — pair counting never touches the raw token stream.
    // Top-k by orderBy+limit → TakeOrderedAndProject, no global sort.
    // Subsequent merge rounds re-run the same plan on the re-symbolized
    // vocab (driver loop over K merges, each one aggregation — standard
    // practice; the per-round plan is what must scale, and is what this
    // query pins).
    "text_bpe_merges" -> { (s, dir) =>
      val vocab = documents(s, dir)
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("wc"))
      val pairs = mergePairs(vocab)
      topMerges(pairs)
        .orderBy(col("rk"))
    },
    // SECOND BPE merge round under the oracle — proves the data-
    // dependent iteration step end to end, not just one aggregation:
    // the round-1 winner is applied to the vocabulary (greedy
    // left-to-right, which is exactly string `replace` semantics — a
    // merged occurrence can't re-overlap) by collapsing it to a
    // sentinel symbol, and round-2 pairs are counted over the
    // re-symbolized words. The winner reaches the plan as a broadcast
    // 1-row join, not a driver collect, so the two rounds remain ONE
    // declarative plan; pair strings decode the sentinel back to
    // `<xy>` for a readable, engine-portable output. Scale shape per
    // round is unchanged from text_bpe_merges: vocab-sized, never
    // corpus-sized.
    "text_bpe_merges2" -> { (s, dir) =>
      val S = "\u0001" // sentinel for the merged symbol; absent from the corpus
      val vocab = documents(s, dir)
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("wc"))
        .localCheckpoint(eager = false) // feeds round-1 counts AND the re-symbolization
      val pairs1 = mergePairs(vocab)
      val top1 = pairs1.orderBy(col("n").desc, col("pair")).limit(1)
        .select(col("pair").as("m"))
      val re = vocab.crossJoin(broadcast(top1))
        .select(col("wc"), col("m"),
          replace(col("word"), col("m"), lit(S)).as("w2"))
      val pairs2 = re.filter(length(col("w2")) >= 2)
        .select(col("wc"), col("m"), explode(transform(
          sequence(lit(1), length(col("w2")) - 1),
          i => concat(col("w2").substr(i, lit(1)),
            col("w2").substr(i + 1, lit(1))))).as("raw"))
        .select(col("wc"),
          replace(col("raw"), lit(S),
            concat(lit("<"), col("m"), lit(">"))).as("pair"))
        .groupBy(col("pair")).agg(sum(col("wc")).as("n"))
      topMerges(pairs2)
        .orderBy(col("rk"))
    },
    // quality score: length + vocab-diversity + stopword components,
    // bucketed to one decimal; counts per bucket
    "text_quality" -> { (s, dir) =>
      val q = round(qualityScore(col("text")), 1)
      documents(s, dir)
        .select(col("doc_id"), q.as("quality_bucket"))
        .groupBy(col("quality_bucket"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("quality_bucket"))
    },
    // language-ID heuristic vs labeled lang → confusion counts
    "text_langid" -> { (s, dir) =>
      val txt = col("text")
      val scored = documents(s, dir).select(col("lang"), col("text"),
        langScore(txt, "de").as("s_de"), langScore(txt, "en").as("s_en"),
        langScore(txt, "es").as("s_es"), langScore(txt, "fr").as("s_fr"),
        langScore(txt, "zh").as("s_zh"))
      val pred = when(col("s_de") >= greatest(col("s_en"), col("s_es"), col("s_fr"), col("s_zh")), "de")
        .when(col("s_en") >= greatest(col("s_es"), col("s_fr"), col("s_zh")), "en")
        .when(col("s_es") >= greatest(col("s_fr"), col("s_zh")), "es")
        .when(col("s_fr") >= col("s_zh"), "fr")
        .otherwise("zh")
      scored.select(col("lang"), pred.as("pred_lang"))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("pred_lang"))
    },
    // deterministic per-group sampling: the 3 docs with smallest content
    // hash per language — a reproducible uniform sample (hash order is
    // data-defined, not RNG-defined), the shape a training-data pipeline
    // uses for per-source quota sampling at scale
    "text_sample_per_lang" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(md5(col("text")), col("doc_id"))
      documents(s, dir)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("lang"), col("rk"), col("doc_id"))
        .orderBy(col("lang"), col("rk"))
    },
    // BM25 retrieval: corpus-level IDF (one scalar aggregate row,
    // broadcast to every doc — no shuffle of the doc stream) + per-doc
    // term frequencies via the replace-count idiom, Robertson/Sparck
    // Jones idf = ln((N-df+0.5)/(df+0.5)+1), k1=1.2 b=0.75, top-15 by
    // rounded score. The one-row stats crossJoin is the scale shape:
    // score computation stays a single codegen'd projection over the
    // corpus however large it grows.
    "text_bm25" -> { (s, dir) =>
      // orderBy+limit → TakeOrderedAndProject (distributed per-partition
      // top-k, merge on driver) — NOT a global window, which would drag
      // the whole corpus through one reducer; rank is assigned over the
      // 15 survivors only
      val top = bm25Scored(s, dir)
        .orderBy(col("score").desc, col("doc_id"))
        .limit(15)
      top.withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("score").desc, col("doc_id"))).cast("long"))
        .select(col("rank"), col("doc_id"), col("score"))
        .orderBy(col("rank"))
    },
    // perplexity-style LM quality filter (the CCNet recipe): score each
    // doc by its average bigram cross-entropy under the corpus's own
    // bigram model — ln c(w1) - ln c(w1,w2), counts from one pass each
    // — and surface the most-surprising docs (highest CE = candidates
    // for junk/outlier review). Per-term rounding to 6dp before a
    // DECIMAL sum makes the aggregate order-independent AND tolerant of
    // last-ulp ln() differences between engines; counts themselves are
    // exact integers on both sides. Shuffles: two count aggregations +
    // one counts join back onto the gram stream (corpus-sized keys,
    // partial-aggregated).
    "text_perplexity" -> { (s, dir) =>
      val grams = bigrams(documents(s, dir))
      // bigram counts are the sufficient statistic: c1 = Σ c12 by w1 —
      // derive the unigram table from the vocab²-bounded `big` instead
      // of re-aggregating the corpus gram stream (the text_kneser_ney
      // discipline, r18: was a third full corpus pass; identical
      // integers — count of w1-as-first-gram == sum of its bigram
      // counts — and the checkpoint is vocabulary-sized)
      val big = grams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
        .localCheckpoint(eager = false)
      val uni = big.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
      val term = round(log(col("c1")) - log(col("c12")), 6)
      // count tables are VOCABULARY-bounded (|V| and ≤|V|² rows), not
      // corpus-bounded — broadcast them so the corpus-sized gram stream
      // never shuffles for the joins (measured 5.6 → 2.9 s at sf0.1)
      grams
        .join(broadcast(big), Seq("w1", "w2")).join(broadcast(uni), Seq("w1"))
        .groupBy(col("doc_id"))
        .agg(DetMean.mean6(sum(DetMean.el10(term)),
          count(lit(1))).as("ce"))
        .orderBy(col("ce").desc, col("doc_id"))
        .limit(10)
    },
    // Interpolated Kneser-Ney bigram cross-entropy (Kneser & Ney 1995;
    // Chen & Goodman 1999's benchmark smoothing) — the production LM
    // filter text_perplexity's raw-MLE score approximates: absolute
    // discount D=3/4 with continuation-probability backoff
    //   P(w2|w1) = (c12−D)/c1 + D·N1+(w1,·)/c1 · N1+(·,w2)/B.
    // With D rational every probability is an exact integer ratio:
    //   P = ((4·c12−3)·B + 3·n1f·n1b) / (4·c1·B)
    // so both engines take logs of IDENTICAL integers — the smoothing
    // adds zero float divergence surface over the MLE version. All four
    // count tables (bigrams, contexts+fertility, continuation, one-row
    // B) are vocabulary-bounded and broadcast; the corpus-sized gram
    // stream never shuffles. Top-10 most-surprising docs, the cut list.
    "text_kneser_ney" -> { (s, dir) =>
      val grams = bigrams(documents(s, dir))
      // bigram counts are the sufficient statistic: c1 = Σ c12 by w1,
      // the continuation counts are row counts of the bigram table —
      // so derive uni/back/btot from the vocab²-bounded `big` instead
      // of re-aggregating the corpus gram stream (was 3 extra corpus
      // scans; identical values, the checkpoint is vocabulary-sized)
      val big = grams.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("c12"))
        .localCheckpoint(eager = false)
      val uni = big.groupBy(col("w1"))
        .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1f"))
      val back = big.groupBy(col("w2")).agg(count(lit(1)).as("n1b"))
      val btot = big.agg(count(lit(1)).as("bb"))
      val num = (lit(4) * col("c12") - 3) * col("bb") +
        lit(3) * col("n1f") * col("n1b")
      val den = lit(4) * col("c1") * col("bb")
      val term = round(log(den) - log(num), 10)
      grams
        .join(broadcast(big), Seq("w1", "w2"))
        .join(broadcast(uni), Seq("w1"))
        .join(broadcast(back), Seq("w2"))
        .crossJoin(broadcast(btot))
        .groupBy(col("doc_id"))
        .agg(DetMean.mean6(sum(DetMean.el10(term)),
          count(lit(1))).as("kn_ce"))
        .orderBy(col("kn_ce").desc, col("doc_id"))
        .limit(10)
    },
    // normalized-text fingerprint; distinct fingerprints per source
    "text_fingerprint" -> { (s, dir) =>
      documents(s, dir)
        .select(col("source"), md5(lower(col("text"))).as("fp"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("fp")).as("n_distinct"))
        .orderBy(col("source"))
    },
    // logistic quality classifier: sigmoid over 5 per-doc features
    // (length, word-length, stopword, vocab-diversity, digit-ratio) with
    // literal weights — the shape of a trained fastText/linear quality
    // gate applied at scale. A pure projection (zero shuffles beyond the
    // output sort): per-doc score + keep flag, whole-stage-codegen'd,
    // O(corpus) with no state — the cheapest possible 100 TB filter.
    // The pre-sigmoid logit is rounded to 6dp so both engines take
    // sigmoid of identical doubles.
    "text_quality_score" -> { (s, dir) =>
      documents(s, dir)
        .select(col("doc_id"), classifierScore(col("text")).as("quality_score"))
        .withColumn("keep",
          when(col("quality_score") >= 0.5, 1).otherwise(0))
        .orderBy(col("doc_id"))
    },
    // RELATIVE quality gate: keep the top 60% of each language by
    // score. Absolute thresholds (text_quality_score's 0.5) are
    // miscalibrated across languages — a fixed cut keeps 90% of one
    // language and 10% of another; per-language percentiles gate each
    // language against itself, which is how production corpus mixes
    // hold their language balance through a quality cut. Scale shape:
    // the per-lang threshold aggregates to one row per language and
    // broadcasts back — NEVER a window partitioned by lang (5
    // partitions would serialize the corpus through 5 tasks at 100
    // TB). The exact interpolated percentile is the oracle-stable
    // choice at test scale; at corpus scale swap approx_percentile
    // into the same shape (the exact one buffers each group's values).
    "text_quality_gate" -> { (s, dir) =>
      qualityGate(documents(s, dir), expr("percentile(score, 0.4)"))
        .orderBy(col("lang"))
    },
    // PRODUCTION twin of text_quality_gate: exact `percentile` keeps
    // every score of a group in its aggregation buffer — at 100 TB a
    // hot language's buffer is corpus-sized and the gate becomes the
    // bottleneck. approx_percentile aggregates a bounded KLL-style
    // sketch instead (fixed buffer, partial/final mergeable, one
    // ordinary shuffle), the form a real curation DAG ships. Accuracy
    // 10000 → rank error ≤ 1/10000, deterministic for a given dataset.
    // No DuckDB oracle by design (sketch internals differ across
    // engines — same contractual no-oracle class as ml_train_predict);
    // TextApproxGateSpec pins it against the exact gate instead.
    "text_quality_gate_approx" -> { (s, dir) =>
      qualityGate(documents(s, dir), expr("approx_percentile(score, 0.4, 10000)"))
        .orderBy(col("lang"))
    },
    // TF-IDF keyterm extraction: top-5 terms per document, scored
    // tf × ln(N/df) — the classic retrieval/keyword primitive (and the
    // feature space BM25 generalizes; text_bm25 is the query-time twin).
    // Scale shape: document frequency is corpus-wide but VOCABULARY-
    // bounded (one distinct + one count agg, partial-aggregated), so it
    // broadcasts onto the per-doc term counts — the corpus-sized side
    // never shuffles for the join. Term counts restrict to the reported
    // doc window BEFORE aggregating (predicate on the scan, not the
    // result). The idf ln() rounds to 6dp before the multiply — same
    // last-ulp-tolerance discipline as text_perplexity — and top-5
    // selection orders by the ROUNDED score (word tie-break) so both
    // engines pick identical rows.
    "text_tfidf" -> { (s, dir) =>
      val docs = documents(s, dir)
      val words = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      val dfreq = words.distinct()
        .groupBy(col("word")).agg(count(lit(1)).as("df"))
      val total = docs.agg(count(lit(1)).as("n"))
      val tf = words.filter(col("doc_id") < 50)
        .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
      tf.join(broadcast(dfreq), Seq("word"))
        .crossJoin(broadcast(total))
        .select(col("doc_id"), col("word"), col("tf"),
          round(col("tf") *
            round(log(col("n").cast("double") / col("df")), 6), 6).as("tfidf"))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
            .orderBy(col("tfidf").desc, col("word"))).cast("long"))
        .filter(col("rk") <= 5)
        .select(col("doc_id"), col("rk"), col("word"), col("tf"), col("tfidf"))
        .orderBy(col("doc_id"), col("rk"))
    },
    // The SQL-STRING entry path, end to end: temp view + runtime
    // function registration + one spark.sql() text using LATERAL VIEW
    // over the custom ngrams generator, a ranking window, and an
    // aggregation — proving a SQL-only user (BI tool, notebook cell)
    // gets the whole engine surface including the UDTF tier, with the
    // same plan the DataFrame API would build. Result: each language's
    // most frequent word bigram (count ties break on the gram).
    "text_sql_entry" -> { (s, dir) =>
      documents(s, dir).createOrReplaceTempView("graft_docs_v")
      graft.functions.TextGenerators.register(s)
      s.sql("""
        SELECT lang, gram AS top_bigram, n
        FROM (
          SELECT lang, gram, COUNT(*) AS n,
            ROW_NUMBER() OVER (PARTITION BY lang
              ORDER BY COUNT(*) DESC, gram) AS rk
          FROM graft_docs_v
          LATERAL VIEW ngrams(text, 2) g AS gram
          GROUP BY lang, gram)
        WHERE rk = 1
        ORDER BY lang""")
    },
    // Top trigrams through the custom Catalyst GENERATOR
    // (graft.functions.NGrams — the UDTF tier of the extension
    // surface): rows stream straight off one split with no per-row
    // gram-array materialization, unlike the composable
    // explode(transform(sequence(...))) form this replaces. The oracle
    // replays the identical contract with DuckDB list positions, and
    // the plan gate pins the Generate node to the custom generator.
    "text_ngram_gen" -> { (s, dir) =>
      documents(s, dir)
        .select(graft.functions.TextGenerators.ngrams(col("text"), 3).as("gram"))
        .groupBy(col("gram")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("gram"))
        .limit(20)
    },
    // Flesch-style readability per language: words/sentence and
    // syllables/word from pure regexp counts (sentences = terminal
    // punctuation + 1; syllables ≈ vowel groups — the standard cheap
    // estimator), combined with the classic literal weights. Pure
    // codegen projection; per-doc scores round to 6dp then aggregate
    // as exact DECIMAL, so the per-language means are engine-exact.
    // Another axis of the quality family: length-based gates miss
    // word-salad that a syllable-density score catches.
    "text_readability" -> { (s, dir) =>
      val t = col("text")
      val words = size(split(t, " ")).cast("double")
      val sentences = (size(regexp_extract_all(t, lit("[.!?]"), lit(0))) + 1).cast("double")
      val syll = size(regexp_extract_all(t, lit("[aeiouAEIOU]+"), lit(0))).cast("double")
      val score = round(lit(206.835) - lit(1.015) * (words / sentences)
        - lit(84.6) * (syll / words), 6)
      documents(s, dir)
        .select(col("lang"), score.as("sc"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          DetMean.mean6(sum(DetMean.el10(col("sc"))),
            count(lit(1))).as("avg_flesch"),
          round(min(col("sc")), 6).as("min_flesch"),
          round(max(col("sc")), 6).as("max_flesch"))
        .orderBy(col("lang"))
    },
    // Zipf rank-frequency fit: least-squares slope of ln(freq) vs
    // ln(rank) over the top-100 vocabulary — natural corpora sit near
    // slope ≈ −1, and a corpus that doesn't (template spam, synthetic
    // fill) fails the cheapest distributional smell test there is. One
    // vocabulary count (partial-aggregated), a 100-row top-k, then the
    // regression reduces on the driver-sized table with the repo's
    // moment discipline: each ln term (and cross term) rounds to 6dp
    // and sums as exact DECIMAL, so the closed-form slope/intercept is
    // engine-exact.
    // Heaps' law (Heaps 1978): vocabulary growth V(n) ≈ K·n^β over the
    // token stream — the curve a corpus owner reads to predict
    // vocabulary (and embedding-table / tokenizer-merge) growth at the
    // next data doubling; β well under 1 says vocabulary saturates.
    // Exact, order-deterministic construction: the token stream is
    // ordered by (doc_id, pos), each word's FIRST-occurrence global
    // index is a min-aggregate, and V(n_j) at 10 halving checkpoints
    // (total/2^9 … total) counts first-occurrences ≤ n_j. β comes from
    // the zipf-slope OLS discipline (6dp logs, exact decimal moment
    // sums, closed form); [[heapsCurve]] holds the pipeline and its
    // scale shape. At 100 TB the doc-order prefix sum is the same
    // pattern shard manifests use; nothing holds more than
    // vocabulary-sized state after the maps.
    "text_heaps_law" -> { (s, dir) =>
      val xy = heapsCurve(documents(s, dir))
      // every moment (Σx, Σy, Σxy, Σx²) is a BIGINT sum of BIGINT
      // products (order-independent regardless of partitioning), and β
      // is ONE closed-form double division of two integer-scaled longs,
      // rounded once — the q_corr_qty_disc finishing pattern
      val beta = round(
        (col("n") * col("sxy12") - col("sx6") * col("sy6")).cast("double") /
        (col("n") * col("sx212") - col("sx6") * col("sx6")).cast("double"), 6)
      val fit = xy.agg(count(lit(1)).as("n"),
          sum(col("x6")).as("sx6"), sum(col("y6")).as("sy6"),
          sum(col("x6") * col("y6")).as("sxy12"),
          sum(col("x6") * col("x6")).as("sx212"))
        .select(beta.as("heaps_beta"))
      xy.crossJoin(broadcast(fit))
        // j as BIGINT to match the oracle's CAST(j AS BIGINT) exactly —
        // no int32-vs-int64 dtype residue in the driver's compare frame
        .select(col("j").cast("long").as("j"), col("n_tokens"),
          col("vocab"), col("heaps_beta"))
        .orderBy(col("j"))
    },
    // Diagnostic twin of text_heaps_law (VERDICT r13 task #1a): the
    // SAME [[heapsCurve]], emitted at INTEGER grain only — per-checkpoint
    // token counts, vocabulary sizes, the 6dp-scaled log coordinates
    // and all four OLS moment sums as BIGINTs, with NO double column at
    // all. The split localizes any driver-side divergence: probe green
    // + heaps_law red ⇒ the β double (libm ln / final round); probe red
    // ⇒ an integer stage (tokenization, first-occurrence index, or
    // checkpoint arithmetic) and the failing column names it.
    "text_heaps_law_probe" -> { (s, dir) =>
      val xy = heapsCurve(documents(s, dir), col("total"))
      val mom = xy.agg(count(lit(1)).as("n_pts"),
        sum(col("x6")).as("sx6"), sum(col("y6")).as("sy6"),
        sum(col("x6") * col("y6")).as("sxy12"),
        sum(col("x6") * col("x6")).as("sx212"))
      xy.crossJoin(broadcast(mom))
        .select(col("j").cast("long").as("j"), col("n_tokens"),
          col("total"), col("vocab"), col("x6"), col("y6"),
          col("n_pts"), col("sx6"), col("sy6"), col("sxy12"), col("sx212"))
        .orderBy(col("j"))
    },
    // Repetition (degeneration) metric — the rep-3 statistic from the
    // neural-text-degeneration literature (Holtzman et al. 2020): the
    // fraction of a document's word trigrams that repeat an earlier
    // trigram of the SAME document, 1 − distinct/total. Natural prose
    // sits near 0; templated spam, stutter loops, and decoding
    // failures spike. It is the cheap per-document screen for the
    // looping pathology whole-doc dedup cannot see (the repeats live
    // inside one document, so no pair join ever meets them).
    //
    // Scale shape: trigram construction, distinct-count, and the ratio
    // are all row-local array ops — one codegen-friendly projection,
    // ZERO shuffle before the 15-row TakeOrderedAndProject. At 100 TB
    // this is a map-only scan. Determinism: integer counts; the one
    // division rounds at 6dp; ties on rep3 break by doc_id.
    "text_rep_ngrams" -> { (s, dir) =>
      val tri = transform(sequence(lit(1), size(col("w")) - 2),
        i => concat_ws(" ", element_at(col("w"), i),
          element_at(col("w"), i + 1), element_at(col("w"), i + 2)))
      documents(s, dir)
        .select(col("doc_id"), col("lang"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 3)
        .select(col("doc_id"), col("lang"),
          size(tri).cast("long").as("n_grams"),
          size(array_distinct(tri)).cast("long").as("n_distinct"))
        .withColumn("rep3", round(lit(1.0) -
          col("n_distinct").cast("double") / col("n_grams"), 6))
        .orderBy(col("rep3").desc, col("doc_id")).limit(15)
    },
    // Good–Turing frequency re-estimation (Good 1953) over word
    // TRIGRAMS: the counts-of-counts table N_r and the smoothed count
    // r* = (r+1)·N_{r+1}/N_r for the low frequencies (r ≤ 10), plus
    // the unseen-mass estimate p0 = N_1/N — the arithmetic under Katz
    // back-off and the first table an LM-data owner reads before
    // trusting rare-n-gram statistics (a ragged N_r tail says the
    // corpus is too small for the gram space it claims). Trigrams, not
    // unigrams, because that is where the rare-event classes live: the
    // synthetic vocabulary is saturated (every WORD appears ≥ 26×) but
    // the trigram space keeps ~16k grams at r ≤ 10 across all scales —
    // the regime Good–Turing exists for.
    //
    // Scale shape: gram construction is row-local; corpus → gram
    // counts is the only corpus-sized stage (one partial-aggregated
    // explode); counts-of-counts is gram-space-bounded, and the N_{r+1}
    // lookup is a broadcast self-join over ≤ max-frequency rows.
    // Determinism: integer counts everywhere; the r* and p0 divisions
    // each round once at 6dp.
    "text_good_turing" -> { (s, dir) =>
      // explode the POSITION, concat in codegen (the r13 shingle lesson)
      val wc = documents(s, dir)
        .select(split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 3)
        .select(col("w"), explode(sequence(lit(1), size(col("w")) - 2)).as("i"))
        .select(concat_ws(" ", element_at(col("w"), col("i")),
          element_at(col("w"), col("i") + 1),
          element_at(col("w"), col("i") + 2)).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("r"))
      // 3 consumers (totals, the N_{r+1} side, the report): pin ONE
      // corpus pass behind the gram-space-bounded table
      val cc = wc.groupBy(col("r")).agg(count(lit(1)).as("n_r"))
        .localCheckpoint()
      val tot = cc.agg(sum(col("r") * col("n_r")).as("n_tokens"),
        sum(when(col("r") === 1, col("n_r")).otherwise(0L)).as("n1"))
      val nxt = cc.select((col("r") - 1).as("r"), col("n_r").as("n_next"))
      cc.filter(col("r") <= 10)
        .join(broadcast(nxt), Seq("r"), "left")
        .crossJoin(broadcast(tot))
        .select(col("r"), col("n_r"),
          coalesce(col("n_next"), lit(0L)).as("n_r_next"),
          round(((col("r") + 1) * coalesce(col("n_next"), lit(0L)))
            .cast("double") / col("n_r"), 6).as("r_star"),
          round(col("n1").cast("double") / col("n_tokens"), 6).as("p0"))
        .orderBy(col("r"))
    },
    // Mean segmental type–token ratio (MSTTR; Johnson 1944) — lexical
    // diversity that, unlike raw TTR, does not collapse with document
    // length (TTR falls as docs grow because types saturate): score
    // each non-overlapping 25-token segment independently and average.
    // Per-language report — the diversity axis of the quality family
    // (a language whose MSTTR craters is template/boilerplate-heavy
    // even when length and stopword gates pass).
    //
    // Scale shape: segmentation, distinct-count, and the per-doc mean
    // are row-local array ops (one projection, zero shuffle before the
    // ≤|langs|-row aggregation). Determinism: per-segment TTRs round
    // 6dp, sum left-to-right inside the row; per-doc means round 6dp
    // and aggregate as exact decimals.
    "text_msttr" -> { (s, dir) =>
      val segs = transform(
        sequence(lit(1), (size(col("w")) / 25).cast("int")),
        k => round(size(array_distinct(
            slice(col("w"), (k - 1) * 25 + 1, lit(25))))
          .cast("double") / 25.0, 6))
      documents(s, dir)
        .select(col("lang"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 25)
        .select(col("lang"), segs.as("t"))
        .select(col("lang"), round(
          aggregate(col("t"), lit(0.0), (a, x) => a + x) / size(col("t")), 6)
          .as("msttr"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          DetMean.mean6(sum(DetMean.el10(col("msttr"))),
            count(lit(1))).as("avg_msttr"),
          round(min(col("msttr")), 6).as("min_msttr"))
        .orderBy(col("lang"))
    },
    // Burrows' Delta (Burrows 2002; Evert et al. 2017) — the standard
    // stylometric distance: z-score each source's relative frequency
    // of the top-30 corpus words (function words dominate that list,
    // and function-word profiles are the stylistic fingerprint), then
    // Delta(s1,s2) = mean |z1 − z2|. The 10 closest source pairs are
    // the "same author/template?" shortlist — for LLM corpora, the
    // duplicate-FEED detector that catches mirrored sources whose
    // documents are individually distinct.
    //
    // Scale shape: the corpus collapses once to (source, word) counts;
    // everything after runs on the 30-word × |sources| grid (broadcast
    // top-word list, window z-scores, a grid self-join on word for the
    // pair sweep). Determinism: relative frequencies and z-scores
    // round 10dp (population σ over the source axis; σ=0 words score
    // z=0 on every source); per-pair |Δz| terms round 10dp into exact
    // decimal sums; Delta at 6dp; ties break by source names.
    "text_burrows_delta" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
      val sw = documents(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("word"))
        .groupBy(col("source"), col("word")).agg(count(lit(1)).as("c"))
        .localCheckpoint(eager = false) // 3 consumers below
      val stot = sw.groupBy(col("source")).agg(sum(col("c")).as("t"))
      val top = sw.groupBy(col("word")).agg(sum(col("c")).as("cc"))
        .orderBy(col("cc").desc, col("word")).limit(30)
        .select(col("word"))
      val grid = stot.crossJoin(broadcast(top))
      val f = grid.join(sw, Seq("source", "word"), "left")
        .select(col("source"), col("word"),
          round(coalesce(col("c"), lit(0L)).cast("double") / col("t"), 10)
            .as("f"))
      // per-word moments as exact decimal sums (a float window avg
      // would depend on partition-internal row order)
      // f is 10dp and ≤1, so the square multiplies EXACTLY in decimal
      // domain (DECIMAL(12,10)² → scale 20) — el10(f*f) would round the
      // 20-digit product at 10dp, the r12 cross-engine tie class
      val f10 = round(col("f"), 10).cast("decimal(12,10)")
      val wstats = f.groupBy(col("word"))
        .agg(count(lit(1)).as("ns"),
          sum(DetMean.el10(col("f"))).as("sf"),
          sum(f10 * f10).as("sff"))
        .withColumn("mu", round(col("sf").cast("double") / col("ns"), 10))
        .withColumn("sd", round(sqrt(greatest(lit(0.0),
          col("sff").cast("double") / col("ns") - col("mu") * col("mu"))),
          10))
        .select(col("word"), col("mu"), col("sd"))
      val z = f.join(broadcast(wstats), "word")
        .withColumn("z", when(col("sd") > 0,
          round((col("f") - col("mu")) / col("sd"), 10)).otherwise(lit(0.0)))
        .select(col("source"), col("word"), col("z"))
      val z2 = z.select(col("source").as("s2"), col("word"),
        col("z").as("zb"))
      z.join(z2, Seq("word")).filter(col("source") < col("s2"))
        .groupBy(col("source").as("s1"), col("s2"))
        .agg(round(sum(round(abs(col("z") - col("zb")), 10)
            .cast("decimal(28,10)"))
          .cast("double") / count(lit(1)), 6).as("delta"))
        .orderBy(col("delta"), col("s1"), col("s2")).limit(10)
    },
    // Pairwise Jensen–Shannon divergence between the per-language
    // unigram distributions (Lin 1991) — the symmetric, always-finite
    // corpus-comparison number behind "did the French slice drift from
    // the English one" and domain-mixture diagnostics; unlike KL it
    // tolerates one-sided words (a word present in only one language
    // contributes p·ln2, not ∞). Reported per unordered language pair
    // with the union-vocabulary size.
    //
    // Scale shape: the corpus collapses to (lang, word) counts in one
    // partial-aggregated explode; fractions join against a broadcast
    // per-lang total; the pair expansion is vocabulary × pair-count
    // (languages², corpus-independent) via a broadcast pair grid, and
    // each side's fraction attaches with a vocabulary-bounded join.
    // Determinism: fractions divide once and round 10dp; per-word JSD
    // terms round 10dp and sum as exact DECIMAL; finals at 6dp.
    "text_js_divergence" -> { (s, dir) =>
      val lw = documents(s, dir)
        .select(col("lang"), explode(split(col("text"), " ")).as("word"))
        .groupBy(col("lang"), col("word")).agg(count(lit(1)).as("c"))
        // 3 consumers (totals, fractions, vocab): pin ONE corpus pass
        .localCheckpoint()
      val lt = lw.groupBy(col("lang")).agg(sum(col("c")).as("t"))
      val fr = lw.join(broadcast(lt), "lang")
        .select(col("lang"), col("word"),
          round(col("c").cast("double") / col("t"), 10).as("p"))
      val pairGrid = lt.select(col("lang").as("l1"))
        .crossJoin(lt.select(col("lang").as("l2")))
        .filter(col("l1") < col("l2"))
      val words = lw.select(col("word")).distinct()
      val withP = words.crossJoin(broadcast(pairGrid))
        .join(fr.select(col("lang").as("l1"), col("word"),
          col("p").as("p1")), Seq("l1", "word"), "left")
        .join(fr.select(col("lang").as("l2"), col("word"),
          col("p").as("p2")), Seq("l2", "word"), "left")
        .select(col("l1"), col("l2"),
          coalesce(col("p1"), lit(0.0)).as("p"),
          coalesce(col("p2"), lit(0.0)).as("q"))
        .filter(col("p") > 0 || col("q") > 0)
      withP
        .withColumn("term", round(
          when(col("p") > 0, col("p") *
            log(lit(2.0) * col("p") / (col("p") + col("q")))).otherwise(0.0) +
          when(col("q") > 0, col("q") *
            log(lit(2.0) * col("q") / (col("p") + col("q")))).otherwise(0.0),
          10))
        .groupBy(col("l1"), col("l2"))
        .agg(count(lit(1)).as("n_words"),
          round(lit(0.5) *
            sum(col("term").cast("decimal(28,10)")).cast("double"), 6)
            .as("jsd"))
        .orderBy(col("l1"), col("l2"))
    },
    "text_zipf_slope" -> { (s, dir) =>
      val top = documents(s, dir)
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("word")).limit(100)
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("freq").desc, col("word"))))
      // OLS in EXACT integer arithmetic (the text_heaps_law discipline:
      // round(x*y, 6) of double-domain products is the cross-engine
      // rounding-tie class — the 6dp logs become ×10⁶ BIGINTs via an
      // exact decimal hop, moments are BIGINT sums of BIGINT products,
      // and slope/intercept are single closed-form double divisions).
      def i6(c: org.apache.spark.sql.Column) =
        (round(c, 6).cast("decimal(18,6)") * lit(1000000)).cast("long")
      val xy = top.select(
        i6(log(col("rk"))).as("x6"), i6(log(col("freq"))).as("y6"))
      val slope = round(
        (col("n") * col("sxy12") - col("sx6") * col("sy6")).cast("double") /
        (col("n") * col("sx212") - col("sx6") * col("sx6")).cast("double"), 6)
      xy.agg(count(lit(1)).as("n"),
          sum(col("x6")).as("sx6"), sum(col("y6")).as("sy6"),
          sum(col("x6") * col("y6")).as("sxy12"),
          sum(col("x6") * col("x6")).as("sx212"))
        .select(col("n"), slope.as("zipf_slope"),
          round((col("sy6").cast("double") - slope * col("sx6").cast("double"))
            / (col("n").cast("double") * lit(1e6)), 6).as("intercept"))
    },
    // PMI collocations: adjacent-word pairs scored
    // ln(c(ab)·Ntok / (c(a)·c(b))) — the association measure behind
    // phrase mining and tokenizer-vocabulary seeding (high-PMI bigrams
    // are the multi-word units worth a single token). Min support 5
    // keeps the estimator out of the ln()'s unstable low-count region.
    // Same scale shape as text_perplexity: one corpus pass for bigrams,
    // one for unigrams, both count tables vocabulary-bounded and
    // broadcast back; the split materializes once per doc (the
    // split-once idiom — inline split re-evaluates per lambda element).
    "text_pmi_bigrams" -> { (s, dir) =>
      val grams = documents(s, dir)
        .withColumn("w", split(col("text"), " "))
        .filter(size(col("w")) >= 2)
        // explode the POSITION, project in codegen (the r13 shingle lesson)
        .select(col("w"), explode(sequence(lit(1), size(col("w")) - 1)).as("i"))
        .select(element_at(col("w"), col("i")).as("w1"),
          element_at(col("w"), col("i") + 1).as("w2"))
      val words = documents(s, dir)
        .select(explode(split(col("text"), " ")).as("word"))
      val uni = words.groupBy(col("word")).agg(count(lit(1)).as("c"))
      val ntok = words.agg(count(lit(1)).as("ntok"))
      grams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
        .filter(col("c12") >= 5)
        .join(broadcast(uni.select(col("word").as("w1"), col("c").as("c1"))),
          Seq("w1"))
        .join(broadcast(uni.select(col("word").as("w2"), col("c").as("c2"))),
          Seq("w2"))
        .crossJoin(broadcast(ntok))
        .select(col("w1"), col("w2"), col("c12"),
          round(log((col("c12").cast("double") * col("ntok")) /
            (col("c1").cast("double") * col("c2"))), 6).as("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(20)
    },
    // Word burstiness (Church & Gale 1995, "Poisson mixtures"): the
    // variance-to-mean ratio of a word's per-document count — ≈ 1 for
    // Poisson-scattered function words, ≫ 1 for bursty content words
    // that pile into the few documents about their topic. The statistic
    // LM-data curation reads to separate topical vocabulary from glue,
    // and a classic feature for keyword weighting. Computed for the
    // top-BurstTopK corpus words over ALL documents (absent = count 0,
    // handled by N-normalized moments, never a dense word×doc join).
    //
    // Scale shape: one word explode collapses map-side to (word, doc)
    // counts, then to per-word moment sums over the OCCURRING docs; the
    // zeros enter through the closed form (Σc and Σc² are unchanged by
    // zero rows, only N is corpus doc count — a 1-row broadcast). The
    // top-K cut is TakeOrderedAndProject. Determinism: integer moments,
    // two divisions rounded 6/10dp.
    "text_burstiness" -> { (s, dir) =>
      val docsN = documents(s, dir).agg(count(lit(1)).as("nd"))
      val wd = documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("w"), col("doc_id")).agg(count(lit(1)).as("c"))
      wd.groupBy(col("w"))
        .agg(sum(col("c")).as("freq"),
          sum(col("c") * col("c")).as("sc2"),
          count(lit(1)).as("n_docs"))
        .crossJoin(broadcast(docsN))
        .withColumn("mean_c", round(col("freq").cast("double") / col("nd"), 10))
        .select(col("w"), col("freq"), col("n_docs"),
          round(col("mean_c"), 6).as("mean_count"),
          round((col("sc2").cast("double") / col("nd") -
            col("mean_c") * col("mean_c")) / col("mean_c"), 6)
            .as("burstiness"))
        .orderBy(col("freq").desc, col("w"))
        .limit(20)
    },
    // RAKE keyphrase extraction (Rose, Engel, Cramer & Cowley 2010,
    // "Automatic Keyword Extraction from Individual Documents") — the
    // classic unsupervised keyphrase scorer: candidate phrases are the
    // maximal stopword-free word runs; each word scores deg/freq where
    // freq counts its phrase occurrences and deg sums the lengths of
    // the phrases containing it (favoring words that live in long
    // collocations); a phrase scores the sum of its member word scores.
    // Output: the corpus top-15 phrases with occurrence counts — the
    // keyterm table an indexing/labeling pipeline feeds from.
    //
    // Scale shape: word explode → per-doc boundary window (the CDC/
    // winnowing cost class) → phrase-member rows; word stats collapse
    // to the vocabulary (catalog-bounded, broadcast back); the phrase
    // table groups once on the raw phrase string; top-15 is
    // TakeOrderedAndProject. Nothing pairwise. Determinism: integer
    // deg/freq, one 6dp division per word, member scores summed as
    // exact decimals, rank on the rounded score with the phrase text
    // as tie-break.
    "text_rake_keyphrases" -> { (s, dir) =>
      val stops = Seq("the", "a", "of", "and", "to", "in", "is", "on",
        "for", "with", "as", "by", "at", "an", "or")
      val wB = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val wP = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"), col("pid"))
      val members = documents(s, dir)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
        .filter(length(col("w")) > 0)
        .withColumn("is_stop", col("w").isin(stops: _*))
        .withColumn("pid", coalesce(
          sum(when(col("is_stop"), 1L).otherwise(0L)).over(wB), lit(0L)))
        .filter(!col("is_stop"))
        .withColumn("plen", count(lit(1)).over(wP))
        .localCheckpoint()
      val wordScores = members.groupBy(col("w"))
        .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
        .withColumn("ws",
          round(col("deg").cast("double") / col("freq"), 6))
        .select(col("w"), col("ws"))
      val phrases = members
        .join(broadcast(wordScores), Seq("w"))
        .groupBy(col("doc_id"), col("pid"))
        .agg(concat_ws(" ", transform(
            sort_array(collect_list(struct(col("pos"), col("w")))),
            x => x.getField("w"))).as("phrase"),
          round(sum(graft.operators.DetMean.el10(col("ws")))
            .cast("double"), 6).as("score"))
      phrases.groupBy(col("phrase"))
        .agg(count(lit(1)).as("n_occ"), max(col("score")).as("score"))
        .orderBy(col("score").desc, col("phrase"))
        .limit(15)
        .select(col("phrase"), col("n_occ"), col("score"))
    })

  /** The logistic classifier score of one text column — shared with
    * [[DedupOps]]'s `dedup_keep_best` (cluster representative = highest
    * classifier score) so the quality gate and the dedup survivor rule
    * are literally the same model. Distinct from [[qualityScore]], the
    * simpler 3-feature streaming gate. */
  private[operators] def classifierScore(text: Column): Column = {
    val t = tokens(text).cast("double")
    val fLen = least(t / 100.0, lit(1.0))
    val awl = (length(text) - t + 1) / t
    val fWl = greatest(lit(0.0), lit(1.0) - abs(awl - 5.0) / 5.0)
    val fStop = least(occurrences(text, "the").cast("double") /
      greatest(t, lit(1.0)) * 10.0, lit(1.0))
    val fRep = size(array_distinct(split(text, " "))).cast("double") / t
    val fNum = (length(text) -
        length(regexp_replace(text, "[0-9]", ""))).cast("double") /
      greatest(length(text), lit(1)).cast("double")
    val z = round(lit(QW.b) + fLen * QW.wLen + fWl * QW.wWl +
      fStop * QW.wStop + fRep * QW.wRep - fNum * QW.wNum, 6)
    round(lit(1.0) / (lit(1.0) + exp(-z)), 6)
  }

  /** Quality-classifier weights, shared by the Spark query and the DuckDB
    * oracle so both fold the same literals. */
  private object QW {
    val b = -3.5
    val wLen = 2.0; val wWl = 1.5; val wStop = 2.5; val wRep = 2.0
    val wNum = 1.0
  }

  /** BM25 scoring constants + query-term set, shared between the Spark
    * query and the generated DuckDB oracle so both fold identically. */
  object BM25 {
    val terms = Seq("spark", "vector", "stream")
    val k1 = 1.2
    val b = 0.75
  }

  /** The 6dp-rounded per-doc BM25 score stream `(doc_id, score)` — corpus
    * scan × broadcast one-row stats, shared by `text_bm25` and the hybrid
    * RRF fusion in [[SimilarityOps]]. */
  private[operators] def bm25Scored(s: SparkSession, dir: String): DataFrame = {
    val terms = BM25.terms
    val docs = documents(s, dir).select(col("doc_id"), col("text"),
      tokens(col("text")).as("dl"))
    val dfCols = terms.map(t =>
      sum(when(occurrences(col("text"), t) > 0, 1.0).otherwise(0.0)).as(s"df_$t"))
    val stats = docs.agg(count(lit(1)).as("n"),
      (avg(col("dl")).as("avgdl") +: dfCols): _*)
    val score = terms.map { t =>
      val tf = occurrences(col("text"), t)
      val idf = log((col("n") - col(s"df_$t") + 0.5) / (col(s"df_$t") + 0.5) + 1.0)
      idf * (tf * (BM25.k1 + 1.0)) /
        (tf + lit(BM25.k1) * (lit(1.0) - BM25.b + lit(BM25.b) * col("dl") / col("avgdl")))
    }.reduce(_ + _)
    docs.crossJoin(broadcast(stats))
      .select(col("doc_id"), round(score, 6).as("score"))
  }

  /** The DuckDB CTE chain ending in `scored(doc_id, score)` replaying
    * [[bm25Scored]] — prefix it with `WITH `. */
  private[operators] def bm25ScoredCtes: String = {
    val dfSelects = BM25.terms.map(t =>
      s"SUM(CASE WHEN (${occursSql(t)}) > 0 THEN 1.0 ELSE 0.0 END) AS df_$t").mkString(",\n    ")
    val scoreSql = BM25.terms.map { t =>
      val tf = s"(${occursSql(t)})"
      val idf = s"ln((n - df_$t + 0.5) / (df_$t + 0.5) + 1.0)"
      s"$idf * ($tf * ${BM25.k1 + 1.0}) / ($tf + ${BM25.k1} * (1.0 - ${BM25.b} + ${BM25.b} * dl / avgdl))"
    }.mkString(" + ")
    s"""d AS (SELECT doc_id, text, len(string_split(text, ' ')) AS dl FROM documents),
       |stats AS (
       |  SELECT COUNT(*) AS n, AVG(dl) AS avgdl,
       |    $dfSelects
       |  FROM d),
       |scored AS (
       |  SELECT doc_id, ROUND($scoreSql, 6) AS score
       |  FROM d CROSS JOIN stats)""".stripMargin
  }

  private def bm25Oracle: String =
    s"""WITH $bm25ScoredCtes
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
       |       doc_id, score
       |FROM scored
       |ORDER BY score DESC, doc_id
       |LIMIT 15""".stripMargin

  val oracles: Map[String, String] = Map(
    "text_burstiness" ->
      """WITH nd AS (SELECT COUNT(*) AS nd FROM documents),
        |wd AS (
        |  SELECT w, doc_id, COUNT(*) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |        FROM documents)
        |  WHERE len(w) > 0
        |  GROUP BY w, doc_id),
        |m AS (
        |  SELECT w, CAST(SUM(c) AS BIGINT) AS freq,
        |    CAST(SUM(c * c) AS BIGINT) AS sc2,
        |    COUNT(*) AS n_docs
        |  FROM wd GROUP BY w),
        |k AS (
        |  SELECT w, freq, n_docs, nd.nd,
        |    ROUND(CAST(freq AS DOUBLE) / nd.nd, 10) AS mean_c, sc2
        |  FROM m, nd)
        |SELECT w, freq, n_docs,
        |  ROUND(mean_c, 6) AS mean_count,
        |  ROUND((CAST(sc2 AS DOUBLE) / nd - mean_c * mean_c) / mean_c, 6)
        |    AS burstiness
        |FROM k
        |ORDER BY freq DESC, w
        |LIMIT 20""".stripMargin,
    "text_rake_keyphrases" ->
      """WITH wp AS (
        |  SELECT doc_id, i AS pos, ws[i] AS w
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws
        |        FROM documents) d,
        |    unnest(range(1, len(ws) + 1)) AS t(i)
        |  WHERE len(ws[i]) > 0),
        |mk AS (
        |  SELECT doc_id, pos, w,
        |    w IN ('the','a','of','and','to','in','is','on','for','with',
        |          'as','by','at','an','or') AS is_stop
        |  FROM wp),
        |ph AS (
        |  SELECT doc_id, pos, w, is_stop,
        |    COALESCE(SUM(CASE WHEN is_stop THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0) AS pid
        |  FROM mk),
        |mem AS (
        |  SELECT doc_id, pid, pos, w,
        |    COUNT(*) OVER (PARTITION BY doc_id, pid) AS plen
        |  FROM ph WHERE NOT is_stop),
        |wsc AS (
        |  SELECT w,
        |    ROUND(CAST(CAST(SUM(plen) AS BIGINT) AS DOUBLE) / COUNT(*), 6)
        |      AS ws
        |  FROM mem GROUP BY w),
        |phr AS (
        |  SELECT m.doc_id, m.pid,
        |    string_agg(m.w, ' ' ORDER BY m.pos) AS phrase,
        |    ROUND(CAST(SUM(CAST(ROUND(s.ws, 10) AS DECIMAL(28,10)))
        |      AS DOUBLE), 6) AS score
        |  FROM mem m JOIN wsc s ON s.w = m.w
        |  GROUP BY m.doc_id, m.pid)
        |SELECT phrase, COUNT(*) AS n_occ, MAX(score) AS score
        |FROM phr
        |GROUP BY phrase
        |ORDER BY score DESC, phrase
        |LIMIT 15""".stripMargin,
    "text_char_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
        |counts AS (SELECT doc_id, ch, COUNT(*) AS c FROM ch GROUP BY 1, 2),
        |wt AS (SELECT doc_id, c, SUM(c) OVER (PARTITION BY doc_id) AS n FROM counts),
        |t AS (
        |  SELECT doc_id, n,
        |    ROUND((CAST(c AS DOUBLE) / n) * log2(CAST(c AS DOUBLE) / n), 6) AS term
        |  FROM wt)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
        |  ROUND(CAST(-SUM(CAST(term AS DECIMAL(18,6))) AS DOUBLE), 6) AS entropy_bits
        |FROM t GROUP BY doc_id, n
        |ORDER BY entropy_bits, doc_id
        |LIMIT 40""".stripMargin,
    "text_normalize" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    '  ' || upper(text) || ' ' || chr(7) || chr(9) || ' '
        |      || text || '  ' AS dirty
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, dirty,
        |    trim(regexp_replace(regexp_replace(lower(dirty),
        |      '[^ -~]', '', 'g'), ' +', ' ', 'g')) AS norm
        |  FROM d)
        |SELECT doc_id,
        |  CAST(length(dirty) AS BIGINT) AS len_dirty,
        |  CAST(length(norm) AS BIGINT) AS len_norm,
        |  md5(norm) AS norm_md5
        |FROM n
        |ORDER BY doc_id""".stripMargin,
    "text_pii_redact" ->
      s"""WITH d AS (
         |  SELECT lang,
         |    text
         |    || CASE WHEN doc_id % 3 = 0 THEN ' call '
         |         || lpad(CAST(doc_id*7 % 100 AS VARCHAR), 2, '0') || '-'
         |         || lpad(CAST(doc_id*13 % 1000 AS VARCHAR), 3, '0') || '-'
         |         || lpad(CAST(doc_id*31 % 1000 AS VARCHAR), 3, '0') || '-'
         |         || lpad(CAST(doc_id*97 % 10000 AS VARCHAR), 4, '0')
         |       ELSE '' END
         |    || CASE WHEN doc_id % 4 = 0 THEN ' mail user'
         |         || CAST(doc_id AS VARCHAR) || '@mail.example' ELSE '' END
         |    || CASE WHEN doc_id % 5 = 0 THEN ' host 10.'
         |         || CAST(doc_id % 256 AS VARCHAR) || '.'
         |         || CAST(doc_id*3 % 256 AS VARCHAR) || '.'
         |         || CAST(doc_id*7 % 256 AS VARCHAR) ELSE '' END AS txt
         |  FROM documents),
         |r AS (
         |  SELECT lang,
         |    len(regexp_extract_all(txt, '$PhonePat')) AS np,
         |    len(regexp_extract_all(txt, '$EmailPat')) AS ne,
         |    len(regexp_extract_all(txt, '$IpPat')) AS ni,
         |    length(txt) - length(regexp_replace(regexp_replace(regexp_replace(
         |      txt, '$PhonePat', '[PHONE]', 'g'),
         |      '$EmailPat', '[EMAIL]', 'g'),
         |      '$IpPat', '[IP]', 'g')) AS delta
         |  FROM d)
         |SELECT lang, COUNT(*) AS n_docs,
         |  CAST(SUM(np) AS BIGINT) AS n_phones,
         |  CAST(SUM(ne) AS BIGINT) AS n_emails,
         |  CAST(SUM(ni) AS BIGINT) AS n_ips,
         |  CAST(SUM(CASE WHEN np + ne + ni = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
         |  CAST(SUM(delta) AS BIGINT) AS chars_redacted
         |FROM r
         |GROUP BY lang
         |ORDER BY lang""".stripMargin,
    "text_bm25" -> bm25Oracle,
    "text_perplexity" ->
      """WITH grams AS (
        |  SELECT doc_id, w[i] AS w1, w[i+1] AS w2
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |        WHERE len(string_split(text, ' ')) >= 2) d,
        |       unnest(range(1, len(w))) AS t(i)),
        |big AS (SELECT w1, w2, COUNT(*) AS c12 FROM grams GROUP BY w1, w2),
        |uni AS (SELECT w1, COUNT(*) AS c1 FROM grams GROUP BY w1)
        |SELECT doc_id,
        |  ROUND(SUM(CAST(ROUND(ln(c1) - ln(c12), 6) AS DECIMAL(18,6))) * 1.0
        |        / COUNT(*), 6) AS ce
        |FROM grams JOIN big USING (w1, w2) JOIN uni USING (w1)
        |GROUP BY doc_id
        |ORDER BY ce DESC, doc_id
        |LIMIT 10""".stripMargin,
    "text_kneser_ney" ->
      """WITH grams AS (
        |  SELECT doc_id, w[i] AS w1, w[i+1] AS w2
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |        WHERE len(string_split(text, ' ')) >= 2) d,
        |       unnest(range(1, len(w))) AS t(i)),
        |big AS (SELECT w1, w2, COUNT(*) AS c12 FROM grams GROUP BY w1, w2),
        |uni AS (SELECT w1, COUNT(*) AS c1, COUNT(DISTINCT w2) AS n1f
        |        FROM grams GROUP BY w1),
        |back AS (SELECT w2, COUNT(DISTINCT w1) AS n1b FROM grams GROUP BY w2),
        |btot AS (SELECT COUNT(*) AS bb FROM big)
        |SELECT doc_id,
        |  ROUND(SUM(CAST(ROUND(
        |      ln(4 * c1 * bb) - ln((4 * c12 - 3) * bb + 3 * n1f * n1b),
        |      10) AS DECIMAL(28,10))) * 1.0 / COUNT(*), 6) AS kn_ce
        |FROM grams JOIN big USING (w1, w2) JOIN uni USING (w1)
        |  JOIN back USING (w2) CROSS JOIN btot
        |GROUP BY doc_id
        |ORDER BY kn_ce DESC, doc_id
        |LIMIT 10""".stripMargin,
    "text_tfidf" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |dfreq AS (
        |  SELECT word, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY word),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |tf AS (
        |  SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM w WHERE doc_id < 50 GROUP BY doc_id, word),
        |scored AS (
        |  SELECT doc_id, word, tf,
        |    ROUND(tf * ROUND(ln(CAST((SELECT n FROM n) AS DOUBLE) / df), 6), 6) AS tfidf
        |  FROM tf JOIN dfreq USING (word)),
        |rk AS (
        |  SELECT doc_id, word, tf, tfidf,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY tfidf DESC, word) AS BIGINT) AS rk
        |  FROM scored)
        |SELECT doc_id, rk, word, tf, tfidf
        |FROM rk WHERE rk <= 5
        |ORDER BY doc_id, rk""".stripMargin,
    "text_sql_entry" ->
      """WITH d AS (
        |  SELECT lang, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |g AS (
        |  SELECT lang, w[i] || ' ' || w[i+1] AS gram
        |  FROM (SELECT lang, w, unnest(range(1, len(w))) AS i FROM d)),
        |r AS (
        |  SELECT lang, gram, CAST(COUNT(*) AS BIGINT) AS n,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY COUNT(*) DESC, gram) AS rk
        |  FROM g GROUP BY lang, gram)
        |SELECT lang, gram AS top_bigram, n
        |FROM r WHERE rk = 1
        |ORDER BY lang""".stripMargin,
    "text_ngram_gen" ->
      """WITH d AS (
        |  SELECT string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |g AS (
        |  SELECT w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
        |  FROM (SELECT w, unnest(range(1, len(w) - 1)) AS i FROM d))
        |SELECT gram, COUNT(*) AS n
        |FROM g
        |GROUP BY gram
        |ORDER BY n DESC, gram
        |LIMIT 20""".stripMargin,
    "text_readability" ->
      """WITH d AS (
        |  SELECT lang,
        |    ROUND(206.835
        |      - 1.015 * (CAST(len(string_split(text, ' ')) AS DOUBLE)
        |                 / CAST(len(regexp_extract_all(text, '[.!?]')) + 1 AS DOUBLE))
        |      - 84.6 * (CAST(len(regexp_extract_all(text, '[aeiouAEIOU]+')) AS DOUBLE)
        |                / CAST(len(string_split(text, ' ')) AS DOUBLE)), 6) AS sc
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n_docs,
        |  ROUND(CAST(SUM(CAST(ROUND(sc, 10) AS DECIMAL(28,10))) AS DOUBLE)
        |    / COUNT(*), 6) AS avg_flesch,
        |  ROUND(MIN(sc), 6) AS min_flesch,
        |  ROUND(MAX(sc), 6) AS max_flesch
        |FROM d
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,
    "text_heaps_law" ->
      """WITH toks AS (
        |  -- single-unnest indexed tokenizer: pos comes from ONE unnest
        |  -- and word is an explicit w[pos] subscript, so the pairing is
        |  -- structural, not an engine-version-sensitive positional zip
        |  -- of two parallel unnests (VERDICT r13 task #1b)
        |  SELECT doc_id, pos, w[pos] AS word FROM (
        |    SELECT doc_id, w, unnest(generate_series(1, len(w))) AS pos
        |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))
        |  WHERE length(w[pos]) > 0),
        |perdoc AS (SELECT doc_id, COUNT(*) AS ntok FROM toks GROUP BY doc_id),
        |offs AS (
        |  SELECT doc_id,
        |    COALESCE(SUM(ntok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM perdoc),
        |gidx AS (
        |  SELECT t.word, o.off + ROW_NUMBER() OVER (
        |    PARTITION BY t.doc_id ORDER BY t.pos) AS gidx
        |  FROM toks t JOIN offs o ON o.doc_id = t.doc_id),
        |fw AS (SELECT word, MIN(gidx) AS fidx FROM gidx GROUP BY word),
        |tot AS (SELECT SUM(ntok) AS total FROM perdoc),
        |cps AS (
        |  -- CAST: DuckDB SUM(BIGINT) is HUGEINT and // keeps it; an
        |  -- uncast HUGEINT column converts to DOUBLE in the driver's
        |  -- pandas/arrow hash frame ('54.0' vs Spark's '54') — the
        |  -- r12/r13 hash-gate failure, found by replicating the
        |  -- driver's string-frame compare (SCALE.md round-14 note)
        |  SELECT j, CAST(total // (CAST(1 AS BIGINT) << (10 - j)) AS BIGINT)
        |    AS n_tokens
        |  FROM tot, (SELECT unnest(generate_series(1, 10)) AS j)),
        |curve AS (
        |  SELECT c.j, c.n_tokens, COUNT(*) AS vocab
        |  FROM fw, cps c WHERE fw.fidx <= c.n_tokens
        |  GROUP BY c.j, c.n_tokens),
        |xy AS (
        |  SELECT j, n_tokens, vocab,
        |    CAST(CAST(ROUND(ln(n_tokens), 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS x6,
        |    CAST(CAST(ROUND(ln(vocab), 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS y6
        |  FROM curve),
        |a AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x6) AS BIGINT) AS sx6, CAST(SUM(y6) AS BIGINT) AS sy6,
        |    CAST(SUM(x6 * y6) AS BIGINT) AS sxy12,
        |    CAST(SUM(x6 * x6) AS BIGINT) AS sx212
        |  FROM xy)
        |SELECT CAST(j AS BIGINT) AS j, n_tokens, vocab,
        |  ROUND(CAST(n * sxy12 - sx6 * sy6 AS DOUBLE)
        |    / CAST(n * sx212 - sx6 * sx6 AS DOUBLE), 6) AS heaps_beta
        |FROM xy, a
        |ORDER BY j""".stripMargin,
    "text_heaps_law_probe" ->
      """WITH toks AS (
        |  SELECT doc_id, pos, w[pos] AS word FROM (
        |    SELECT doc_id, w, unnest(generate_series(1, len(w))) AS pos
        |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))
        |  WHERE length(w[pos]) > 0),
        |perdoc AS (SELECT doc_id, COUNT(*) AS ntok FROM toks GROUP BY doc_id),
        |offs AS (
        |  SELECT doc_id,
        |    COALESCE(SUM(ntok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM perdoc),
        |gidx AS (
        |  SELECT t.word, o.off + ROW_NUMBER() OVER (
        |    PARTITION BY t.doc_id ORDER BY t.pos) AS gidx
        |  FROM toks t JOIN offs o ON o.doc_id = t.doc_id),
        |fw AS (SELECT word, MIN(gidx) AS fidx FROM gidx GROUP BY word),
        |tot AS (SELECT CAST(SUM(ntok) AS BIGINT) AS total FROM perdoc),
        |cps AS (
        |  SELECT j, total,
        |    CAST(total // (CAST(1 AS BIGINT) << (10 - j)) AS BIGINT)
        |      AS n_tokens
        |  FROM tot, (SELECT unnest(generate_series(1, 10)) AS j)),
        |curve AS (
        |  SELECT c.j, c.n_tokens, c.total, COUNT(*) AS vocab
        |  FROM fw, cps c WHERE fw.fidx <= c.n_tokens
        |  GROUP BY c.j, c.n_tokens, c.total),
        |xy AS (
        |  SELECT j, n_tokens, total, vocab,
        |    CAST(CAST(ROUND(ln(n_tokens), 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS x6,
        |    CAST(CAST(ROUND(ln(vocab), 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS y6
        |  FROM curve),
        |a AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_pts,
        |    CAST(SUM(x6) AS BIGINT) AS sx6, CAST(SUM(y6) AS BIGINT) AS sy6,
        |    CAST(SUM(x6 * y6) AS BIGINT) AS sxy12,
        |    CAST(SUM(x6 * x6) AS BIGINT) AS sx212
        |  FROM xy)
        |SELECT CAST(j AS BIGINT) AS j, n_tokens, total, vocab, x6, y6,
        |  n_pts, sx6, sy6, sxy12, sx212
        |FROM xy, a
        |ORDER BY j""".stripMargin,
    "text_rep_ngrams" ->
      """WITH d AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |t AS (
        |  SELECT doc_id, lang,
        |    list_transform(generate_series(1, len(w) - 2),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS tri
        |  FROM d)
        |SELECT doc_id, lang,
        |  CAST(len(tri) AS BIGINT) AS n_grams,
        |  CAST(len(list_distinct(tri)) AS BIGINT) AS n_distinct,
        |  ROUND(1.0 - CAST(len(list_distinct(tri)) AS DOUBLE) / len(tri), 6)
        |    AS rep3
        |FROM t
        |ORDER BY rep3 DESC, doc_id
        |LIMIT 15""".stripMargin,
    "text_good_turing" ->
      """WITH d AS (
        |  SELECT string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |wc AS (
        |  SELECT word, COUNT(*) AS r FROM (
        |    SELECT unnest(list_transform(generate_series(1, len(w) - 2),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS word
        |    FROM d)
        |  GROUP BY word),
        |cc AS (SELECT r, COUNT(*) AS n_r FROM wc GROUP BY r),
        |tot AS (
        |  SELECT CAST(SUM(r * n_r) AS BIGINT) AS n_tokens,
        |    CAST(SUM(CASE WHEN r = 1 THEN n_r ELSE 0 END) AS BIGINT) AS n1
        |  FROM cc)
        |SELECT cc.r, CAST(cc.n_r AS BIGINT) AS n_r,
        |  CAST(COALESCE(n2.n_r, 0) AS BIGINT) AS n_r_next,
        |  ROUND(CAST((cc.r + 1) * COALESCE(n2.n_r, 0) AS DOUBLE) / cc.n_r, 6)
        |    AS r_star,
        |  ROUND(CAST(t.n1 AS DOUBLE) / t.n_tokens, 6) AS p0
        |FROM cc LEFT JOIN cc n2 ON n2.r = cc.r + 1, tot t
        |WHERE cc.r <= 10
        |ORDER BY cc.r""".stripMargin,
    "text_msttr" ->
      """WITH d AS (
        |  SELECT lang, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 25),
        |seg AS (
        |  SELECT lang,
        |    ROUND(list_sum(list_transform(generate_series(1, len(w) // 25),
        |      k -> ROUND(len(list_distinct(w[(k-1)*25+1 : (k-1)*25+25]))
        |        / 25.0, 6))) / (len(w) // 25), 6) AS msttr
        |  FROM d)
        |SELECT lang, COUNT(*) AS n_docs,
        |  ROUND(CAST(SUM(CAST(ROUND(msttr, 10) AS DECIMAL(28,10)))
        |    AS DOUBLE) / COUNT(*), 6) AS avg_msttr,
        |  ROUND(MIN(msttr), 6) AS min_msttr
        |FROM seg GROUP BY lang
        |ORDER BY lang""".stripMargin,
    "text_burrows_delta" ->
      """WITH sw AS (
        |  SELECT source, word, COUNT(*) AS c FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS word
        |    FROM documents)
        |  GROUP BY source, word),
        |stot AS (
        |  SELECT source, CAST(SUM(c) AS BIGINT) AS t FROM sw GROUP BY source),
        |top AS (
        |  SELECT word FROM (
        |    SELECT word, SUM(c) AS cc FROM sw GROUP BY word
        |    ORDER BY cc DESC, word LIMIT 30)),
        |f AS (
        |  SELECT g.source, g.word,
        |    ROUND(COALESCE(sw.c, 0) * 1.0 / g.t, 10) AS f
        |  FROM (SELECT s.source, s.t, tp.word FROM stot s, top tp) g
        |  LEFT JOIN sw ON sw.source = g.source AND sw.word = g.word),
        |ws AS (
        |  SELECT word, COUNT(*) AS ns,
        |    CAST(SUM(CAST(ROUND(f, 10) AS DECIMAL(28,10))) AS DOUBLE) AS sf,
        |    CAST(SUM(CAST(f AS DECIMAL(12,10)) * CAST(f AS DECIMAL(12,10)))
        |      AS DOUBLE) AS sff
        |  FROM f GROUP BY word),
        |ms AS (
        |  SELECT word, ROUND(sf / ns, 10) AS mu,
        |    ROUND(sqrt(GREATEST(0.0, sff / ns
        |      - ROUND(sf / ns, 10) * ROUND(sf / ns, 10))), 10) AS sd
        |  FROM ws),
        |z AS (
        |  SELECT f.source, f.word,
        |    CASE WHEN m.sd > 0 THEN ROUND((f.f - m.mu) / m.sd, 10)
        |         ELSE 0.0 END AS z
        |  FROM f JOIN ms m ON f.word = m.word),
        |p AS (
        |  SELECT a.source AS s1, b.source AS s2,
        |    CAST(ROUND(abs(a.z - b.z), 10) AS DECIMAL(28,10)) AS term
        |  FROM z a JOIN z b ON a.word = b.word AND a.source < b.source)
        |SELECT s1, s2,
        |  ROUND(CAST(SUM(term) AS DOUBLE) / COUNT(*), 6) AS delta
        |FROM p GROUP BY s1, s2
        |ORDER BY delta, s1, s2
        |LIMIT 10""".stripMargin,
    "text_js_divergence" ->
      """WITH lw AS (
        |  SELECT lang, word, COUNT(*) AS c FROM (
        |    SELECT lang, unnest(string_split(text, ' ')) AS word
        |    FROM documents)
        |  GROUP BY lang, word),
        |lt AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS t FROM lw GROUP BY lang),
        |fr AS (
        |  SELECT lw.lang, lw.word, ROUND(lw.c * 1.0 / lt.t, 10) AS p
        |  FROM lw JOIN lt ON lw.lang = lt.lang),
        |grid AS (
        |  SELECT a.lang AS l1, b.lang AS l2 FROM lt a, lt b
        |  WHERE a.lang < b.lang),
        |words AS (SELECT DISTINCT word FROM lw),
        |wp AS (
        |  SELECT g.l1, g.l2,
        |    COALESCE(f1.p, 0.0) AS p, COALESCE(f2.p, 0.0) AS q
        |  FROM words w CROSS JOIN grid g
        |  LEFT JOIN fr f1 ON f1.lang = g.l1 AND f1.word = w.word
        |  LEFT JOIN fr f2 ON f2.lang = g.l2 AND f2.word = w.word
        |  WHERE COALESCE(f1.p, 0.0) > 0 OR COALESCE(f2.p, 0.0) > 0),
        |terms AS (
        |  SELECT l1, l2,
        |    ROUND(CASE WHEN p > 0
        |        THEN p * ln(2.0 * p / (p + q)) ELSE 0.0 END +
        |      CASE WHEN q > 0
        |        THEN q * ln(2.0 * q / (p + q)) ELSE 0.0 END, 10) AS term
        |  FROM wp)
        |SELECT l1, l2, COUNT(*) AS n_words,
        |  ROUND(0.5 * CAST(SUM(CAST(term AS DECIMAL(28,10))) AS DOUBLE), 6)
        |    AS jsd
        |FROM terms
        |GROUP BY l1, l2
        |ORDER BY l1, l2""".stripMargin,
    "text_zipf_slope" ->
      """WITH top AS (
        |  SELECT word, freq,
        |    ROW_NUMBER() OVER (ORDER BY freq DESC, word) AS rk
        |  FROM (SELECT word, COUNT(*) AS freq
        |        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |        GROUP BY word
        |        ORDER BY freq DESC, word
        |        LIMIT 100)),
        |xy AS (
        |  SELECT
        |    CAST(CAST(ROUND(ln(rk), 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS x6,
        |    CAST(CAST(ROUND(ln(freq), 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS y6
        |  FROM top),
        |a AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x6) AS BIGINT) AS sx6, CAST(SUM(y6) AS BIGINT) AS sy6,
        |    CAST(SUM(x6 * y6) AS BIGINT) AS sxy12,
        |    CAST(SUM(x6 * x6) AS BIGINT) AS sx212
        |  FROM xy)
        |SELECT n,
        |  ROUND(CAST(n * sxy12 - sx6 * sy6 AS DOUBLE)
        |    / CAST(n * sx212 - sx6 * sx6 AS DOUBLE), 6) AS zipf_slope,
        |  ROUND((CAST(sy6 AS DOUBLE) - ROUND(CAST(n * sxy12 - sx6 * sy6 AS DOUBLE)
        |      / CAST(n * sx212 - sx6 * sx6 AS DOUBLE), 6) * CAST(sx6 AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * 1e6), 6) AS intercept
        |FROM a""".stripMargin,
    "text_pmi_bigrams" ->
      """WITH grams AS (
        |  SELECT w[i] AS w1, w[i+1] AS w2
        |  FROM (SELECT string_split(text, ' ') AS w FROM documents
        |        WHERE len(string_split(text, ' ')) >= 2) d,
        |       unnest(range(1, len(w))) AS t(i)),
        |uni AS (
        |  SELECT word, COUNT(*) AS c
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  GROUP BY word),
        |ntok AS (
        |  SELECT CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ntok
        |  FROM documents),
        |pc AS (
        |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
        |  FROM grams GROUP BY w1, w2 HAVING COUNT(*) >= 5)
        |SELECT w1, w2, c12,
        |  ROUND(ln((CAST(c12 AS DOUBLE) * (SELECT ntok FROM ntok)) /
        |    (CAST(u1.c AS DOUBLE) * u2.c)), 6) AS pmi
        |FROM pc
        |JOIN uni u1 ON u1.word = w1
        |JOIN uni u2 ON u2.word = w2
        |ORDER BY pmi DESC, w1, w2
        |LIMIT 20""".stripMargin,
    "text_token_stats" ->
      """SELECT lang, source, COUNT(*) AS n_docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |  ROUND(AVG(len(string_split(text, ' '))), 6) AS avg_tokens,
        |  ROUND(AVG(n_chars), 6) AS avg_chars
        |FROM documents
        |GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin,
    "text_bpe_tokens" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+'))) AS BIGINT) AS word_tokens,
        |  CAST(SUM(len(regexp_extract_all(text, '[0-9]+'))) AS BIGINT) AS num_tokens,
        |  CAST(SUM(len(regexp_extract_all(text, '[^A-Za-z0-9 ]'))) AS BIGINT) AS punct_tokens,
        |  CAST(SUM(COALESCE(list_sum(list_transform(regexp_extract_all(text, '[A-Za-z]+'),
        |    w -> CAST(ceil(len(w) / 4.0) AS BIGINT))), 0)) AS BIGINT) AS bpe_tokens
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,
    "text_bpe_merges" ->
      """WITH vocab AS (
        |  SELECT word, COUNT(*) AS wc FROM (
        |    SELECT unnest(string_split(text, ' ')) AS word FROM documents) w
        |  GROUP BY word),
        |pairs AS (
        |  SELECT pair, CAST(SUM(wc) AS BIGINT) AS n FROM (
        |    SELECT wc, unnest(list_transform(range(1, length(word)),
        |      i -> word[i] || word[i+1])) AS pair
        |    FROM vocab WHERE length(word) >= 2) p
        |  GROUP BY pair),
        |ranked AS (
        |  SELECT ROW_NUMBER() OVER (ORDER BY n DESC, pair) AS rk, pair, n
        |  FROM pairs)
        |SELECT rk, pair, n FROM ranked WHERE rk <= 20
        |ORDER BY rk""".stripMargin,
    // round 2: apply the round-1 winner (scalar subquery) to the vocab
    // via greedy left-to-right replace with a chr(1) sentinel, count
    // pairs over the re-symbolized words, decode sentinel to <xy>
    "text_bpe_merges2" ->
      """WITH vocab AS (
        |  SELECT word, COUNT(*) AS wc FROM (
        |    SELECT unnest(string_split(text, ' ')) AS word FROM documents) w
        |  GROUP BY word),
        |pairs1 AS (
        |  SELECT pair, CAST(SUM(wc) AS BIGINT) AS n FROM (
        |    SELECT wc, unnest(list_transform(range(1, length(word)),
        |      i -> word[i] || word[i+1])) AS pair
        |    FROM vocab WHERE length(word) >= 2) p
        |  GROUP BY pair),
        |top1 AS (SELECT pair AS m FROM pairs1 ORDER BY n DESC, pair LIMIT 1),
        |re AS (
        |  SELECT wc, (SELECT m FROM top1) AS m,
        |    replace(word, (SELECT m FROM top1), chr(1)) AS w2
        |  FROM vocab),
        |pairs2 AS (
        |  SELECT replace(raw, chr(1), '<' || m || '>') AS pair,
        |    CAST(SUM(wc) AS BIGINT) AS n FROM (
        |    SELECT wc, m, unnest(list_transform(range(1, length(w2)),
        |      i -> w2[i] || w2[i+1])) AS raw
        |    FROM re WHERE length(w2) >= 2) p
        |  GROUP BY 1),
        |ranked AS (
        |  SELECT ROW_NUMBER() OVER (ORDER BY n DESC, pair) AS rk, pair, n
        |  FROM pairs2)
        |SELECT rk, pair, n FROM ranked WHERE rk <= 20
        |ORDER BY rk""".stripMargin,
    "text_quality" ->
      s"""SELECT ROUND($qualityScoreSql, 1) AS quality_bucket,
         |  COUNT(*) AS n_docs
         |FROM documents
         |GROUP BY 1
         |ORDER BY quality_bucket""".stripMargin,
    "text_langid" -> {
      val (sde, sen, ses, sfr, szh) = (langScoreSql("de"), langScoreSql("en"),
        langScoreSql("es"), langScoreSql("fr"), langScoreSql("zh"))
      s"""SELECT lang, pred_lang, COUNT(*) AS n FROM (
         |  SELECT lang,
         |    CASE WHEN s_de >= greatest(s_en, s_es, s_fr, s_zh) THEN 'de'
         |         WHEN s_en >= greatest(s_es, s_fr, s_zh) THEN 'en'
         |         WHEN s_es >= greatest(s_fr, s_zh) THEN 'es'
         |         WHEN s_fr >= s_zh THEN 'fr'
         |         ELSE 'zh' END AS pred_lang
         |  FROM (SELECT lang, ($sde) AS s_de, ($sen) AS s_en, ($ses) AS s_es,
         |               ($sfr) AS s_fr, ($szh) AS s_zh
         |        FROM documents) scores) t
         |GROUP BY lang, pred_lang
         |ORDER BY lang, pred_lang""".stripMargin
    },
    "text_sample_per_lang" ->
      """SELECT lang, rk, doc_id FROM (
        |  SELECT lang, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rk
        |  FROM documents) t
        |WHERE rk <= 3
        |ORDER BY lang, rk""".stripMargin,
    "text_fingerprint" ->
      """SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT md5(lower(text))) AS n_distinct
        |FROM documents
        |GROUP BY source
        |ORDER BY source""".stripMargin,
    "text_quality_score" ->
      s"""SELECT doc_id, quality_score,
         |  CASE WHEN quality_score >= 0.5 THEN 1 ELSE 0 END AS keep
         |FROM ($classifierScoreSql) ss
         |ORDER BY doc_id""".stripMargin,
    "text_quality_gate" ->
      s"""WITH scored AS (
         |  SELECT lang, $qualityScoreSql AS score FROM documents),
         |thr AS (
         |  SELECT lang AS tl, quantile_cont(score, 0.4) AS thr
         |  FROM scored GROUP BY 1)
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN score >= thr THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_kept,
         |  ROUND(MIN(thr), 6) AS threshold,
         |  ROUND(CAST(SUM(CASE WHEN score >= thr
         |      THEN CAST(ROUND(score, 10) AS DECIMAL(28,10)) END) AS DOUBLE)
         |    / SUM(CASE WHEN score >= thr THEN 1 ELSE 0 END), 6) AS avg_kept
         |FROM scored JOIN thr ON lang = tl
         |GROUP BY lang
         |ORDER BY lang""".stripMargin)

  /** DuckDB replay of [[classifierScore]] — a `SELECT doc_id,
    * quality_score FROM documents`-shaped subquery, shared with
    * [[DedupOps]]'s `dedup_keep_best` oracle. */
  private[operators] def classifierScoreSql: String = {
    val t = "len(string_split(text, ' '))"
    val fLen = s"least($t / 100.0, 1.0)"
    val awl = s"(length(text) - $t + 1) * 1.0 / $t"
    val fWl = s"greatest(0.0, 1.0 - abs($awl - 5.0) / 5.0)"
    val fStop = s"least((${occursSql("the")}) * 1.0 / greatest($t * 1.0, 1.0) * 10.0, 1.0)"
    val fRep = s"len(list_distinct(string_split(text, ' '))) * 1.0 / $t"
    val fNum = "(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0 / greatest(length(text), 1)"
    s"""SELECT doc_id, ROUND(1.0 / (1.0 + exp(-z)), 6) AS quality_score
       |FROM (
       |  SELECT doc_id, ROUND(${QW.b} + ($fLen) * ${QW.wLen} + ($fWl) * ${QW.wWl}
       |    + ($fStop) * ${QW.wStop} + ($fRep) * ${QW.wRep}
       |    - ($fNum) * ${QW.wNum}, 6) AS z
       |  FROM documents) zs""".stripMargin
  }
}
