package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

class DedupLibSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  /** Corpus with planted near-dups: 1≈2 (one word changed), 3=4 (exact),
    * 5 unrelated. */
  private def docs = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    Seq(
      (1L, base),
      (2L, base.replace("lazy", "sleepy")),
      (3L, "completely different text about spark query engines and shuffles at scale"),
      (4L, "completely different text about spark query engines and shuffles at scale"),
      (5L, "unrelated short document with its own vocabulary entirely disjoint words"))
      .toDF("id", "text")
  }

  test("minhash LSH finds planted near-dups and exact dups, not unrelated docs") {
    val pairs = DedupLib.minhashCandidates(docs, "id", "text", k = 16, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((3L, 4L)), s"exact dup must always band-match: $pairs")
    assert(pairs.contains((1L, 2L)), s"near dup should band-match at 8 bands: $pairs")
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L), s"unrelated doc paired: $pairs")
  }

  test("dedupCorpus keeps one canonical doc per cluster, untouched docs intact") {
    import spark.implicits._
    // transitive cluster {10,11,12} (10≈11, 11≈12), exact pair {20,21},
    // two singletons
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
    val corpus = Seq(
      (10L, base),
      (11L, base.replace("kappa", "KAPPA")),
      (12L, base.replace("kappa", "KAPPA").replace("mu", "MU")),
      (20L, "spark engines shuffle data across the cluster network during wide joins"),
      (21L, "spark engines shuffle data across the cluster network during wide joins"),
      (30L, "completely unrelated text with its own private vocabulary set here"),
      (31L, "another standalone document sharing no trigrams with anything else"))
      .toDF("id", "text")
    // bands=8 (2 rows/band): J≈0.6 near-dups band-match reliably, same
    // recall setting as the candidates test above
    val kept = DedupLib.dedupCorpus(corpus, "id", "text", threshold = 0.5, bands = 8)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(10L, 20L, 30L, 31L), s"kept=$kept")
    // schema preserved
    assert(DedupLib.dedupCorpus(corpus, "id", "text").columns.toSeq == Seq("id", "text"))
  }

  test("jaccard verification scores pairs correctly") {
    val sh = DedupLib.shingles(docs, "id", "text")
    val cands = DedupLib.minhashCandidates(docs, "id", "text", k = 16, bands = 8)
    val verified = DedupLib.verifyJaccard(cands, sh, threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(verified((3L, 4L)) == 1.0) // identical docs
    val nearJ = verified((1L, 2L))
    assert(nearJ > 0.5 && nearJ < 1.0, s"near-dup jaccard $nearJ")
    // threshold filters
    val strict = DedupLib.verifyJaccard(cands, sh, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strict == Set((3L, 4L)))
  }

  test("rowMinhashSig equals the exploded minhashSignatures pipeline") {
    import spark.implicits._
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).limit(50)
    // exploded shape: k min-aggregates, folded with the same final hash
    val sig = DedupLib.minhashSignatures(
      DedupLib.shingles(real, "doc_id", "text"), k = 8)
    val exploded = sig.select(col("doc_id"),
        xxhash64((1 to 8).map(i => col(s"h$i")): _*).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val perRow = real
      .select(col("doc_id"), DedupLib.rowMinhashSig(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getLong(1))).toMap
    exploded.foreach { case (id, s) =>
      assert(perRow(id) == s, s"doc $id: exploded=$s perRow=${perRow(id)}")
    }
    // docs the exploded path drops (too short) are exactly the NULLs
    assert((perRow.keySet -- exploded.keySet).forall(perRow(_) == null))
  }

  test("bloomNewcomers drops all seen keys, passes new and null keys") {
    import spark.implicits._
    val seen = (1L to 500L).map(i => (i, s"doc-$i")).toDF("id", "key")
    val incoming = ((400L to 600L).map(i => (i, s"doc-$i")) :+ (9999L, null))
      .toDF("id", "key")
    val out = DedupLib.bloomNewcomers(seen, incoming, "key",
      expectedItems = 1000, fpp = 0.001)
      .select("id").collect().map(_.getLong(0)).toSet
    // no false negatives: every seen key (400-500) is gone
    assert(out.intersect((400L to 500L).toSet).isEmpty, s"seen key survived: $out")
    // null key passes (never a known duplicate)
    assert(out.contains(9999L))
    // newcomers survive modulo the tiny fpp — at 0.1% over 100 keys,
    // allow at most 2 false-positive drops
    val newcomers = (501L to 600L).toSet
    assert((newcomers -- out).size <= 2, s"too many newcomers dropped: ${newcomers -- out}")
  }

  test("bloomNewcomers matches long keys against string-built filter") {
    import spark.implicits._
    val seen = (1L to 100L).toDF("key")
    val incoming = (50L to 150L).toDF("key")
    val out = DedupLib.bloomNewcomers(seen, incoming, "key", 200, 0.001)
      .collect().map(_.getLong(0)).toSet
    assert(out.intersect((50L to 100L).toSet).isEmpty, "seen long key survived")
    assert((101L to 150L).toSet.subsetOf(out) || ((101L to 150L).toSet -- out).size <= 2)
  }

  test("capShingleDf drops ubiquitous shingles, keeps rare ones, plan stays broadcast") {
    import spark.implicits._
    // "a b c" appears in 4 docs (hot at maxDf=3), "x y z<i>" is unique per doc
    val sh = (1 to 4).flatMap(i => Seq((i.toLong, "a b c"), (i.toLong, s"x y z$i")))
      .toDF("doc_id", "sh")
    val capped = DedupLib.capShingleDf(sh, maxDf = 3)
    val kept = capped.select("sh").as[String].collect().toSet
    assert(!kept.contains("a b c"), "hot shingle must drop")
    assert(kept.size == 4 && kept.forall(_.startsWith("x y z")))
    // the anti-join must be broadcast (no shuffle added to the stream)
    val plan = capped.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast anti-join:\n$plan")
  }

  test("capShingleDf composes with verifyJaccard (column order preserved)") {
    val sh = DedupLib.capShingleDf(DedupLib.shingles(docs, "id", "text"), maxDf = 10)
    assert(sh.columns.toSeq == Seq("doc_id", "sh"), s"order broke: ${sh.columns.toSeq}")
    val cands = DedupLib.minhashCandidates(docs, "id", "text", k = 16, bands = 8)
    val verified = DedupLib.verifyJaccard(cands, sh, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified.contains((3L, 4L)), s"exact dup must verify: $verified")
  }

  test("simhash64: identical docs equal, near-dups close, unrelated far") {
    val sh = DedupLib.simhash64(docs, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(3L) == sh(4L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(2L)) < ham(sh(1L), sh(5L)),
      s"near ${ham(sh(1L), sh(2L))} !< far ${ham(sh(1L), sh(5L))}")
    // column-level hamming agrees with local bitCount
    import spark.implicits._
    val d = Seq((sh(1L), sh(2L))).toDF("a", "b")
      .select(DedupLib.hammingDistance(col("a"), col("b")).as("h"))
      .head().getInt(0)
    assert(d == ham(sh(1L), sh(2L)))
  }

  test("short docs drop from shingling; empty candidate set is fine") {
    import spark.implicits._
    val tiny = Seq((1L, "two words"), (2L, "also tiny")).toDF("id", "text")
    assert(DedupLib.shingles(tiny, "id", "text").count() == 0)
    assert(DedupLib.minhashCandidates(tiny, "id", "text").count() == 0)
    val noBands = Seq.empty[(Long, Int, Long)].toDF("doc_id", "band", "bh")
    assert(DedupLib.candidatePairs(noBands).count() == 0)
  }

  test("arrayPairs: sizes 0, 1, 2 and n give n(n-1)/2 pairs, each once, a < b") {
    import spark.implicits._
    val arrays = Seq(Seq.empty[Long], Seq(7L), Seq(3L, 9L), (1L to 6L).toSeq)
    arrays.foreach { arr =>
      val n = arr.size
      val pairs = DedupLib.arrayPairs(Seq(Tuple1(arr)).toDF("docs"), "docs", "a", "b")
        .as[(Long, Long)].collect().toSeq
      assert(pairs.size == n * (n - 1) / 2, s"n=$n: $pairs")
      assert(pairs.distinct.size == pairs.size, s"n=$n: duplicate pair in $pairs")
      assert(pairs.forall { case (a, b) => a < b }, s"n=$n: unordered pair in $pairs")
      assert(pairs.toSet == arr.combinations(2).map(c => (c(0), c(1))).toSet)
    }
  }

  test("candidatePairs: an all-duplicate corpus pairs every doc once, no self-pair") {
    import spark.implicits._
    val text = "every document in this corpus carries exactly the same words"
    val dup = (1L to 5L).map(i => (i, text)).toDF("id", "text")
    val pairs = DedupLib.minhashCandidates(dup, "id", "text")
      .as[(Long, Long)].collect().toSeq
    assert(pairs.sorted == (for (a <- 1L to 5L; b <- a + 1 to 5L) yield (a, b)),
      s"pairs=$pairs")
  }

  test("adaptiveSignBits: integer-exact, clamped, and keeps expected buckets <= target") {
    // golden points across the fixture scales (target 64, clamp [4,16])
    val golden = Seq(20L -> 4, 200L -> 4, 2000L -> 5, 4000L -> 6,
      8000L -> 7, 16000L -> 8, 64L -> 4, 65L -> 4, 128L -> 4,
      2048L * 64 -> 11, 1L -> 4)
    golden.foreach { case (n, want) =>
      assert(VectorOps.adaptiveSignBits(n) == want, s"n=$n")
    }
    // power-of-two boundary exactness (the float-log2 failure class):
    // n/target landing exactly on 2^k must give k, not k+1
    (1 to 16).foreach { k =>
      val n = 64L << k // m = 2^k exactly
      assert(VectorOps.adaptiveSignBits(n) == math.min(16, math.max(4, k)), s"k=$k")
    }
    // invariant: expected bucket size n / 2^bits <= target (above clamp)
    Seq(5000L, 12345L, 999999L, 12L << 20).foreach { n =>
      val bits = VectorOps.adaptiveSignBits(n)
      if (bits < 16) assert(n.toDouble / (1L << bits) <= 64.0, s"n=$n bits=$bits")
    }
  }
}
