package graft.operators

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite

/** emb_kmeans / emb_pq_error vs driver-side reference computations on the
  * real sf0.001 embeddings (both queries are deterministic: literal seed
  * codebooks + 6dp rounding discipline). */
class SimilarityOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private val dir = "/root/testdata/sf0.001"

  private def r6(x: Double) =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  private def sq(a: Seq[Double], b: Seq[Double]) =
    a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
  private def argmin(cb: Seq[(Long, Seq[Double])], v: Seq[Double]): (Long, Double) =
    cb.map { case (c, cv) => (r6(sq(v, cv)), c) }.min match {
      case (d, c) => (c, d)
    }

  private lazy val vecs: Seq[(Long, Seq[Double])] =
    Tables.embeddings(spark, dir)
      .selectExpr("vec_id", "cast(embedding as array<double>) v")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toSeq

  test("emb_kmeans matches a driver-side two-iteration Lloyd reference") {
    val seeds = vecs.filter(_._1 < 8).sortBy(_._1)
    val a0 = vecs.map { case (id, v) => (id, v, argmin(seeds, v)._1) }
    val cent1 = a0.groupBy(_._3).map { case (c, g) =>
      val dim = g.head._2.size
      c -> (0 until dim).map(i => r6(g.map(_._2(i)).sum / g.size))
    }.toSeq.sortBy(_._1)
    val a1 = a0.map { case (id, v, c0) =>
      val (c1, d) = argmin(cent1, v); (c1, c0 != c1, d)
    }
    val ref = a1.groupBy(_._1).map { case (c, g) =>
      // mirror the query's DetMean discipline: 10dp-rounded distances,
      // exact decimal sum, one division, 6dp — the double-mean form can
      // land one micro away at a rounding boundary
      val s10 = g.map(x => BigDecimal(x._3)
        .setScale(10, BigDecimal.RoundingMode.HALF_UP)).sum
      c -> (g.size.toLong, g.count(_._2).toLong,
        r6(s10.toDouble / g.size))
    }
    val got = SimilarityOps.queries("emb_kmeans")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got.keySet == ref.keySet)
    ref.foreach { case (c, (n, moved, inertia)) =>
      val (gn, gm, gi) = got(c)
      assert(gn == n && gm == moved, s"cluster $c counts")
      assert(math.abs(gi - inertia) < 1e-6, s"cluster $c inertia")
    }
    assert(got.values.map(_._1).sum == vecs.size, "every vector clustered once")
  }

  test("emb_pq_error matches a driver-side subspace-quantization reference") {
    val seeds = vecs.filter(_._1 < 4).sortBy(_._1)
    val ref = (for {
      (id, v) <- vecs
      m <- 1 to 8
      sub = v.slice((m - 1) * 8, m * 8)
      cb = seeds.map { case (c, sv) => (c, sv.slice((m - 1) * 8, m * 8)) }
      (code, d) = argmin(cb, sub)
    } yield ((m.toLong, code), d))
      .groupBy(_._1).map { case (k, g) =>
        k -> ((g.size.toLong, r6(g.map(_._2).sum / g.size)))
      }
    val got = SimilarityOps.queries("emb_pq_error")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got.keySet == ref.keySet)
    ref.foreach { case (k, (n, mse)) =>
      assert(got(k)._1 == n, s"subspace/code $k count")
      assert(math.abs(got(k)._2 - mse) < 1e-6, s"subspace/code $k mse")
    }
    assert(got.values.map(_._1).sum == vecs.size * 8L,
      "every subvector coded exactly once")
  }

  test("emb_coreset_kcenter on a corpus smaller than K picks every vector once") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def corpus(rows: Seq[(Long, Seq[Double])]): String = {
      val dir = java.nio.file.Files.createTempDirectory("coreset").toString
      rows.toDF("vec_id", "embedding")
        .withColumn("embedding", col("embedding").cast("array<float>"))
        .withColumn("label", lit(0))
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      dir
    }
    val q = SimilarityOps.queries("emb_coreset_kcenter")
    val three = Seq((7L, Seq(1.0, 0.0)), (3L, Seq(0.0, 1.0)), (5L, Seq(1.0, 1.0)))
    val out = q(spark, corpus(three)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(out.map(_._1) == Seq(1L, 2L, 3L), out)
    assert(out.map(_._2).sorted == Seq(3L, 5L, 7L), out)
    // seed = lowest vec_id at the conventional radius 2.0; the next pick
    // is the farthest (cosine distance 1.0) from it
    assert(out.head == ((1L, 3L, 2.0)), out)
    assert(out(1) == ((2L, 7L, 1.0)), out)
    assert(q(spark, corpus(Seq.empty)).collect().isEmpty)
  }

  test("ann_mmr_rerank: equals a driver-side greedy reference; near-dup demoted") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // crafted corpus: two near-identical top hits (a1, a2), two diverse
    // strong hits (b, c), 20 fillers — plain top-k would return a1 AND
    // its clone a2 back-to-back; MMR must pick exactly one of them in
    // its first two selections
    val a1 = Seq(0.9, 0.436, 0.0, 0.0)
    val a2 = Seq(0.9, 0.435, 0.0296, 0.0)
    val b = Seq(0.88, 0.0, 0.475, 0.0)
    val c = Seq(0.86, 0.0, 0.0, 0.51)
    val fillers = (0 until 20).map { i =>
      val t = 0.3 + 0.02 * i
      Seq(t, 0.1 * (i % 3), 0.05 * (i % 5), math.sqrt(math.max(0.0, 1 - t * t)))
    }
    val rows = Seq((1L, Seq(1.0, 0.0, 0.0, 0.0)), (2L, a1), (3L, a2),
      (4L, b), (5L, c)) ++
      fillers.zipWithIndex.map { case (v, i) => ((6 + i).toLong, v) }
    val dir = java.nio.file.Files.createTempDirectory("mmrvecs").toString
    rows.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
      .withColumn("label", lit(0))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    // greedy reference with the query's exact disciplines: 6dp-rounded
    // cosines (float inputs cast to double first, matching the query's
    // array<double> cast), unrounded 0.7·rel − 0.3·maxsim comparison,
    // vec_id tie-break, round-1 score = relevance
    val dv = rows.map { case (id, v) => id -> v.map(_.toFloat.toDouble) }
    def cosv(x: Seq[Double], y: Seq[Double]) = r6(
      x.zip(y).map(p => p._1 * p._2).sum /
        (math.sqrt(x.map(e => e * e).sum) * math.sqrt(y.map(e => e * e).sum)))
    val p = dv.head._2
    val short = dv.tail.map { case (id, v) => (id, v, cosv(v, p)) }
      .sortBy(t => (-t._3, t._1)).take(20)
    var sel = Vector.empty[(Long, Double, Double)] // id, rel, score
    for (r <- 1 to 5) {
      val rem = short.filterNot(t => sel.exists(_._1 == t._1))
      if (r == 1) {
        val t = rem.sortBy(t => (-t._3, t._1)).head
        sel :+= ((t._1, t._3, t._3))
      } else {
        val scored = rem.map { case (id, v, rel) =>
          val ms = sel.map(s => cosv(v, short.find(_._1 == s._1).get._2)).max
          (id, rel, 0.7 * rel - 0.3 * ms)
        }
        val t = scored.sortBy(t => (-t._3, t._1)).head
        sel :+= ((t._1, t._2, r6(t._3)))
      }
    }

    val out = graft.SparkEntry.queries("ann_mmr_rerank")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.map(_._1).toSeq == (1L to 5L), "ranks 1..5")
    out.zip(sel).zipWithIndex.foreach { case (((_, id, rel, score), (rid, rrel, rscore)), i) =>
      assert(id == rid, s"rank ${i + 1} pick: got $id, reference $rid")
      assert(math.abs(rel - rrel) < 1e-9, s"rank ${i + 1} rel")
      assert(math.abs(score - rscore) < 1e-9, s"rank ${i + 1} score")
    }
    val firstTwo = out.take(2).map(_._2).toSet
    assert(firstTwo.intersect(Set(2L, 3L)).size == 1,
      s"MMR kept both near-dups in the top 2: $firstTwo")
  }
}
