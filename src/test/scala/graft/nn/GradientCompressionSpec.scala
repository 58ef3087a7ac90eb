package graft.nn

import breeze.linalg.DenseMatrix
import graft.nn.Tensors.Tensors
import graft.server.{ParameterServer, ParamsClient}
import org.scalatest.funsuite.AnyFunSuite

class GradientCompressionSpec extends AnyFunSuite {
  private def mk(vals: Double*): Tensors =
    Array(new DenseMatrix(2, 2, vals.take(4).toArray),
      new DenseMatrix(1, 2, vals.drop(4).toArray))

  test("top-k keeps the k largest magnitudes; residual holds the rest exactly") {
    val grad = mk(1.0, -5.0, 0.5, 3.0, -0.1, 2.0)
    val residual = Tensors.zerosLike(grad)
    val s = GradientCompression.sparsifyTopK(grad, residual, k = 2)
    assert(s.nnz == 2)
    val dense = s.toDense
    assert(dense(0).data.toSeq == Seq(0.0, -5.0, 0.0, 3.0))
    assert(dense(1).data.toSeq == Seq(0.0, 0.0))
    // kept entries zeroed in residual, unsent entries carried exactly
    assert(residual(0).data.toSeq == Seq(1.0, 0.0, 0.5, 0.0))
    assert(residual(1).data.toSeq == Seq(-0.1, 2.0))
  }

  test("error feedback drains: sum of sparse pushes equals sum of gradients") {
    val rnd = new scala.util.Random(3)
    val residual = Tensors.zerosLike(mk(0, 0, 0, 0, 0, 0))
    val sentTotal = Tensors.zerosLike(residual)
    val gradTotal = Tensors.zerosLike(residual)
    (1 to 20).foreach { _ =>
      val g = mk(Seq.fill(6)(rnd.nextGaussian()): _*)
      (0 until 2).foreach(i => gradTotal(i) :+= g(i))
      val s = GradientCompression.sparsifyTopK(g, residual, k = 2).toDense
      (0 until 2).foreach(i => sentTotal(i) :+= s(i))
    }
    // whatever was never sent is still in the residual — nothing lost
    (0 until 2).foreach { i =>
      val recon = sentTotal(i) + residual(i)
      assert(breeze.linalg.max(breeze.numerics.abs(recon - gradTotal(i))) < 1e-12)
    }
  }

  test("wire round-trip and self-describing decode of both forms") {
    val grad = mk(1.0, -5.0, 0.5, 3.0, -0.1, 2.0)
    val s = GradientCompression.sparsifyTopK(grad, Tensors.zerosLike(grad), 3)
    val back = GradientCompression.fromBytes(GradientCompression.toBytes(s))
    assert(back.toDense.zip(s.toDense).forall { case (a, b) => a == b })
    val viaSparse = GradientCompression.decodeMaybeSparse(GradientCompression.toBytes(s))
    assert(viaSparse.zip(s.toDense).forall { case (a, b) => a == b })
    val viaDense = GradientCompression.decodeMaybeSparse(Tensors.toBytes(grad))
    assert(viaDense.zip(grad).forall { case (a, b) => a == b })
  }

  test("ties split deterministically and k >= total sends everything") {
    val grad = mk(2.0, -2.0, 2.0, 2.0, 2.0, 2.0)
    val r1 = Tensors.zerosLike(grad)
    val s1 = GradientCompression.sparsifyTopK(grad, r1, 3)
    assert(s1.nnz == 3)
    assert(s1.idx(0).toSeq == Seq(0, 1, 2), "earlier linear indices win ties")
    val r2 = Tensors.zerosLike(grad)
    val s2 = GradientCompression.sparsifyTopK(grad, r2, 100)
    assert(s2.nnz == 6 && r2.forall(_.data.forall(_ == 0.0)))
  }

  test("non-finite gradient entries are dropped, not parked or poisoning selection") {
    val grad = mk(Double.NaN, -5.0, Double.PositiveInfinity, 3.0, -0.1, 2.0)
    val residual = Tensors.zerosLike(grad)
    val s = GradientCompression.sparsifyTopK(grad, residual, k = 2)
    assert(s.nnz == 2)
    assert(s.toDense(0).data.toSeq == Seq(0.0, -5.0, 0.0, 3.0))
    // NaN/Inf neither sent nor parked — residual stays finite
    assert(residual.forall(_.data.forall(java.lang.Double.isFinite)))
    // and the worker keeps contributing on the next push
    val s2 = GradientCompression.sparsifyTopK(mk(1.0, 0, 0, 0, 0, 0), residual, 2)
    assert(s2.nnz == 2)
  }

  test("k=0 parks the whole gradient in the residual (nothing lost)") {
    val grad = mk(1.0, -5.0, 0.5, 3.0, -0.1, 2.0)
    val residual = Tensors.zerosLike(grad)
    val s = GradientCompression.sparsifyTopK(grad, residual, k = 0)
    assert(s.nnz == 0)
    assert(residual(0).data.toSeq == Seq(1.0, -5.0, 0.5, 3.0))
    assert(residual(1).data.toSeq == Seq(-0.1, 2.0))
  }

  test("sharded sparse pushes: slices land on the right shards (step equality)") {
    import graft.server.{ShardedParameterServer, ShardedParamsClient}
    val w0 = mk(0, 0, 0, 0, 0, 0)
    val sharded = new ShardedParameterServer(Tensors.copy(w0),
      () => Optimizer.build("sgd", 1.0), 9780, shards = 2, acquireLock = true)
    sharded.start(); sharded.awaitReady()
    try {
      val urls = sharded.boundPorts.map(p => s"127.0.0.1:$p").toSeq
      val grad = mk(1.0, -5.0, 0.5, 3.0, -0.1, 2.0)
      val residual = Tensors.zerosLike(grad)
      val s = GradientCompression.sparsifyTopK(grad, residual, k = 3)
      ShardedParamsClient.postSparseGradients(urls, sharded.sliceBounds.toSeq, s, 0)
      val expectStep = s.toDense // sgd lr=1: w = 0 - densified sparse grad
      val got = sharded.currentWeights
      (0 until got.length).foreach { i =>
        assert(breeze.linalg.max(breeze.numerics.abs(got(i) + expectStep(i))) < 1e-12,
          s"tensor $i stepped wrong: ${got(i)} vs -${expectStep(i)}")
      }
    } finally sharded.stop()
  }

  test("sharded fit with gradientTopK trains XOR end to end") {
    val spark = graft.SparkFixture.spark
    val xor = Seq(
      (Array(0.0, 0.0), Array(0.0)), (Array(0.0, 1.0), Array(1.0)),
      (Array(1.0, 0.0), Array(1.0)), (Array(1.0, 1.0), Array(0.0)))
    val rdd = spark.sparkContext.parallelize(xor, 2)
    val spec = NetSpec.input(2).dense(8, "relu").dense(1, "sigmoid").loss("mse")
    val w = graft.train.HogwildTrainer.fit(rdd, spec,
      graft.train.HogwildTrainer.Config(optimizerName = "adam", learningRate = 0.1,
        iters = 80, port = 6700, seed = 7L, gradientTopK = 8),
      shards = 2)
    val net = new Network(spec)
    val preds = xor.map { case (f, l) => (net.predictRow(f, w)(0), l(0)) }
    assert(preds.count { case (p, l) => math.abs(p - l) > 0.5 } < xor.size,
      s"sharded sparse training learned nothing: $preds")
  }

  test("distributed hogwild fit with gradientTopK trains XOR end to end") {
    val spark = graft.SparkFixture.spark
    val xor = Seq(
      (Array(0.0, 0.0), Array(0.0)), (Array(0.0, 1.0), Array(1.0)),
      (Array(1.0, 0.0), Array(1.0)), (Array(1.1, 1.0), Array(0.0)))
    val rdd = spark.sparkContext.parallelize(xor, 2)
    val spec = NetSpec.input(2).dense(8, "relu").dense(1, "sigmoid").loss("mse")
    val w = graft.train.HogwildTrainer.fit(rdd, spec,
      graft.train.HogwildTrainer.Config(optimizerName = "adam", learningRate = 0.1,
        iters = 80, port = 6500, seed = 7L,
        gradientTopK = 8)) // 8 of 41 entries per push
    val net = new Network(spec)
    val preds = xor.map { case (f, l) => (net.predictRow(f, w)(0), l(0)) }
    val errs = preds.count { case (p, l) => math.abs(p - l) > 0.5 }
    assert(errs < xor.size, s"sparse-push training learned nothing: $preds")
  }

  test("e2e: sparse pushes through the server converge (quadratic objective)") {
    val target = mk(1.0, -2.0, 3.0, -4.0, 5.0, -6.0)
    val w = Tensors.zerosLike(target)
    val server = new ParameterServer(w, Optimizer.build("sgd", 0.5),
      port = 9750, acquireLock = true)
    server.start(); server.awaitReady()
    try {
      val url = s"127.0.0.1:${server.boundPort}"
      val residual = Tensors.zerosLike(target)
      (1 to 120).foreach { _ =>
        val cur = ParamsClient.getWeights(url)
        // grad of 0.5*||w - target||^2 = w - target, sent 2 entries at a time
        val grad = Array.tabulate(cur.length)(i => cur(i) - target(i))
        val s = GradientCompression.sparsifyTopK(grad, residual, k = 2)
        ParamsClient.postSparseGradients(url, s, 0)
      }
      val fin = server.currentWeights
      (0 until fin.length).foreach { i =>
        assert(breeze.linalg.max(breeze.numerics.abs(fin(i) - target(i))) < 1e-3,
          s"tensor $i: ${fin(i)} vs ${target(i)}")
      }
    } finally server.stop()
  }
}
