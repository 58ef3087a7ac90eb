package graft.train

import org.scalatest.funsuite.AnyFunSuite
import graft.nn.{LocalTrainer, NetSpec, Network, Optimizer}

/** A one-partition [[HogwildTrainer.fit]] is deterministic: one worker,
  * each push applied before its response (so the next pull sees it), and
  * a lossless binary wire codec. It must therefore reproduce
  * [[LocalTrainer.fit]] with the same seed bit for bit. */
class HogwildTrainerSpec extends AnyFunSuite {
  private val xor = Seq(
    (Array(0.0, 0.0), Array(0.0)), (Array(0.0, 1.0), Array(1.0)),
    (Array(1.0, 0.0), Array(1.0)), (Array(1.0, 1.0), Array(0.0)))
  private val spec = NetSpec.input(2).dense(12, "tanh").dense(7, "tanh")
    .dense(1, "sigmoid").loss("mse")
  private val cfg = HogwildTrainer.Config(optimizerName = "adam", learningRate = 0.05,
    iters = 50, acquireLock = true, port = 0, seed = 11L)

  private lazy val local = {
    val (x, y) = HogwildTrainer.toMatrices(xor.toArray, spec)
    LocalTrainer.fit(spec, x, y, Optimizer.build("adam", cfg.learningRate),
      LocalTrainer.Config(cfg.iters, cfg.miniBatchSize, cfg.miniStochasticIters,
        cfg.shufflePerIter, cfg.verbose, cfg.seed))
  }

  test("one-partition fit equals LocalTrainer.fit bit for bit") {
    val rdd = graft.SparkFixture.spark.sparkContext.parallelize(xor, 1)
    val w = HogwildTrainer.fit(rdd, spec, cfg)
    assert(w.length == local.length)
    w.zip(local).zipWithIndex.foreach { case ((a, e), i) =>
      assert(a.rows == e.rows && a.cols == e.cols, s"tensor $i shape")
      assert(a.toArray.map(java.lang.Double.doubleToRawLongBits).toSeq ==
        e.toArray.map(java.lang.Double.doubleToRawLongBits).toSeq, s"tensor $i differs")
    }
    // the run trained: the shared result is not the initial weights
    assert(new Network(spec).initWeights(cfg.seed).zip(local).exists { case (a, b) => a != b })
  }

  test("mismatched label width fails with a clear message, not zero-padding") {
    val spec3 = NetSpec.input(2).dense(4, "tanh").dense(3, "softmax").loss("softmax_xent")
    val bad = Seq((Array(0.0, 1.0), Array(1.0))) // scalar label, 3-wide output
    val e = intercept[org.apache.spark.SparkException] {
      HogwildTrainer.fit(graft.SparkFixture.spark.sparkContext.parallelize(bad, 1), spec3,
        cfg.copy(iters = 1))
    }
    assert(e.getMessage.contains("label dim") || e.getCause.getMessage.contains("label dim"))
  }
}
