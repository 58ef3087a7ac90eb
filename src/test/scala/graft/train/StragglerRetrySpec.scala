package graft.train

import org.scalatest.funsuite.AnyFunSuite
import breeze.linalg.DenseMatrix
import graft.nn.{NetSpec, Network, Optimizer, Tensors}
import graft.server.ParameterServer

/** Pins the trainer's at-least-once gradient contract (see
  * [[HogwildTrainer.workerPartition]]'s scaladoc): Spark may re-run a
  * partition — speculative execution launches a twin attempt, a task
  * retry after executor loss replays the whole partition — and the
  * worker re-POSTs every gradient with no dedup handshake. Hogwild
  * tolerates this statistically; these tests make that claim a measured
  * fact instead of folklore by literally duplicating a partition run
  * against a live server. No SparkSession needed: workerPartition is the
  * exact closure foreachPartition ships, and TaskContext.getPartitionId
  * degrades to 0 off-task. */
class StragglerRetrySpec extends AnyFunSuite {
  private val xorRows: Array[(Array[Double], Array[Double])] = Array(
    (Array(0.0, 0.0), Array(0.0)),
    (Array(0.0, 1.0), Array(1.0)),
    (Array(1.0, 0.0), Array(1.0)),
    (Array(1.0, 1.0), Array(0.0)))
  // reference net shape (tests/dl_runner.py:45-53 in the reference)
  private val spec = NetSpec.input(2).dense(12, "tanh").dense(7, "tanh")
    .dense(1, "sigmoid").loss("mse")

  private def xorAccuracy(w: Tensors.Tensors): Int = {
    val net = new Network(spec)
    val x = DenseMatrix((0.0, 0.0), (0.0, 1.0), (1.0, 0.0), (1.0, 1.0))
    val y = Array(0.0, 1.0, 1.0, 0.0)
    val p = net.forward(x, w)
    (0 until 4).count(r => (if (p(r, 0) > 0.5) 1.0 else 0.0) == y(r))
  }

  private def withServer(f: (String, ParameterServer) => Unit): Tensors.Tensors = {
    val net = new Network(spec)
    val server = new ParameterServer(net.initWeights(42L),
      Optimizer.build("adam", 0.05), port = 0, acquireLock = false,
      maxErrors = 100000)
    server.start()
    try {
      server.awaitReady()
      f(s"127.0.0.1:${server.boundPort}", server)
      assert(server.errorCount == 0)
      server.currentWeights
    } finally server.stop()
  }

  test("a duplicated (re-run) partition still converges on XOR") {
    val cfg = HogwildTrainer.Config(optimizerName = "adam", learningRate = 0.05,
      iters = 300, seed = 42L)
    val w = withServer { (url, _) =>
      // normal attempt, then Spark re-runs the SAME partition (a
      // speculative twin or post-failure retry): every gradient of the
      // first attempt is duplicated by the second
      HogwildTrainer.workerPartition(xorRows.iterator, spec.toJson, url, cfg)
      HogwildTrainer.workerPartition(xorRows.iterator, spec.toJson, url, cfg)
    }
    assert(xorAccuracy(w) >= 3, "duplicated partition broke convergence")
  }

  test("interleaved duplicate attempts (live speculation) still converge") {
    // speculation runs the twin CONCURRENTLY with the original — the
    // worst interleaving for staleness: both attempts pull/push against
    // the same weights throughout
    val cfg = HogwildTrainer.Config(optimizerName = "adam", learningRate = 0.05,
      iters = 300, seed = 42L)
    val w = withServer { (url, _) =>
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val ts = (0 until 2).map { _ =>
        new Thread(() =>
          try HogwildTrainer.workerPartition(xorRows.iterator, spec.toJson, url, cfg)
          catch { case t: Throwable => errs.add(t) })
      }
      ts.foreach(_.start()); ts.foreach(_.join())
      assert(errs.isEmpty, errs)
    }
    assert(xorAccuracy(w) >= 3, "concurrent duplicate attempt broke convergence")
  }
}
