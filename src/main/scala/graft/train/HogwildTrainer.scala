package graft.train

import breeze.linalg.DenseMatrix
import org.apache.spark.SparkEnv
import org.apache.spark.rdd.RDD
import graft.nn.{LocalTrainer, NetSpec, Network, Optimizer}
import graft.nn.Tensors.Tensors
import graft.server.{ParameterServer, ParamsClient}

/** Distributed data-parallel trainer — the reference's `HogwildSparkModel`
  * (lifeomic/sparkflow `HogwildSparkModel.py:103-272`) re-expressed for the
  * JVM.
  *
  * Shape is identical: start a driver-hosted parameter server, run
  * `rdd.foreachPartition` workers that pull weights / push gradients over
  * HTTP, `repartition` between `partitionShuffles` rounds (a deliberate
  * full shuffle — documented as costly in the reference README:167-169),
  * finally read the weights and stop the server. Training is deliberately
  * an RDD action OUTSIDE Catalyst: it is imperative per-partition compute,
  * not a relational operator, so a DataFrame plan would buy nothing
  * (SURVEY.md §2C).
  *
  * Scale note (100 TB): the server exchanges whole weight tensors per
  * batch, so wire cost = O(model size x batches), independent of data
  * size; data never moves to the driver. Partition count should track
  * executor count (`coalesce` guard in [[graft.ml.SparkAsyncDL]]) so each
  * worker streams its partition once per round.
  */
object HogwildTrainer {

  final case class Config(
      optimizerName: String = "adam",
      learningRate: Double = 0.01,
      optimizerOptions: Map[String, Double] = Map.empty,
      iters: Int = 1000,
      miniBatchSize: Int = -1,
      miniStochasticIters: Int = -1,
      acquireLock: Boolean = false,
      shufflePerIter: Boolean = true,
      partitionShuffles: Int = 1,
      verbose: Int = 0,
      port: Int = 5000,
      seed: Long = 42L)

  /** Train on an RDD of (features, label-vector) pairs; returns final
    * weights. One driver-hosted [[ParameterServer]] serves every worker,
    * the reference's single Flask endpoint
    * (`HogwildSparkModel.py:156-180`). Throws if `iters ≥ 1` and no
    * gradient reached the server: an empty input has nothing to train
    * on, and its initial weights are not a fitted model. */
  def fit(
      rdd: RDD[(Array[Double], Array[Double])],
      spec: NetSpec,
      cfg: Config): Tensors = {
    val server = new ParameterServer(new Network(spec).initWeights(cfg.seed),
      Optimizer.build(cfg.optimizerName, cfg.learningRate, cfg.optimizerOptions),
      cfg.port, cfg.acquireLock, maxErrors = math.max(cfg.iters, 1))
    server.start()
    try {
      server.awaitReady()
      val url = determineMaster(server.boundPort)
      val specJson = spec.toJson // ship the spec, not the Network object
      val workerCfg = cfg
      var current = rdd
      var round = 0
      val rounds = math.max(cfg.partitionShuffles, 1)
      while (round < rounds) {
        current.foreachPartition { it =>
          workerPartition(it, specJson, url, workerCfg)
        }
        // surface persistent update failures instead of returning the
        // initial weights as if training succeeded
        if (server.isAborted) throw new IllegalStateException(
          s"parameter server aborted after ${server.errorCount} failed updates")
        round += 1
        if (round < rounds) current = current.repartition(current.getNumPartitions)
      }
      if (cfg.iters >= 1 && server.updateCount == 0 && server.errorCount == 0)
        throw new IllegalArgumentException(
          "training input has no rows: no gradient reached the parameter server")
      server.currentWeights
    } finally {
      server.stop() // always, like the reference's try/except (`:270-272`)
    }
  }

  /** Rows → (features, labels) matrices, validating BOTH widths: a short
    * label would silently zero-pad (training on garbage targets), a long
    * one would crash deep in breeze — fail with a message instead. */
  private[graft] def toMatrices(
      rows: Array[(Array[Double], Array[Double])],
      spec: NetSpec): (DenseMatrix[Double], DenseMatrix[Double]) = {
    val n = rows.length
    val x = DenseMatrix.zeros[Double](n, spec.inputDim)
    val y = DenseMatrix.zeros[Double](n, spec.outputDim)
    var r = 0
    while (r < n) {
      val (f, l) = rows(r)
      require(f.length == spec.inputDim,
        s"feature dim ${f.length} != net input ${spec.inputDim}")
      require(l.length == spec.outputDim,
        s"label dim ${l.length} != net output ${spec.outputDim} " +
          "(one-hot encode class indices for multi-class nets)")
      var c = 0
      while (c < f.length) { x(r, c) = f(c); c += 1 }
      c = 0
      while (c < l.length) { y(r, c) = l(c); c += 1 }
      r += 1
    }
    (x, y)
  }

  /** Per-partition worker — parity with `handle_model`
    * (`HogwildSparkModel.py:38-100`): materialize the partition, then run
    * the three-batch-mode loop against the server at `url`. Empty
    * partitions no-op.
    *
    * At-least-once gradient contract: Spark may re-run a partition
    * (speculative execution, task retry after a lost executor), and this
    * worker has no dedup handshake with the server — a re-run re-POSTs
    * every gradient of its training loop. That is SAFE under hogwild
    * semantics: asynchronous SGD tolerates duplicated/stale updates
    * statistically (the same tolerance that lets workers race without
    * locks), so a duplicated partition perturbs the trajectory, not
    * convergence — pinned by StragglerRetrySpec. The trade is
    * deliberate: an exactly-once handshake would serialize every push
    * through a dedup log at the server, the one endpoint every worker
    * already shares. Consequence for operators: gradient counts are
    * not exact under retries, so convergence criteria must be
    * loss-based, never update-count-based. */
  private[graft] def workerPartition(
      it: Iterator[(Array[Double], Array[Double])],
      specJson: String,
      url: String,
      cfg: Config): Unit = {
    val rows = it.toArray
    if (rows.isEmpty) return
    val spec = NetSpec.fromJson(specJson)
    val net = new Network(spec)
    val pid = org.apache.spark.TaskContext.getPartitionId()
    val (x, y) = toMatrices(rows, spec)
    LocalTrainer.trainLoop(
      net, x, y,
      LocalTrainer.Config(cfg.iters, cfg.miniBatchSize, cfg.miniStochasticIters,
        cfg.shufflePerIter, cfg.verbose, cfg.seed + pid),
      pull = () => ParamsClient.getWeights(url),
      push = g => ParamsClient.postGradients(url, g, pid))
  }

  /** Driver URL for executors — `determine_master`
    * (`HogwildSparkModel.py:145-154`): `spark.driver.host` when set, else
    * local hostname. */
  def determineMaster(port: Int): String = {
    val host =
      try SparkEnv.get.conf.get("spark.driver.host", java.net.InetAddress.getLocalHost.getHostAddress)
      catch { case _: Exception => java.net.InetAddress.getLocalHost.getHostAddress }
    s"$host:$port"
  }
}
