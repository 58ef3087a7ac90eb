package graft.server

import graft.nn.Optimizer
import graft.nn.Tensors
import graft.nn.Tensors.Tensors

/** Sharded parameter server: the model's tensor list is split into
  * `shards` contiguous slices, each hosted by its own [[ParameterServer]]
  * with its own optimizer instance (slices are disjoint, so per-slice
  * optimizer state — Adam moments etc. — is exactly the state the
  * unsharded server would keep for those tensors).
  *
  * It is the only server [[graft.train.HogwildTrainer.fit]] starts: one
  * shard is exactly the reference's single driver-hosted server
  * (lifeomic/sparkflow `HogwildSparkModel.py:156-180`), one
  * [[ParameterServer]] over the same weight matrices. That single server
  * serializes whole weight tensors through one NIC per pull/push — the
  * known ceiling at thousands of partitions — so `fit(…, shards)` (the
  * estimator's `psShards`) splits it N ways. Sharding divides both the
  * serialization CPU and the wire bytes per endpoint by `shards`;
  * workers pull/push all shards concurrently ([[ShardedParamsClient]]),
  * so model-exchange latency approaches max-shard instead of
  * sum-of-tensors. In-process
  * here (one host, N ports) for parity with the driver-hosted layout;
  * the shard list is plain `host:port` strings, so spreading shards
  * across hosts is a deployment choice, not a code change.
  *
  * Slices are balanced by element count (a dense net's weight matrices
  * dwarf its biases — tensor-count balance would be badly lopsided).
  */
final class ShardedParameterServer(
    weights: Tensors,
    optimizerFactory: () => Optimizer,
    basePort: Int,
    shards: Int,
    acquireLock: Boolean,
    maxErrors: Int = 1000) {
  require(shards >= 1, s"shards=$shards")
  require(shards <= weights.length,
    s"shards=$shards exceeds tensor count ${weights.length}")

  /** Contiguous [from, until) tensor-index ranges, element-balanced. */
  val sliceBounds: Array[(Int, Int)] =
    ShardedParameterServer.balancedSlices(
      weights.map(t => t.rows.toLong * t.cols), shards)

  // Array.slice copies the array, not the matrices — each shard's
  // optimizer mutates the SAME DenseMatrix objects `weights` holds, so
  // the full model is always assembled in place.
  private val servers: Array[ParameterServer] = sliceBounds.zipWithIndex.map {
    case ((from, until), i) =>
      // basePort = 0 → every shard asks for its own OS-assigned
      // ephemeral port (0 + i would request privileged ports 1..N)
      new ParameterServer(weights.slice(from, until), optimizerFactory(),
        if (basePort == 0) 0 else basePort + i, acquireLock, maxErrors)
  }

  def start(): Unit = servers.foreach(_.start())
  def awaitReady(timeoutMs: Long = 10000): Unit = servers.foreach(_.awaitReady(timeoutMs))
  def stop(): Unit = servers.foreach(_.stop())

  /** Bound ports in shard order (binding walks forward on conflicts). */
  def boundPorts: Array[Int] = servers.map(_.boundPort)
  def isAborted: Boolean = servers.exists(_.isAborted)
  def errorCount: Int = servers.map(_.errorCount).sum
  /** Each shard copies its own slice, under its read lock in locked mode. */
  def currentWeights: Tensors = servers.flatMap(_.currentWeights)
}

object ShardedParameterServer {
  /** Split tensor sizes into `shards` contiguous ranges, adaptively
    * re-targeting each boundary at (remaining elements / remaining
    * shards) — a fixed global target would let one oversized tensor
    * consume the following shards' budgets and leave them near-empty.
    * A tensor joins the open shard only if that lands the sum closer to
    * the target than stopping. Every shard gets ≥ 1 tensor; a shard
    * can never do better than its single largest tensor (tensors are
    * atomic — intra-tensor sharding would be the next lever). */
  def balancedSlices(sizes: Array[Long], shards: Int): Array[(Int, Int)] = {
    val n = sizes.length
    val suffix = new Array[Double](n + 1) // suffix(i) = sum of sizes[i..)
    var j = n - 1
    while (j >= 0) { suffix(j) = suffix(j + 1) + sizes(j); j -= 1 }
    val bounds = Array.newBuilder[(Int, Int)]
    var from = 0
    var s = 0
    while (s < shards) {
      val remainingShards = shards - s
      if (remainingShards == 1) {
        bounds += ((from, n)); from = n
      } else {
        val target = suffix(from) / remainingShards
        val maxEnd = n - (remainingShards - 1) // leave one tensor per later shard
        var i = from
        var acc = 0.0
        var done = false
        while (!done && i < maxEnd) {
          val withNext = acc + sizes(i)
          if (acc > 0 && math.abs(withNext - target) > math.abs(acc - target)) done = true
          else { acc = withNext; i += 1 }
        }
        bounds += ((from, i)); from = i
      }
      s += 1
    }
    bounds.result()
  }
}

/** Worker-side client for a sharded server: pulls/pushes every shard
  * CONCURRENTLY (the point of sharding is that the transfers overlap;
  * serial round-trips would re-serialize the latency sharding removes).
  * Shard URLs are ordered like [[ShardedParameterServer.sliceBounds]]. */
object ShardedParamsClient {

  /** Pull all shards, concatenate into the full tensor list. Any failed
    * shard pull fails the whole get (half a model is not a model). */
  def getWeights(shardUrls: Seq[String]): Tensors = {
    val parts = new Array[Tensors](shardUrls.length)
    eachShard(shardUrls.length)(i => parts(i) = ParamsClient.getWeights(shardUrls(i)))
    if (parts.length == 1) parts(0) else parts.flatten
  }

  /** Slice the full gradient list by `bounds` and push each slice to its
    * shard. Per-shard failures are logged-and-swallowed inside
    * [[ParamsClient.postGradients]] (reference worker policy). */
  def postGradients(
      shardUrls: Seq[String], bounds: Seq[(Int, Int)],
      grads: Tensors, partitionId: Int): Unit =
    eachShard(shardUrls.length) { i =>
      val (from, until) = bounds(i)
      ParamsClient.postGradients(shardUrls(i), grads.slice(from, until), partitionId)
    }

  /** Runs `call` for shards 0..n-1 and returns once all are done: shard 0
    * on the calling thread, each other shard on its own thread. A
    * one-shard call is therefore a plain [[ParamsClient]] call, with no
    * thread. A failure on any shard fails the whole call, after every
    * shard has finished; pushes never fail here, since
    * [[ParamsClient]] logs and swallows a failed POST. */
  private def eachShard(n: Int)(call: Int => Unit): Unit = {
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 until n).map { i =>
      new Thread(() => try call(i) catch { case e: Throwable => errs.add(e) })
    }
    threads.foreach(_.start())
    try call(0) finally threads.foreach(_.join())
    if (!errs.isEmpty) throw new java.io.IOException(
      s"${errs.size} of $n shard call(s) failed", errs.peek())
  }
}
