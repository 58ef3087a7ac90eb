package graft.perfbench

import breeze.linalg.DenseMatrix
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._
import graft.ml.SparkAsyncDL
import graft.nn.{LocalTrainer, NetSpec, Network, Optimizer, Tensors}
import graft.server.{ParameterServer, ParamsClient}
import graft.train.HogwildTrainer

/** The two training workloads: the paper's Hogwild path through
  * `SparkAsyncDL`, its traced replica, and a single-worker baseline. */
object Training {

  /** One training configuration. `iters` is sized so that a fit takes a few
    * seconds on four cores. */
  final case class Shape(acquireLock: Boolean, miniBatchSize: Int, iters: Int,
      optimizer: String, learningRate: Double)

  val Shapes: Map[String, Shape] = Map(
    // hogwild, 16-row batches: every batch pulls and pushes the whole model
    "train_hogwild_small_batch" -> Shape(acquireLock = false, miniBatchSize = 16,
      iters = 2, optimizer = "adam", learningRate = 0.001),
    // writer-priority lock, one 500-row batch per partition per iteration
    "train_locked_full_batch" -> Shape(acquireLock = true, miniBatchSize = -1,
      iters = 20, optimizer = "adam", learningRate = 0.003))

  val Partitions = 4
  /** Passes run in set-up before timing. Fit and transform times keep
    * falling over the first three passes of a run as the JVM compiles the
    * hot paths, so timing starts after them: a run that fits two measured
    * passes into its seconds and one that fits three then read the same
    * plateau. */
  val WarmUpPasses = 3
  /** Copies of the 2,000 embeddings that inference runs over. */
  val InferenceCopies = 25
  /** Inference tasks: several per core, so that one descheduled task does
    * not set the transform's wall time. */
  val InferencePartitions = 16
  /** The trainer's own seed: `SparkAsyncDL` initialises weights with it and
    * seeds each partition's batch order with it plus the partition id. */
  val TrainerSeed: Long = HogwildTrainer.Config().seed

  /** 64 → 256 relu → 256 relu → 10 softmax: 85,002 parameters. */
  val Spec: NetSpec = NetSpec.input(64).dense(256, "relu").dense(256, "relu")
    .dense(10, "softmax").loss("softmax_xent")

  /** Inputs of one run. The workload seed fixes the row order, and with it
    * each partition's rows. */
  final class Data(val rows: Array[(Array[Double], Array[Double])],
      val trainDf: DataFrame, val inferDf: DataFrame, val inferRows: Long) {
    lazy val (x, y): (DenseMatrix[Double], DenseMatrix[Double]) =
      HogwildTrainer.toMatrices(rows, Spec)
    def rdd: RDD[(Array[Double], Array[Double])] =
      trainDf.sparkSession.sparkContext.parallelize(rows.toSeq, Partitions)
  }

  /** The 2,000 embeddings with one-hot labels, in the seed's order. */
  def load(spark: SparkSession, dataDir: String, seed: Long): Data = {
    val raw = spark.read.parquet(s"$dataDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label")).collect()
      .sortBy(_.getLong(0))
    fromRows(spark, new scala.util.Random(seed).shuffle(raw.toSeq).map { r =>
      val f = r.getSeq[Float](1).map(_.toDouble).toArray
      val l = Array.tabulate(10)(k => if (k == r.getInt(2)) 1.0 else 0.0)
      (f, l)
    }.toArray)
  }

  /** Cached training and inference frames over `rows`. */
  def fromRows(spark: SparkSession, rows: Array[(Array[Double], Array[Double])]): Data = {
    val schema = StructType(Seq(
      StructField("embedding", ArrayType(DoubleType, containsNull = false)),
      StructField("label", ArrayType(DoubleType, containsNull = false)),
      StructField("cls", IntegerType)))
    val trainDf = spark.createDataFrame(spark.sparkContext.parallelize(
      rows.toSeq.map { case (f, l) => Row(f.toSeq, l.toSeq, l.indexOf(1.0)) },
      Partitions), schema).cache()
    trainDf.count()
    val inferDf = trainDf.select(col("embedding"), col("cls"))
      .crossJoin(spark.range(InferenceCopies).select(col("id").as("copy")))
      .repartition(InferencePartitions).cache()
    val inferRows = inferDf.count()
    new Data(rows, trainDf, inferDf, inferRows)
  }

  def estimator(shape: Shape, iters: Int): SparkAsyncDL = new SparkAsyncDL()
    .setInputCol("embedding").setLabelCol("label").setNetSpec(Spec)
    .setTfOptimizer(shape.optimizer).setTfLearningRate(shape.learningRate)
    .setIters(iters).setMiniBatchSize(shape.miniBatchSize)
    .setAcquireLock(shape.acquireLock).setPartitions(Partitions)
    .setPsShards(1).setPort(0)

  /** Result of one fit followed by inference over the inference set. */
  final case class Pass(fitS: Double, transformS: Double, samples: Long,
      finalLoss: Double, predicted: Long, badPredictions: Long, correct: Long,
      fitCounters: SparkProbe.Counters)

  /** Training-set loss of the untrained network: the convergence
    * reference. */
  def initialLoss(data: Data): Double = {
    val net = new Network(Spec)
    net.loss(data.x, data.y, net.initWeights(TrainerSeed))
  }

  /** One `SparkAsyncDL.fit` and one fully materialised `transform` of
    * `infer`. */
  def pass(data: Data, shape: Shape, probe: SparkProbe, infer: DataFrame): Pass = {
    val its = shape.iters
    val sc = data.trainDf.sparkSession.sparkContext
    val c0 = probe.snapshot(sc)
    val t0 = System.nanoTime()
    val model = estimator(shape, its).fit(data.trainDf)
    val t1 = System.nanoTime()
    val fitCounters = probe.snapshot(sc) - c0
    // the fit's garbage is collected here, not during the timed transform
    Memory.sampleLive()
    val t1b = System.nanoTime()
    val p = col("p")
    val agg = model.transform(infer)
      .select(vector_to_array(col("predicted")).as("p"), col("cls"))
      .agg(count(lit(1)),
        count(when(p.isNull || exists(p, v => isnan(v)), 1)),
        count(when(array_position(p, array_max(p)) - 1 === col("cls"), 1)))
      .head()
    val t2 = System.nanoTime()
    val loss = new Network(Spec).loss(data.x, data.y, model.weights)
    Pass((t1 - t0) / 1e9, (t2 - t1b) / 1e9, data.rows.length.toLong * its, loss,
      agg.getLong(0), agg.getLong(1), agg.getLong(2), fitCounters)
  }

  /** Training converged when its loss is finite and below the untrained
    * network's. The labels are only weakly predictable from the embeddings
    * (a linear model reaches 2.155 nats against 2.303 for chance), so the
    * bar is progress, not a fixed loss; a diverged fit ends above it. */
  def converged(loss: Double, initial: Double): Boolean =
    !loss.isNaN && loss < initial

  // ---- traced replica ----

  /** Pushes applied so far by any worker of the running replica fit. The
    * local-mode executors are threads of this JVM and share it. */
  private[perfbench] val pushCounter = new AtomicLong
  /** Pushes by other workers between one worker's pull and its push. */
  private[perfbench] val staleness = new ConcurrentLinkedQueue[java.lang.Long]()

  final case class Replica(wallS: Double, samples: Long, spans: Seq[Span],
      staleness: Seq[Long], serverErrors: Int, payloadBytes: Long,
      finalLoss: Double)

  /** `HogwildTrainer.fit` rebuilt from its public pieces, with a span around
    * each worker's `trainLoop` and each `pull` and `push` it makes. */
  def replica(data: Data, shape: Shape, traceId: String): Replica = {
    val its = shape.iters
    val net = new Network(Spec)
    val weights = net.initWeights(TrainerSeed)
    val server = new ParameterServer(weights,
      Optimizer.build(shape.optimizer, shape.learningRate), 0, shape.acquireLock,
      maxErrors = math.max(its, 1))
    pushCounter.set(0)
    staleness.clear()
    val before = Tracer.all.map(_.id).toSet
    server.start()
    val t0 = System.nanoTime()
    try {
      server.awaitReady()
      val url = HogwildTrainer.determineMaster(server.boundPort)
      val specJson = Spec.toJson
      val cfg = LocalTrainer.Config(its, shape.miniBatchSize, -1, true, 0, TrainerSeed)
      Tracer.span("ml.replica_fit", traceId, 0L) { fitId =>
        data.rdd.foreachPartition { it =>
          val rows = it.toArray
          if (rows.nonEmpty) {
            val spec = NetSpec.fromJson(specJson)
            val pid = org.apache.spark.TaskContext.getPartitionId()
            val (x, y) = HogwildTrainer.toMatrices(rows, spec)
            Tracer.span("nn.trainLoop", traceId, fitId) { loopId =>
              var seen = 0L
              LocalTrainer.trainLoop(new Network(spec), x, y,
                cfg.copy(seed = cfg.seed + pid),
                pull = () => Tracer.span("server.pull", traceId, loopId) { _ =>
                  val w = ParamsClient.getWeights(url)
                  seen = pushCounter.get
                  w
                },
                push = g => {
                  staleness.add(pushCounter.get - seen)
                  Tracer.span("server.push", traceId, loopId) { _ =>
                    ParamsClient.postGradients(url, g, pid)
                  }
                  pushCounter.incrementAndGet()
                })
            }
          }
        }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val w = server.currentWeights
      Replica(wall, data.rows.length.toLong * its,
        Tracer.all.filter(s => s.trace == traceId && !before(s.id)),
        staleness.asScala.map(_.longValue).toSeq, server.errorCount,
        Tensors.toBytes(w).length.toLong, net.loss(data.x, data.y, w))
    } finally server.stop()
  }

  /** Per-layer figures of one replica fit. */
  def replicaMetrics(r: Replica): Map[String, Double] = {
    val pulls = r.spans.filter(_.name == "server.pull")
    val pushes = r.spans.filter(_.name == "server.push")
    val loops = r.spans.filter(_.name == "nn.trainLoop")
    val loopNs = loops.map(l => (l.endNs - l.startNs).toDouble).sum
    val selfNs = loops.map { l =>
      Tracer.selfNs(l, r.spans.filter(_.parent == l.id)).toDouble
    }.sum
    val ioNs = loopNs - selfNs
    Map(
      "server.pulls" -> pulls.size.toDouble,
      "server.pull_ms_p50" -> Stats.median(pulls.map(_.ms)),
      "server.pull_ms_p99" -> Stats.percentile(pulls.map(_.ms), 99),
      "server.pushes" -> pushes.size.toDouble,
      "server.push_ms_p50" -> Stats.median(pushes.map(_.ms)),
      "server.push_ms_p99" -> Stats.percentile(pushes.map(_.ms), 99),
      "server.wire_bytes" -> (pulls.size + pushes.size).toDouble * r.payloadBytes,
      "server.errors" -> r.serverErrors.toDouble,
      "server.staleness_p50" -> Stats.median(r.staleness.map(_.toDouble)),
      "server.staleness_max" -> r.staleness.maxOption.getOrElse(0L).toDouble,
      "server.worker_time_share" -> ioNs / loopNs,
      "nn.fwdbwd_ms" -> selfNs / 1e6,
      "nn.fwdbwd_ms_per_batch" -> selfNs / 1e6 / math.max(pushes.size, 1),
      "nn.worker_time_share" -> selfNs / loopNs,
      "train.traced_samples_per_s" -> r.samples / r.wallS)
  }

  /** Single-worker baseline: `LocalTrainer.fit` on all rows with the same
    * net, batch size, iterations and seed. Returns (samples/s, loss). */
  def local(data: Data, shape: Shape): (Double, Double) = {
    val t0 = System.nanoTime()
    val w = LocalTrainer.fit(Spec, data.x, data.y,
      Optimizer.build(shape.optimizer, shape.learningRate),
      LocalTrainer.Config(shape.iters, shape.miniBatchSize, -1, true, 0, TrainerSeed))
    val s = (System.nanoTime() - t0) / 1e9
    (data.rows.length.toDouble * shape.iters / s,
      new Network(Spec).loss(data.x, data.y, w))
  }

  /** Median ms of the wire codec and one optimizer step on this model's
    * tensors. */
  def codecAndOptimizer(data: Data, shape: Shape, reps: Int = 25): Map[String, Double] = {
    val net = new Network(Spec)
    val w = net.initWeights(TrainerSeed)
    val (_, g) = net.forwardBackward(
      data.x(0 until 16, ::).copy, data.y(0 until 16, ::).copy, w)
    val opt = Optimizer.build(shape.optimizer, shape.learningRate)
    def timeMs(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    }
    val bytes = Tensors.toBytes(w)
    Map(
      "nn.encode_ms_per_call" -> Stats.median(Seq.fill(reps)(timeMs(Tensors.toBytes(g)))),
      "nn.decode_ms_per_call" -> Stats.median(Seq.fill(reps)(timeMs(Tensors.fromBytes(bytes)))),
      "nn.optimizer_step_ms" -> Stats.median(Seq.fill(reps)(timeMs(opt.step(w, g)))))
  }
}
