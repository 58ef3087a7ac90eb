package graft.ml

import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.linalg.{Vector, SQLDataTypes}
import org.apache.spark.ml.param._
import org.apache.spark.ml.param.shared.{HasInputCol, HasLabelCol, HasPredictionCol}
import org.apache.spark.ml.util._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import graft.nn.{NetSpec, Network, Tensors}
import graft.plans.BlockPredict
import graft.train.HogwildTrainer

/** Shared params — the 21 parameters of the reference's `SparkAsyncDL`
  * (lifeomic/sparkflow `tensorflow_async.py:104-121`), same names and
  * defaults (`:176-182`). `tensorflowGraph` carries a [[graft.nn.NetSpec]]
  * JSON instead of a TF MetaGraphDef; `tfInput`/`tfLabel`/`tfOutput`/
  * `tfDropout` are tensor-name params kept for drop-in API parity (our
  * declarative spec doesn't need them to locate tensors; `tfLabel` unset
  * still switches autoencoder mode, see fit()).
  */
private[ml] trait AsyncDLParams extends Params
    with HasInputCol with HasLabelCol with HasPredictionCol {
  final val tensorflowGraph = new Param[String](this, "tensorflowGraph", "NetSpec topology JSON")
  final val tfInput = new Param[String](this, "tfInput", "input tensor name (API parity)")
  final val tfLabel = new Param[String](this, "tfLabel", "label tensor name; unset = unsupervised")
  final val tfOutput = new Param[String](this, "tfOutput", "output tensor name (API parity)")
  final val tfOptimizer = new Param[String](this, "tfOptimizer", "optimizer name")
  final val tfLearningRate = new DoubleParam(this, "tfLearningRate", "learning rate")
  final val iters = new IntParam(this, "iters", "training iterations per partition")
  final val partitions = new IntParam(this, "partitions", "max training partitions (coalesce guard)")
  final val miniBatchSize = new IntParam(this, "miniBatchSize", "sequential mini-batch size; <=0 full batch")
  final val miniStochasticIters = new IntParam(this, "miniStochasticIters", "random mini-batches per iter; <=0 off")
  final val acquireLock = new BooleanParam(this, "acquireLock", "RW-lock the server (vs hogwild)")
  final val shufflePerIter = new BooleanParam(this, "shufflePerIter", "shuffle partition data each iter")
  final val tfDropout = new Param[String](this, "tfDropout", "dropout placeholder name (API parity)")
  final val toKeepDropout = new BooleanParam(this, "toKeepDropout", "dropout value is keep-probability")
  final val verbose = new IntParam(this, "verbose", "log training loss")
  final val partitionShuffles = new IntParam(this, "partitionShuffles", "full-shuffle training rounds")
  final val optimizerOptions = new Param[String](this, "optimizerOptions", "optimizer options JSON")
  final val port = new IntParam(this, "port", "parameter-server port")
  setDefault(tfOptimizer -> "adam", tfLearningRate -> 0.01, iters -> 1000,
    predictionCol -> "predicted", partitions -> 5, miniBatchSize -> 128,
    miniStochasticIters -> -1, acquireLock -> false, shufflePerIter -> true,
    toKeepDropout -> false, verbose -> 0, partitionShuffles -> 1, port -> 5000,
    optimizerOptions -> "{}")

  /** `optimizerOptions` as name → value. Numbers and booleans (as 1/0)
    * pass, unknown names included (`OptimizerConfigs` emits
    * `use_locking`); text that is not a JSON object, or a value of any
    * other type, throws rather than train on default hyper-parameters. */
  private[ml] def parsedOptions: Map[String, Double] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val text = $(optimizerOptions)
    JsonMethods.parseOpt(text) match {
      case Some(JObject(fields)) => fields.map {
        case (k, JDouble(v))  => k -> v
        case (k, JInt(v))     => k -> v.toDouble
        case (k, JBool(v))    => k -> (if (v) 1.0 else 0.0)
        case (k, JDecimal(v)) => k -> v.toDouble
        case (k, v)           => throw new IllegalArgumentException(
          s"optimizerOptions key '$k' is not a number or boolean: ${JsonMethods.compact(v)}")
      }.toMap
      case _ => throw new IllegalArgumentException(
        s"optimizerOptions is not a JSON object: $text")
    }
  }

  /** Row value → dense feature array. Accepts ml Vectors (dense AND sparse,
    * `tests/dl_runner.py:164-185`) plus Seq[Float/Double] so array<float>
    * embedding columns train without a VectorAssembler hop. */
  private[ml] def toFeatureArray(v: Any): Array[Double] = v match {
    case vec: Vector => vec.toArray
    // collection.Seq, not the immutable default alias: Spark row values
    // arrive as mutable.ArraySeq
    case s: scala.collection.Seq[_] =>
      s.map(x => x.asInstanceOf[Number].doubleValue()).toArray
    case a: Array[_] => a.map(x => x.asInstanceOf[Number].doubleValue())
    case other       => throw new IllegalArgumentException(
      s"unsupported feature type ${if (other == null) "null" else other.getClass.getName}")
  }

  /** Label → vector; scalars wrap to [y] (`ml_util.py:90-95`). */
  private[ml] def toLabelArray(v: Any): Array[Double] = v match {
    case vec: Vector => vec.toArray
    case s: scala.collection.Seq[_] =>
      s.map(x => x.asInstanceOf[Number].doubleValue()).toArray
    case n: Number   => Array(n.doubleValue())
    case other       => throw new IllegalArgumentException(
      s"unsupported label type ${if (other == null) "null" else other.getClass.getName}")
  }
}

/** Asynchronous distributed deep-learning Estimator — drop-in parity with
  * the reference's `SparkAsyncDL` (`tensorflow_async.py:102-321`), backed
  * by the graft dense-net engine + one driver-hosted parameter server
  * instead of TensorFlow + Flask. Its params are exactly the reference's
  * 21 ([[AsyncDLParams]]). */
class SparkAsyncDL(override val uid: String) extends Estimator[SparkAsyncDLModel]
    with AsyncDLParams with DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("sparkAsyncDL"))

  def setInputCol(v: String): this.type = set(inputCol, v)
  def setLabelCol(v: String): this.type = set(labelCol, v)
  def setPredictionCol(v: String): this.type = set(predictionCol, v)
  def setTensorflowGraph(v: String): this.type = set(tensorflowGraph, v)
  def setNetSpec(spec: NetSpec): this.type = set(tensorflowGraph, spec.toJson)
  def setTfInput(v: String): this.type = set(tfInput, v)
  def setTfLabel(v: String): this.type = set(tfLabel, v)
  def setTfOutput(v: String): this.type = set(tfOutput, v)
  def setTfOptimizer(v: String): this.type = set(tfOptimizer, v)
  def setTfLearningRate(v: Double): this.type = set(tfLearningRate, v)
  def setIters(v: Int): this.type = set(iters, v)
  def setPartitions(v: Int): this.type = set(partitions, v)
  def setMiniBatchSize(v: Int): this.type = set(miniBatchSize, v)
  def setMiniStochasticIters(v: Int): this.type = set(miniStochasticIters, v)
  def setAcquireLock(v: Boolean): this.type = set(acquireLock, v)
  def setShufflePerIter(v: Boolean): this.type = set(shufflePerIter, v)
  def setTfDropout(v: String): this.type = set(tfDropout, v)
  def setToKeepDropout(v: Boolean): this.type = set(toKeepDropout, v)
  def setVerbose(v: Int): this.type = set(verbose, v)
  def setPartitionShuffles(v: Int): this.type = set(partitionShuffles, v)
  def setOptimizerOptions(v: String): this.type = set(optimizerOptions, v)
  def setPort(v: Int): this.type = set(port, v)
  /** Compatibility setter with no Param behind it: there is one
    * parameter server, so only 1 is accepted. It goes once the benchmark
    * (`perfbench`) stops calling it. */
  def setPsShards(v: Int): this.type = {
    require(v == 1, s"psShards=$v: there is one parameter server, so psShards must be 1")
    this
  }

  override def fit(dataset: Dataset[_]): SparkAsyncDLModel = {
    transformSchema(dataset.schema, logging = true)
    val spec = NetSpec.fromJson($(tensorflowGraph))
    val inCol = $(inputCol)
    // unsupervised (autoencoder) mode = tfLabel unset and no explicit
    // labelCol, mirroring the reference's `tfLabel=None` switch
    // (`tests/dl_runner.py:274-292`)
    val supervised = (isSet(tfLabel) && $(tfLabel).nonEmpty) || isSet(labelCol)
    val lblCol = if (supervised) $(labelCol) else null
    val fArr = toFeatureArray _
    val lArr = toLabelArray _

    // project → (features, label) tuples, like handle_data
    // (`tensorflow_async.py:45-48,290`); unsupervised (autoencoder) mode
    // reconstructs the input: y = x.
    val base =
      if (supervised) dataset.select(col(inCol), col(lblCol)).rdd.map { r =>
        (fArr(r.get(0)), lArr(r.get(1)))
      }
      else dataset.select(col(inCol)).rdd.map { r =>
        val f = fArr(r.get(0)); (f, f)
      }
    // coalesce only when it reduces partition count (`tensorflow_async.py:290-291`)
    val rdd =
      if (base.getNumPartitions > $(partitions)) base.coalesce($(partitions)) else base

    val cfg = HogwildTrainer.Config(
      optimizerName = $(tfOptimizer),
      learningRate = $(tfLearningRate),
      optimizerOptions = parsedOptions,
      iters = $(iters),
      miniBatchSize = $(miniBatchSize),
      miniStochasticIters = $(miniStochasticIters),
      acquireLock = $(acquireLock),
      shufflePerIter = $(shufflePerIter),
      partitionShuffles = $(partitionShuffles),
      verbose = $(verbose),
      port = $(port))
    val weights = HogwildTrainer.fit(rdd, spec, cfg)

    val model = new SparkAsyncDLModel(uid + "_model")
      .setModelJson($(tensorflowGraph))
      .setWeights(weights)
      .setInputCol(inCol)
      .setPredictionCol($(predictionCol))
    copyValues(model).setParent(this)
  }

  override def transformSchema(schema: StructType): StructType = {
    require(schema.fieldNames.contains($(inputCol)), s"missing input column ${$(inputCol)}")
    val outDim = NetSpec.fromJson($(tensorflowGraph)).outputDim
    val outType = if (outDim == 1) DoubleType else SQLDataTypes.VectorType
    StructType(schema.fields :+ StructField($(predictionCol), outType, nullable = false))
  }

  override def copy(extra: ParamMap): SparkAsyncDL = defaultCopy(extra)
}

object SparkAsyncDL extends DefaultParamsReadable[SparkAsyncDL]

/** Fitted model — parity with `SparkAsyncDLModel` (`tensorflow_async.py:
  * 51-99`). transform() appends the prediction column through one Catalyst
  * operator, [[graft.plans.BlockPredict]]: per partition it runs the net
  * once per block of rows as one matrix forward, and Catalyst still pushes
  * filters below it and prunes the columns it does not read. The reference
  * instead rebuilt every row via `mapPartitions(...).toDF()`, re-inferring
  * the schema and hiding the plan from the optimizer (a bug class we drop,
  * SURVEY.md §1). Weights deserialize ONCE on the driver and ship via
  * broadcast, not once per partition per query (`ml_util.py:57-58` cost
  * eliminated). */
class SparkAsyncDLModel(override val uid: String) extends Model[SparkAsyncDLModel]
    with AsyncDLParams with DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("sparkAsyncDLModel"))

  final val modelJson = new Param[String](this, "modelJson", "NetSpec topology JSON")
  final val modelWeights = new Param[String](this, "modelWeights", "trained weights JSON")

  def setModelJson(v: String): this.type = set(modelJson, v)
  def setModelWeights(v: String): this.type = set(modelWeights, v)
  def setInputCol(v: String): this.type = set(inputCol, v)
  def setPredictionCol(v: String): this.type = set(predictionCol, v)

  def spec: NetSpec = NetSpec.fromJson($(modelJson))

  /** The weights as tensors, parsed once per weights value and shared with
    * the model (do not mutate them). Keyed by identity, like the broadcast
    * below: the weights Param value is the same String instance until
    * someone sets a new one. A model returned by `fit` starts out holding
    * the tensors it was built from, so it never parses its own JSON. */
  @transient private var parsed: (String, Tensors.Tensors) = _
  def weights: Tensors.Tensors = synchronized {
    val wj = $(modelWeights)
    if (parsed == null || (parsed._1 ne wj)) parsed = (wj, Tensors.fromJson(wj))
    parsed._2
  }
  private[ml] def setWeights(ts: Tensors.Tensors): this.type = synchronized {
    val wj = Tensors.toJson(ts)
    parsed = (wj, ts)
    set(modelWeights, wj)
  }

  /** One broadcast per (context, weights) — repeated transform() calls on
    * a long-lived model must not accumulate broadcast blocks on the
    * executors. */
  @transient private var cachedBc
      : (org.apache.spark.SparkContext, String, org.apache.spark.broadcast.Broadcast[Tensors.Tensors]) = _
  private def weightsBroadcast(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.broadcast.Broadcast[Tensors.Tensors] = synchronized {
    val sc = spark.sparkContext
    val wj = $(modelWeights)
    if (cachedBc == null || (cachedBc._1 ne sc) || (cachedBc._2 ne wj))
      cachedBc = (sc, wj, sc.broadcast(weights))
    cachedBc._3
  }

  override def transform(dataset: Dataset[_]): DataFrame = {
    val schema = transformSchema(dataset.schema, logging = true)
    BlockPredict(dataset.toDF(), $(inputCol), schema.last, new Network(spec),
      weightsBroadcast(dataset.sparkSession))
  }

  override def transformSchema(schema: StructType): StructType = {
    require(schema.fieldNames.contains($(inputCol)), s"missing input column ${$(inputCol)}")
    // scalar-vs-vector output rule (`ml_util.py:76-81`)
    val outType = if (spec.outputDim == 1) DoubleType else SQLDataTypes.VectorType
    StructType(schema.fields :+ StructField($(predictionCol), outType, nullable = false))
  }

  override def copy(extra: ParamMap): SparkAsyncDLModel =
    defaultCopy[SparkAsyncDLModel](extra).setParent(parent)
}

object SparkAsyncDLModel extends DefaultParamsReadable[SparkAsyncDLModel]
