package graft.plans

import breeze.linalg.DenseMatrix
import org.apache.spark.ml.linalg.{SQLDataTypes, Vector, Vectors}
import org.apache.spark.sql.{DataFrame, GraftPlanBridge, Row}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.ml.SparkAsyncDLModel
import graft.nn.{NetSpec, Network, Tensors}

/** The block-inference operator behind `SparkAsyncDLModel.transform`:
  * exactness against the one-row forward, degenerate inputs, every
  * accepted input type, and the plan shapes the optimizer rule and
  * Spark's column pruning give it. */
class BlockPredictSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  /** The benchmark's net: 64 → 256 relu → 256 relu → 10 softmax. */
  private val denseSpec = NetSpec.input(64).dense(256, "relu").dense(256, "relu")
    .dense(10, "softmax").loss("softmax_xent")
  /** ConvSpec's net: 6×6 image → conv2d(4, 3) tanh → maxpool(2) → 1 sigmoid. */
  private val convSpec = NetSpec.image(6, 6).conv2d(4, 3, activation = "tanh").maxpool(2)
    .dense(1, "sigmoid").loss("mse")
  private val smallSpec = NetSpec.input(3).dense(4, "tanh").dense(2, "sigmoid").loss("mse")

  /** Initialised weights with non-zero biases, so the bias add is tested. */
  private def weightsFor(spec: NetSpec, seed: Long): Tensors.Tensors = {
    val rng = new scala.util.Random(seed)
    new Network(spec).initWeights(seed).map { t =>
      if (t.rows == 1) DenseMatrix.fill(1, t.cols)(rng.nextGaussian() * 0.1) else t
    }
  }

  private def model(spec: NetSpec, seed: Long = 7L): SparkAsyncDLModel =
    new SparkAsyncDLModel().setModelJson(spec.toJson)
      .setModelWeights(Tensors.toJson(weightsFor(spec, seed))).setInputCol("features")

  private def gaussian(n: Int, width: Int, seed: Long): Seq[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(n)(Array.fill(width)(rng.nextGaussian()))
  }

  /** (id, features) with `features` of type `ft`, in `parts` partitions. */
  private def frame(xs: Seq[Any], parts: Int, ft: DataType = ArrayType(DoubleType, false)): DataFrame = {
    val schema = StructType(Seq(StructField("id", LongType, false), StructField("features", ft)))
    spark.createDataFrame(spark.sparkContext.parallelize(
      xs.zipWithIndex.map { case (x, i) => Row(i.toLong, x) }, parts), schema)
  }

  /** Predictions by id, as raw bits (a scalar output is a one-element array). */
  private def predicted(df: DataFrame): Map[Long, Seq[Long]] =
    df.collect().map { r =>
      val p = r.getAs[Any]("predicted") match {
        case v: Vector => v.toArray
        case d: Double => Array(d)
      }
      r.getAs[Long]("id") -> p.toSeq.map(java.lang.Double.doubleToRawLongBits)
    }.toMap

  private def oneRow(m: SparkAsyncDLModel, xs: Seq[Array[Double]]): Map[Long, Seq[Long]] = {
    val net = new Network(m.spec)
    xs.zipWithIndex.map { case (x, i) =>
      i.toLong -> net.predictRow(x, m.weights).toSeq.map(java.lang.Double.doubleToRawLongBits)
    }.toMap
  }

  private def execs(df: DataFrame): Seq[BlockPredictExec] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case other => other +: other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).collect { case e: BlockPredictExec => e }
  }

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")

  // Bit-for-bit: a block row is the same column-major layout and the same
  // GEMM call as a one-row forward, and `Gemm.mul` sums each output
  // element's products in the same order whatever the row count, so no
  // tolerance is needed.
  test("block predictions equal one-row forward predictions bit for bit: dense softmax net") {
    val xs = gaussian(700, 64, 1L) // two partitions of 350 = 256 + a partial 94-row block
    val m = model(denseSpec)
    val out = m.transform(frame(xs, 2))
    assert(predicted(out) == oneRow(m, xs))
    assert(execs(out).head.metrics("numBlocks").value == 4)
  }

  test("block predictions equal one-row forward predictions bit for bit: conv2d/maxpool net") {
    val xs = gaussian(300, 36, 2L)
    val m = model(convSpec)
    assert(predicted(m.transform(frame(xs, 1))) == oneRow(m, xs))
  }

  test("an empty frame gives an empty result with the prediction column") {
    val out = model(smallSpec).transform(frame(Seq.empty, 2))
    assert(out.columns.toSeq == Seq("id", "features", "predicted"))
    assert(out.collect().isEmpty)
  }

  test("an existing prediction column is replaced in place, as withColumn does") {
    val m = model(smallSpec)
    val once = m.transform(frame(gaussian(6, 3, 10L).map(_.toSeq), 2))
    val twice = m.transform(once.withColumn("predicted", col("id")))
    assert(twice.columns.toSeq == Seq("id", "features", "predicted"))
    assert(predicted(twice) == predicted(once))
  }

  test("partitions smaller than one block, and empty ones, predict every row") {
    val xs = gaussian(5, 3, 3L)
    val m = model(smallSpec)
    assert(predicted(m.transform(frame(xs, 8))) == oneRow(m, xs))
  }

  test("every accepted input type, sparse vectors included, predicts the same; the output rule holds") {
    // small integers are exact as float, double and int, and many are 0,
    // so the sparse vectors are sparse
    val xs = gaussian(30, 3, 5L).map(_.map(v => math.rint(v * 2)))
    val m = model(smallSpec)
    val want = oneRow(m, xs)
    val inputs = Seq(
      frame(xs.map(Vectors.dense), 2, SQLDataTypes.VectorType),
      frame(xs.map(x => Vectors.dense(x).toSparse), 2, SQLDataTypes.VectorType),
      frame(xs.map(_.toSeq), 2),
      frame(xs.map(_.map(_.toFloat).toSeq), 2, ArrayType(FloatType, false)),
      frame(xs.map(_.map(_.toInt).toSeq), 2, ArrayType(IntegerType, true)))
    inputs.foreach { df =>
      val out = m.transform(df)
      assert(predicted(out) == want, df.schema("features").dataType)
      val f = out.schema("predicted")
      assert(f.dataType == SQLDataTypes.VectorType && !f.nullable)
    }
    val scalar = model(NetSpec.input(3).dense(1, "sigmoid").loss("mse"))
    val f = scalar.transform(frame(xs.map(_.toSeq), 2)).schema("predicted")
    assert(f.dataType == DoubleType && !f.nullable)
  }

  test("a null feature value fails naming the input column") {
    val e = intercept[Exception](
      model(smallSpec).transform(frame(Seq(Seq(1.0, 2.0, 3.0), null), 1)).collect())
    assert(messages(e).contains("input column 'features' is null"), messages(e))
  }

  test("a row of the wrong width fails with the expected and actual width") {
    val e = intercept[Exception](
      model(smallSpec).transform(frame(Seq(Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0)), 1)).collect())
    assert(messages(e).contains(
      "input column 'features' has a row of width 2; the net expects width 3"), messages(e))
  }

  test("plan shape: the node is planned, the filter runs below it, unread columns are pruned") {
    val path = java.nio.file.Files.createTempDirectory("blockpredict").toString + "/t"
    spark.createDataFrame(spark.sparkContext.parallelize(gaussian(50, 3, 6L).zipWithIndex.map {
      case (x, i) => Row(i.toLong, x.toSeq, i % 10, s"pad$i")
    }, 2), StructType(Seq(StructField("id", LongType), StructField("features", ArrayType(DoubleType)),
      StructField("keep", IntegerType), StructField("extra", StringType))))
      .write.parquet(path)
    val m = model(smallSpec)
    val out = m.transform(spark.read.parquet(path)).filter(col("keep") > 6).select("id", "predicted")
    val Seq(node) = execs(out)
    // the filter sits below the node: none above it, one on its input
    val above = out.queryExecution.executedPlan.collect { case f: FilterExec => f }
    assert(node.collect { case f: FilterExec => f }.size == 1 && above.size == 1,
      out.queryExecution.executedPlan)
    val scan = node.collect { case s: FileSourceScanExec => s }.head
    assert(scan.toString.contains("GreaterThan(keep,6)"), scan)
    // `extra` is read by no one: neither the scan nor the node's input has it
    assert(!scan.requiredSchema.fieldNames.contains("extra"), scan.requiredSchema)
    assert(!node.child.output.exists(_.name == "extra"), node.child.output)
    assert(out.count() == 15)
  }

  test("a projection that reads no prediction drops the node") {
    val out = model(smallSpec).transform(frame(gaussian(10, 3, 8L).map(_.toSeq), 2)).select("id")
    assert(out.queryExecution.optimizedPlan.collect { case b: BlockPredictPlan => b }.isEmpty)
    assert(out.count() == 10)
  }

  test("extensions route: a session built with GraftExtensions plans the node without ensureRegistered") {
    // the fixture session is built with spark.sql.extensions=GraftExtensions;
    // a new session carries the extensions but none of the parent's
    // session-local strategies
    val s = spark.newSession()
    val extra = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental.extraStrategies
    assert(!extra.exists(_.isInstanceOf[BlockPredictStrategy]))
    val m = model(smallSpec)
    val xs = gaussian(20, 3, 9L)
    val df = s.createDataFrame(frame(xs.map(_.toSeq), 2).rdd, frame(Seq.empty, 1).schema)
    val child = GraftPlanBridge.analyzed(df)
    val pred = AttributeReference("predicted", SQLDataTypes.VectorType, nullable = false)()
    val out = GraftPlanBridge.ofRows(s, BlockPredictPlan(child.output(1), pred,
      new Network(m.spec), s.sparkContext.broadcast(m.weights), child))
    assert(execs(out).size == 1)
    assert(predicted(out) == oneRow(m, xs))
  }
}
