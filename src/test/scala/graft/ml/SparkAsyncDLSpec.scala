package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.nn.NetSpec
import graft.train.HogwildTrainer
import java.nio.file.Files

/** Port of the reference's 9 end-to-end cases
  * (lifeomic/sparkflow `tests/dl_runner.py:97-312`), same
  * statistical-threshold assertion style (`:75-88`). */
class SparkAsyncDLSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import scala.jdk.CollectionConverters._

  private val rng = new scala.util.Random(12345)

  // reference net shapes (tests/dl_runner.py:45-73); tanh hidden layers
  // converge in few iters where the reference relied on TF defaults
  private def xorSpec = NetSpec.input(2).dense(12, "tanh").dense(7, "tanh")
    .dense(1, "sigmoid").loss("mse")
  private def blobSpec = NetSpec.input(10).dense(12, "tanh").dense(7, "tanh")
    .dense(1, "sigmoid").loss("mse")
  private def aeSpec = NetSpec.input(10).dense(5, "tanh").dense(2, "tanh")
    .dense(5, "tanh").dense(10, "linear").loss("mse")

  private def xorDf: DataFrame = {
    val rows = Seq(
      (0.0, Vectors.dense(0.0, 0.0)), (1.0, Vectors.dense(0.0, 1.0)),
      (1.0, Vectors.dense(1.0, 0.0)), (0.0, Vectors.dense(1.0, 1.0)))
    spark.createDataFrame(rows).toDF("label", "features")
  }

  private def sparseXorDf: DataFrame = {
    val rows = Seq(
      (0.0, Vectors.sparse(2, Array[Int](), Array[Double]())),
      (1.0, Vectors.sparse(2, Array(1), Array(1.0))),
      (1.0, Vectors.sparse(2, Array(0), Array(1.0))),
      (0.0, Vectors.sparse(2, Array(0, 1), Array(1.0, 1.0))))
    spark.createDataFrame(rows).toDF("label", "features")
  }

  /** Two overlapping 10-d Gaussian blobs (`generate_random_data :90-95`). */
  private def blobsDf(n: Int = 200): DataFrame = {
    val rows = (0 until n).map { _ =>
      (1.0, Vectors.dense(Array.fill(10)(rng.nextGaussian())))
    } ++ (0 until n).map { _ =>
      (0.0, Vectors.dense(Array.fill(10)(rng.nextGaussian() + 2.0)))
    }
    spark.createDataFrame(rng.shuffle(rows)).toDF("label", "features")
  }

  private def errorCount(df: DataFrame): Long =
    df.collect().count { r =>
      val lbl = r.getAs[Double]("label")
      val p = r.getAs[Double]("predicted")
      (if (p > 0.5) 1.0 else 0.0) != lbl
    }

  private def dl(port: Int) = new SparkAsyncDL()
    .setInputCol("features").setLabelCol("label")
    .setNetSpec(blobSpec).setTfOptimizer("adam").setTfLearningRate(0.05)
    .setIters(25).setMiniBatchSize(64).setPartitions(2).setPort(port)

  test("overlapping gaussians end-to-end (test_overlapping_guassians)") {
    val df = blobsDf()
    val model = dl(5101).fit(df)
    val out = model.transform(df)
    assert(out.count() == 400)
    assert(errorCount(out) < 200, "worse than chance")
  }

  test("setPsShards is a compat setter: 1 fits, any other count throws naming psShards") {
    val df = blobsDf(20)
    assert(dl(0).setIters(3).setPsShards(1).fit(df).transform(df).count() == 40)
    for (n <- Seq(0, 2)) {
      val e = intercept[IllegalArgumentException](dl(0).setPsShards(n))
      assert(e.getMessage.contains("psShards"), e.getMessage)
    }
  }

  test("malformed or non-numeric optimizerOptions fail the fit, naming the bad text or key") {
    val df = blobsDf(10)
    for ((opts, named) <- Seq(
        "{beta1:0.5" -> "{beta1:0.5",
        "[1]" -> "[1]",
        """{"beta1":"0.85"}""" -> "beta1",
        """{"beta2":null}""" -> "beta2")) {
      val e = intercept[IllegalArgumentException](
        dl(0).setIters(1).setOptimizerOptions(opts).fit(df))
      assert(e.getMessage.contains("optimizerOptions") && e.getMessage.contains(named),
        e.getMessage)
    }
    // numbers, booleans and names the optimizer does not read still pass
    assert(new SparkAsyncDL()
      .setOptimizerOptions("""{"beta1":0.85,"use_locking":false,"n":3}""")
      .parsedOptions == Map("beta1" -> 0.85, "use_locking" -> 0.0, "n" -> 3.0))
  }

  test("an empty training set fails the fit; a one-row set trains, full batch and mini-batch") {
    def xorDl = new SparkAsyncDL()
      .setInputCol("features").setLabelCol("label")
      .setNetSpec(xorSpec).setTfLearningRate(0.1).setIters(5).setPort(0)
    val e = intercept[IllegalArgumentException](xorDl.fit(xorDf.limit(0)))
    assert(e.getMessage.contains("no rows"), e.getMessage)
    val initial = new graft.nn.Network(xorSpec).initWeights(HogwildTrainer.Config().seed)
    for (batch <- Seq(-1, 16)) {
      val one = xorDf.limit(1)
      val model = xorDl.setMiniBatchSize(batch).fit(one)
      assert(model.transform(one).count() == 1)
      assert(model.weights.zip(initial).exists { case (a, b) => a != b },
        s"miniBatchSize=$batch returned the initial weights")
    }
  }

  test("sparse and dense vectors train identically shaped (test_small_sparse)") {
    val model = new SparkAsyncDL()
      .setInputCol("features").setLabelCol("label")
      .setNetSpec(xorSpec).setTfOptimizer("adam").setTfLearningRate(0.1)
      .setIters(35).setPartitions(1).setPort(5102)
      .fit(sparseXorDf)
    val out = model.transform(sparseXorDf).collect()
    assert(out.length == 4)
    assert(out.forall(r => !r.isNullAt(r.fieldIndex("predicted"))))
  }

  test("save/load model round-trip (test_save_model)") {
    val df = blobsDf(50)
    val model = dl(5103).setIters(5).fit(df)
    val dir = Files.createTempDirectory("graft_model").toString + "/m"
    model.write.overwrite().save(dir)
    val loaded = SparkAsyncDLModel.load(dir)
    val a = model.transform(df).select("predicted").collect().map(_.getDouble(0))
    val b = loaded.transform(df).select("predicted").collect().map(_.getDouble(0))
    assert(a.sameElements(b), "loaded model predicts differently")
  }

  test("predictions follow setModelWeights made after a transform, and survive save/load") {
    val spec = blobSpec
    val net = new graft.nn.Network(spec)
    val (w1, w2) = (net.initWeights(1L), net.initWeights(2L))
    val df = blobsDf(20)
    val feats = df.select("features").collect().map(_.getAs[Vector](0).toArray)
    def preds(m: SparkAsyncDLModel) =
      m.transform(df).select("predicted").collect().map(_.getDouble(0)).toSeq
    def oneRow(w: graft.nn.Tensors.Tensors) = feats.map(f => net.predictRow(f, w)(0)).toSeq
    val model = new SparkAsyncDLModel().setModelJson(spec.toJson).setInputCol("features")
      .setWeights(w1)
    assert(model.weights eq w1, "the model parsed the tensors it was built from")
    assert(preds(model) == oneRow(w1))
    model.setModelWeights(graft.nn.Tensors.toJson(w2))
    assert(preds(model) == oneRow(w2))
    assert(oneRow(w1) != oneRow(w2))
    val dir = Files.createTempDirectory("graft_weights").toString + "/m"
    model.write.overwrite().save(dir)
    assert(preds(SparkAsyncDLModel.load(dir)) == oneRow(w2))
  }

  test("save/load full pipeline (test_save_pipeline)") {
    val raw = blobsDf(50).selectExpr("label", "features as rawfeat")
    val assembler = new VectorAssembler()
      .setInputCols(Array("rawfeat")).setOutputCol("features")
    val est = dl(5104).setIters(5)
    val pipe = new Pipeline().setStages(Array(assembler, est)).fit(raw)
    val dir = Files.createTempDirectory("graft_pipe").toString + "/p"
    pipe.write.overwrite().save(dir)
    val loaded = GraftPipelineWrapper.unwrap(PipelineModel.load(dir))
    val out = loaded.transform(raw)
    assert(out.columns.contains("predicted") && out.count() == 100)
  }

  test("adam optimizer options json (test_optimizer_options)") {
    val df = blobsDf(50)
    val model = dl(5105).setIters(10)
      .setOptimizerOptions("""{"beta1":0.85,"beta2":0.998,"epsilon":1e-7}""")
      .fit(df)
    assert(errorCount(model.transform(df)) < 100)
  }

  test("rmsprop optimizer options json (test_rmsprop)") {
    val df = blobsDf(50)
    val model = dl(5106).setIters(10).setTfOptimizer("rmsprop").setTfLearningRate(0.01)
      .setOptimizerOptions("""{"decay":0.95,"momentum":0.1,"centered":true}""")
      .fit(df)
    assert(errorCount(model.transform(df)) < 100)
  }

  test("raw RDD hogwild training (test_spark_hogwild)") {
    val data = Seq(
      (Array(0.0, 0.0), Array(0.0)), (Array(0.0, 1.0), Array(1.0)),
      (Array(1.0, 0.0), Array(1.0)), (Array(1.0, 1.0), Array(0.0)))
    val rdd = spark.sparkContext.parallelize(data, 1)
    val w = HogwildTrainer.fit(rdd, xorSpec, HogwildTrainer.Config(
      optimizerName = "adam", learningRate = 0.1, iters = 300,
      shufflePerIter = false, port = 5107))
    val net = new graft.nn.Network(xorSpec)
    val preds = data.map { case (f, _) => net.predictRow(f, w)(0) }
    val errs = preds.zip(Seq(0.0, 1.0, 1.0, 0.0))
      .count { case (p, y) => (if (p > 0.5) 1.0 else 0.0) != y }
    assert(errs <= 1, s"preds=$preds")
  }

  test("partitionShuffles=2 trains through repartition rounds (test_partition_shuffles)") {
    val df = blobsDf(50)
    val model = dl(5108).setIters(5).setPartitionShuffles(2).fit(df)
    assert(errorCount(model.transform(df)) < 100)
  }

  test("autoencoder / unsupervised mode (test_auto_encoder)") {
    val df = blobsDf(100).select("features") // no label column at all
    val model = new SparkAsyncDL()
      .setInputCol("features")
      .setNetSpec(aeSpec).setTfOptimizer("adam").setTfLearningRate(0.01)
      .setIters(20).setMiniBatchSize(64).setPartitions(2).setPort(5109)
      .fit(df)
    val out = model.transform(df)
    // vector-output rule: 10-wide reconstruction → VectorUDT column
    val first = out.select("predicted").head().get(0)
    assert(first.isInstanceOf[Vector])
    assert(first.asInstanceOf[Vector].size == 10)
  }

  test("custom port (test_change_port)") {
    val df = blobsDf(20)
    val model = dl(9977).setIters(3).fit(df)
    assert(model.transform(df).count() == 40)
  }

  test("MulticlassClassificationEvaluator interop (examples/simple_dnn.py:71-73)") {
    import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
    import org.apache.spark.sql.functions.{col, when}
    val raw = blobsDf(100).selectExpr("label", "features as rawfeat")
    val assembler = new VectorAssembler()
      .setInputCols(Array("rawfeat")).setOutputCol("features")
    val pipe = new Pipeline()
      .setStages(Array(assembler, dl(5111).setIters(15))).fit(raw)
    // sigmoid score → class label, the reference's thresholding step,
    // then the STOCK evaluator unmodified
    val predictions = pipe.transform(raw)
      .withColumn("pred_class", when(col("predicted") > 0.5, 1.0).otherwise(0.0))
    val evaluator = new MulticlassClassificationEvaluator()
      .setLabelCol("label").setPredictionCol("pred_class").setMetricName("accuracy")
    val accuracy = evaluator.evaluate(predictions)
    assert(accuracy > 0.5 && accuracy <= 1.0, s"accuracy=$accuracy")
  }

  test("one-hot multiclass pipeline: OneHotEncoder → softmax net → evaluator (simple_dnn shape)") {
    import org.apache.spark.ml.feature.OneHotEncoder
    import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
    import org.apache.spark.sql.functions.{col, expr}
    // three well-separated 4-d blobs, class index as a double column
    val rows = (0 until 150).map { i =>
      val c = i % 3
      val center = Array.tabulate(4)(d => if (d == c) 4.0 else -4.0)
      (c.toDouble, Vectors.dense(center.map(_ + rng.nextGaussian() * 0.3)))
    }
    val df = spark.createDataFrame(rng.shuffle(rows)).toDF("classIdx", "features")
    val enc = new OneHotEncoder().setInputCol("classIdx").setOutputCol("labels")
      .setDropLast(false)
    val est = new SparkAsyncDL()
      .setInputCol("features").setLabelCol("labels")
      .setNetSpec(NetSpec.input(4).dense(10, "tanh").dense(3, "softmax")
        .loss("softmax_xent"))
      .setTfOptimizer("adam").setTfLearningRate(0.05)
      .setIters(25).setMiniBatchSize(64).setPartitions(2).setPort(5112)
    val pipe = new Pipeline().setStages(Array(enc, est)).fit(df)
    // 3-wide output → VectorUDT predicted column; argmax → class index
    val preds = pipe.transform(df)
      .withColumn("p", org.apache.spark.ml.functions.vector_to_array(col("predicted")))
      .withColumn("pred_class",
        expr("cast(array_position(p, array_max(p)) - 1 as double)"))
    val accuracy = new MulticlassClassificationEvaluator()
      .setLabelCol("classIdx").setPredictionCol("pred_class")
      .setMetricName("accuracy").evaluate(preds)
    assert(accuracy > 0.8, s"multiclass accuracy=$accuracy")
  }

  test("CNN pipeline e2e: conv2d/maxpool net trains through the parameter server (examples/cnn_example.py:13-18)") {
    import org.apache.spark.ml.feature.OneHotEncoder
    import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
    import org.apache.spark.sql.functions.{col, expr}
    // The reference example's full shape — raw pixel columns →
    // VectorAssembler → OneHotEncoder → SparkAsyncDL(conv net) in ONE
    // Pipeline, fitted end-to-end through the hogwild parameter server,
    // then saved like `p.save("cnn")`. MNIST shrinks to 8×8 synthetic
    // digits-ish classes (a vertical bar, a horizontal bar, a filled
    // center) so the conv stack has real spatial structure to learn at
    // test cost; the two conv+pool blocks mirror the example's topology.
    val n = 180
    val rows = (0 until n).map { i =>
      val c = i % 3
      val px = Array.tabulate(64) { p =>
        val (r, q) = (p / 8, p % 8)
        val on = c match {
          case 0 => q == 3 || q == 4           // vertical bar
          case 1 => r == 3 || r == 4           // horizontal bar
          case _ => r >= 2 && r <= 5 && q >= 2 && q <= 5 // center blob
        }
        (if (on) 1.0 else 0.0) + rng.nextGaussian() * 0.1
      }
      Row.fromSeq(c.toDouble +: px.toSeq)
    }
    val pixCols = (0 until 64).map(i => s"px$i")
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("classIdx",
        org.apache.spark.sql.types.DoubleType, nullable = false) +:
        pixCols.map(c => org.apache.spark.sql.types.StructField(c,
          org.apache.spark.sql.types.DoubleType, nullable = false)))
    val df = spark.createDataFrame(rows.asJava, schema)
    val va = new VectorAssembler().setInputCols(pixCols.toArray)
      .setOutputCol("features")
    val enc = new OneHotEncoder().setInputCol("classIdx").setOutputCol("labels")
      .setDropLast(false)
    // conv1 → pool → conv2 → pool → dense softmax, the example's stack
    // scaled to 8×8: 8×8×1 ─conv(4f,3)→ 6×6×4 ─pool(2)→ 3×3×4
    // ─conv(8f,2)→ 2×2×8 ─pool(2)→ 1×1×8 ─dense→ 3
    val cnnSpec = NetSpec.image(8, 8).conv2d(4, 3, activation = "relu").maxpool(2)
      .conv2d(8, 2, activation = "relu").maxpool(2)
      .dense(3, "softmax").loss("softmax_xent")
    val est = new SparkAsyncDL()
      .setInputCol("features").setLabelCol("labels")
      .setNetSpec(cnnSpec)
      .setTfOptimizer("adam").setTfLearningRate(0.05)
      .setIters(30).setMiniBatchSize(32).setPartitions(2).setPort(5115)
    val pipe = new Pipeline().setStages(Array(va, enc, est)).fit(df)
    val preds = pipe.transform(df)
      .withColumn("p", org.apache.spark.ml.functions.vector_to_array(col("predicted")))
      .withColumn("pred_class",
        expr("cast(array_position(p, array_max(p)) - 1 as double)"))
    val accuracy = new MulticlassClassificationEvaluator()
      .setLabelCol("classIdx").setPredictionCol("pred_class")
      .setMetricName("accuracy").evaluate(preds)
    // the reference's statistical-threshold style (dl_runner.py:75-88):
    // 3 classes, chance = 1/3 — a trained conv stack must clear it by a
    // wide margin on this separable task
    assert(accuracy > 0.8, s"cnn pipeline accuracy=$accuracy")
    // `p.save("cnn")` — the fitted PipelineModel round-trips
    val dir = Files.createTempDirectory("graft_cnn").toString + "/cnn"
    pipe.write.overwrite().save(dir)
    val back = PipelineModel.load(dir)
    assert(back.transform(df).columns.contains("predicted"))
  }

  test("checkpoint loader + attach to pipeline (T22/T23)") {
    val df = blobsDf(30)
    val model = dl(5110).setIters(3).fit(df)
    val dir = Files.createTempDirectory("graft_ckpt").toString
    ModelLoader.saveCheckpoint(model, dir)
    val loaded = ModelLoader.loadModel(dir, inputCol = "features")
    val raw = df.selectExpr("label", "features as rawfeat")
    val pre = new Pipeline().setStages(Array(
      new VectorAssembler().setInputCols(Array("rawfeat")).setOutputCol("features")))
      .fit(raw)
    val combined = ModelLoader.attachToPipeline(loaded, pre)
    assert(combined.transform(raw).columns.contains("predicted"))
  }
}
