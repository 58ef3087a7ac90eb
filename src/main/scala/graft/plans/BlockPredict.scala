package graft.plans

import breeze.linalg.DenseMatrix
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.ml.linalg.{SQLDataTypes, Vector, Vectors}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftPlanBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  And, Attribute, AttributeReference, AttributeSet, BindReferences, Cast, Expression,
  GenericInternalRow, JoinedRow, PredicateHelper, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types._
import graft.nn.Network
import graft.nn.Tensors.Tensors

/** Neural-net inference as a Catalyst operator: every input row comes out
  * with one prediction column appended, and the net runs once per block of
  * [[BlockPredict.BlockRows]] rows — one matrix-matrix product per dense
  * layer instead of one 1×n forward per row. Built like [[AsOfJoin]]: a
  * logical node, a `SparkStrategy` that plans it onto [[BlockPredictExec]],
  * and an optimizer rule ([[PushThroughBlockPredict]]), registered per
  * session by [[BlockPredict.apply]] or cluster-wide through
  * [[graft.functions.GraftExtensions]].
  *
  * `feature` is the input column, cast to `array<double>` when it is
  * another numeric array; the node reads nothing else of its child, so
  * Spark's `ColumnPruning` prunes every other unread column below it.
  * `prediction` is `DoubleType` for a one-wide net output and an ml
  * `Vector` otherwise, never null.
  */
case class BlockPredictPlan(
    feature: Expression, prediction: Attribute,
    net: Network, weights: Broadcast[Tensors],
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ prediction
  override def producedAttributes: AttributeSet = AttributeSet(prediction)
  override protected def stringArgs: Iterator[Any] = Iterator(feature, prediction)
  override protected def withNewChildInternal(newChild: LogicalPlan): BlockPredictPlan =
    copy(child = newChild)
}

/** Plans [[BlockPredictPlan]] onto [[BlockPredictExec]]. */
class BlockPredictStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case BlockPredictPlan(f, p, net, w, child) => BlockPredictExec(f, p, net, w, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** Moves work below or out of [[BlockPredictPlan]]: deterministic filter
  * conjuncts that do not read the prediction run before the net, and a
  * projection that reads no prediction drops the node, as Catalyst drops
  * an unread UDF column. */
object PushThroughBlockPredict extends Rule[LogicalPlan] with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case p @ Project(_, bp: BlockPredictPlan) if !p.references.contains(bp.prediction) =>
      p.copy(child = bp.child)
    case f @ Filter(cond, bp: BlockPredictPlan) =>
      val (below, above) = splitConjunctivePredicates(cond)
        .partition(c => c.deterministic && c.references.subsetOf(bp.child.outputSet))
      if (below.isEmpty) f
      else {
        val pushed = bp.copy(child = Filter(below.reduce(And), bp.child))
        if (above.isEmpty) pushed else Filter(above.reduce(And), pushed)
      }
  }
}

/** Per partition: buffer up to [[BlockPredict.BlockRows]] input rows, run
  * `Network.forward` once on their features as one matrix, then emit each
  * buffered row with its prediction appended, in input order. */
case class BlockPredictExec(
    feature: Expression, prediction: Attribute,
    net: Network, weights: Broadcast[Tensors],
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ prediction
  override def producedAttributes: AttributeSet = AttributeSet(prediction)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override protected def stringArgs: Iterator[Any] = Iterator(feature, prediction)
  override protected def withNewChildInternal(newChild: SparkPlan): BlockPredictExec =
    copy(child = newChild)

  override lazy val metrics: Map[String, org.apache.spark.sql.execution.metric.SQLMetric] = Map(
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"),
    "numBlocks" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of forward blocks"))

  protected override def doExecute(): RDD[InternalRow] = {
    val featureB = BindReferences.bindReference(feature, child.output)
    val name = feature.collectFirst { case a: Attribute => a.name }.getOrElse(feature.sql)
    val width = net.spec.inputDim
    val read = BlockPredict.reader(feature.dataType, name, width)
    val write = BlockPredict.writer(prediction.dataType)
    val (nn, bc, outAttrs) = (net, weights, output)
    val numOutputRows = longMetric("numOutputRows")
    val numBlocks = longMetric("numBlocks")

    child.execute().mapPartitions { iter =>
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow
      val predRow = new GenericInternalRow(1)
      val rows = new Array[InternalRow](BlockPredict.BlockRows)
      val feats = new Array[Array[Double]](BlockPredict.BlockRows)
      new Iterator[InternalRow] {
        private var n = 0
        private var pos = 0
        private var preds: DenseMatrix[Double] = _

        /** Reads the next block and runs the net on it; false at the end. */
        private def fill(): Boolean = {
          n = 0; pos = 0
          while (n < rows.length && iter.hasNext) {
            val row = iter.next()
            val v = featureB.eval(row)
            if (v == null) throw new IllegalArgumentException(
              s"input column '$name' is null in a row; the net needs a value")
            feats(n) = read(v)
            rows(n) = row.copy() // the child may reuse its row buffer
            n += 1
          }
          if (n == 0) return false
          // column-major n×width, the layout of a one-row forward's input
          val x = new Array[Double](n * width)
          var r = 0
          while (r < n) {
            val f = feats(r)
            var j = 0
            while (j < width) { x(j * n + r) = f(j); j += 1 }
            r += 1
          }
          preds = nn.forward(new DenseMatrix(n, width, x), bc.value)
          numBlocks += 1
          true
        }

        override def hasNext: Boolean = pos < n || fill()
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          predRow.update(0, write(preds, pos))
          val out = proj(joined(rows(pos), predRow))
          rows(pos) = null
          pos += 1
          numOutputRows += 1
          out
        }
      }
    }
  }
}

/** Public entry point + registration. */
object BlockPredict {
  /** Rows per forward. On a 64-256-256-10 net, single-threaded on
    * [[graft.nn.Gemm]] (4-vCPU AVX-512 box, JDK 17), 16,384 rows took
    * 215/560 ms in 256-row blocks, 225/616 ms in 512-row blocks and
    * 222/559 ms in 1024-row blocks (medians of 9, two runs on a shared
    * box): no larger block is faster, and the smallest holds the fewest
    * rows and activations per task. */
  val BlockRows = 256

  /** `df` with `prediction` appended: `net` applied with `weights` to
    * `inputCol`, an ml `Vector` (dense or sparse) or a numeric array. As
    * with `withColumn`, an existing column of the prediction's name is
    * replaced in place. */
  def apply(df: DataFrame, inputCol: String, prediction: StructField,
      net: Network, weights: Broadcast[Tensors]): DataFrame = {
    val spark = df.sparkSession
    GraftPlanBridge.ensureRegistered(spark, new BlockPredictStrategy, PushThroughBlockPredict)
    val child = GraftPlanBridge.analyzed(df)
    val in = child.output(df.schema.fieldIndex(inputCol))
    val feature: Expression = in.dataType match {
      case dt if dt == SQLDataTypes.VectorType => in
      case ArrayType(FloatType | DoubleType, _) => in
      case ArrayType(_: NumericType, containsNull) => Cast(in, ArrayType(DoubleType, containsNull))
      case other => throw new IllegalArgumentException(
        s"input column '$inputCol' has type ${other.simpleString}; " +
          "expected an ml Vector or a numeric array")
    }
    val pred = AttributeReference(prediction.name, prediction.dataType, prediction.nullable)()
    val node = BlockPredictPlan(feature, pred, net, weights, child)
    val plan =
      if (!child.output.exists(_.name == pred.name)) node
      else Project(child.output.map(a => if (a.name == pred.name) pred else a), node)
    GraftPlanBridge.ofRows(spark, plan)
  }

  /** Non-null feature value of type `dt` → a dense array of `width`
    * doubles; any other width, or a null element, fails naming `name`. */
  private[plans] def reader(dt: DataType, name: String, width: Int): Any => Array[Double] = {
    def sized(a: Array[Double]): Array[Double] = {
      if (a.length != width) throw new IllegalArgumentException(
        s"input column '$name' has a row of width ${a.length}; the net expects width $width")
      a
    }
    dt match {
      case udt: UserDefinedType[_] =>
        val vt = udt.asInstanceOf[UserDefinedType[Vector]]
        v => sized(vt.deserialize(v).toArray)
      case ArrayType(et, containsNull) => (v: Any) => {
        val a = v.asInstanceOf[ArrayData]
        if (containsNull) {
          var i = 0
          while (i < a.numElements()) {
            if (a.isNullAt(i)) throw new IllegalArgumentException(
              s"input column '$name' has a null element in a row; the net needs values")
            i += 1
          }
        }
        sized(if (et == FloatType) a.toFloatArray().map(_.toDouble) else a.toDoubleArray())
      }
      case other => throw new IllegalArgumentException(s"unsupported feature type $other")
    }
  }

  /** Row `r` of a forward's output → the prediction column's value. */
  private[plans] def writer(dt: DataType): (DenseMatrix[Double], Int) => Any = dt match {
    case DoubleType => (out, r) => out(r, 0)
    case udt: UserDefinedType[_] =>
      val vt = udt.asInstanceOf[UserDefinedType[Vector]]
      (out, r) => vt.serialize(Vectors.dense(Array.tabulate(out.cols)(j => out(r, j))))
    case other => throw new IllegalArgumentException(s"unsupported prediction type $other")
  }
}
