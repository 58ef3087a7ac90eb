package graft.nn

import breeze.linalg.{DenseMatrix, sum => bsum}
import breeze.numerics.{log => blog, sigmoid => bsigmoid, tanh => btanh}

/** Activation functions over row-batched matrices (rows = samples).
  *
  * The reference delegates these to TensorFlow graphs authored by user
  * model-builder functions (lifeomic/sparkflow `graph_utils.py:6-15`); the
  * surface its tests/examples exercise is relu / sigmoid / tanh /
  * softmax / linear (`tests/dl_runner.py:45-73`, `examples/simple_dnn.py:44-60`).
  */
sealed trait Activation extends Serializable {
  def name: String
  /** The activated output a = f(z); `z` is left as it is. */
  def f(z: DenseMatrix[Double]): DenseMatrix[Double]
  /** `dOut *:* dA/dZ`, dA/dZ written in terms of the activated output
    * a = f(z), in one pass that overwrites `dOut` and returns it.
    * Softmax is excluded (combined with cross-entropy in the loss). */
  def backward(dOut: DenseMatrix[Double], a: DenseMatrix[Double]): DenseMatrix[Double]
}

object Activation {
  /** The backing array of a [[Tensors.isPlain]] matrix: the kernels here
    * walk it directly. */
  private[nn] def colMajor(m: DenseMatrix[Double]): Array[Double] = {
    require(Tensors.isPlain(m), s"expected a plain column-major ${m.rows}x${m.cols} matrix")
    m.data
  }

  /** An activation applied value by value. [[backward]] gives each element
    * `d * dadz(a)`, the product the tensor form `dOut *:* dAdZ(a)` takes. */
  sealed abstract class Pointwise extends Activation {
    /** dA/dZ at one activated value a. */
    protected def dadz(a: Double): Double
    final def backward(dOut: DenseMatrix[Double], a: DenseMatrix[Double]): DenseMatrix[Double] = {
      require(dOut.rows == a.rows && dOut.cols == a.cols,
        s"gradient ${dOut.rows}x${dOut.cols} does not match activation ${a.rows}x${a.cols}")
      val d = colMajor(dOut)
      val av = colMajor(a)
      val n = dOut.size
      var k = 0
      while (k < n) { d(k) = d(k) * dadz(av(k)); k += 1 }
      dOut
    }
  }

  case object Linear extends Pointwise {
    val name = "linear"
    def f(z: DenseMatrix[Double]) = z
    protected def dadz(a: Double) = 1.0
  }
  case object Relu extends Pointwise {
    val name = "relu"
    def f(z: DenseMatrix[Double]) = {
      val zd = colMajor(z)
      val out = new Array[Double](z.size)
      var k = 0
      while (k < out.length) { val v = zd(k); out(k) = if (v > 0) v else 0.0; k += 1 }
      new DenseMatrix(z.rows, z.cols, out)
    }
    protected def dadz(a: Double) = if (a > 0) 1.0 else 0.0
  }
  case object Sigmoid extends Pointwise {
    val name = "sigmoid"
    def f(z: DenseMatrix[Double]) = bsigmoid(z)
    protected def dadz(a: Double) = a * (1.0 - a)
  }
  case object Tanh extends Pointwise {
    val name = "tanh"
    def f(z: DenseMatrix[Double]) = btanh(z)
    protected def dadz(a: Double) = 1.0 - a * a
  }
  /** Row-wise softmax; only legal as the final activation, paired with
    * [[Loss.SoftmaxXent]] (which supplies the combined gradient). Each row
    * is shifted by its max, exponentiated, summed left to right and
    * divided by that sum, walking the row at stride `rows` through the
    * column-major data. */
  case object Softmax extends Activation {
    val name = "softmax"
    def f(z: DenseMatrix[Double]) = {
      val zd = colMajor(z)
      val rows = z.rows
      val n = z.size
      val out = new Array[Double](n)
      var r = 0
      while (r < rows) {
        var m = Double.NegativeInfinity
        var k = r
        while (k < n) { m = math.max(m, zd(k)); k += rows }
        var s = 0.0
        k = r
        while (k < n) { val e = math.exp(zd(k) - m); out(k) = e; s += e; k += rows }
        k = r
        while (k < n) { out(k) = out(k) / s; k += rows }
        r += 1
      }
      new DenseMatrix(rows, z.cols, out)
    }
    def backward(dOut: DenseMatrix[Double], a: DenseMatrix[Double]) =
      sys.error("softmax gradient is combined into SoftmaxXent loss")
  }

  val all: Seq[Activation] = Seq(Linear, Relu, Sigmoid, Tanh, Softmax)
  def byName(n: String): Activation =
    all.find(_.name == n.toLowerCase).getOrElse(
      sys.error(s"unknown activation '$n' (expected one of ${all.map(_.name).mkString(",")})"))
}

/** Loss functions. Gradient is returned w.r.t. the final layer's
  * pre-activation z (so softmax+xent and sigmoid+bce collapse to p-y). */
sealed trait Loss extends Serializable {
  def name: String
  def loss(p: DenseMatrix[Double], y: DenseMatrix[Double]): Double
  def dZ(p: DenseMatrix[Double], y: DenseMatrix[Double], outAct: Activation): DenseMatrix[Double]
}

object Loss {
  private def n(p: DenseMatrix[Double]) = p.rows.toDouble

  /** Mean squared error, mean over all elements' squared diff / 2-free
    * (TF `reduce_mean(square(out-y))` style, `tests/dl_runner.py:50-52`). */
  case object Mse extends Loss {
    val name = "mse"
    def loss(p: DenseMatrix[Double], y: DenseMatrix[Double]) = {
      val d = p - y
      bsum(d *:* d) / (p.rows.toDouble * p.cols.toDouble)
    }
    def dZ(p: DenseMatrix[Double], y: DenseMatrix[Double], outAct: Activation) = {
      val dA = (p - y) * (2.0 / (p.rows.toDouble * p.cols.toDouble))
      outAct match {
        case Activation.Softmax => sys.error("mse+softmax unsupported; use softmax_xent")
        case a                  => a.backward(dA, p)
      }
    }
  }

  /** Softmax cross-entropy (expects outAct == Softmax; grad = (p-y)/n). */
  case object SoftmaxXent extends Loss {
    val name = "softmax_xent"
    def loss(p: DenseMatrix[Double], y: DenseMatrix[Double]) = {
      val eps = 1e-12
      -bsum(y *:* blog(p + eps)) / n(p)
    }
    def dZ(p: DenseMatrix[Double], y: DenseMatrix[Double], outAct: Activation) =
      (p - y) / n(p)
  }

  /** Binary cross-entropy; with a sigmoid output the z-gradient is (p-y)/n. */
  case object Bce extends Loss {
    val name = "bce"
    def loss(p: DenseMatrix[Double], y: DenseMatrix[Double]) = {
      val eps = 1e-12
      -bsum((y *:* blog(p + eps)) + ((1.0 - y) *:* blog((1.0 - p) + eps))) /
        (p.rows.toDouble * p.cols.toDouble)
    }
    def dZ(p: DenseMatrix[Double], y: DenseMatrix[Double], outAct: Activation) = outAct match {
      case Activation.Sigmoid => (p - y) / (p.rows.toDouble * p.cols.toDouble)
      case a =>
        val eps = 1e-12
        val dA = ((p - y) /:/ ((p *:* (1.0 - p)) + eps)) / (p.rows.toDouble * p.cols.toDouble)
        a.backward(dA, p)
    }
  }

  val all: Seq[Loss] = Seq(Mse, SoftmaxXent, Bce)
  def byName(n: String): Loss =
    all.find(_.name == n.toLowerCase).getOrElse(
      sys.error(s"unknown loss '$n' (expected one of ${all.map(_.name).mkString(",")})"))
}

/** One layer. `kind` selects the operator:
  *
  *  - "dense" (default): fanIn x fanOut affine + activation + optional
  *    dropout on the OUTPUT during training (inverted dropout — identity
  *    at inference, the keep/drop placeholder contract of the reference,
  *    `ml_util.py:70-71`). `in`/`out` are flat widths.
  *  - "conv2d": input interpreted as (h, w, c) row-major with channel
  *    innermost; `kernel`x`kernel` window, `stride`, `filters` output
  *    channels, VALID padding. `in` = h*w*c, `out` = outH*outW*filters.
  *  - "maxpool": `pool`x`pool` window with stride `pool` over (h, w, c).
  *    No weights. `in` = h*w*c, `out` = (h/pool)*(w/pool)*c.
  *
  * Conv/pool cover the reference's CNN example surface
  * (`examples/cnn_example.py:13-18`: conv2d + max_pooling2d + dense).
  */
case class LayerSpec(
    in: Int, out: Int, activation: String, dropout: Double = 0.0,
    kind: String = "dense",
    h: Int = 0, w: Int = 0, c: Int = 1,
    filters: Int = 0, kernel: Int = 0, stride: Int = 1, pool: Int = 0) {
  def act: Activation = Activation.byName(activation)
  kind match {
    case "dense" =>
    case "conv2d" =>
      require(h > 0 && w > 0 && c > 0 && filters > 0 && kernel > 0 && stride > 0,
        s"conv2d needs h/w/c/filters/kernel/stride: $this")
      require(in == h * w * c, s"conv2d in=$in != h*w*c=${h * w * c}")
      require(out == outH * outW * filters,
        s"conv2d out=$out != outH*outW*filters=${outH * outW * filters}")
    case "maxpool" =>
      require(h > 0 && w > 0 && c > 0 && pool > 0, s"maxpool needs h/w/c/pool: $this")
      require(h % pool == 0 && w % pool == 0, s"maxpool requires pool | h,w: $this")
      require(in == h * w * c && out == (h / pool) * (w / pool) * c,
        s"maxpool dims wrong: $this")
    case other => sys.error(s"unknown layer kind '$other'")
  }
  def outH: Int = if (kind == "conv2d") (h - kernel) / stride + 1 else h / pool
  def outW: Int = if (kind == "conv2d") (w - kernel) / stride + 1 else w / pool
}

/** Serializable network topology — our replacement for the reference's
  * TF MetaGraphDef-as-JSON model graph (`graph_utils.py:6-15`,
  * re-parsed on workers at `HogwildSparkModel.py:45-49`). A declarative
  * layer list is all the dense-net surface the reference exercises needs.
  */
case class NetSpec(layers: Seq[LayerSpec], loss: String, seed: Long = 42L) {
  require(layers.nonEmpty, "empty net")
  layers.sliding(2).foreach {
    case Seq(a, b) => require(a.out == b.in, s"layer mismatch: ${a.out} -> ${b.in}")
    case _         =>
  }
  // fail fast on loss/activation mispairings that would otherwise train
  // silently on garbage gradients: softmax_xent's dZ assumes the output
  // IS softmax probabilities (not logits), and softmax anywhere else has
  // no standalone gradient here
  layers.init.foreach(l => require(l.activation.toLowerCase != "softmax",
    "softmax is only legal as the final activation"))
  if (loss == "softmax_xent")
    require(layers.last.activation.toLowerCase == "softmax",
      "softmax_xent requires a softmax final activation (it consumes probabilities, not logits)")
  if (layers.last.activation.toLowerCase == "softmax")
    require(loss == "softmax_xent", s"softmax output requires softmax_xent loss, not $loss")
  def lossFn: Loss = Loss.byName(loss)
  def inputDim: Int = layers.head.in
  def outputDim: Int = layers.last.out

  def toJson: String = {
    val ls = layers.map { l =>
      val base = s""""in":${l.in},"out":${l.out},"activation":"${l.activation}","dropout":${l.dropout},"kind":"${l.kind}""""
      val conv =
        if (l.kind == "dense") ""
        else s""","h":${l.h},"w":${l.w},"c":${l.c},"filters":${l.filters},"kernel":${l.kernel},"stride":${l.stride},"pool":${l.pool}"""
      s"{$base$conv}"
    }.mkString("[", ",", "]")
    s"""{"layers":$ls,"loss":"$loss","seed":$seed}"""
  }
}

object NetSpec {
  import org.json4s._
  import org.json4s.jackson.JsonMethods

  def fromJson(json: String): NetSpec = {
    implicit val fmts: Formats = DefaultFormats
    val j = JsonMethods.parse(json)
    val layers = (j \ "layers").asInstanceOf[JArray].arr.map { lj =>
      LayerSpec(
        in = (lj \ "in").extract[Int],
        out = (lj \ "out").extract[Int],
        activation = (lj \ "activation").extract[String],
        dropout = (lj \ "dropout").extractOrElse[Double](0.0),
        kind = (lj \ "kind").extractOrElse[String]("dense"),
        h = (lj \ "h").extractOrElse[Int](0),
        w = (lj \ "w").extractOrElse[Int](0),
        c = (lj \ "c").extractOrElse[Int](1),
        filters = (lj \ "filters").extractOrElse[Int](0),
        kernel = (lj \ "kernel").extractOrElse[Int](0),
        stride = (lj \ "stride").extractOrElse[Int](1),
        pool = (lj \ "pool").extractOrElse[Int](0))
    }
    NetSpec(layers, (j \ "loss").extract[String], (j \ "seed").extractOrElse[Long](42L))
  }

  /** Builder DSL: `NetSpec.input(784).dense(256, "relu").dense(10, "softmax").loss("softmax_xent")`;
    * conv nets via `NetSpec.image(28, 28, 1).conv2d(8, 3).maxpool(2).dense(10, "softmax")...`. */
  def input(dim: Int): Builder = new Builder(dim, 0, 0, 0, Vector.empty)
  def image(h: Int, w: Int, c: Int = 1): Builder = new Builder(h * w * c, h, w, c, Vector.empty)

  final class Builder(last: Int, h: Int, w: Int, c: Int, layers: Vector[LayerSpec]) {
    def dense(out: Int, activation: String, dropout: Double = 0.0): Builder =
      new Builder(out, 0, 0, 0, layers :+ LayerSpec(last, out, activation, dropout))
    def conv2d(filters: Int, kernel: Int, stride: Int = 1,
        activation: String = "relu"): Builder = {
      require(h > 0, "conv2d requires image(...) input or a prior conv/pool layer")
      val oh = (h - kernel) / stride + 1
      val ow = (w - kernel) / stride + 1
      val l = LayerSpec(last, oh * ow * filters, activation, kind = "conv2d",
        h = h, w = w, c = c, filters = filters, kernel = kernel, stride = stride)
      new Builder(l.out, oh, ow, filters, layers :+ l)
    }
    def maxpool(pool: Int): Builder = {
      require(h > 0, "maxpool requires image-shaped input")
      val l = LayerSpec(last, (h / pool) * (w / pool) * c, "linear",
        kind = "maxpool", h = h, w = w, c = c, pool = pool)
      new Builder(l.out, h / pool, w / pool, c, layers :+ l)
    }
    def loss(l: String, seed: Long = 42L): NetSpec = NetSpec(layers, l, seed)
  }
}
