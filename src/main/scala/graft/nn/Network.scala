package graft.nn

import breeze.linalg.{DenseMatrix, DenseVector, sum => bsum, *}
import graft.nn.Tensors.Tensors
import scala.util.Random

/** Feed-forward net (dense / conv2d / maxpool layers): forward pass +
  * backprop over Breeze matrices.
  *
  * Replaces the reference's per-partition TensorFlow session
  * (lifeomic/sparkflow `HogwildSparkModel.py:38-100` computes
  * `tf.gradients(loss, trainables)`); the math is explicit so it runs on
  * the JVM with no native deps. Every matrix product goes through
  * [[Gemm.mul]], a fixed-order kernel the JIT vectorises, so no BLAS is
  * called and a row's result does not depend on its block. Bias add,
  * activations and their gradients are single passes over the
  * column-major data; each element takes the operations of the Breeze
  * tensor expressions in the same order, bit for bit (KernelParitySpec).
  * Conv layers use im2col so the hot loop is one GEMM per layer; images
  * are flat row vectors with (y, x, channel) row-major layout, channel
  * innermost.
  *
  * Weight tensor layout stays uniform — 2 tensors per layer (maxpool
  * contributes two 0x0 placeholders) — so the parameter-server wire
  * format, optimizers and codecs are kind-agnostic.
  */
final class Network(val spec: NetSpec) extends Serializable {
  private val layers = spec.layers.toArray
  private val acts: Array[Activation] = layers.map(_.act)
  private val lossFn: Loss = spec.lossFn
  private val nLayers = layers.length
  require(layers.last.kind == "dense", "final layer must be dense")

  def initWeights(seed: Long = spec.seed): Tensors = {
    val rng = new Random(seed)
    layers.flatMap { l =>
      l.kind match {
        case "dense" =>
          val limit = math.sqrt(6.0 / (l.in + l.out))
          Seq(
            DenseMatrix.fill[Double](l.in, l.out)((rng.nextDouble() * 2 - 1) * limit),
            DenseMatrix.zeros[Double](1, l.out))
        case "conv2d" =>
          val fanIn = l.kernel * l.kernel * l.c
          val limit = math.sqrt(6.0 / (fanIn + l.filters))
          Seq(
            DenseMatrix.fill[Double](fanIn, l.filters)((rng.nextDouble() * 2 - 1) * limit),
            DenseMatrix.zeros[Double](1, l.filters))
        case "maxpool" =>
          Seq(DenseMatrix.zeros[Double](0, 0), DenseMatrix.zeros[Double](0, 0))
      }
    }
  }

  // ---- conv helpers ----

  /** Patch matrix: row (i*oh*ow + oy*ow + ox), col (ky*k + kx)*c + ch. */
  private def im2col(x: DenseMatrix[Double], l: LayerSpec): DenseMatrix[Double] = {
    val (oh, ow, k, s, c, w) = (l.outH, l.outW, l.kernel, l.stride, l.c, l.w)
    val p = DenseMatrix.zeros[Double](x.rows * oh * ow, k * k * c)
    var i = 0
    while (i < x.rows) {
      var oy = 0
      while (oy < oh) {
        var ox = 0
        while (ox < ow) {
          val row = (i * oh + oy) * ow + ox
          var ky = 0
          while (ky < k) {
            var kx = 0
            while (kx < k) {
              var ch = 0
              while (ch < c) {
                p(row, (ky * k + kx) * c + ch) =
                  x(i, ((oy * s + ky) * w + (ox * s + kx)) * c + ch)
                ch += 1
              }
              kx += 1
            }
            ky += 1
          }
          ox += 1
        }
        oy += 1
      }
      i += 1
    }
    p
  }

  /** Scatter-add transpose of im2col: dP → dX. */
  private def col2im(dp: DenseMatrix[Double], l: LayerSpec, n: Int): DenseMatrix[Double] = {
    val (oh, ow, k, s, c, w) = (l.outH, l.outW, l.kernel, l.stride, l.c, l.w)
    val dx = DenseMatrix.zeros[Double](n, l.in)
    var i = 0
    while (i < n) {
      var oy = 0
      while (oy < oh) {
        var ox = 0
        while (ox < ow) {
          val row = (i * oh + oy) * ow + ox
          var ky = 0
          while (ky < k) {
            var kx = 0
            while (kx < k) {
              var ch = 0
              while (ch < c) {
                dx(i, ((oy * s + ky) * w + (ox * s + kx)) * c + ch) +=
                  dp(row, (ky * k + kx) * c + ch)
                ch += 1
              }
              kx += 1
            }
            ky += 1
          }
          ox += 1
        }
        oy += 1
      }
      i += 1
    }
    dx
  }

  /** (n*oh*ow, filters) Z-shaped matrix → (n, oh*ow*filters) flat rows. */
  private def zToFlat(z: DenseMatrix[Double], n: Int): DenseMatrix[Double] = {
    val perRow = z.rows / n * z.cols
    val out = DenseMatrix.zeros[Double](n, perRow)
    val pix = z.rows / n
    var i = 0
    while (i < n) {
      var p = 0
      while (p < pix) {
        var f = 0
        while (f < z.cols) {
          out(i, p * z.cols + f) = z(i * pix + p, f)
          f += 1
        }
        p += 1
      }
      i += 1
    }
    out
  }

  private def flatToZ(a: DenseMatrix[Double], filters: Int): DenseMatrix[Double] = {
    val pix = a.cols / filters
    val out = DenseMatrix.zeros[Double](a.rows * pix, filters)
    var i = 0
    while (i < a.rows) {
      var p = 0
      while (p < pix) {
        var f = 0
        while (f < filters) {
          out(i * pix + p, f) = a(i, p * filters + f)
          f += 1
        }
        p += 1
      }
      i += 1
    }
    out
  }

  /** z(r, c) += b(0, c): one pass down each column of a GEMM output. */
  private def addBias(z: DenseMatrix[Double], b: DenseMatrix[Double]): Unit = {
    val zd = Activation.colMajor(z)
    val rows = z.rows
    var c = 0
    while (c < z.cols) {
      val bc = b(0, c)
      var k = c * rows
      val end = k + rows
      while (k < end) { zd(k) += bc; k += 1 }
      c += 1
    }
  }

  private final class Caches {
    val input = new Array[DenseMatrix[Double]](nLayers) // layer input (post prior dropout)
    val actOut = new Array[DenseMatrix[Double]](nLayers) // activated out (dense flat / conv Z-shape)
    val patches = new Array[DenseMatrix[Double]](nLayers) // conv im2col
    val argmax = new Array[Array[Int]](nLayers) // maxpool winners (flat input idx)
    val masks = new Array[DenseMatrix[Double]](nLayers) // dropout masks
  }

  private def layerForward(
      i: Int, x: DenseMatrix[Double], ts: Tensors, caches: Caches): DenseMatrix[Double] = {
    val l = layers(i)
    if (caches != null) caches.input(i) = x
    l.kind match {
      case "dense" =>
        val z = Gemm.mul(x, ts(2 * i))
        addBias(z, ts(2 * i + 1))
        val a = acts(i).f(z)
        if (caches != null) caches.actOut(i) = a
        a
      case "conv2d" =>
        val p = im2col(x, l)
        val z = Gemm.mul(p, ts(2 * i))
        addBias(z, ts(2 * i + 1))
        val a = acts(i).f(z)
        if (caches != null) { caches.patches(i) = p; caches.actOut(i) = a }
        zToFlat(a, x.rows)
      case "maxpool" =>
        val (oh, ow, pl, c, w) = (l.outH, l.outW, l.pool, l.c, l.w)
        val out = DenseMatrix.zeros[Double](x.rows, l.out)
        val arg = if (caches != null) new Array[Int](x.rows * l.out) else null
        var r = 0
        while (r < x.rows) {
          var oy = 0
          while (oy < oh) {
            var ox = 0
            while (ox < ow) {
              var ch = 0
              while (ch < c) {
                var best = Double.NegativeInfinity
                var bestIdx = -1
                var py = 0
                while (py < pl) {
                  var px = 0
                  while (px < pl) {
                    val idx = ((oy * pl + py) * w + (ox * pl + px)) * c + ch
                    val v = x(r, idx)
                    if (v > best) { best = v; bestIdx = idx }
                    px += 1
                  }
                  py += 1
                }
                val oIdx = (oy * ow + ox) * c + ch
                out(r, oIdx) = best
                if (arg != null) arg(r * l.out + oIdx) = bestIdx
                ch += 1
              }
              ox += 1
            }
            oy += 1
          }
          r += 1
        }
        if (caches != null) caches.argmax(i) = arg
        out
    }
  }

  /** Gradient w.r.t. this layer's flat output (`dOut`, overwritten; or
    * pre-activation `dZ` of the final dense layer when `isDZ`) → (dIn, gW,
    * gb). dIn is null when `needDIn` is false: nothing consumes the first
    * layer's input gradient. */
  private def layerBackward(
      i: Int, dOut: DenseMatrix[Double], isDZ: Boolean, needDIn: Boolean, ts: Tensors,
      caches: Caches): (DenseMatrix[Double], DenseMatrix[Double], DenseMatrix[Double]) = {
    val l = layers(i)
    l.kind match {
      case "dense" =>
        val dZ = if (isDZ) dOut else acts(i).backward(dOut, caches.actOut(i))
        val gW = Gemm.mul(caches.input(i).t, dZ)
        val gb = bsum(dZ(::, *)).t.toDenseMatrix
        (if (needDIn) Gemm.mul(dZ, ts(2 * i).t) else null, gW, gb)
      case "conv2d" =>
        val dZ = acts(i).backward(flatToZ(dOut, l.filters), caches.actOut(i))
        val gW = Gemm.mul(caches.patches(i).t, dZ)
        val gb = bsum(dZ(::, *)).t.toDenseMatrix
        (if (needDIn) col2im(Gemm.mul(dZ, ts(2 * i).t), l, dOut.rows) else null, gW, gb)
      case "maxpool" if !needDIn =>
        (null, DenseMatrix.zeros[Double](0, 0), DenseMatrix.zeros[Double](0, 0))
      case "maxpool" =>
        val dx = DenseMatrix.zeros[Double](dOut.rows, l.in)
        val arg = caches.argmax(i)
        var r = 0
        while (r < dOut.rows) {
          var oIdx = 0
          while (oIdx < l.out) {
            dx(r, arg(r * l.out + oIdx)) += dOut(r, oIdx)
            oIdx += 1
          }
          r += 1
        }
        (dx, DenseMatrix.zeros[Double](0, 0), DenseMatrix.zeros[Double](0, 0))
    }
  }

  /** Forward pass (inference: dropout = identity). x rows = samples. */
  def forward(x: DenseMatrix[Double], ts: Tensors): DenseMatrix[Double] = {
    var a = x
    var i = 0
    while (i < nLayers) {
      a = layerForward(i, a, ts, null)
      i += 1
    }
    a
  }

  /** Forward + backward. Returns (loss, gradients) shaped like the weight
    * tensors. Inverted dropout on hidden-layer outputs when a layer
    * declares a rate and an RNG is provided (training); identity at
    * inference (keep/drop contract of the reference, `ml_util.py:70-71`). */
  def forwardBackward(
      x: DenseMatrix[Double],
      y: DenseMatrix[Double],
      ts: Tensors,
      dropoutRng: Random = null): (Double, Tensors) = {
    val caches = new Caches
    var a = x
    var i = 0
    while (i < nLayers) {
      a = layerForward(i, a, ts, caches)
      val rate = layers(i).dropout
      if (rate > 0.0 && dropoutRng != null && i < nLayers - 1) {
        val keep = 1.0 - rate
        val mask = DenseMatrix.fill[Double](a.rows, a.cols)(
          if (dropoutRng.nextDouble() < keep) 1.0 / keep else 0.0)
        caches.masks(i) = mask
        a = a *:* mask
      }
      i += 1
    }
    val pred = a
    val lossVal = lossFn.loss(pred, y)

    val grads = new Array[DenseMatrix[Double]](2 * nLayers)
    // final dense layer consumes the fused pre-activation gradient
    var dOut = lossFn.dZ(pred, y, acts(nLayers - 1))
    var isDZ = true
    i = nLayers - 1
    while (i >= 0) {
      val (dIn, gW, gb) = layerBackward(i, dOut, isDZ, i > 0, ts, caches)
      grads(2 * i) = gW
      grads(2 * i + 1) = gb
      isDZ = false
      if (i > 0) {
        dOut = if (caches.masks(i - 1) != null) dIn *:* caches.masks(i - 1) else dIn
      }
      i -= 1
    }
    (lossVal, grads)
  }

  def loss(x: DenseMatrix[Double], y: DenseMatrix[Double], ts: Tensors): Double =
    lossFn.loss(forward(x, ts), y)

  /** Predict a single example: the one-row call of [[forward]]. Batch
    * inference (`graft.plans.BlockPredict`) calls `forward` on blocks of
    * rows laid out the same way, one row per matrix row. */
  def predictRow(features: Array[Double], ts: Tensors): Array[Double] = {
    val x = new DenseMatrix(1, features.length, features)
    forward(x, ts).toDenseVector.toArray
  }
}
