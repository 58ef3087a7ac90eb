package graft.nn

import breeze.linalg.{DenseMatrix, max => bmax, sum => bsum, *}
import breeze.numerics.{exp, sigmoid => bsigmoid, tanh => btanh}
import org.scalatest.funsuite.AnyFunSuite
import graft.nn.Tensors.Tensors
import scala.util.Random

/** [[Network]]'s kernels (matrix products, bias add, activations, fused
  * activation gradients, row softmax) against the tensor expressions they
  * stand for, bit for bit on a 137-row batch. The reference below is the
  * whole forward/backward written over whole matrices: products in the
  * fixed ascending order of [[GemmSpec.mm]] (not Breeze's BLAS, not
  * [[Gemm]]), `z(*, ::) :+= b`, `z.map`, `sigmoid`/`tanh`, softmax over
  * row slices, `dOut *:* dA/dZ(a)`, dropout masks drawn in `fill` order. */
class KernelParitySpec extends AnyFunSuite {
  import GemmSpec.mm

  private def act(name: String, z: DenseMatrix[Double]): DenseMatrix[Double] = name match {
    case "linear"  => z
    case "relu"    => z.map(v => if (v > 0) v else 0.0)
    case "sigmoid" => bsigmoid(z)
    case "tanh"    => btanh(z)
    case "softmax" =>
      val out = DenseMatrix.zeros[Double](z.rows, z.cols)
      for (r <- 0 until z.rows) {
        val row = z(r, ::).t
        val e = exp(row - bmax(row))
        out(r, ::) := (e / bsum(e)).t
      }
      out
  }

  private def dadz(name: String, a: DenseMatrix[Double]): DenseMatrix[Double] = name match {
    case "linear"  => DenseMatrix.ones[Double](a.rows, a.cols)
    case "relu"    => a.map(v => if (v > 0) 1.0 else 0.0)
    case "sigmoid" => a *:* (1.0 - a)
    case "tanh"    => 1.0 - (a *:* a)
  }

  /** Patch matrix: row (i*oh*ow + oy*ow + ox), col (ky*k + kx)*c + ch. */
  private def im2col(x: DenseMatrix[Double], l: LayerSpec): DenseMatrix[Double] = {
    val (pix, k, c) = (l.outH * l.outW, l.kernel, l.c)
    DenseMatrix.tabulate(x.rows * pix, k * k * c) { (row, col) =>
      val (oy, ox) = (row % pix / l.outW, row % pix % l.outW)
      val (ky, kx, ch) = (col / (k * c), col / c % k, col % c)
      x(row / pix, ((oy * l.stride + ky) * l.w + (ox * l.stride + kx)) * c + ch)
    }
  }

  /** Flat input index of each pooled output's first strict maximum. */
  private def poolArgmax(x: DenseMatrix[Double], l: LayerSpec): DenseMatrix[Int] =
    DenseMatrix.tabulate(x.rows, l.out) { (r, o) =>
      val (oy, ox, ch) = (o / (l.outW * l.c), o / l.c % l.outW, o % l.c)
      val window = for (py <- 0 until l.pool; px <- 0 until l.pool)
        yield ((oy * l.pool + py) * l.w + (ox * l.pool + px)) * l.c + ch
      window.foldLeft(window.head)((b, idx) => if (x(r, idx) > x(r, b)) idx else b)
    }

  /** (prediction, loss, gradients); dropout only when `rng` is given. */
  private def reference(spec: NetSpec, x: DenseMatrix[Double], y: DenseMatrix[Double],
      ts: Tensors, rng: Random): (DenseMatrix[Double], Double, Tensors) = {
    val ls = spec.layers.toIndexedSeq
    val n = ls.length
    val inputs, outs, patches, masks = new Array[DenseMatrix[Double]](n)
    val args = new Array[DenseMatrix[Int]](n)
    var a = x
    for (i <- 0 until n) {
      val l = ls(i)
      inputs(i) = a
      a = l.kind match {
        case "dense" =>
          val z = mm(a, ts(2 * i))
          z(*, ::) :+= ts(2 * i + 1).toDenseVector
          outs(i) = act(l.activation, z)
          outs(i)
        case "conv2d" =>
          patches(i) = im2col(a, l)
          val z = mm(patches(i), ts(2 * i))
          z(*, ::) :+= ts(2 * i + 1).toDenseVector
          val az = act(l.activation, z)
          outs(i) = az
          val pix = az.rows / a.rows
          DenseMatrix.tabulate(a.rows, pix * l.filters)(
            (r, j) => az(r * pix + j / l.filters, j % l.filters))
        case "maxpool" =>
          val (in, arg) = (a, poolArgmax(a, l))
          args(i) = arg
          DenseMatrix.tabulate(in.rows, l.out)((r, o) => in(r, arg(r, o)))
      }
      if (l.dropout > 0.0 && rng != null && i < n - 1) {
        val keep = 1.0 - l.dropout
        masks(i) = DenseMatrix.fill(a.rows, a.cols)(
          if (rng.nextDouble() < keep) 1.0 / keep else 0.0)
        a = a *:* masks(i)
      }
    }
    val loss = spec.lossFn.loss(a, y)
    val grads = new Array[DenseMatrix[Double]](2 * n)
    val scale = a.rows.toDouble * a.cols.toDouble
    var dOut = spec.loss match {
      case "softmax_xent" => (a - y) / a.rows.toDouble
      case "bce"          => (a - y) / scale // sigmoid output
      case "mse"          => ((a - y) * (2.0 / scale)) *:* dadz(ls.last.activation, a)
    }
    for (i <- n - 1 to 0 by -1) {
      val l = ls(i)
      val dIn = l.kind match {
        case "dense" =>
          val dZ = if (i == n - 1) dOut else dOut *:* dadz(l.activation, outs(i))
          grads(2 * i) = mm(inputs(i).t, dZ)
          grads(2 * i + 1) = bsum(dZ(::, *)).t.toDenseMatrix
          mm(dZ, ts(2 * i).t)
        case "conv2d" =>
          assert(i == 0, "the reference has no col2im: conv layers go first")
          val pix = l.outH * l.outW
          val dZ = DenseMatrix.tabulate(dOut.rows * pix, l.filters)(
            (row, f) => dOut(row / pix, row % pix * l.filters + f)) *:* dadz(l.activation, outs(i))
          grads(2 * i) = mm(patches(i).t, dZ)
          grads(2 * i + 1) = bsum(dZ(::, *)).t.toDenseMatrix
          null
        case "maxpool" =>
          grads(2 * i) = DenseMatrix.zeros[Double](0, 0)
          grads(2 * i + 1) = DenseMatrix.zeros[Double](0, 0)
          val dx = DenseMatrix.zeros[Double](dOut.rows, l.in)
          for (r <- 0 until dOut.rows; o <- 0 until l.out) dx(r, args(i)(r, o)) += dOut(r, o)
          dx
      }
      if (i > 0) dOut = if (masks(i - 1) != null) dIn *:* masks(i - 1) else dIn
    }
    (a, loss, grads)
  }

  private def bits(m: DenseMatrix[Double]): Seq[Long] =
    m.toArray.map(java.lang.Double.doubleToRawLongBits).toSeq

  /** forward and forwardBackward (with and without dropout) on 137 rows. */
  private def assertParity(spec: NetSpec, seed: Long): Unit = {
    val rng = new Random(seed)
    val rows = 137
    val x = DenseMatrix.fill(rows, spec.inputDim)(rng.nextGaussian())
    val y = spec.loss match {
      case "softmax_xent" =>
        val m = DenseMatrix.zeros[Double](rows, spec.outputDim)
        (0 until rows).foreach(r => m(r, rng.nextInt(spec.outputDim)) = 1.0)
        m
      case "bce" => DenseMatrix.fill(rows, spec.outputDim)(rng.nextInt(2).toDouble)
      case _     => DenseMatrix.fill(rows, spec.outputDim)(rng.nextGaussian())
    }
    val net = new Network(spec)
    val ts = net.initWeights(seed)
    assert(bits(net.forward(x, ts)) == bits(reference(spec, x, y, ts, null)._1), "forward")
    for (dropout <- Seq(None, Some(seed + 1))) {
      val (loss, grads) = net.forwardBackward(x, y, ts, dropout.map(new Random(_)).orNull)
      val (_, refLoss, refGrads) = reference(spec, x, y, ts, dropout.map(new Random(_)).orNull)
      assert(java.lang.Double.doubleToRawLongBits(loss) ==
        java.lang.Double.doubleToRawLongBits(refLoss), s"loss, dropout rng $dropout")
      assert(grads.length == refGrads.length)
      for (t <- grads.indices)
        assert(bits(grads(t)) == bits(refGrads(t)), s"gradient $t, dropout rng $dropout")
    }
  }

  test("relu hidden layers, softmax_xent: the benchmark's 64-256-256-10 net") {
    assertParity(NetSpec.input(64).dense(256, "relu").dense(256, "relu")
      .dense(10, "softmax").loss("softmax_xent"), seed = 1L)
  }

  test("tanh and sigmoid hidden layers with dropout, bce") {
    assertParity(NetSpec.input(12).dense(24, "tanh", dropout = 0.25)
      .dense(16, "sigmoid", dropout = 0.5).dense(1, "sigmoid").loss("bce"), seed = 2L)
  }

  test("linear layers with dropout, mse") {
    assertParity(NetSpec.input(10).dense(20, "linear", dropout = 0.3)
      .dense(8, "linear", dropout = 0.2).dense(3, "linear").loss("mse"), seed = 3L)
  }

  test("conv2d then maxpool first, dense after") {
    assertParity(NetSpec.image(8, 8, 2).conv2d(4, 3).maxpool(2)
      .dense(6, "tanh").dense(5, "softmax").loss("softmax_xent"), seed = 4L)
    assertParity(NetSpec.image(8, 8, 2).maxpool(2)
      .dense(4, "relu").dense(3, "linear").loss("mse"), seed = 5L)
  }
}
