package graft.nn

import breeze.linalg.{DenseMatrix, sum => bsum}
import org.scalatest.funsuite.AnyFunSuite
import graft.nn.Tensors.Tensors
import scala.util.Random

class NetworkSpec extends AnyFunSuite {

  /** Central finite-difference check of backprop for a given spec. */
  private def gradCheck(spec: NetSpec, nRows: Int, tol: Double = 1e-5): Unit = {
    val rng = new Random(7)
    val net = new Network(spec)
    val ts = net.initWeights(11L)
    val x = DenseMatrix.fill[Double](nRows, spec.inputDim)(rng.nextGaussian())
    val y =
      if (spec.loss == "softmax_xent" || spec.loss == "bce") {
        // valid one-hot / binary targets
        val m = DenseMatrix.zeros[Double](nRows, spec.outputDim)
        (0 until nRows).foreach(r => m(r, rng.nextInt(spec.outputDim)) = 1.0)
        m
      } else DenseMatrix.fill[Double](nRows, spec.outputDim)(rng.nextGaussian())

    val (_, grads) = net.forwardBackward(x, y, ts)
    val h = 1e-6
    var maxRel = 0.0
    for (t <- ts.indices; r <- 0 until ts(t).rows; c <- 0 until ts(t).cols) {
      val orig = ts(t)(r, c)
      ts(t)(r, c) = orig + h
      val lp = net.loss(x, y, ts)
      ts(t)(r, c) = orig - h
      val lm = net.loss(x, y, ts)
      ts(t)(r, c) = orig
      val numeric = (lp - lm) / (2 * h)
      val analytic = grads(t)(r, c)
      val rel = math.abs(numeric - analytic) / math.max(1e-8, math.abs(numeric) + math.abs(analytic))
      if (rel > maxRel) maxRel = rel
    }
    assert(maxRel < tol, s"max relative gradient error $maxRel for $spec")
  }

  test("gradient check: sigmoid + mse (reference 2-12-7-1 shape)") {
    gradCheck(NetSpec.input(2).dense(12, "sigmoid").dense(7, "sigmoid")
      .dense(1, "sigmoid").loss("mse"), nRows = 5)
  }

  test("gradient check: tanh hidden + linear out + mse") {
    gradCheck(NetSpec.input(4).dense(6, "tanh").dense(3, "linear").loss("mse"), nRows = 4)
  }

  test("gradient check: relu hidden + softmax_xent") {
    // relu kink: nudge inputs away from 0 via tolerance; still tight
    gradCheck(NetSpec.input(5).dense(8, "relu").dense(3, "softmax").loss("softmax_xent"),
      nRows = 6, tol = 1e-4)
  }

  test("gradient check: sigmoid + bce") {
    gradCheck(NetSpec.input(3).dense(5, "sigmoid").dense(1, "sigmoid").loss("bce"), nRows = 5)
  }

  test("softmax rows sum to 1 and are shift-invariant") {
    val z = DenseMatrix((1.0, 2.0, 3.0), (1000.0, 1001.0, 1002.0))
    val p = Activation.Softmax.f(z)
    (0 until p.rows).foreach(r => assert(math.abs(bsum(p(r, ::).t) - 1.0) < 1e-12))
    assert(math.abs(p(0, 0) - p(1, 0)) < 1e-12) // overflow-safe
  }

  test("netspec json round-trip") {
    val spec = NetSpec.input(10).dense(12, "relu", dropout = 0.25).dense(7, "tanh")
      .dense(1, "sigmoid").loss("mse", seed = 99L)
    val back = NetSpec.fromJson(spec.toJson)
    assert(back == spec)
  }

  test("unknown activation / loss / mismatched layers rejected") {
    intercept[RuntimeException](Activation.byName("swish"))
    intercept[RuntimeException](Loss.byName("hinge"))
    intercept[IllegalArgumentException](
      NetSpec(Seq(LayerSpec(2, 3, "relu"), LayerSpec(4, 1, "linear")), "mse"))
  }

  test("loss/activation mispairing rejected at spec construction") {
    intercept[IllegalArgumentException](
      NetSpec.input(4).dense(3, "linear").loss("softmax_xent"))
    intercept[IllegalArgumentException](
      NetSpec.input(4).dense(3, "softmax").loss("mse"))
    intercept[IllegalArgumentException](
      NetSpec.input(4).dense(3, "softmax").dense(2, "linear").loss("mse"))
  }

  test("weights json round-trip preserves values exactly") {
    val net = new Network(NetSpec.input(3).dense(4, "relu").dense(2, "linear").loss("mse"))
    val ts = net.initWeights(5L)
    val back = Tensors.fromJson(Tensors.toJson(ts))
    assert(back.length == ts.length)
    ts.zip(back).foreach { case (a, b) => assert(bsum((a - b).map(math.abs)) == 0.0) }
  }

  test("weights json round-trip is total: non-finite values survive") {
    import breeze.linalg.DenseMatrix
    val ts: Tensors.Tensors = Array(DenseMatrix(
      (1.5, Double.NaN), (Double.PositiveInfinity, Double.NegativeInfinity)))
    val back = Tensors.fromJson(Tensors.toJson(ts)) // must parse as legal JSON
    assert(back(0)(0, 0) == 1.5)
    assert(back(0)(0, 1).isNaN)
    assert(back(0)(1, 0).isPosInfinity && back(0)(1, 1).isNegInfinity)
  }

  test("weights json with ragged rows is rejected, naming the tensor and row") {
    val longer = intercept[IllegalArgumentException](
      Tensors.fromJson("[[[1.0,2.0]],[[1.0,2.0],[3.0,4.0,5.0]]]")).getMessage
    assert(longer.contains("tensor 1 row 1 has 3 values, but row 0 has 2"), longer)
    val shorter = intercept[IllegalArgumentException](
      Tensors.fromJson("[[[1.0,2.0],[3.0]]]")).getMessage
    assert(shorter.contains("tensor 0 row 1 has 1 values, but row 0 has 2"), shorter)
  }

  test("weights binary round-trip preserves values exactly") {
    val net = new Network(NetSpec.input(3).dense(4, "relu").dense(2, "linear").loss("mse"))
    val ts = net.initWeights(6L)
    val back = Tensors.fromBytes(Tensors.toBytes(ts))
    ts.zip(back).foreach { case (a, b) => assert(a == b) }
  }

  test("weights binary decode checks declared sizes against the payload before allocating") {
    def payload(ints: Int*): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(4 * ints.length) // big-endian, like toBytes
      ints.foreach(bb.putInt)
      bb.array()
    }
    def rejected(bytes: Array[Byte]): String =
      intercept[IllegalArgumentException](Tensors.fromBytes(bytes)).getMessage
    // 12 bytes declaring one 20000x20000 tensor: 3.2 GB if trusted
    val big = rejected(payload(1, 20000, 20000))
    assert(big.contains("20000x20000") && big.contains("3200000000") &&
      big.contains("0 bytes are left"), big)
    // a tensor count near Int.MaxValue with nothing after it
    val many = rejected(payload(Int.MaxValue))
    assert(many.contains(s"${Int.MaxValue} tensors") && many.contains("only 0 bytes"), many)
    // rows * cols overflows Int; negative counts and shapes
    assert(rejected(payload(1, 65536, 65536)).contains("65536x65536"))
    assert(rejected(payload(-1)).contains("-1 tensors"))
    assert(rejected(payload(1, -2, 3)).contains("-2x3"))
    // a shape that fits the bytes left still decodes
    val ok = Tensors.fromBytes(payload(1, 0, 5))
    assert(ok.length == 1 && ok(0).rows == 0 && ok(0).cols == 5)
  }

  test("weights binary decode refuses a cut-short header and bytes past the last tensor") {
    def rejected(bytes: Array[Byte]): String =
      intercept[IllegalArgumentException](Tensors.fromBytes(bytes)).getMessage
    // the count itself cut short
    val noCount = rejected(Array[Byte](0, 0))
    assert(noCount.contains("4-byte count") && noCount.contains("has 2 bytes"), noCount)
    // two tensors declared; the first (1x1) takes every byte left, so the
    // second's shape header is missing
    val header = rejected(java.nio.ByteBuffer.allocate(4 + 8 + 8 + 7) // 7 of its 8 bytes
      .putInt(2).putInt(1).putInt(1).putDouble(1.5).array())
    assert(header.contains("tensor 1 of 2") && header.contains("8-byte shape header") &&
      header.contains("only 7 bytes are left"), header)
    // a whole, valid payload with bytes after it
    val ts: Tensors = Array(DenseMatrix((1.0, 2.0)), DenseMatrix.zeros[Double](0, 0))
    val trailing = rejected(Tensors.toBytes(ts) ++ Array[Byte](9, 9, 9))
    assert(trailing.contains("3 bytes follow the last of the 2 declared tensors"), trailing)
  }

  test("weights binary encoding is the big-endian DataOutput layout, byte for byte") {
    val quietNaN = java.lang.Double.longBitsToDouble(0xfff8000000000001L)
    val ts: Tensors =
      new Network(NetSpec.input(3).dense(4, "relu").dense(2, "linear").loss("mse"))
        .initWeights(8L) ++ Array(
      DenseMatrix((1.0, -0.0, quietNaN), (Double.PositiveInfinity, Double.MinPositiveValue, -7.25)),
      DenseMatrix((1.0, 2.0, 3.0), (4.0, 5.0, 6.0)).t, // a transposed view
      DenseMatrix.zeros[Double](0, 0))
    // the codec as written with java.io: count, then rows, cols and the
    // column-major doubles of each tensor (DataOutput writes every NaN as
    // the canonical one)
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(ts.length)
    ts.foreach { t =>
      out.writeInt(t.rows); out.writeInt(t.cols)
      for (c <- 0 until t.cols; r <- 0 until t.rows) out.writeDouble(t(r, c))
    }
    out.flush()
    assert(Tensors.toBytes(ts).sameElements(bos.toByteArray))
  }

  test("dropout: inference identity, training masks hidden units") {
    val spec = NetSpec.input(4).dense(50, "relu", dropout = 0.5).dense(2, "linear").loss("mse")
    val net = new Network(spec)
    val ts = net.initWeights(1L)
    val x = DenseMatrix.fill[Double](3, 4)(1.0)
    val p1 = net.forward(x, ts)
    val p2 = net.forward(x, ts)
    assert(p1 == p2) // deterministic at inference
    val y = DenseMatrix.zeros[Double](3, 2)
    val (_, g1) = net.forwardBackward(x, y, ts, new Random(1))
    val (_, g2) = net.forwardBackward(x, y, ts, new Random(2))
    assert(g1(0) != g2(0)) // different masks → different grads
  }
}
