package graft.nn

import breeze.linalg.DenseMatrix
import org.scalatest.funsuite.AnyFunSuite
import graft.nn.Tensors.Tensors

/** Golden-step tests: each optimizer's first update(s) against
  * hand-computed values. */
class OptimizerSpec extends AnyFunSuite {
  private def w0: Tensors = Array(DenseMatrix((1.0, -2.0)))
  private def g0: Tensors = Array(DenseMatrix((0.5, -1.0)))

  test("sgd step: w -= lr*g") {
    val w = w0
    Optimizer.build("gradient_descent", 0.1).step(w, g0)
    assert(math.abs(w(0)(0, 0) - 0.95) < 1e-12)
    assert(math.abs(w(0)(0, 1) - (-1.9)) < 1e-12)
  }

  test("unknown optimizer name falls back to sgd (reference rule)") {
    val w = w0
    Optimizer.build("definitely_not_real", 0.1).step(w, g0)
    assert(math.abs(w(0)(0, 0) - 0.95) < 1e-12)
  }

  test("momentum two steps: v accumulates") {
    val w = w0
    val o = Optimizer.build("momentum", 0.1, Map("momentum" -> 0.9))
    o.step(w, g0) // v=0.5 → w=1-0.05=0.95
    o.step(w, g0) // v=0.9*0.5+0.5=0.95 → w=0.95-0.095=0.855
    assert(math.abs(w(0)(0, 0) - 0.855) < 1e-12)
  }

  test("adam first step ≈ lr*sign(g) with bias correction") {
    val w = w0
    Optimizer.build("adam", 0.01).step(w, g0)
    // t=1: mHat=g, vHat=g², step = lr*g/(|g|+eps') ≈ lr*sign(g)
    assert(math.abs(w(0)(0, 0) - (1.0 - 0.01)) < 1e-6)
    assert(math.abs(w(0)(0, 1) - (-2.0 + 0.01)) < 1e-6)
  }

  test("adam: five steps on 3x4 and 1x4 tensors are bit-identical to the tensor-form update") {
    val rnd = new scala.util.Random(5)
    def draw(): Tensors = Array(
      DenseMatrix.fill(3, 4)(rnd.nextGaussian()), DenseMatrix.fill(1, 4)(rnd.nextGaussian()))
    val (lr, beta1, beta2, eps) = (0.003, 0.9, 0.999, 1e-8)
    val w = draw()
    val ref = Tensors.copy(w)
    val m = Tensors.zerosLike(w)
    val v = Tensors.zerosLike(w)
    val opt = Optimizer.build("adam", lr)
    for (t <- 1 to 5) {
      val g = draw()
      opt.step(w, g)
      // the reference: Adam written over whole breeze tensors
      val b1c = 1.0 - math.pow(beta1, t.toDouble)
      val b2c = 1.0 - math.pow(beta2, t.toDouble)
      for (i <- ref.indices) {
        m(i) := m(i) * beta1 + g(i) * (1.0 - beta1)
        v(i) := v(i) * beta2 + (g(i) *:* g(i)) * (1.0 - beta2)
        val mHat = m(i) / b1c
        val vHat = v(i) / b2c
        ref(i) :-= (mHat /:/ (breeze.numerics.sqrt(vHat) + eps)) * lr
      }
      for (i <- w.indices) {
        val bits = (x: DenseMatrix[Double]) =>
          x.toArray.map(java.lang.Double.doubleToRawLongBits).toSeq
        assert(bits(w(i)) == bits(ref(i)), s"tensor $i differs after step $t")
      }
    }
  }

  test("adagrad first step: w -= lr*g/sqrt(init+g²)") {
    val w = w0
    Optimizer.build("adagrad", 0.1, Map("initial_accumulator_value" -> 0.1)).step(w, g0)
    val exp = 1.0 - 0.1 * 0.5 / math.sqrt(0.1 + 0.25)
    assert(math.abs(w(0)(0, 0) - exp) < 1e-12)
  }

  test("rmsprop first step") {
    val w = w0
    Optimizer.build("rmsprop", 0.1, Map("decay" -> 0.9)).step(w, g0)
    val exp = 1.0 - 0.1 * 0.5 / math.sqrt(0.1 * 0.25 + 1e-10)
    assert(math.abs(w(0)(0, 0) - exp) < 1e-9)
  }

  test("adadelta first step uses eps-seeded accumulators") {
    val w = w0
    Optimizer.build("adadelta", 1.0, Map("rho" -> 0.95, "epsilon" -> 1e-6)).step(w, g0)
    val accG = 0.05 * 0.25
    val dx = math.sqrt(1e-6) / math.sqrt(accG + 1e-6) * 0.5
    assert(math.abs(w(0)(0, 0) - (1.0 - dx)) < 1e-9)
  }

  test("ftrl with l1=l2=0 moves opposite the gradient") {
    val w = w0
    Optimizer.build("ftrl", 0.5).step(w, g0)
    assert(w(0)(0, 0) < 1.0)
    assert(w(0)(0, 1) > -2.0)
  }

  test("proximal_gradient_descent with l1/l2=0 equals sgd") {
    val w = w0
    Optimizer.build("proximal_gradient_descent", 0.1).step(w, g0)
    assert(math.abs(w(0)(0, 0) - 0.95) < 1e-12)
    assert(math.abs(w(0)(0, 1) - (-1.9)) < 1e-12)
  }

  test("proximal_gradient_descent golden step: soft-threshold shrinks toward 0") {
    val w = w0
    Optimizer.build("proximal_gradient_descent", 0.1,
      Map("l1_regularization_strength" -> 1.0,
          "l2_regularization_strength" -> 2.0)).step(w, g0)
    // prox = 1 - 0.1*0.5 = 0.95; |0.95|-0.1*1 = 0.85; /(1+0.1*2) = 0.85/1.2
    assert(math.abs(w(0)(0, 0) - 0.85 / 1.2) < 1e-12)
    // prox = -2+0.1 = -1.9; sign*-max(1.9-0.1,0)/1.2 = -1.8/1.2 = -1.5
    assert(math.abs(w(0)(0, 1) - (-1.8 / 1.2)) < 1e-12)
  }

  test("proximal_gradient_descent l1 zeroes small weights") {
    val w: Tensors = Array(DenseMatrix((0.05, -0.05)))
    Optimizer.build("proximal_gradient_descent", 0.1,
      Map("l1_regularization_strength" -> 1.0)).step(w, Array(DenseMatrix((0.0, 0.0))))
    // prox = w; |0.05| - 0.1*1 < 0 → exactly 0 (the sparsity property)
    assert(w(0)(0, 0) == 0.0 && w(0)(0, 1) == 0.0)
  }

  test("proximal_adagrad golden step: adagrad step then adapted-rate shrink") {
    val w = w0
    Optimizer.build("proximal_adagrad", 0.1,
      Map("initial_accumulator_value" -> 0.1,
          "l1_regularization_strength" -> 1.0)).step(w, g0)
    val adj = 0.1 / math.sqrt(0.1 + 0.25) // lr/sqrt(acc) after acc += g²
    val prox = 1.0 - adj * 0.5
    assert(math.abs(w(0)(0, 0) - (prox - adj * 1.0)) < 1e-12)
  }

  test("proximal_adagrad with l1/l2=0 equals adagrad") {
    val w1 = w0; val w2 = w0
    Optimizer.build("proximal_adagrad", 0.1).step(w1, g0)
    Optimizer.build("adagrad", 0.1).step(w2, g0)
    assert(math.abs(w1(0)(0, 0) - w2(0)(0, 0)) < 1e-12)
    assert(math.abs(w1(0)(0, 1) - w2(0)(0, 1)) < 1e-12)
  }

  test("every reference optimizer name builds") {
    val names = Seq("adam", "rmsprop", "momentum", "adadelta", "adagrad",
      "gradient_descent", "adagrad_da", "ftrl", "proximal_adagrad",
      "proximal_gradient_descent")
    names.foreach { n =>
      val w = w0
      Optimizer.build(n, 0.01).step(w, g0)
      assert(w(0)(0, 0) != 1.0, s"$n did not update weights")
    }
  }
}
