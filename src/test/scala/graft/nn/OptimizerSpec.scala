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

  private def shrink(prox: Double, adjLr: Double, l1: Double, l2: Double): Double =
    math.signum(prox) * math.max(math.abs(prox) - adjLr * l1, 0.0) / (1.0 + adjLr * l2)

  /** Each optimizer's update written over whole Breeze tensors, as the
    * optimizers computed it before they shared one element loop: the
    * name, learning rate and options it is built with, its slot count and
    * initial value, and one step `(w, g, slots, t)` at step number t. */
  private case class TensorForm(name: String, lr: Double, options: Map[String, Double],
      slots: Int, init: Double, step: (Tensors, Tensors, Array[Tensors], Int) => Unit)

  private val tensorForms = Seq(
    TensorForm("gradient_descent", 0.05, Map.empty, 0, 0.0, (w, g, _, _) =>
      for (i <- w.indices) w(i) :-= g(i) * 0.05),
    TensorForm("momentum", 0.05, Map("momentum" -> 0.8, "use_nesterov" -> 1.0), 1, 0.0,
      (w, g, s, _) => for (i <- w.indices) {
        val v = s(0)
        v(i) := v(i) * 0.8 + g(i)
        w(i) :-= (g(i) + v(i) * 0.8) * 0.05
      }),
    TensorForm("adam", 0.01, Map("beta1" -> 0.8, "beta2" -> 0.99, "epsilon" -> 1e-6), 2, 0.0,
      (w, g, s, t) => {
        val b1c = 1.0 - math.pow(0.8, t.toDouble)
        val b2c = 1.0 - math.pow(0.99, t.toDouble)
        for (i <- w.indices) {
          val (m, v) = (s(0), s(1))
          m(i) := m(i) * 0.8 + g(i) * (1.0 - 0.8)
          v(i) := v(i) * 0.99 + (g(i) *:* g(i)) * (1.0 - 0.99)
          w(i) :-= ((m(i) / b1c) /:/ (breeze.numerics.sqrt(v(i) / b2c) + 1e-6)) * 0.01
        }
      }),
    TensorForm("rmsprop", 0.02,
      Map("decay" -> 0.8, "momentum" -> 0.5, "epsilon" -> 1e-6, "centered" -> 1.0), 3, 0.0,
      (w, g, s, _) => for (i <- w.indices) {
        val (ms, mom, mg) = (s(0), s(1), s(2))
        ms(i) := ms(i) * 0.8 + (g(i) *:* g(i)) * (1.0 - 0.8)
        mg(i) := mg(i) * 0.8 + g(i) * (1.0 - 0.8)
        val denom = breeze.numerics.sqrt(
          (ms(i) - (mg(i) *:* mg(i))).mapValues(v => if (v > 0.0) v else 0.0) + 1e-6)
        mom(i) := mom(i) * 0.5 + ((g(i) /:/ denom) * 0.02)
        w(i) :-= mom(i)
      }),
    TensorForm("adagrad", 0.1, Map("initial_accumulator_value" -> 0.3), 1, 0.3,
      (w, g, s, _) => for (i <- w.indices) {
        val acc = s(0)
        acc(i) :+= g(i) *:* g(i)
        w(i) :-= (g(i) /:/ breeze.numerics.sqrt(acc(i))) * 0.1
      }),
    TensorForm("adadelta", 1.0, Map("rho" -> 0.9, "epsilon" -> 1e-6), 2, 0.0,
      (w, g, s, _) => for (i <- w.indices) {
        val (accG, accDx) = (s(0), s(1))
        accG(i) := accG(i) * 0.9 + (g(i) *:* g(i)) * (1.0 - 0.9)
        val dx = (breeze.numerics.sqrt(accDx(i) + 1e-6) /:/
          breeze.numerics.sqrt(accG(i) + 1e-6)) *:* g(i)
        accDx(i) := accDx(i) * 0.9 + (dx *:* dx) * (1.0 - 0.9)
        w(i) :-= dx * 1.0
      }),
    TensorForm("proximal_gradient_descent", 0.1,
      Map("l1_regularization_strength" -> 2.0, "l2_regularization_strength" -> 0.5), 0, 0.0,
      (w, g, _, _) => for (i <- w.indices) {
        val prox = w(i) - g(i) * 0.1
        w(i) := prox.map(p => shrink(p, 0.1, 2.0, 0.5))
      }),
    TensorForm("proximal_adagrad", 0.1, Map("initial_accumulator_value" -> 0.2,
        "l1_regularization_strength" -> 2.0, "l2_regularization_strength" -> 0.5), 1, 0.2,
      (w, g, s, _) => for (i <- w.indices) {
        val acc = s(0)
        acc(i) :+= g(i) *:* g(i)
        val prox = w(i) - (g(i) /:/ breeze.numerics.sqrt(acc(i))) * 0.1
        val accI = acc(i)
        w(i) := prox.mapPairs { case ((r, c), p) =>
          shrink(p, 0.1 / math.sqrt(accI(r, c)), 2.0, 0.5)
        }
      }),
    TensorForm("ftrl", 0.5, Map("learning_rate_power" -> -0.6,
        "l1_regularization_strength" -> 1.0, "l2_regularization_strength" -> 0.5), 2, 0.0,
      (w, g, s, _) => for (i <- w.indices) {
        val (nAcc, zAcc) = (s(0), s(1))
        val nNew = nAcc(i) + (g(i) *:* g(i))
        val sigma = (breeze.numerics.pow(nNew, 0.6) - breeze.numerics.pow(nAcc(i), 0.6)) / 0.5
        zAcc(i) :+= g(i) - (sigma *:* w(i))
        nAcc(i) := nNew
        w(i) := zAcc(i).mapPairs { case ((r, c), zv) =>
          if (math.abs(zv) <= 1.0) 0.0
          else -(zv - math.signum(zv) * 1.0) / ((math.pow(nNew(r, c), 0.6) / 0.5) + 2 * 0.5)
        }
      }))

  test("every optimizer: five steps are bit-identical to its tensor-form update") {
    assert(tensorForms.map(_.name).toSet.size == 9)
    val bits = (x: DenseMatrix[Double]) =>
      x.toArray.map(java.lang.Double.doubleToRawLongBits).toSeq
    for (f <- tensorForms) {
      val rnd = new scala.util.Random(11)
      // the 3x4 gradient alternates between a plain matrix and a
      // transposed view of a 4x3 one (row-major data), so the loop walks
      // both layouts
      def draw(t: Int): Tensors = Array(
        if (t % 2 == 1) DenseMatrix.fill(4, 3)(rnd.nextGaussian()).t
        else DenseMatrix.fill(3, 4)(rnd.nextGaussian()),
        DenseMatrix.fill(1, 4)(rnd.nextGaussian()))
      val w = draw(0)
      val ref = Tensors.copy(w)
      val slots = Array.fill(f.slots)(ref.map(t => DenseMatrix.fill(t.rows, t.cols)(f.init)))
      val opt = Optimizer.build(f.name, f.lr, f.options)
      for (t <- 1 to 5) {
        val g = draw(t)
        assert(g(0).isTranspose == (t % 2 == 1))
        opt.step(w, g)
        f.step(ref, g, slots, t)
        for (i <- w.indices)
          assert(bits(w(i)) == bits(ref(i)), s"${f.name}: tensor $i differs after step $t")
      }
      if (f.name.startsWith("prox") || f.name == "ftrl")
        assert(w.exists(_.toArray.contains(0.0)), s"${f.name}: no weight was clipped to 0")
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
