package graft.nn

import breeze.linalg.DenseMatrix
import breeze.numerics.{sqrt => bsqrt, abs => babs, signum}
import graft.nn.Tensors.Tensors

/** Gradient-descent optimizers, state kept tensor-shaped.
  *
  * Parity with the reference's `build_optimizer`
  * (lifeomic/sparkflow `tensorflow_async.py:17-42`): the same 10 names are
  * accepted and an unknown name falls back to plain gradient descent.
  * Typed option builders mirror `graph_utils.py:18-47`.
  *
  * `step` mutates the weight tensors in place — in hogwild mode multiple
  * HTTP handler threads call it concurrently without locking, exactly like
  * the reference's threaded Flask handlers (`HogwildSparkModel.py:204,244`).
  */
sealed trait Optimizer extends Serializable {
  def lr: Double
  def step(w: Tensors, g: Tensors): Unit
  protected def zeros(like: Tensors): Tensors = Tensors.zerosLike(like)

  /** Lazily-allocated state must publish safely: in hogwild mode several
    * HTTP handler threads race into the FIRST step concurrently, and an
    * unsynchronized null-check would let one thread observe
    * partially-initialized state (an NPE crash race — not the deliberate
    * weight-update stochasticity). Subclasses call this once per step;
    * `init` runs exactly once, before any thread proceeds. */
  @volatile private var initialized = false
  protected def ensureInit(init: => Unit): Unit =
    if (!initialized) synchronized {
      if (!initialized) { init; initialized = true }
    }
}

object Optimizer {

  final class Sgd(val lr: Double) extends Optimizer {
    def step(w: Tensors, g: Tensors): Unit = {
      var i = 0
      while (i < w.length) { w(i) :-= g(i) * lr; i += 1 }
    }
  }

  final class Momentum(val lr: Double, momentum: Double = 0.9, nesterov: Boolean = false)
      extends Optimizer {
    private var v: Tensors = _
    def step(w: Tensors, g: Tensors): Unit = {
      ensureInit { v = zeros(w) }
      var i = 0
      while (i < w.length) {
        v(i) := v(i) * momentum + g(i)
        if (nesterov) w(i) :-= (g(i) + v(i) * momentum) * lr
        else w(i) :-= v(i) * lr
        i += 1
      }
    }
  }

  final class Adam(
      val lr: Double, beta1: Double = 0.9, beta2: Double = 0.999, eps: Double = 1e-8)
      extends Optimizer {
    private var m: Tensors = _
    private var v: Tensors = _
    private val t = new java.util.concurrent.atomic.AtomicLong()

    /** One fused pass per element: its new m and v come from this step's
      * gradient into locals, and the weight update reads those locals,
      * never the shared moment tensors, so under hogwild a concurrent
      * step cannot pair another worker's m with a v that lacks it. Each
      * operation and its order match the tensor form
      * (`m*β1 + g*(1-β1)`, `v*β2 + (g*g)*(1-β2)`, `/b1c`, `/b2c`,
      * `sqrt + eps`, `/`, `*lr`), so single-writer results are
      * bit-identical to it. */
    def step(w: Tensors, g: Tensors): Unit = {
      ensureInit { m = zeros(w); v = zeros(w) }
      val n = t.incrementAndGet().toDouble
      val b1c = 1.0 - math.pow(beta1, n)
      val b2c = 1.0 - math.pow(beta2, n)
      val c1 = 1.0 - beta1
      val c2 = 1.0 - beta2
      var i = 0
      while (i < w.length) {
        val wi = w(i); val gi = g(i)
        val md = m(i).data; val vd = v(i).data
        var k = 0
        var c = 0
        while (c < wi.cols) {
          var r = 0
          while (r < wi.rows) {
            val gk = gi(r, c)
            val mk = md(k) * beta1 + gk * c1
            val vk = vd(k) * beta2 + (gk * gk) * c2
            md(k) = mk
            vd(k) = vk
            wi(r, c) -= (mk / b1c) / (math.sqrt(vk / b2c) + eps) * lr
            k += 1
            r += 1
          }
          c += 1
        }
        i += 1
      }
    }
  }

  final class RmsProp(
      val lr: Double, decay: Double = 0.9, momentum: Double = 0.0,
      eps: Double = 1e-10, centered: Boolean = false)
      extends Optimizer {
    private var ms: Tensors = _
    private var mg: Tensors = _
    private var mom: Tensors = _
    def step(w: Tensors, g: Tensors): Unit = {
      ensureInit { ms = zeros(w); mg = zeros(w); mom = zeros(w) }
      var i = 0
      while (i < w.length) {
        ms(i) := ms(i) * decay + (g(i) *:* g(i)) * (1.0 - decay)
        val denom =
          if (centered) {
            mg(i) := mg(i) * decay + g(i) * (1.0 - decay)
            // E[g²] − E[g]² ≥ 0 only in exact, single-writer arithmetic;
            // float rounding and hogwild races (concurrent steps mutate
            // ms/mg between the two reads) can drive it negative, and
            // sqrt(negative) poisons the weights with NaN. Clamp first.
            bsqrt((ms(i) - (mg(i) *:* mg(i))).mapValues(v => if (v > 0.0) v else 0.0) + eps)
          } else bsqrt(ms(i) + eps)
        mom(i) := mom(i) * momentum + ((g(i) /:/ denom) * lr)
        w(i) :-= mom(i)
        i += 1
      }
    }
  }

  final class Adagrad(val lr: Double, initAccum: Double = 0.1) extends Optimizer {
    private var acc: Tensors = _
    def step(w: Tensors, g: Tensors): Unit = {
      ensureInit { acc = w.map(t => DenseMatrix.fill[Double](t.rows, t.cols)(initAccum)) }
      var i = 0
      while (i < w.length) {
        acc(i) :+= g(i) *:* g(i)
        w(i) :-= (g(i) /:/ bsqrt(acc(i))) * lr
        i += 1
      }
    }
  }

  final class Adadelta(val lr: Double, rho: Double = 0.95, eps: Double = 1e-8)
      extends Optimizer {
    private var accG: Tensors = _
    private var accDx: Tensors = _
    def step(w: Tensors, g: Tensors): Unit = {
      ensureInit { accG = zeros(w); accDx = zeros(w) }
      var i = 0
      while (i < w.length) {
        accG(i) := accG(i) * rho + (g(i) *:* g(i)) * (1.0 - rho)
        val dx = (bsqrt(accDx(i) + eps) /:/ bsqrt(accG(i) + eps)) *:* g(i)
        accDx(i) := accDx(i) * rho + (dx *:* dx) * (1.0 - rho)
        w(i) :-= dx * lr
        i += 1
      }
    }
  }

  /** Shared proximal (FOBOS, Duchi & Singer 2009) shrinkage: take the
    * gradient step, then soft-threshold by the per-element effective
    * learning rate — the update rule of TF's
    * `ProximalGradientDescentOptimizer`/`ProximalAdagradOptimizer`
    * (reference `tensorflow_async.py:28-29`):
    * `w = sign(prox) * max(|prox| - adjLr*l1, 0) / (1 + adjLr*l2)`. */
  private def shrink(prox: Double, adjLr: Double, l1: Double, l2: Double): Double =
    math.signum(prox) * math.max(math.abs(prox) - adjLr * l1, 0.0) / (1.0 + adjLr * l2)

  /** Proximal gradient descent: plain SGD step followed by l1/l2
    * soft-thresholding with the global learning rate. */
  final class ProximalSgd(val lr: Double, l1: Double = 0.0, l2: Double = 0.0)
      extends Optimizer {
    def step(w: Tensors, g: Tensors): Unit = {
      var i = 0
      while (i < w.length) {
        val prox = w(i) - g(i) * lr
        w(i) := (if (l1 == 0.0 && l2 == 0.0) prox
                 else prox.map(p => shrink(p, lr, l1, l2)))
        i += 1
      }
    }
  }

  /** Proximal Adagrad: adagrad step, then soft-thresholding with the
    * per-element adapted rate `lr / sqrt(acc)`. */
  final class ProximalAdagrad(
      val lr: Double, initAccum: Double = 0.1, l1: Double = 0.0, l2: Double = 0.0)
      extends Optimizer {
    private var acc: Tensors = _
    def step(w: Tensors, g: Tensors): Unit = {
      ensureInit { acc = w.map(t => DenseMatrix.fill[Double](t.rows, t.cols)(initAccum)) }
      var i = 0
      while (i < w.length) {
        acc(i) :+= g(i) *:* g(i)
        val prox = w(i) - (g(i) /:/ bsqrt(acc(i))) * lr
        if (l1 == 0.0 && l2 == 0.0) w(i) := prox
        else {
          val accI = acc(i)
          w(i) := prox.mapPairs { case ((r, c), p) =>
            shrink(p, lr / math.sqrt(accI(r, c)), l1, l2)
          }
        }
        i += 1
      }
    }
  }

  /** FTRL-proximal (McMahan et al. 2013), covering the reference's `ftrl`
    * name; l1/l2 default to 0 which degrades gracefully to adagrad-like. */
  final class Ftrl(
      val lr: Double, lrPower: Double = -0.5,
      l1: Double = 0.0, l2: Double = 0.0)
      extends Optimizer {
    private var nAcc: Tensors = _
    private var zAcc: Tensors = _
    def step(w: Tensors, g: Tensors): Unit = {
      ensureInit { nAcc = zeros(w); zAcc = zeros(w) }
      var i = 0
      while (i < w.length) {
        val nNew = nAcc(i) + (g(i) *:* g(i))
        val sigma = (breeze.numerics.pow(nNew, -lrPower) - breeze.numerics.pow(nAcc(i), -lrPower)) / lr
        zAcc(i) :+= g(i) - (sigma *:* w(i))
        nAcc(i) := nNew
        val z = zAcc(i)
        val wNew = z.mapPairs { case ((r, c), zv) =>
          if (math.abs(zv) <= l1) 0.0
          else -(zv - math.signum(zv) * l1) /
            ((math.pow(nNew(r, c), -lrPower) / lr) + 2 * l2)
        }
        w(i) := wNew
        i += 1
      }
    }
  }

  /** Name → optimizer factory, same names + fallback rule as
    * `build_optimizer` (`tensorflow_async.py:17-42`). `options` keys use
    * the reference's TF names (beta1/beta2/epsilon/decay/momentum/rho/
    * use_nesterov/centered/initial_accumulator_value/...). */
  def build(name: String, lr: Double, options: Map[String, Double] = Map.empty): Optimizer = {
    def opt(k: String, d: Double) = options.getOrElse(k, d)
    def flag(k: String) = options.get(k).exists(_ != 0.0)
    name.toLowerCase match {
      case "adam" =>
        new Adam(lr, opt("beta1", 0.9), opt("beta2", 0.999), opt("epsilon", 1e-8))
      case "rmsprop" =>
        new RmsProp(lr, opt("decay", 0.9), opt("momentum", 0.0), opt("epsilon", 1e-10),
          flag("centered"))
      case "momentum" =>
        new Momentum(lr, opt("momentum", 0.9), flag("use_nesterov"))
      case "adadelta" =>
        new Adadelta(lr, opt("rho", 0.95), opt("epsilon", 1e-8))
      case "adagrad" | "adagrad_da" =>
        new Adagrad(lr, opt("initial_accumulator_value", 0.1))
      case "proximal_adagrad" =>
        new ProximalAdagrad(lr, opt("initial_accumulator_value", 0.1),
          opt("l1_regularization_strength", 0.0), opt("l2_regularization_strength", 0.0))
      case "ftrl" =>
        new Ftrl(lr, opt("learning_rate_power", -0.5),
          opt("l1_regularization_strength", 0.0), opt("l2_regularization_strength", 0.0))
      case "gradient_descent" =>
        new Sgd(lr)
      case "proximal_gradient_descent" =>
        new ProximalSgd(lr,
          opt("l1_regularization_strength", 0.0), opt("l2_regularization_strength", 0.0))
      case _ => new Sgd(lr) // unknown name → gradient descent, like the reference
    }
  }
}
