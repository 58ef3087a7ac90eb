package graft.nn

import breeze.linalg.DenseMatrix
import graft.nn.Tensors.Tensors

/** Gradient-descent optimizers: one step loop, one element rule each.
  *
  * Parity with the reference's `build_optimizer`
  * (lifeomic/sparkflow `tensorflow_async.py:17-42`): the same 10 names are
  * accepted and an unknown name falls back to plain gradient descent.
  *
  * `step` mutates the weight tensors in place — in hogwild mode multiple
  * HTTP handler threads call it concurrently without locking, like the
  * reference's threaded Flask handlers (`HogwildSparkModel.py:204,244`).
  * Each optimizer is an element `rule` over its `slotCount` state values
  * per weight (Adam's m and v, ...). A rule reads each slot once into a
  * local, writes it back once and takes the new weight from those locals,
  * so a concurrent step cannot slip its writes between one update's reads
  * (the race that paired one worker's Adam m with a v that lacked it).
  * Each rule performs the operations of the whole-tensor form, in order,
  * so single-writer results are bit-identical to it.
  */
sealed abstract class Optimizer(slotCount: Int, slotInit: Double = 0.0) extends Serializable {
  def lr: Double

  /** One element's update: `w` and `g` are its weight and gradient,
    * `s(j)(k)` its value in slot j and `c` this step's [[stepScalars]].
    * Returns the new weight. */
  protected def rule(w: Double, g: Double, s: Optimizer.Slots, k: Int, c: Array[Double]): Double

  /** Scalars shared by one step's elements (Adam's bias corrections). */
  protected def stepScalars(): Array[Double] = null

  /** Slots per weight tensor, allocated on the first step, which several
    * hogwild handler threads may race into: the volatile write publishes
    * them only after every fill, so no thread sees partial state. */
  @volatile private var slots: Array[Optimizer.Slots] = _

  /** The one loop, and the one place that reads matrix layout: slots are
    * plain column-major, and a `w` or `g` that is not (an offset, stride
    * or transposed view) is walked through a column-major copy. */
  final def step(w: Tensors, g: Tensors): Unit = {
    if (slots == null) synchronized {
      if (slots == null) slots = w.map(t => Array.fill(slotCount)(Array.fill(t.size)(slotInit)))
    }
    val state = slots
    val c = stepScalars()
    var i = 0
    while (i < w.length) {
      val wt = w(i); val gt = g(i); val s = state(i); val n = wt.size
      require(gt.rows == wt.rows && gt.cols == wt.cols, s"gradient $i's shape is not its weight's")
      val wd = if (Tensors.isPlain(wt)) wt.data else wt.toArray
      val gd = if (Tensors.isPlain(gt)) gt.data else gt.toArray
      var k = 0
      while (k < n) { wd(k) = rule(wd(k), gd(k), s, k, c); k += 1 }
      if (wd ne wt.data) wt := new DenseMatrix(wt.rows, wt.cols, wd)
      i += 1
    }
  }
}

object Optimizer {

  /** One weight tensor's slot arrays: `s(j)(k)` is slot j at element k. */
  type Slots = Array[Array[Double]]

  final class Sgd(val lr: Double) extends Optimizer(0) {
    protected def rule(w: Double, g: Double, s: Slots, k: Int, c: Array[Double]) = w - g * lr
  }

  final class Momentum(val lr: Double, momentum: Double = 0.9, nesterov: Boolean = false)
      extends Optimizer(1) {
    protected def rule(w: Double, g: Double, s: Slots, k: Int, c: Array[Double]) = {
      val v = s(0)(k) * momentum + g
      s(0)(k) = v
      if (nesterov) w - (g + v * momentum) * lr else w - v * lr
    }
  }

  /** Slots m and v; the step count `t` gives the bias corrections. */
  final class Adam(val lr: Double, beta1: Double = 0.9, beta2: Double = 0.999, eps: Double = 1e-8)
      extends Optimizer(2) {
    private val t = new java.util.concurrent.atomic.AtomicLong()
    private val (c1, c2) = (1.0 - beta1, 1.0 - beta2)
    override protected def stepScalars() = {
      val n = t.incrementAndGet().toDouble
      Array(1.0 - math.pow(beta1, n), 1.0 - math.pow(beta2, n))
    }
    protected def rule(w: Double, g: Double, s: Slots, k: Int, c: Array[Double]) = {
      val m = s(0)(k) * beta1 + g * c1
      val v = s(1)(k) * beta2 + (g * g) * c2
      s(0)(k) = m; s(1)(k) = v
      w - (m / c(0)) / (math.sqrt(v / c(1)) + eps) * lr
    }
  }

  /** Slots: mean square, momentum and (centered only) mean gradient. */
  final class RmsProp(
      val lr: Double, decay: Double = 0.9, momentum: Double = 0.0, eps: Double = 1e-10,
      centered: Boolean = false) extends Optimizer(if (centered) 3 else 2) {
    protected def rule(w: Double, g: Double, s: Slots, k: Int, c: Array[Double]) = {
      val ms = s(0)(k) * decay + (g * g) * (1.0 - decay)
      s(0)(k) = ms
      val denom = if (centered) {
        val mg = s(2)(k) * decay + g * (1.0 - decay)
        s(2)(k) = mg
        // E[g²] − E[g]² can round (or race) below 0, and sqrt(negative)
        // poisons the weights with NaN: clamp first (NaN → 0 too).
        val d = ms - mg * mg
        math.sqrt((if (d > 0.0) d else 0.0) + eps)
      } else math.sqrt(ms + eps)
      val mom = s(1)(k) * momentum + (g / denom) * lr
      s(1)(k) = mom
      w - mom
    }
  }

  final class Adagrad(val lr: Double, initAccum: Double = 0.1) extends Optimizer(1, initAccum) {
    protected def rule(w: Double, g: Double, s: Slots, k: Int, c: Array[Double]) = {
      val acc = s(0)(k) + g * g
      s(0)(k) = acc
      w - (g / math.sqrt(acc)) * lr
    }
  }

  /** Slots: the running means of the squared gradient and update. */
  final class Adadelta(val lr: Double, rho: Double = 0.95, eps: Double = 1e-8)
      extends Optimizer(2) {
    protected def rule(w: Double, g: Double, s: Slots, k: Int, c: Array[Double]) = {
      val accG = s(0)(k) * rho + (g * g) * (1.0 - rho)
      val accDx = s(1)(k)
      val dx = (math.sqrt(accDx + eps) / math.sqrt(accG + eps)) * g
      s(0)(k) = accG; s(1)(k) = accDx * rho + (dx * dx) * (1.0 - rho)
      w - dx * lr
    }
  }

  /** Shared proximal (FOBOS, Duchi & Singer 2009) shrinkage of TF's
    * `ProximalGradientDescentOptimizer`/`ProximalAdagradOptimizer`
    * (reference `tensorflow_async.py:28-29`): after the gradient step,
    * `w = sign(prox) * max(|prox| - adjLr*l1, 0) / (1 + adjLr*l2)`, where
    * `adjLr` is `lr` for proximal SGD and Adagrad's `lr / sqrt(acc)`. */
  private def shrink(prox: Double, adjLr: Double, l1: Double, l2: Double): Double =
    math.signum(prox) * math.max(math.abs(prox) - adjLr * l1, 0.0) / (1.0 + adjLr * l2)

  final class ProximalSgd(val lr: Double, l1: Double = 0.0, l2: Double = 0.0)
      extends Optimizer(0) {
    protected def rule(w: Double, g: Double, s: Slots, k: Int, c: Array[Double]) = {
      val prox = w - g * lr
      if (l1 == 0.0 && l2 == 0.0) prox else shrink(prox, lr, l1, l2)
    }
  }

  final class ProximalAdagrad(
      val lr: Double, initAccum: Double = 0.1, l1: Double = 0.0, l2: Double = 0.0)
      extends Optimizer(1, initAccum) {
    protected def rule(w: Double, g: Double, s: Slots, k: Int, c: Array[Double]) = {
      val acc = s(0)(k) + g * g
      s(0)(k) = acc
      val prox = w - (g / math.sqrt(acc)) * lr
      if (l1 == 0.0 && l2 == 0.0) prox else shrink(prox, lr / math.sqrt(acc), l1, l2)
    }
  }

  /** FTRL-proximal (McMahan et al. 2013), the reference's `ftrl`; slots n
    * (squared-gradient sum) and z. l1 = l2 = 0 degrades to adagrad-like. */
  final class Ftrl(val lr: Double, lrPower: Double = -0.5, l1: Double = 0.0, l2: Double = 0.0)
      extends Optimizer(2) {
    protected def rule(w: Double, g: Double, s: Slots, k: Int, c: Array[Double]) = {
      val n = s(0)(k)
      val nNew = n + g * g
      val pNew = math.pow(nNew, -lrPower)
      val z = s(1)(k) + (g - ((pNew - math.pow(n, -lrPower)) / lr) * w)
      s(0)(k) = nNew; s(1)(k) = z
      if (math.abs(z) <= l1) 0.0 else -(z - math.signum(z) * l1) / ((pNew / lr) + 2 * l2)
    }
  }

  /** Name → optimizer, same names + fallback rule as `build_optimizer`
    * (`tensorflow_async.py:17-42`). `options` keys use the reference's TF
    * names (beta1/epsilon/decay/rho/use_nesterov/centered/...). */
  def build(name: String, lr: Double, options: Map[String, Double] = Map.empty): Optimizer = {
    def opt(k: String, d: Double) = options.getOrElse(k, d)
    def flag(k: String) = options.get(k).exists(_ != 0.0)
    val l1 = opt("l1_regularization_strength", 0.0)
    val l2 = opt("l2_regularization_strength", 0.0)
    name.toLowerCase match {
      case "adam" => new Adam(lr, opt("beta1", 0.9), opt("beta2", 0.999), opt("epsilon", 1e-8))
      case "rmsprop" =>
        new RmsProp(lr, opt("decay", 0.9), opt("momentum", 0.0), opt("epsilon", 1e-10),
          flag("centered"))
      case "momentum" => new Momentum(lr, opt("momentum", 0.9), flag("use_nesterov"))
      case "adadelta" => new Adadelta(lr, opt("rho", 0.95), opt("epsilon", 1e-8))
      case "adagrad" | "adagrad_da" => new Adagrad(lr, opt("initial_accumulator_value", 0.1))
      case "proximal_adagrad" =>
        new ProximalAdagrad(lr, opt("initial_accumulator_value", 0.1), l1, l2)
      case "ftrl" => new Ftrl(lr, opt("learning_rate_power", -0.5), l1, l2)
      case "gradient_descent" => new Sgd(lr)
      case "proximal_gradient_descent" => new ProximalSgd(lr, l1, l2)
      case _ => new Sgd(lr) // unknown name → gradient descent, like the reference
    }
  }
}
