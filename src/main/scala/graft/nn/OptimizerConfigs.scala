package graft.nn

/** Typed optimizer-option builders — parity with the reference's
  * `graph_utils.py:18-47` (`build_adam_config` etc.): same fields and
  * defaults, emitting the options-JSON string consumed by
  * `SparkAsyncDL.setOptimizerOptions` / `Optimizer.build`.
  *
  * `useLocking` is accepted for API parity; the JVM engine's equivalent
  * switch is the server-level `acquireLock` (SURVEY.md T8), so it is
  * recorded in the JSON but does not alter the math.
  */
object OptimizerConfigs {

  private def json(kv: (String, Double)*): String =
    kv.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

  private def bool(b: Boolean): Double = if (b) 1.0 else 0.0

  def adam(
      beta1: Double = 0.9, beta2: Double = 0.999, epsilon: Double = 1e-8,
      useLocking: Boolean = false): String =
    json("beta1" -> beta1, "beta2" -> beta2, "epsilon" -> epsilon,
      "use_locking" -> bool(useLocking))

  def rmsprop(
      decay: Double = 0.9, momentum: Double = 0.0, epsilon: Double = 1e-10,
      useLocking: Boolean = false, centered: Boolean = false): String =
    json("decay" -> decay, "momentum" -> momentum, "epsilon" -> epsilon,
      "use_locking" -> bool(useLocking), "centered" -> bool(centered))

  def momentum(
      momentum: Double = 0.9, useLocking: Boolean = false,
      useNesterov: Boolean = false): String =
    json("momentum" -> momentum, "use_locking" -> bool(useLocking),
      "use_nesterov" -> bool(useNesterov))

  def adadelta(rho: Double = 0.95, epsilon: Double = 1e-8): String =
    json("rho" -> rho, "epsilon" -> epsilon)

  def adagrad(initialAccumulatorValue: Double = 0.1): String =
    json("initial_accumulator_value" -> initialAccumulatorValue)

  def ftrl(
      learningRatePower: Double = -0.5, l1: Double = 0.0, l2: Double = 0.0): String =
    json("learning_rate_power" -> learningRatePower,
      "l1_regularization_strength" -> l1, "l2_regularization_strength" -> l2)
}
