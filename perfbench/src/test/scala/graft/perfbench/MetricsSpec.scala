package graft.perfbench

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

class MetricsSpec extends AnyFunSuite {
  private val all = Metrics.EndToEnd ++ Metrics.PerLayer

  test("every metric name is valid and used once") {
    all.foreach { case (n, _) => assert(Stats.validName(n), n) }
    assert(all.map(_._1).distinct.size == all.size)
  }

  test("BENCHMARK.json lists exactly the metrics the benchmark reports, and known workloads") {
    val f = new java.io.File("../BENCHMARK.json")
    assume(f.isFile, "BENCHMARK.json sits at the root of the checkout")
    val j = JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
    def metrics(key: String): Seq[(String, String)] = (j \ key) match {
      case JArray(xs) => xs.map { x =>
        val JString(n) = x \ "name": @unchecked
        val JString(u) = x \ "unit": @unchecked
        n -> u
      }
      case other => fail(s"$key: $other")
    }
    assert(metrics("end_to_end") == Metrics.EndToEnd)
    assert(metrics("per_layer") == Metrics.PerLayer)
    val JArray(ws) = j \ "workloads": @unchecked
    val names = ws.map(w => (w \ "name").asInstanceOf[JString].s)
    assert(names.nonEmpty && names.forall(Main.Workloads.contains))
  }

  test("a result object prints every requested metric with its unit") {
    val m = new Measured
    m("setup_s") = 1.25
    val json = m.json(Metrics.EndToEnd)
    Metrics.EndToEnd.foreach { case (n, u) =>
      assert(json.contains(s""""$n": {"value": """), n)
      assert(json.contains(s""""unit": "$u""""), u)
    }
    assert(json.contains(""""setup_s": {"value": 1.25, "unit": "s"}"""))
    assertThrows[IllegalArgumentException](m("no_such_metric") = 1.0)
  }
}
