package graft.perfbench

import graft.nn.Batching
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class ReplicaSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]").appName("replica-spec")
      .config("spark.ui.enabled", "false").config("spark.driver.host", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = spark.stop()

  /** 160 rows: 40 per partition, so 16-row batches sweep 3 times each. */
  private def rows(seed: Long) = {
    val rng = new scala.util.Random(seed)
    Array.tabulate(160) { i =>
      (Array.fill(64)(rng.nextGaussian()), Array.tabulate(10)(k => if (k == i % 10) 1.0 else 0.0))
    }
  }

  test("traced replica pushes once per batch: partitions x iterations x batches per partition") {
    val data = Training.fromRows(spark, rows(7))
    val shape = Training.Shape(acquireLock = false, miniBatchSize = 16, iters = 2,
      optimizer = "sgd", learningRate = 0.1)
    val r = Training.replica(data, shape, "spec-hogwild")
    val m = Training.replicaMetrics(r)
    val batches = Batching.sweepCount(160 / Training.Partitions, 16)
    assert(batches == 3)
    val expected = Training.Partitions * shape.iters * batches
    assert(m("server.pushes") == expected)
    assert(m("server.pulls") == expected)
    assert(r.staleness.size == expected)
    assert(r.serverErrors == 0)
    assert(m("server.wire_bytes") == 2.0 * expected * r.payloadBytes)
    assert(r.spans.count(_.name == "nn.trainLoop") == Training.Partitions)
    assert(math.abs(m("server.worker_time_share") + m("nn.worker_time_share") - 1.0) < 1e-9)
  }

  test("locked full-batch replica pushes once per partition per iteration") {
    val data = Training.fromRows(spark, rows(8))
    val shape = Training.Shape(acquireLock = true, miniBatchSize = -1, iters = 3,
      optimizer = "adam", learningRate = 0.001)
    val m = Training.replicaMetrics(Training.replica(data, shape, "spec-locked"))
    assert(m("server.pushes") == Training.Partitions * shape.iters)
  }

  test("self time subtracts the union of child intervals") {
    val parent = Span(1, "p", "t", 0, 0, 100)
    val kids = Seq(Span(2, "a", "t", 1, 10, 30), Span(3, "b", "t", 1, 20, 40),
      Span(4, "c", "t", 1, 90, 120))
    assert(Tracer.selfNs(parent, kids) == 100 - 30 - 10)
  }
}
