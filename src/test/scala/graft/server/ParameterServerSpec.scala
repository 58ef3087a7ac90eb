package graft.server

import breeze.linalg.DenseMatrix
import org.scalatest.funsuite.AnyFunSuite
import graft.nn.{Optimizer, Tensors}
import graft.nn.Tensors.Tensors

class ParameterServerSpec extends AnyFunSuite {

  private def w0: Tensors = Array(DenseMatrix((1.0, 1.0)))

  test("GET /parameters and POST /update round-trip (hogwild)") {
    val w = w0
    val srv = new ParameterServer(w, Optimizer.build("gradient_descent", 0.5),
      port = 5301, acquireLock = false)
    srv.start()
    try {
      srv.awaitReady()
      val got = ParamsClient.getWeights("127.0.0.1:5301")
      assert(got(0) == DenseMatrix((1.0, 1.0)))
      ParamsClient.postGradients("127.0.0.1:5301", Array(DenseMatrix((1.0, 2.0))), 0)
      val after = ParamsClient.getWeights("127.0.0.1:5301")
      assert(after(0) == DenseMatrix((0.5, 0.0))) // w -= 0.5*g
    } finally srv.stop()
  }

  test("locked mode applies concurrent updates consistently") {
    val w = w0
    val srv = new ParameterServer(w, Optimizer.build("gradient_descent", 0.001),
      port = 5302, acquireLock = true)
    srv.start()
    try {
      srv.awaitReady()
      val threads = (1 to 8).map { _ =>
        new Thread(() => (1 to 50).foreach { _ =>
          ParamsClient.postGradients("127.0.0.1:5302", Array(DenseMatrix((1.0, 1.0))), 0)
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      val after = srv.currentWeights
      // 400 updates of -0.001 each, applied under the write lock: exact
      assert(math.abs(after(0)(0, 0) - (1.0 - 0.4)) < 1e-9)
      assert(srv.updateCount == 400)
    } finally srv.stop()
  }

  test("malformed update increments error counter, server keeps serving") {
    val srv = new ParameterServer(w0, Optimizer.build("gradient_descent", 0.5),
      port = 5303, acquireLock = false, maxErrors = 2)
    srv.start()
    try {
      srv.awaitReady()
      def postGarbage(): Unit = {
        val c = new java.net.URI("http://127.0.0.1:5303/update").toURL
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        c.setDoOutput(true); c.setRequestMethod("POST")
        c.getOutputStream.write(Array[Byte](1, 2, 3)); c.getOutputStream.close()
        assert(c.getResponseCode == 500)
        c.disconnect()
      }
      postGarbage()
      assert(srv.errorCount == 1 && !srv.isAborted)
      postGarbage()
      assert(srv.errorCount == 2 && srv.isAborted) // abort threshold reached
      assert(srv.updateCount == 0) // a refused set is not an applied update
      // still serves parameters after abort flag (driver decides what to do)
      assert(ParamsClient.getWeights("127.0.0.1:5303")(0) == DenseMatrix((1.0, 1.0)))
    } finally srv.stop()
  }

  test("mis-shaped gradient sets are rejected whole, before any step") {
    val w: Tensors = Array(DenseMatrix((1.0, 1.0)), DenseMatrix((2.0, 2.0, 2.0)))
    val srv = new ParameterServer(w, Optimizer.build("sgd", 0.5),
      port = 0, acquireLock = false)
    srv.start()
    try {
      srv.awaitReady()
      val url = s"127.0.0.1:${srv.boundPort}"
      // too few tensors: tensor 0 alone would have stepped, then thrown
      ParamsClient.postGradients(url, Array(DenseMatrix((1.0, 1.0))), 0)
      // right count, second tensor 1x2 instead of 1x3
      ParamsClient.postGradients(url,
        Array(DenseMatrix((1.0, 1.0)), DenseMatrix((1.0, 1.0))), 0)
      val after = srv.currentWeights
      assert(after(0) == DenseMatrix((1.0, 1.0)))
      assert(after(1) == DenseMatrix((2.0, 2.0, 2.0)))
      assert(srv.errorCount == 2)
    } finally srv.stop()
  }

  test("a refused push is logged with the partition, the status and the server's message") {
    val w: Tensors = Array(DenseMatrix((1.0, 1.0)), DenseMatrix((2.0, 2.0, 2.0)))
    val srv = new ParameterServer(w, Optimizer.build("sgd", 0.5),
      port = 0, acquireLock = false)
    srv.start()
    val err = new java.io.ByteArrayOutputStream()
    val saved = System.err
    try {
      srv.awaitReady()
      System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
      // second tensor 1x2 instead of 1x3: the server answers 500
      ParamsClient.postGradients(s"127.0.0.1:${srv.boundPort}",
        Array(DenseMatrix((1.0, 1.0)), DenseMatrix((1.0, 1.0))), 41)
    } finally { System.setErr(saved); srv.stop() }
    val logged = err.toString("UTF-8")
    assert(logged.contains("partition 41") && logged.contains("HTTP 500") &&
      logged.contains("gradient shapes 1x2,1x2 do not match the 2 weight tensors"), logged)
    assert(srv.errorCount == 1)
  }

  test("client POST failure is swallowed (reference worker policy)") {
    // no server on this port — must not throw
    ParamsClient.postGradients("127.0.0.1:5999", Array(DenseMatrix((1.0, 1.0))), 7)
  }
}
