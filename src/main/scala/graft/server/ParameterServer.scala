package graft.server

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.InetSocketAddress
import java.util.concurrent.Executors
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import graft.nn.Optimizer
import graft.nn.Tensors
import graft.nn.Tensors.Tensors

/** Driver-hosted parameter server.
  *
  * The reference spawns a separate OS process running Flask purely to dodge
  * TensorFlow fork issues (lifeomic/sparkflow `HogwildSparkModel.py:156-180`);
  * on the JVM a plain [[com.sun.net.httpserver.HttpServer]] on driver
  * threads suffices — zero extra deps, no process lifecycle to leak.
  *
  * Endpoints (parity with `HogwildSparkModel.py:175-244`):
  *  - `GET  /`           → "graft" liveness string (reference: "Lifeomic")
  *  - `GET  /parameters` → current weights, binary codec
  *  - `POST /update`     → gradient tensors; applies one optimizer step,
  *    or answers 500 (counted as an error) without stepping when the
  *    tensor count or any shape differs from the weights
  *
  * Modes (`HogwildSparkModel.py:104-143,204`):
  *  - hogwild (acquireLock=false): handler threads mutate the shared
  *    weights concurrently, lock-free — races are deliberate stochasticity.
  *  - locked (acquireLock=true): reads under the read lock, updates under
  *    the write lock of a [[WriterPriorityRWLock]] — writer-priority like
  *    the reference's hand-rolled RWLock.py, so a flood of weight pulls
  *    can't starve gradient updates.
  *
  * An error counter aborts training after `maxErrors` failed updates
  * (reference `HogwildSparkModel.py:234-237` — note its py3 error path is
  * itself broken via `itertools.count().next()`; fixed here with
  * [[AtomicInteger]], per SURVEY.md §4).
  */
final class ParameterServer(
    weights: Tensors,
    optimizer: Optimizer,
    port: Int,
    acquireLock: Boolean,
    maxErrors: Int = 1000) {

  private val lock = new WriterPriorityRWLock()
  private val errors = new AtomicInteger(0)
  private val updates = new AtomicLong(0)
  @volatile private var aborted = false
  private var server: HttpServer = _
  private val pool = Executors.newCachedThreadPool()
  /** Actual bound port — may differ from the requested one (see start). */
  @volatile var boundPort: Int = port

  def start(): Unit = {
    // Bind retry: a lingering TIME_WAIT socket from a previous training
    // (the reference's test_change_port exists exactly because leaked
    // ports break reruns) walks forward up to 32 ports. Callers read
    // `boundPort` for the worker URL. port = 0 requests an OS-assigned
    // ephemeral port (no walk needed — the kernel never hands out a
    // taken one), the collision-proof choice for tests.
    var attempt = 0
    var bound: HttpServer = null
    var lastErr: Throwable = null
    while (bound == null && attempt < 32) {
      try {
        bound = HttpServer.create(
          new InetSocketAddress(if (port == 0) 0 else port + attempt), 0)
        boundPort = bound.getAddress.getPort
      } catch {
        case e: java.io.IOException => lastErr = e; attempt += 1
      }
    }
    if (bound == null) throw new java.io.IOException(
      s"no free port in [$port, ${port + 31}]", lastErr)
    server = bound
    server.createContext("/", new HttpHandler {
      def handle(ex: HttpExchange): Unit = respond(ex, 200, "graft".getBytes)
    })
    server.createContext("/parameters", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        val bytes =
          if (acquireLock) {
            lock.lockRead()
            try Tensors.toBytes(weights) finally lock.unlock()
          } else Tensors.toBytes(weights)
        respond(ex, 200, bytes)
      }
    })
    server.createContext("/update", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        try {
          val grads = Tensors.fromBytes(ex.getRequestBody.readAllBytes())
          // reject a mis-shaped payload WHOLE, before any step: the
          // optimizer walks tensor by tensor, so a short or mis-shaped
          // set would update a prefix and advance its state, then throw
          require(grads.length == weights.length &&
            grads.indices.forall(i => grads(i).rows == weights(i).rows &&
              grads(i).cols == weights(i).cols),
            s"gradient shapes ${grads.map(g => s"${g.rows}x${g.cols}").mkString(",")}" +
              s" do not match the ${weights.length} weight tensors")
          if (acquireLock) {
            lock.lockWrite()
            try optimizer.step(weights, grads) finally lock.unlock()
          } else optimizer.step(weights, grads) // hogwild: racy by design
          updates.incrementAndGet()
          respond(ex, 200, "ok".getBytes)
        } catch {
          case e: Throwable =>
            if (errors.incrementAndGet() >= maxErrors) aborted = true
            respond(ex, 500, s"update failed: ${e.getMessage}".getBytes)
        }
      }
    })
    server.setExecutor(pool) // concurrent handlers — hogwild needs real parallelism
    server.start()
  }

  /** Synchronous-start means no fixed sleep is needed (the reference sleeps
    * 8 s, `HogwildSparkModel.py:117,135`); this probe exists for belt and
    * braces when the caller wants an explicit readiness handshake. */
  def awaitReady(timeoutMs: Long = 10000): Unit = {
    val url = new java.net.URI(s"http://127.0.0.1:$boundPort/").toURL
    val deadline = System.currentTimeMillis() + timeoutMs
    var ok = false
    while (!ok && System.currentTimeMillis() < deadline) {
      try {
        val c = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
        c.setConnectTimeout(500); c.setReadTimeout(500)
        ok = c.getResponseCode == 200
        c.disconnect()
      } catch { case _: Exception => Thread.sleep(50) }
    }
    if (!ok) sys.error(s"parameter server on port $boundPort not ready after ${timeoutMs}ms")
  }

  def isAborted: Boolean = aborted
  def errorCount: Int = errors.get()
  /** Gradient sets applied so far (refused ones count in [[errorCount]]). */
  def updateCount: Long = updates.get()
  def currentWeights: Tensors = {
    if (acquireLock) {
      lock.lockRead()
      try Tensors.copy(weights) finally lock.unlock()
    } else Tensors.copy(weights)
  }

  def stop(): Unit = {
    if (server != null) server.stop(0)
    pool.shutdownNow()
  }

  private def respond(ex: HttpExchange, code: Int, body: Array[Byte]): Unit = {
    ex.sendResponseHeaders(code, body.length.toLong)
    val os = ex.getResponseBody
    os.write(body); os.close()
  }
}

/** Worker-side HTTP client — parity with `get_server_weights` /
  * `put_deltas_to_server` (`HogwildSparkModel.py:22-35`). POST failures,
  * and answers other than 200, are logged and swallowed like the
  * reference's worker loop (`HogwildSparkModel.py:68-92`). */
object ParamsClient {
  def getWeights(masterUrl: String): Tensors = {
    val c = new java.net.URI(s"http://$masterUrl/parameters").toURL
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    c.setConnectTimeout(10000); c.setReadTimeout(60000)
    try Tensors.fromBytes(c.getInputStream.readAllBytes())
    finally c.disconnect()
  }

  def postGradients(masterUrl: String, grads: Tensors, partitionId: Int): Unit = {
    val bytes = Tensors.toBytes(grads)
    try {
      val c = new java.net.URI(s"http://$masterUrl/update").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      c.setDoOutput(true)
      c.setRequestMethod("POST")
      c.setConnectTimeout(10000); c.setReadTimeout(60000)
      c.setFixedLengthStreamingMode(bytes.length)
      val os = c.getOutputStream
      os.write(bytes); os.close()
      val code = c.getResponseCode
      if (code != 200) {
        // a refused set (say, mis-shaped) is logged like a failed POST
        val err = c.getErrorStream
        val msg = if (err == null) "" else new String(err.readAllBytes(), "UTF-8")
        System.err.println(
          s"[graft] partition $partitionId gradient post refused: HTTP $code: $msg")
      }
      c.disconnect()
    } catch {
      case e: Exception =>
        // same policy as the reference: log with partition id, keep going
        System.err.println(s"[graft] partition $partitionId gradient post failed: ${e.getMessage}")
    }
  }
}
