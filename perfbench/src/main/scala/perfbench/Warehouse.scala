package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentLinkedQueue, Executors}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** A loopback stream-load warehouse: accepts `PUT /api/<db>/<tb>/
  * _stream_load` and keeps each accepted body with its label.
  *
  * Planted transient faults: the first attempt of every `failEvery`-th
  * new label is refused in-band (`Status: Fail`), the way a busy
  * frontend answers; the engine's sink retries under the same label.
  */
final class Warehouse(failEvery: Int) {
  import Warehouse._

  val accepted = new ConcurrentLinkedQueue[Put]()
  val attempts = new AtomicLong(0L)
  val refused = new AtomicLong(0L)
  private val newLabels = new AtomicLong(0L)
  private val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private val pool = Executors.newFixedThreadPool(4)
  private val server =
    HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  server.createContext("/", (ex: HttpExchange) => try {
    val body = new String(ex.getRequestBody.readAllBytes(),
      StandardCharsets.UTF_8)
    val label = Option(ex.getRequestHeaders.getFirst("label")).getOrElse("")
    attempts.incrementAndGet()
    val first = seen.add(label)
    val refuse = first && failEvery > 0 &&
      newLabels.incrementAndGet() % failEvery == 0
    val reply =
      if (refuse) {
        refused.incrementAndGet()
        """{"Status":"Fail","Message":"planted transient refusal"}"""
      } else {
        val Array(_, _, db, tb, _) = ex.getRequestURI.getPath.split("/", 5)
        accepted.add(Put(db, tb, label, body))
        """{"Status":"Success"}"""
      }
    val bytes = reply.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(200, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  } finally ex.close())
  server.setExecutor(pool)
  server.start()

  def port: Int = server.getAddress.getPort

  /** Forget everything received (between task runs). */
  def reset(): Unit = {
    accepted.clear(); seen.clear()
    attempts.set(0L); refused.set(0L); newLabels.set(0L)
  }

  def puts: Seq[Put] = accepted.asScala.toSeq

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS): Unit
  }
}

object Warehouse {
  /** One accepted stream-load body. */
  final case class Put(db: String, tb: String, label: String, body: String) {
    /** The batch id the engine put into the label
      * (`graft-<db>-<tb>-<batch>-<part>-<chunk>`).
      */
    def batchId: Long = label.split("-").reverse(2).toLong
  }
}
