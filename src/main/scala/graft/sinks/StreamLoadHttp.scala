package graft.sinks

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.util.Base64

import com.fasterxml.jackson.databind.ObjectMapper

/** The HTTP half of the stream-load sink — the reference's request
  * synthesis and response check
  * (/root/reference/dt-connector/src/sinker/starrocks/starrocks_sinker.rs:
  * 233-318): a PUT to `/api/<db>/<tb>/_stream_load` with the stream-load
  * headers (format=json, strip_outer_array, timezone, basic auth, the
  * `__op='delete'` columns header for hard deletes) and a label for
  * retry idempotency, then a response gate that demands HTTP 200 AND
  * `Status=Success` in the body JSON — a 200 with a failed Status is
  * still a failure (the warehouse reports load errors in-band).
  *
  * Retry idempotency: labels are deterministic per (db, tb, op, batch,
  * partition, chunk). A retried PUT after a transient network failure
  * reuses the label; if the first attempt actually committed, the warehouse
  * answers `Label Already Exists` with `ExistingJobStatus=FINISHED`,
  * which [[checkResponse]] accepts as success — the public stream-load
  * exactly-once contract.
  *
  * Scale shape: executors PUT their own partitions' chunks directly
  * (sinkFactory runs inside foreachPartition) — the driver never sees
  * payload bytes, and per-executor HTTP connections spread the load
  * across warehouse frontends exactly like the reference's per-sinker
  * clients.
  */
object StreamLoadHttp {

  /** One synthesized request, transport-agnostic for testing. */
  final case class Request(method: String, url: String,
      headers: Map[String, String], body: String)

  final case class Config(host: String, port: Int, db: String, tb: String,
      user: String = "root", password: String = "",
      hardDelete: Boolean = false)

  /** Deterministic label: retries of the same chunk reuse it. `part` is
    * the Spark partition id — without it, two partitions of one
    * micro-batch would PUT different data under the same label and the
    * warehouse's Label-Already-Exists dedup would silently drop every
    * partition after the first. A task RE-attempt re-PUTs the same
    * partition under the same labels, which is exactly the dedup we
    * want. A non-empty `op` joins the label too: a hard-delete batch
    * PUTs its upserts and its `__op='delete'` rows of one table and
    * partition separately, and under one label the warehouse would
    * answer the second PUT `Label Already Exists` and drop its rows.
    */
  def label(cfg: Config, batchId: Long, part: Int, chunk: Int,
      op: String = ""): String = {
    val opPart = if (op.isEmpty) "" else s"$op-"
    s"graft-${cfg.db}-${cfg.tb}-$opPart$batchId-$part-$chunk"
  }

  /** Build the stream-load PUT — starrocks_sinker.rs:233-277. `op` is
    * "" for upsert batches, "delete" for hard-delete batches (the
    * reference sets it when the batch's rows are deletes and the table
    * has no soft-delete sign column).
    */
  def buildRequest(cfg: Config, batchId: Long, part: Int, chunk: Int,
      rows: Seq[String], op: String = ""): Request = {
    val auth = Base64.getEncoder.encodeToString(
      s"${cfg.user}:${cfg.password}".getBytes(StandardCharsets.UTF_8))
    val base = Map(
      "Authorization" -> s"Basic $auth",
      "Expect" -> "100-continue",
      "format" -> "json",
      "strip_outer_array" -> "true",
      "timezone" -> "UTC",
      "label" -> label(cfg, batchId, part, chunk, op))
    val headers =
      if (op.nonEmpty) base + ("columns" -> s"__op='$op'") else base
    Request("PUT",
      s"http://${cfg.host}:${cfg.port}/api/${cfg.db}/${cfg.tb}" +
        "/_stream_load",
      headers,
      // strip_outer_array=true: rows ship as one JSON array
      rows.mkString("[", ",", "]"))
  }

  final case class StreamLoadError(status: Int, body: String)
    extends RuntimeException(
      s"stream load request failed, status_code: $status, " +
        s"load_result: $body")

  /** Response gate — starrocks_sinker.rs:280-318 plus the
    * label-idempotency acceptance. Throws [[StreamLoadError]] on any
    * failure so the caller's batch isolation can take over.
    */
  def checkResponse(status: Int, body: String): Unit = {
    if (status != 200) throw StreamLoadError(status, body)
    val json = new ObjectMapper().readTree(body)
    val st = Option(json.get("Status")).map(_.asText()).getOrElse("")
    val ok = st == "Success" ||
      (st == "Label Already Exists" &&
        Option(json.get("ExistingJobStatus")).map(_.asText())
          .contains("FINISHED"))
    if (!ok) throw StreamLoadError(status, body)
  }

  /** Execute a synthesized request over HttpURLConnection (loopback in
    * tests; the same code path a live warehouse would see). Returns
    * (status, body).
    */
  def execute(req: Request, timeoutMs: Int = 30000): (Int, String) = {
    val conn = URI.create(req.url).toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    try {
      conn.setRequestMethod(req.method)
      conn.setConnectTimeout(timeoutMs)
      conn.setReadTimeout(timeoutMs)
      // Expect: 100-continue is a restricted header on HttpURLConnection;
      // it is carried in Request.headers for transports that honor it,
      // and skipped here (java.net sets it via streaming mode instead)
      req.headers.filterNot(_._1 == "Expect").foreach { case (k, v) =>
        conn.setRequestProperty(k, v)
      }
      conn.setDoOutput(true)
      val out = conn.getOutputStream
      try out.write(req.body.getBytes(StandardCharsets.UTF_8))
      finally out.close()
      val status = conn.getResponseCode
      val stream =
        if (status >= 400) conn.getErrorStream else conn.getInputStream
      val body =
        if (stream == null) ""
        else new String(stream.readAllBytes(), StandardCharsets.UTF_8)
      (status, body)
    } finally conn.disconnect()
  }

  /** A [[StreamLoadSink.PayloadSink]] that PUTs chunks over HTTP with
    * label idempotency and one transparent retry per chunk (the retry
    * reuses the label, so a committed-but-unacknowledged first attempt
    * is accepted via Label Already Exists). Chunk indices advance per
    * put; `batchId` scopes labels across micro-batches.
    */
  final class HttpPayloadSink(cfg: Config, batchId: Long,
      op: String = "", retries: Int = 1)
      extends StreamLoadSink.PayloadSink {
    // Partition discriminator for labels: ship() builds one sink per
    // partition inside foreachPartition, so TaskContext is live here;
    // 0 when constructed driver-side (tests, single-writer callers).
    private val part =
      Option(org.apache.spark.TaskContext.get()).map(_.partitionId())
        .getOrElse(0)
    private var chunk = 0

    override def put(lines: Seq[String]): Unit = {
      val req = buildRequest(cfg, batchId, part, chunk, lines, op)
      chunk += 1
      var attempt = 0
      var done = false
      while (!done) {
        try {
          val (status, body) = execute(req)
          checkResponse(status, body)
          done = true
        } catch {
          case e: Exception if attempt < retries =>
            attempt += 1
            val _ = e // retried with the SAME label → idempotent
        }
      }
    }
  }
}
