package graft.serving

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ArrayNode
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

import graft.ml.LinUcb

/** Low-latency prediction endpoint — the serving layer the reference
  * runs as a FastAPI container on a Vertex endpoint
  * (prediction_container/main.py:16-93). Same HTTP contract:
  *
  *  - GET  healthRoute  -> `{}` (main.py:29-35)
  *  - POST predictRoute -> body `{"instances": [{"observation":
  *    [[f,...],...]}, ...]}`, response `{"predictions": [{"PolicyStep
  *    i": [action,...]}, ...]}` (main.py:61-93); every request also
  *    publishes `{"observations": ..., "predicted_actions":
  *    [{"predicted_action": [...]}, ...]}` to the feedback bus
  *    (main.py:38-58 publishes to Pub/Sub; here the bus is the NDJSON
  *    file stream graft.streaming.Streams consumes — same loop, local
  *    transport).
  *
  * Dependency-free: JDK `com.sun.net.httpserver` + the Jackson that
  * already ships on Spark's classpath. The policy itself is
  * [[LinUcb.Model.act]] — pure driver-side math, microseconds per
  * lookup, no Spark session in the request path (batch scoring stays
  * the distributed `LinUcb.score`).
  */
final class PredictionServer(model: LinUcb.Model,
                             publish: String => Unit,
                             healthRoute: String = "/health",
                             predictRoute: String = "/predict") {

  private val mapper = new ObjectMapper()
  private val server = {
    PredictionServer.noDelay()
    HttpServer.create(new InetSocketAddress(0), 0)
  }

  server.createContext(healthRoute, new HttpHandler {
    override def handle(ex: HttpExchange): Unit =
      respond(ex, 200, "{}")
  })

  server.createContext(predictRoute, new HttpHandler {
    override def handle(ex: HttpExchange): Unit = {
      try {
        val body = new String(ex.getRequestBody.readAllBytes(),
          StandardCharsets.UTF_8)
        val instances = mapper.readTree(body).get("instances")
          .asInstanceOf[ArrayNode]
        val predictions = mapper.createArrayNode()
        val predictedActions = mapper.createArrayNode()
        var idx = 0
        instances.forEach { inst =>
          val obs = inst.get("observation").asInstanceOf[ArrayNode]
          val actions = mapper.createArrayNode()
          obs.forEach { row =>
            val x = new Array[Double](row.size())
            var i = 0
            while (i < x.length) { x(i) = row.get(i).asDouble(); i += 1 }
            actions.add(model.act(x))
          }
          predictions.add(mapper.createObjectNode()
            .set[ArrayNode](s"PolicyStep $idx", actions))
          predictedActions.add(mapper.createObjectNode()
            .set[ArrayNode]("predicted_action", actions.deepCopy()))
          idx += 1
        }
        val feedback = mapper.createObjectNode()
        feedback.set[ArrayNode]("observations", instances.deepCopy())
        feedback.set[ArrayNode]("predicted_actions", predictedActions)
        publish(mapper.writeValueAsString(feedback))
        val resp = mapper.createObjectNode()
        resp.set[ArrayNode]("predictions", predictions)
        respond(ex, 200, mapper.writeValueAsString(resp))
      } catch {
        case e: Exception =>
          respond(ex, 400, s"""{"error":"${e.getClass.getSimpleName}"}""")
      }
    }
  })

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
    ex.close()
  }

  def start(): Unit = server.start()

  /** Bound port (ephemeral — pass to clients after [[start]]). */
  def port: Int = server.getAddress.getPort

  def stop(): Unit = server.stop(0)
}

object PredictionServer {
  /** Turn on TCP_NODELAY for the JDK server unless the user has set
    * `sun.net.httpserver.nodelay` already. The server leaves it off, so
    * on a kept-alive connection a response written in more than one
    * packet waits for the client's delayed ACK (Nagle): ~40-45 ms per
    * answer instead of a few. The JDK reads the property once, when the
    * first server in the JVM is created, so every server calls this
    * before it is created.
    */
  private def noDelay(): Unit =
    if (System.getProperty("sun.net.httpserver.nodelay") == null)
      System.setProperty("sun.net.httpserver.nodelay", "true")

  /** The local feedback bus: append one JSON line per prediction to an
    * NDJSON file — the exact source shape `Streams`' logger loop and
    * `FeatureStore.streamingImport` consume.
    */
  def ndjsonPublisher(path: String): String => Unit = { line =>
    val p = Paths.get(path)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    Files.write(p, (line + "\n").getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }
}
