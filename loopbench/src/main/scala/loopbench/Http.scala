package loopbench

import java.io.{BufferedInputStream, EOFException, InputStream}
import java.net.{InetAddress, InetSocketAddress, Socket, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.util.concurrent.atomic.AtomicLong

import com.fasterxml.jackson.databind.ObjectMapper

import graft.ml.LinUcb

/** Client side of the prediction endpoint: request bodies in the
  * reference shape (one instance of `obs.length` observations), the
  * answer the model should give, and closed-loop clients. Requests go
  * either over a kept-alive JDK `HttpClient` connection or, as an
  * independent user's would, over a connection of their own
  * ([[postOnce]]).
  */
object Http {
  private val mapper = new ObjectMapper()

  def client(): HttpClient =
    HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  def body(obs: Array[Array[Double]]): String =
    obs.map(_.mkString("[", ",", "]"))
      .mkString("""{"instances":[{"observation":[""", ",", "]}]}")

  /** POST to /predict; returns (status, body). */
  def post(c: HttpClient, port: Int, body: String): (Int, String) = {
    val r = c.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port/predict"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  /** POST to /predict on a connection of its own, closed after the
    * answer; returns (status, body). The request goes out in one write
    * with TCP_NODELAY set. The client closes with a reset (SO_LINGER 0)
    * once it has read the whole body, so the thousands of requests a
    * run sends leave no TIME_WAIT sockets holding local ports.
    */
  def postOnce(port: Int, body: String): (Int, String) = {
    val payload = body.getBytes(UTF_8)
    val head = (s"POST /predict HTTP/1.1\r\nHost: 127.0.0.1:$port\r\n" +
      "Content-Type: application/json\r\n" +
      s"Content-Length: ${payload.length}\r\nConnection: close\r\n\r\n")
      .getBytes(US_ASCII)
    val s = new Socket()
    try {
      s.setTcpNoDelay(true)
      s.connect(new InetSocketAddress(InetAddress.getLoopbackAddress, port))
      val out = s.getOutputStream
      out.write(head ++ payload)
      out.flush()
      val in = new BufferedInputStream(s.getInputStream)
      val status = line(in).split(' ')(1).toInt
      var length = -1
      var h = line(in)
      while (h.nonEmpty) {
        val i = h.indexOf(':')
        if (i > 0 && h.substring(0, i).trim.equalsIgnoreCase("content-length"))
          length = h.substring(i + 1).trim.toInt
        h = line(in)
      }
      val resp = if (length >= 0) in.readNBytes(length) else in.readAllBytes()
      s.setSoLinger(true, 0)
      (status, new String(resp, UTF_8))
    } finally s.close()
  }

  /** One CRLF-terminated header line, without its terminator. */
  private def line(in: InputStream): String = {
    val b = new StringBuilder
    var c = in.read()
    while (c != '\n') {
      if (c < 0) throw new EOFException("connection closed mid-header")
      if (c != '\r') b += c.toChar
      c = in.read()
    }
    b.toString
  }

  /** The actions in a /predict response for a one-instance request. */
  def actions(resp: String): Seq[Int] = {
    val a = mapper.readTree(resp).get("predictions").get(0)
      .get("PolicyStep 0")
    (0 until a.size()).map(a.get(_).asInt())
  }

  /** The response is a 200 whose actions equal `model.act` computed
    * here, on the same observations.
    */
  def correct(model: LinUcb.Model, obs: Array[Array[Double]],
              status: Int, resp: String): Boolean =
    status == 200 &&
      scala.util.Try(actions(resp)).toOption.contains(obs.toSeq.map(model.act))

  /** One answered request: latency, which pool entry was sent, and the
    * response (checked after the timed phase, off the clients' path).
    */
  final case class Answer(latNs: Long, idx: Int, status: Int, body: String)

  /** `clients` closed-loop clients, each sending its next request only
    * after the previous answer, until `requests` were sent (or, with
    * `seconds` > 0, until that much time passed). Each client keeps one
    * connection alive, or with `fresh` opens one per request.
    */
  def closedLoop(port: Int, clients: Int, requests: Int, seconds: Double,
                 pool: IndexedSeq[String],
                 fresh: Boolean = false): Seq[Answer] = {
    val next = new AtomicLong(0)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Answer]()
    val threads = (0 until clients).map { _ =>
      new Thread(() => {
        val c = if (fresh) null else client()
        var i = next.getAndIncrement()
        while (if (seconds > 0) System.nanoTime() < deadline
               else i < requests) {
          val idx = (i % pool.size).toInt
          val t0 = System.nanoTime()
          val (st, resp) = scala.util.Try(
            if (fresh) postOnce(port, pool(idx)) else post(c, port, pool(idx)))
            .getOrElse((-1, ""))
          out.add(Answer(System.nanoTime() - t0, idx, st, resp))
          i = next.getAndIncrement()
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    scala.jdk.CollectionConverters.CollectionHasAsScala(out).asScala.toSeq
  }
}
