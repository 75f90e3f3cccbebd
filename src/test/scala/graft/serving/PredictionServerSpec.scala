package graft.serving

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import graft.SparkSpec
import graft.ml.LinUcb

/** End-to-end serving contract: health, predict (reference request/
  * response shapes), deterministic agreement with the batch scorer, and
  * the published feedback line on the NDJSON bus.
  */
class PredictionServerSpec extends SparkSpec {
  import spark.implicits._

  private def trainedModel(): LinUcb.Model = {
    val rnd = new scala.util.Random(5)
    val rows = Seq.tabulate(300) { i =>
      val x = Array.fill(4)(rnd.nextDouble() * 2 - 1)
      val a = i % 3
      val r = x(a % 4) + 0.1 * rnd.nextDouble()
      (a, x.toSeq, r)
    }
    LinUcb.fit(rows.toDF("action", "obs", "reward"), "action", "obs",
      "reward", dim = 4, alpha = 0.3, lambda = 1.0)
  }

  test("serves health + predictions in the reference contract and " +
      "publishes the feedback message") {
    val model = trainedModel()
    val bus = Files.createTempDirectory("srv").resolve("feedback.ndjson")
    val server = new PredictionServer(model,
      PredictionServer.ndjsonPublisher(bus.toString))
    server.start()
    try {
      val client = HttpClient.newHttpClient()
      val health = client.send(
        HttpRequest.newBuilder(
          URI.create(s"http://localhost:${server.port}/health")).GET()
          .build(),
        HttpResponse.BodyHandlers.ofString())
      assert(health.statusCode() == 200 && health.body() == "{}")

      val obs = Seq(Seq(0.5, -0.2, 0.9, 0.1), Seq(-0.8, 0.3, 0.0, 0.7))
      val body =
        s"""{"instances":[{"observation":[${obs.map(_.mkString("[", ",", "]")).mkString(",")}]}]}"""
      val resp = client.send(
        HttpRequest.newBuilder(
          URI.create(s"http://localhost:${server.port}/predict"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200)
      val expected = obs.map(o => model.act(o.toArray))
      assert(resp.body() ==
        s"""{"predictions":[{"PolicyStep 0":[${expected.mkString(",")}]}]}""")

      // point lookups agree with the distributed batch scorer (A19)
      val batch = LinUcb.score(model,
          obs.zipWithIndex.map { case (o, i) => (i.toLong, o) }
            .toDF("id", "obs"), "obs")
        .orderBy("id").select("predicted_action")
        .as[Int].collect().toSeq
      assert(batch == expected)

      // the feedback bus got exactly one NDJSON line with both halves
      val lines = Files.readAllLines(bus)
      assert(lines.size() == 1)
      assert(lines.get(0).contains("\"observations\"") &&
        lines.get(0).contains(
          s""""predicted_action":[${expected.mkString(",")}]"""))
    } finally server.stop()
  }

  test("malformed request returns 400, not a crash") {
    val server = new PredictionServer(trainedModel(), _ => ())
    server.start()
    try {
      val resp = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(
          URI.create(s"http://localhost:${server.port}/predict"))
          .POST(HttpRequest.BodyPublishers.ofString("not json")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 400)
    } finally server.stop()
  }

  test("kept-alive connections answer without the Nagle stall") {
    // With TCP_NODELAY off, each answer on a reused connection waits for
    // the client's delayed ACK, ~40 ms: 20 requests would take ~800 ms.
    val server = new PredictionServer(trainedModel(), _ => ())
    server.start()
    try {
      val client = HttpClient.newBuilder()
        .version(HttpClient.Version.HTTP_1_1).build()
      val req = HttpRequest.newBuilder(
          URI.create(s"http://localhost:${server.port}/predict"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"instances":[{"observation":[[0.5,-0.2,0.9,0.1]]}]}"""))
        .build()
      def send(): Unit = assert(client.send(req,
        HttpResponse.BodyHandlers.ofString()).statusCode() == 200)
      send() // open the connection
      val t0 = System.nanoTime()
      (1 to 20).foreach(_ => send())
      val ms = (System.nanoTime() - t0) / 1e6
      assert(ms < 20 * 40 / 2, f"20 kept-alive requests took $ms%.0f ms")
    } finally server.stop()
  }
}
