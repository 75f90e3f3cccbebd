package loopbench

import java.util.concurrent.{CountDownLatch, Executors}
import java.util.concurrent.locks.LockSupport

import graft.ml.LinUcb
import graft.serving.PredictionServer

/** The prediction endpoint under independent users: an open loop at a
  * fixed rate (the reference's scheduler sends whether or not earlier
  * requests were answered), latency timed from each request's due time;
  * then closed loops that find capacity by doubling the client count
  * until throughput stops rising. Every user request opens a connection
  * of its own, as independent callers do. A last probe sends
  * back-to-back requests over one kept-alive connection, where the JDK
  * server's Nagle stall shows. Requests have the reference shape: 8
  * observations of dim 20, 20 actions. The model is a seeded LinUCB
  * model built directly (training is train_pipeline's business), so
  * this workload never starts Spark.
  */
object ServePredict {
  val Dim = 20
  val Actions = 20
  val ObsPerRequest = 8
  val Pool = 512
  /** Open-loop requests per second: about a tenth of the capacity the
    * sweep below measures on a 4-core host (~3000 req/s). Each run
    * records the share it got (`serving.load_frac`). At a quarter of
    * capacity, the host's slow spells, which cut capacity two- to
    * threefold, pushed the open loop near saturation and its p50 up
    * to twentyfold.
    */
  val Rate = 300.0
  val ColdRequests = 16
  val Senders = 32
  val Setups = 9
  /** Capacity sweep: closed-loop client counts, doubled while throughput
    * still rises by more than `SweepGain`, each held `SweepSeconds`.
    */
  val SweepClients = Seq(1, 2, 4, 8, 16, 32)
  val SweepGain = 1.1
  val SweepSeconds = 1.0
  /** The capacity phase is timed in this many windows; capacity is
    * their median, so one pause does not move it.
    */
  val CapacityWindows = 8
  /** Back-to-back requests of the kept-alive probe. */
  val KeepAliveRequests = 24

  /** The open-loop warm-up, left out of the latency. */
  val WarmupSeconds = 2.0

  /** Open-loop and capacity phase lengths for a measuring time. */
  def phases(seconds: Int): (Double, Double) =
    (math.max(5.0, 0.5 * seconds), math.max(4.0, 0.4 * seconds))

  def run(ctx: Ctx): Unit = {
    import ctx._
    // set-up: the model, the server, and the request pool with the
    // answer the model owes each request. It takes ~0.1 s, so it runs
    // nine times for a steady median.
    val (model, server, obs, bodies, want) = ctx.setup(Setups) { k =>
      val m = seededModel(seed)
      val srv = new PredictionServer(m,
        PredictionServer.ndjsonPublisher(s"$dir/bus-$k.ndjson"))
      srv.start()
      val r = Gen.rng(seed, 6)
      val o = IndexedSeq.fill(Pool)(Array.fill(ObsPerRequest)(
        Gen.obs(r, Dim)))
      if (k < Setups - 1) srv.stop()
      (m, srv, o, o.map(Http.body), o.map(_.toSeq.map(m.act)))
    }
    val (openS, capS) = phases(seconds)
    var published = 0L
    def correct(idx: Int, st: Int, body: String): Boolean =
      st == 200 && scala.util.Try(Http.actions(body)).toOption
        .contains(want(idx))
    def verify(what: String, answers: Iterable[(Int, Int, String)]): Unit = {
      var bad = 0
      answers.foreach { case (idx, st, body) =>
        val ok = correct(idx, st, body)
        rec.attempt(ok)
        if (!ok) bad += 1
        if (st == 200) published += 1
      }
      rec.check(s"$what: every answer equals Model.act", bad == 0,
        s"$bad of ${answers.size} wrong")
    }
    try {
      // cold: the first requests a fresh JVM serves
      val cold = Http.closedLoop(server.port, 1, ColdRequests, 0, bodies,
        fresh = true)
      cold.foreach(a => rec.add("cold_ms", a.latNs / 1e6))
      verify("cold", cold.map(a => (a.idx, a.status, a.body)))

      val warm = openLoop(ctx, server.port, bodies, WarmupSeconds)
      verify("open-loop warm-up", warm.map(o => (o._4, o._5, o._6)))
      val open = openLoop(ctx, server.port, bodies, openS)
      open.foreach { case (due, sent, done, idx, st, body) =>
        rec.openLoop += ((due, sent, done, correct(idx, st, body)))
      }
      verify("open loop", open.map(o => (o._4, o._5, o._6)))
      if (traced) {
        tr.set(true)
        val t = openLoop(ctx, server.port, bodies, openS)
        tr.set(false)
        t.foreach { case (due, _, done, _, _, _) =>
          rec.add("traced_latency_ms", (done - due) / 1e6) }
        verify("traced open loop", t.map(o => (o._4, o._5, o._6)))
      }

      // capacity: double the clients until throughput stops rising, then
      // hold the best count for the capacity phase
      var best = (0, 0.0)
      var prev = 0.0
      SweepClients.takeWhile { c =>
        val t0 = System.nanoTime()
        val a = Http.closedLoop(server.port, c, 0, SweepSeconds, bodies,
          fresh = true)
        val rps = a.size / Ctx.sec(t0)
        verify(s"capacity sweep, $c clients",
          a.map(x => (x.idx, x.status, x.body)))
        rec.add("sweep_clients", c)
        rec.add("sweep_rps", rps)
        rec.add("sweep_p99_ms",
          a.map(_.latNs / 1e6).sorted.apply(((a.size - 1) * 0.99).toInt))
        if (rps > best._2) best = (c, rps)
        val rising = rps > prev * SweepGain
        prev = rps
        rising
      }
      val windows = (0 until CapacityWindows).map { _ =>
        val t0 = System.nanoTime()
        val a = Http.closedLoop(server.port, best._1, 0,
          capS / CapacityWindows, bodies, fresh = true)
        val rps = a.size / Ctx.sec(t0)
        Ctx.log(f"capacity window: $rps%.0f req/s")
        (rps, a)
      }
      windows.foreach(w => rec.add("capacity_window_rps", w._1))
      val cap = windows.flatMap(_._2)
      val rates = windows.map(_._1).sorted
      val capacity = (rates((rates.size - 1) / 2) + rates(rates.size / 2)) / 2
      rec.set("serving.capacity_rps", capacity)
      rec.set("serving.capacity_clients", best._1)
      rec.set("serving.load_frac", Rate / capacity)
      verify("capacity", cap.map(a => (a.idx, a.status, a.body)))

      // kept-alive: one client, back-to-back requests on one connection
      val kept = Http.closedLoop(server.port, 1, KeepAliveRequests, 0, bodies)
      kept.foreach(a => rec.add("serving.keepalive_ms", a.latNs / 1e6))
      verify("kept-alive probe", kept.map(a => (a.idx, a.status, a.body)))
    } finally server.stop()

    if (traced) {
      val bus = java.nio.file.Paths.get(s"$dir/bus-${Setups - 1}.ndjson")
      rec.set("serving.bus_bytes_per_req",
        java.nio.file.Files.size(bus).toDouble / published)
      rec.set("ml.act_us", actMicros(model, obs))
      rec.set("serving.publish_us", publishMicros(s"$dir/publish-probe.ndjson",
        java.nio.file.Files.readAllLines(bus).get(0)))
    }
  }

  /** A LinUCB model with seeded parameters: θ_a uniform in [-1, 1),
    * A_a⁻¹ a seeded symmetric positive-definite matrix (diagonally
    * dominant), as a trained model's would be.
    */
  def seededModel(seed: Long): LinUcb.Model = {
    val r = Gen.rng(seed, 5)
    LinUcb.Model(Dim, alpha = 1.0, lambda = 1.0, (0 until Actions).map { a =>
      val m = Array.ofDim[Double](Dim * Dim)
      for (i <- 0 until Dim; j <- 0 to i) {
        val v = if (i == j) 0.5 + r.nextDouble() else (r.nextDouble() - 0.5) * 0.02
        m(i * Dim + j) = v; m(j * Dim + i) = v
      }
      LinUcb.ActionModel(a, Gen.obs(r, Dim), m, 1000L)
    })
  }

  /** Open loop: request i is due at i / Rate s; a sender thread posts it,
    * on a connection of its own, when one is free. Returns (due, sent,
    * done, pool index, status, body), times in ns from the phase start.
    */
  private def openLoop(ctx: Ctx, port: Int, bodies: IndexedSeq[String],
                       seconds: Double)
      : Seq[(Long, Long, Long, Int, Int, String)] = {
    val n = (seconds * Rate).toInt
    val out = new Array[(Long, Long, Long, Int, Int, String)](n)
    val senders = Executors.newFixedThreadPool(Senders)
    val done = new CountDownLatch(n)
    val t0 = System.nanoTime()
    var i = 0
    while (i < n) {
      val due = (i * 1e9 / Rate).toLong
      var now = System.nanoTime() - t0
      while (now < due) {
        LockSupport.parkNanos(due - now); now = System.nanoTime() - t0
      }
      val k = i
      senders.execute(() => {
        val sent = System.nanoTime() - t0
        val idx = k % bodies.size
        val (st, body) = ctx.tr("serving.predict") {
          scala.util.Try(Http.postOnce(port, bodies(idx)))
            .getOrElse((-1, ""))
        }
        out(k) = (due, sent, System.nanoTime() - t0, idx, st, body)
        done.countDown()
      })
      i += 1
    }
    done.await()
    senders.shutdown()
    out.toSeq
  }

  /** `Model.act` per observation, timed directly: median of 5 passes. */
  private def actMicros(model: LinUcb.Model,
                        obs: IndexedSeq[Array[Array[Double]]]): Double = {
    val xs = obs.flatten
    var sink = 0
    val per = (0 until 5).map { _ =>
      val t0 = System.nanoTime()
      xs.foreach(x => sink += model.act(x))
      (System.nanoTime() - t0) / 1e3 / xs.size
    }.sorted
    if (sink == -1) println(sink)
    per(2)
  }

  /** `ndjsonPublisher` per line, timed directly: median of 5 passes of
    * 200 feedback lines.
    */
  private def publishMicros(path: String, line: String): Double = {
    val pub = PredictionServer.ndjsonPublisher(path)
    val per = (0 until 5).map { _ =>
      val t0 = System.nanoTime()
      (0 until 200).foreach(_ => pub(line))
      (System.nanoTime() - t0) / 1e3 / 200
    }.sorted
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(path))
    per(2)
  }
}
