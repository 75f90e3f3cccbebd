package loopbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.feature.{EntityTypeDef, FeatureDef, FeatureStore}
import graft.ml.LinUcb
import graft.serving.PredictionServer
import graft.streaming.Streams

/** The reference's feedback loop, closed: a seeded history much larger
  * than one round, then rounds of (1) closed-loop serving that
  * publishes to the round's own bus file, (2) one AvailableNow trigger
  * of `Streams.retrainLoop` (logger replay → append → full refit →
  * save), (3) model load and server restart, (4) one AvailableNow
  * trigger of `FeatureStore.streamingImport` — many small appends.
  *
  * Freshness of a round: from its last acknowledged prediction to the
  * restarted server answering with the model retrained on it.
  */
object FeedbackLoop {
  val Dim = 20
  val Actions = 20
  val ObsPerRequest = 8
  val History = 30000L
  val RequestsPerRound = 48

  /** Rounds that warm the JVM up before the measured ones: the cold
    * first and four more (round times fall for about five rounds while
    * the JIT compiles the loop's code).
    */
  val WarmupRounds = 5

  /** Rounds in a run: the warm-up, then two measured rounds per 5 s of
    * measuring time, at least four.
    */
  def rounds(seconds: Int): Int = WarmupRounds + math.max(4, 2 * seconds / 5)

  /** One line of the bus, as `PredictionServer` publishes it. */
  val BusSchema: StructType = StructType(Seq(
    StructField("observations", ArrayType(StructType(Seq(
      StructField("observation", ArrayType(ArrayType(DoubleType))))))),
    StructField("predicted_actions", ArrayType(StructType(Seq(
      StructField("predicted_action", ArrayType(IntegerType))))))))

  /** The logger: bus lines → (action, obs, reward) training rows,
    * rewarded by the deterministic environment.
    */
  def replay(bus: DataFrame): DataFrame =
    bus.select(explode(arrays_zip(col("observations"),
        col("predicted_actions"))).as("i"))
      .select(col("i.observations.observation").as("obs_mat"),
        col("i.predicted_actions.predicted_action").as("acts"))
      .select(explode(arrays_zip(col("obs_mat"), col("acts"))).as("s"))
      .select(col("s.acts").cast("int").as("action"),
        col("s.obs_mat").as("obs"))
      .withColumn("reward", Gen.reward(col("obs"), col("action"), Dim))

  private final class Loop(val dir: String) {
    val train = s"$dir/train"
    val model = s"$dir/model"
    val bus = s"$dir/bus"
    val staging = s"$dir/staging"
    def roundFile(r: Int) = s"$staging/round-$r.ndjson"
    var server: PredictionServer = _
  }

  private def await(q: StreamingQuery): Unit = {
    q.awaitTermination()
    q.exception.foreach(e => throw e)
  }

  def run(ctx: Ctx): Unit = {
    import ctx._
    val entity = EntityTypeDef("actions", "action_id",
      Seq(FeatureDef("reward", "DOUBLE", "replayed reward")))
    val loop = ctx.setup(3) { k =>
      val l = new Loop(s"$dir/setup-$k")
      Gen.banditHistory(spark, History, Dim, Actions, Gen.mix(seed, 3))
        .write.parquet(l.train)
      val m = LinUcb.fit(spark.read.parquet(l.train), "action", "obs",
        "reward", Dim)
      LinUcb.save(spark, m, l.model)
      Files.createDirectories(Paths.get(l.bus))
      new FeatureStore(spark, s"${l.dir}/fstore").createEntityType(entity)
      l.server = new PredictionServer(m,
        PredictionServer.ndjsonPublisher(l.roundFile(1)))
      l.server.start()
      if (k < 2) l.server.stop()
      l
    }
    val fs = new FeatureStore(spark, s"${loop.dir}/fstore")
    def busStream() = spark.readStream.schema(BusSchema).json(loop.bus)
    val client = Http.client()
    var model = LinUcb.load(spark, loop.model)
    var committed = History // rows the next retrain must have seen
    var pending = 0L        // steps published to the current round file
    val n = ctx.ops(rounds(seconds))
    try (1 to n).foreach { r =>
      val on = ctx.traceOp(r - 1)
      val t0 = System.nanoTime()
      // (1) serve the round: closed loop, ≤ nproc clients
      val rnd = Gen.rng(seed, 4, r)
      val obs = IndexedSeq.fill(RequestsPerRound)(
        Array.fill(ObsPerRequest)(Gen.obs(rnd, Dim)))
      val answers = tr("serving.round") {
        Http.closedLoop(loop.server.port, math.min(4, cpus),
          RequestsPerRound, 0, obs.map(Http.body))
      }
      val lastAck = System.nanoTime()
      var roundOk = true
      answers.foreach { a =>
        val ok = Http.correct(model, obs(a.idx), a.status, a.body)
        rec.attempt(ok); roundOk &&= ok
        if (a.status == 200) pending += ObsPerRequest
      }
      rec.check(s"round $r: every answer is the served model's", roundOk)
      // the round file is complete: hand it to the logger
      Files.move(Paths.get(loop.roundFile(r)),
        Paths.get(s"${loop.bus}/round-$r.ndjson"),
        StandardCopyOption.ATOMIC_MOVE)
      committed += pending
      pending = 0
      // (2) one retrain trigger over the new bus file
      tr("streaming.retrain") {
        await(Streams.retrainLoop(replay(busStream()), loop.train,
          loop.model, s"${loop.dir}/ckpt-retrain", Dim,
          Trigger.AvailableNow()))
      }
      // (3) reload and restart, then the first answer from the new model
      val fresh = tr("serving.reload") {
        val m = LinUcb.load(spark, loop.model)
        loop.server.stop()
        loop.server = new PredictionServer(m,
          PredictionServer.ndjsonPublisher(loop.roundFile(r + 1)))
        loop.server.start()
        m
      }
      val probe = Array.fill(ObsPerRequest)(Gen.obs(rnd, Dim))
      val (st, resp) = Http.post(client, loop.server.port, Http.body(probe))
      val freshMs = Ctx.ms(lastAck)
      if (st == 200) pending += ObsPerRequest
      val probeOk = Http.correct(fresh, probe, st, resp)
      rec.attempt(probeOk)
      val seen = fresh.actions.map(_.n).sum
      rec.check(s"round $r: the new server answers with the new model",
        probeOk)
      rec.check(s"round $r: every served step reached the retrained model",
        seen == committed, s"model n = $seen, served + history = $committed")
      model = fresh
      // (4) one feature-store import trigger, off the freshness path
      tr("feature.stream_import") {
        await(fs.streamingImport("actions",
          replay(busStream()).select(col("action").cast("long")
            .as("action_id"), col("reward"),
            current_timestamp().as("event_ts")),
          "event_ts", s"${loop.dir}/ckpt-features",
          Trigger.AvailableNow()))
      }
      ctx.op(freshMs, on, warmup = r <= WarmupRounds)
      if (on) ctx.layers(t0, "streaming.retrain", "serving.reload",
        "serving.round", "feature.stream_import")
    } finally loop.server.stop()

    rec.set("streaming.history_rows", committed.toDouble)
    val files = Files.walk(Paths.get(loop.train))
    try rec.set("streaming.train_files", files.filter(
      _.getFileName.toString.endsWith(".parquet")).count().toDouble)
    finally files.close()
    val imported = fs.readValues("actions").count()
    rec.check("the feature store holds every logged step",
      imported == committed - History,
      s"$imported values, ${committed - History} logged steps")
  }
}
