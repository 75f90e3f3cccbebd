package loopbench

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.feature.{EntityTypeDef, FeatureDef, FeatureStore}
import graft.io.Tables
import graft.ml.{LinUcb, RankKFactorizer, Simulation}

/** The reference's retrain pipeline as one batch run, repeated on fresh
  * inputs generated from (seed, iteration) so no cached plan or memo
  * can answer an iteration: ratings TSV ingest → ALS factorization →
  * simulated transitions → feature-store bulk import (3 versions per
  * user) → bucketed compaction → point-in-time training set → online
  * view → LinUCB fit → save/load → offline evaluation.
  */
object TrainPipeline {
  val Dim = 20
  val Actions = 20
  val Steps = 50
  val Batch = 100
  val Features = Seq("avg_rating", "n_ratings")
  val Layers = Seq("io.ingest", "ml.factorize", "ml.simulate",
    "feature.import", "feature.compact", "feature.pit", "feature.online",
    "ml.fit", "ml.publish", "ml.eval")
  private val Day = 86400000L

  /** Iterations in a run: the cold first, then one per 10 s of
    * measuring time, at least one.
    */
  def iterations(seconds: Int): Int = 1 + math.max(1, seconds / 10)

  def run(ctx: Ctx): Unit = {
    import ctx._
    def tsv(i: Int) = s"$dir/iter-$i/u.data"
    ctx.setup(3) { k =>
      val d = s"$dir/setup-$k"
      Gen.ratingsTsv(s"$d/u.data", seed, 0)
      new FeatureStore(spark, s"$d/fstore").createEntityType(entity)
      d
    }
    val n = ctx.ops(iterations(seconds))
    (0 until n).foreach { i =>
      val (rows, users) = Gen.ratingsTsv(tsv(i), seed, i)
      val on = ctx.traceOp(i)
      val t0 = System.nanoTime()
      val ok = scala.util.Try(iteration(ctx, i, tsv(i), rows, users, t0, on))
      ok.failed.foreach { e =>
        e.printStackTrace()
        rec.check(s"iteration $i", ok = false, e.toString)
      }
      rec.attempt(ok.toOption.contains(true))
    }
  }

  private val entity = EntityTypeDef("users", "user_id",
    Seq(FeatureDef("avg_rating", "DOUBLE", "mean rating to date"),
      FeatureDef("n_ratings", "BIGINT", "ratings to date")))

  /** One timed iteration, then its output checks (untimed). */
  private def iteration(ctx: Ctx, i: Int, tsv: String, rows: Long,
                        users: Int, t0: Long, on: Boolean): Boolean = {
    import ctx._
    val it = s"$dir/iter-$i"
    val iterSeed = Gen.mix(seed, 2, i)
    val ratings = tr("io.ingest") {
      Tables.writeOverwrite(
        Tables.normalizeRatings(Tables.readTsv(spark, tsv)), s"$it/ratings")
      spark.read.parquet(s"$it/ratings")
    }
    val factors = tr("ml.factorize") {
      RankKFactorizer.factorize(ratings, Dim, seed = iterSeed, maxIter = 5)
    }
    val traj = tr("ml.simulate") {
      Tables.writeOverwrite(Simulation.transitions(spark, factors, Steps,
        Batch, Actions, iterSeed), s"$it/traj")
      spark.read.parquet(s"$it/traj")
    }
    // Three feature versions per user, stamped a day apart, each the
    // user's statistics over the ratings before a cutoff.
    val fs = new FeatureStore(spark, s"$it/fstore")
    fs.createEntityType(entity)
    val (lo, hi) = (874724710L, 874724710L + 18561928L)
    val base = 1700000000000L
    val versions = Seq(0.4, 0.7, 1.0).zipWithIndex.map { case (f, v) =>
      (lo + ((hi - lo) * f).toLong, new Timestamp(base + v * Day))
    }
    tr("feature.import") {
      versions.foreach { case (cut, stamp) =>
        fs.importFeatureValues("users", ratings
            .filter(unix_timestamp(col("ts")) <= cut)
            .groupBy("user_id")
            .agg(avg("rating").as("avg_rating"),
              count(lit(1)).as("n_ratings")),
          "user_id", Some(stamp))
      }
    }
    val table = s"loopbench_pit_$i"
    tr("feature.compact") {
      fs.compactBucketed("users", "user_id", table, cpus)
    }
    // Query times spread from a day before the first version to a day
    // after the last, so about a quarter precede every value.
    val queries = ratings.select(col("user_id"), col("item_id"),
      (lit(base - Day) + pmod(xxhash64(col("user_id"), col("item_id"),
        col("ts"), lit(iterSeed)), lit(4 * Day))).as("as_of_ms"))
      .select(col("user_id"), col("item_id"),
        timestamp_millis(col("as_of_ms")).as("as_of"))
    val pitRows = tr("feature.pit") {
      Tables.writeOverwrite(fs.pointInTimeBucketed(table, queries,
        "user_id", "as_of", Features), s"$it/trainset")
      spark.read.parquet(s"$it/trainset").count()
    }
    val online = tr("feature.online") {
      fs.latestOnlineView("users", "user_id", "n_ratings").collect()
    }
    val model = tr("ml.fit") {
      LinUcb.fit(traj, "action", "obs", "reward", Dim)
    }
    val loaded = tr("ml.publish") {
      LinUcb.save(spark, model, s"$it/model")
      LinUcb.load(spark, s"$it/model")
    }
    val eval = tr("ml.eval") {
      LinUcb.evaluate(loaded, traj, "action", "obs", "reward").collect()(0)
    }
    val ms = Ctx.ms(t0)
    ctx.op(ms, on, warmup = i == 0)
    if (on) {
      ctx.layers(t0, Layers: _*)
      rec.add("io.ingest_rows_per_s", rows / tr.seconds("io.ingest", t0))
      rec.add("feature.pit_rows", pitRows.toDouble)
    }

    val ok = Seq(
      rec.check(s"iteration $i: loaded model equals the fit",
        sameModel(model, loaded)),
      rec.check(s"iteration $i: one PIT row per query",
        pitRows == rows, s"$pitRows rows for $rows queries"),
      rec.check(s"iteration $i: online view has one row per user",
        online.length == users, s"${online.length} rows, $users users"),
      rec.check(s"iteration $i: evaluation saw every transition",
        eval.getLong(0) == Steps.toLong * Batch, s"n = ${eval.get(0)}"),
      pitCheck(ctx, i, fs, s"$it/trainset"))
    spark.sql(s"DROP TABLE IF EXISTS $table")
    ok.forall(identity)
  }

  private def sameModel(a: LinUcb.Model, b: LinUcb.Model): Boolean =
    a.dim == b.dim && a.alpha == b.alpha && a.lambda == b.lambda &&
      a.actions.size == b.actions.size &&
      a.actions.zip(b.actions).forall { case (x, y) =>
        x.action == y.action && x.n == y.n &&
          x.theta.sameElements(y.theta) && x.aInv.sameElements(y.aInv)
      }

  /** No PIT row reads a value stamped after its as-of time: a sample of
    * the training set against a driver-side as-of lookup over every
    * stored feature value.
    */
  private def pitCheck(ctx: Ctx, i: Int, fs: FeatureStore,
                       trainset: String): Boolean = {
    import ctx._
    val values = fs.readValues("users")
      .select("user_id", "feature_ts", "avg_rating", "n_ratings").collect()
      .groupBy(_.getInt(0))
      .map { case (u, rs) => u -> rs.sortBy(_.getTimestamp(1).getTime) }
    val sample = spark.read.parquet(trainset)
      .filter(pmod(xxhash64(col("user_id"), col("item_id")), lit(250)) === 0)
      .select("user_id", "as_of", "asof_avg_rating", "asof_n_ratings")
      .collect()
    val bad = sample.filter { r =>
      val asOf = r.getTimestamp(1).getTime
      val want = values.getOrElse(r.getInt(0), Array.empty)
        .filter(_.getTimestamp(1).getTime <= asOf).lastOption
      val got = (Option(r.get(2)), Option(r.get(3)))
      got != want.map(w => (Some(w.get(2)), Some(w.get(3))))
        .getOrElse((None, None))
    }
    rec.check(s"iteration $i: sampled PIT rows match the as-of reference",
      sample.nonEmpty && bad.isEmpty,
      s"${bad.length} of ${sample.length} sampled rows differ, e.g. " +
        bad.headOption.mkString)
  }
}
