package graft.ml

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class MlSpec extends SparkSpec {
  import spark.implicits._

  test("invert: A * A^-1 == I for an SPD matrix") {
    val d = 3
    val a = Array(4.0, 1.0, 0.5, 1.0, 3.0, 0.2, 0.5, 0.2, 2.0)
    val inv = LinUcb.invert(a, d)
    for (i <- 0 until d; j <- 0 until d) {
      var s = 0.0
      for (k <- 0 until d) s += a(i * d + k) * inv(k * d + j)
      assert(math.abs(s - (if (i == j) 1.0 else 0.0)) < 1e-9,
        s"cell ($i,$j) = $s")
    }
  }

  test("fit recovers per-action linear reward weights") {
    // action 0 rewards dim0, action 1 rewards dim1; big n, tiny noise-free
    val rows = for {
      i <- 0 until 400
      action <- Seq(0, 1)
    } yield {
      val x = Array((i % 20) / 10.0 - 0.9, ((i * 7) % 20) / 10.0 - 0.9)
      val w = if (action == 0) Array(2.0, 0.0) else Array(0.0, -1.0)
      (action, x.toSeq, w(0) * x(0) + w(1) * x(1))
    }
    val df = rows.toDF("action", "x", "reward")
    val m = LinUcb.fit(df, "action", "x", "reward", dim = 2,
      alpha = 0.0, lambda = 1e-6)
    val t0 = m.actions.find(_.action == 0).get.theta
    val t1 = m.actions.find(_.action == 1).get.theta
    assert(math.abs(t0(0) - 2.0) < 1e-3 && math.abs(t0(1)) < 1e-3)
    assert(math.abs(t1(1) + 1.0) < 1e-3 && math.abs(t1(0)) < 1e-3)
    // greedy scoring picks the action with higher predicted reward
    val scored = LinUcb.score(m,
      Seq((Seq(0.9, 0.9), 0), (Seq(0.1, -0.9), 1)).toDF("obs", "want"),
      "obs")
    assert(scored.filter($"predicted_action" === $"want").count() == 2)
  }

  test("evaluate reports match rate and replay reward") {
    val train = Seq((0, Seq(1.0, 0.0), 2.0), (1, Seq(0.0, 1.0), 5.0))
      .toDF("action", "x", "reward")
    val m = LinUcb.fit(train, "action", "x", "reward", dim = 2,
      alpha = 0.0, lambda = 1e-6)
    // logged data: first row's action matches the policy, second doesn't
    val logged = Seq((0, Seq(1.0, 0.0), 2.0), (0, Seq(0.0, 1.0), 9.0))
      .toDF("action", "obs", "reward")
    val r = LinUcb.evaluate(m, logged, "action", "obs", "reward")
      .as[(Long, Long, Double)].head()
    assert(r == ((2L, 1L, 2.0)))
  }

  private def sameModel(a: LinUcb.Model, b: LinUcb.Model): Boolean = {
    def bits(v: Array[Double]) =
      v.map(java.lang.Double.doubleToRawLongBits).toSeq
    a.dim == b.dim && a.alpha == b.alpha && a.lambda == b.lambda &&
      a.foldedBy == b.foldedBy && a.lastBatch == b.lastBatch &&
      a.actions.size == b.actions.size &&
      a.actions.zip(b.actions).forall { case (x, y) =>
        x.action == y.action && x.n == y.n &&
          bits(x.theta) == bits(y.theta) && bits(x.aInv) == bits(y.aInv) &&
          x.stats.map(s => (bits(s.xx), bits(s.bx), s.n)) ==
            y.stats.map(s => (bits(s.xx), bits(s.bx), s.n))
      }
  }

  private def randomModel(seed: Int, dim: Int = 3): LinUcb.Model = {
    val rnd = new scala.util.Random(seed)
    val rows = Seq.fill(60) {
      val x = Array.fill(dim)(rnd.nextGaussian())
      (rnd.nextInt(3), x.toSeq, rnd.nextGaussian())
    }
    LinUcb.fit(rows.toDF("action", "x", "reward"), "action", "x",
      "reward", dim, alpha = 0.5, lambda = 0.7)
  }

  test("model save/load round-trips (A18)") {
    // bit-exact, statistics and the fold marker included
    val m = randomModel(1).copy(foldedBy = "q-1", lastBatch = 41L)
    assert(m.actions.forall(_.stats.isDefined), "fit fills the statistics")
    val path = Files.createTempDirectory("linucb").toString + "/model"
    LinUcb.save(spark, m, path)
    assert(sameModel(LinUcb.load(spark, path), m))
    // a model without statistics round-trips too, and save replaces
    val bare = m.copy(actions = m.actions.map(_.copy(stats = None)))
    LinUcb.save(spark, bare, path)
    assert(sameModel(LinUcb.load(spark, path), bare))
    assert(new java.io.File(path).getParentFile.list().toSeq == Seq("model"),
      "save leaves no temp or checksum file behind")
  }

  test("save publishes atomically: a reader loading in a loop never " +
      "fails and never sees a mixed model") {
    val a = randomModel(2)
    val b = randomModel(3)
    val path = Files.createTempDirectory("linucb").toString + "/model"
    LinUcb.save(spark, a, path)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failed = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val writer = new Thread(() => {
      var i = 0
      try while (!stop.get()) {
        LinUcb.save(spark, if (i % 2 == 0) b else a, path); i += 1
      } catch { case e: Throwable => failed.set(e) }
    })
    writer.start()
    var reads = 0
    val seen = scala.collection.mutable.Set.empty[Int]
    try {
      val t0 = System.nanoTime()
      def elapsedS = (System.nanoTime() - t0) / 1e9
      while ((elapsedS < 2 || seen.size < 2) && elapsedS < 30 &&
          failed.get() == null) {
        val m = LinUcb.load(spark, path)
        if (sameModel(m, a)) seen += 0
        else if (sameModel(m, b)) seen += 1
        else fail(s"read $reads saw a model that is neither a nor b")
        reads += 1
      }
    } finally { stop.set(true); writer.join() }
    assert(failed.get() == null, s"the writer failed: ${failed.get()}")
    assert(seen == Set(0, 1) && reads > 10, s"$reads reads saw $seen")
  }

  test("update folds a batch's statistics: same model as a fit over " +
      "history and batch together") {
    // dyadic values (multiples of 1/8, |v| <= 2): every product and
    // partial sum is exact in a double, so summation order cannot move
    // a bit and the two models must agree exactly
    val rnd = new scala.util.Random(4)
    def rows(k: Int) = Seq.fill(k) {
      (rnd.nextInt(4), Seq.fill(3)((rnd.nextInt(33) - 16) / 8.0),
        (rnd.nextInt(33) - 16) / 8.0)
    }
    val history = rows(80)
    val batch = rows(30) :+ ((7, Seq(1.0, 0.5, -0.25), 2.0)) // new action
    def df(r: Seq[(Int, Seq[Double], Double)]) =
      r.toDF("action", "x", "reward")
    val prev = LinUcb.fit(df(history), "action", "x", "reward", 3,
      alpha = 0.4, lambda = 0.5)
    val (observed, stats) =
      LinUcb.observeStats(df(batch), "action", "x", "reward", 3)
    assert(observed.count() == batch.size)
    val folded = LinUcb.update(prev, stats())
    val full = LinUcb.fit(df(history ++ batch), "action", "x", "reward", 3,
      alpha = 0.4, lambda = 0.5)
    assert(sameModel(folded, full))
    assert(folded.actions.map(_.n).sum == history.size + batch.size)
    val bare = prev.copy(actions = prev.actions.map(_.copy(stats = None)))
    intercept[IllegalArgumentException](LinUcb.update(bare, stats()))
  }

  test("trajectory generation is seeded-deterministic with the " +
      "reference's nested schema (A12)") {
    val ratings = Seq((1, 10, 3.0f), (1, 11, 4.0f), (2, 10, 1.0f),
      (2, 12, 5.0f), (3, 11, 2.0f)).toDF("user_id", "item_id", "rating")
    val f = RankKFactorizer.factorize(ratings, rank = 2, seed = 7L,
      maxIter = 3)
    val t1 = Simulation.generateTrajectories(spark, f, steps = 4,
      batchSize = 3, numActions = 3, seed = 9L)
    val t2 = Simulation.generateTrajectories(spark, f, steps = 4,
      batchSize = 3, numActions = 3, seed = 9L)
    assert(t1.schema.fieldNames.toSeq == Seq("step", "step_type",
      "observation", "action", "policy_info", "next_step_type",
      "reward", "discount"))
    assert(t1.count() == 4)
    assert(t1.exceptAll(t2).isEmpty && t2.exceptAll(t1).isEmpty)
    // flatten restores steps × batchSize transitions with aligned arrays
    val flat = Simulation.flattenForTraining(t1)
    assert(flat.count() == 12)
    assert(flat.filter(size($"obs") =!= 2).count() == 0)
    // the fused transition stream is the same multiset — the identity
    // q_bandit_loop's training path relies on (flatten ∘ nest = id)
    val fused = Simulation.transitions(spark, f, steps = 4,
      batchSize = 3, numActions = 3, seed = 9L)
    assert(fused.exceptAll(flat).isEmpty && flat.exceptAll(fused).isEmpty)
  }
}
