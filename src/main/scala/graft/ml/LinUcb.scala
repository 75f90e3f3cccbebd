package graft.ml

import java.io.{BufferedInputStream, BufferedOutputStream,
  DataInputStream, DataOutputStream, EOFException, FileNotFoundException,
  IOException}
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.{EnumSet, UUID}

import org.apache.hadoop.fs.{CreateFlag, FileContext, Options, Path}
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders,
  Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** LinUCB contextual-bandit training as a Spark aggregation (reference:
  * trainer_component.py:71-92,122-130 — per-epoch pass accumulating
  * Tikhonov-regularized least-squares sufficient statistics + UCB).
  *
  * Spark-first shape: the per-action sufficient statistics
  * A_a = λI + Σ x xᵀ and b_a = Σ r x are a single `groupBy(action)`
  * aggregation with a typed [[Aggregator]] over fixed-size Array[Double]
  * buffers — map-side partial aggregation reduces shuffle volume to
  * num_actions × (d² + d) doubles per partition regardless of input
  * size, so the pass scales to 100 TB of trajectories with one shuffle.
  * The tiny (actions × d²) solve for θ_a = A_a⁻¹ b_a happens on the
  * driver — O(actions · d³) with d ≈ 20 is microseconds. The model
  * keeps the statistics it was solved from, so a new batch folds in
  * without the history ([[LinUcb.update]]).
  */
object LinUcb {

  /** Sufficient statistics for one action: xx = Σ x xᵀ (row-major d×d),
    * bx = Σ r·x, n = row count.
    */
  final case class Stats(xx: Array[Double], bx: Array[Double], n: Long)

  /** Input row shape for the aggregator. */
  final case class Obs(action: Int, x: Array[Double], reward: Double)

  /** Typed aggregator accumulating (Σ x xᵀ, Σ r x, n) for a fixed dim.
    * Buffer is fixed-size — no growth, no spill risk.
    */
  final class StatsAgg(dim: Int) extends Aggregator[Obs, Stats, Stats] {
    def zero: Stats =
      Stats(Array.ofDim[Double](dim * dim), Array.ofDim[Double](dim), 0L)
    def reduce(b: Stats, a: Obs): Stats = {
      val x = a.x
      var i = 0
      while (i < dim) {
        val xi = x(i)
        var j = 0
        val off = i * dim
        while (j < dim) { b.xx(off + j) += xi * x(j); j += 1 }
        b.bx(i) += a.reward * xi
        i += 1
      }
      Stats(b.xx, b.bx, b.n + 1)
    }
    def merge(u: Stats, v: Stats): Stats = {
      var i = 0
      while (i < dim * dim) { u.xx(i) += v.xx(i); i += 1 }
      i = 0
      while (i < dim) { u.bx(i) += v.bx(i); i += 1 }
      Stats(u.xx, u.bx, u.n + v.n)
    }
    def finish(r: Stats): Stats = r
    def bufferEncoder: Encoder[Stats] = Encoders.product[Stats]
    def outputEncoder: Encoder[Stats] = Encoders.product[Stats]
  }

  /** The [[StatsAgg]] fold for every action at once, as one global
    * aggregate whose buffer maps action → Stats. This is the shape
    * `Dataset.observe` accepts (it takes no grouping), so an action that
    * already scans the rows — the training-table append of
    * [[graft.streaming.Streams.retrainLoop]] — also yields their
    * per-action statistics, with no job or shuffle of its own.
    */
  final class ActionStatsAgg(dim: Int)
      extends Aggregator[Obs, Map[Int, Stats], Map[Int, Stats]] {
    private val one = new StatsAgg(dim)
    def zero: Map[Int, Stats] = Map.empty
    def reduce(b: Map[Int, Stats], a: Obs): Map[Int, Stats] =
      b.updated(a.action, one.reduce(b.getOrElse(a.action, one.zero), a))
    def merge(u: Map[Int, Stats], v: Map[Int, Stats]): Map[Int, Stats] =
      v.foldLeft(u) { case (m, (k, s)) =>
        m.updated(k, m.get(k).fold(s)(one.merge(_, s)))
      }
    def finish(r: Map[Int, Stats]): Map[Int, Stats] = r
    def bufferEncoder: Encoder[Map[Int, Stats]] = statsMapEncoder
    def outputEncoder: Encoder[Map[Int, Stats]] = statsMapEncoder
  }

  // One encoder instance each per JVM. A fresh encoder names its lambda
  // variables afresh, so the (de)serializers generated from it miss
  // Spark's codegen cache and compile again on every retrain trigger:
  // 0.05-0.13 s per observed append in two streaming A/Bs
  // (sweeps/sweep_retrain_r22.jsonl).
  private lazy val statsMapEncoder: Encoder[Map[Int, Stats]] =
    ExpressionEncoder[Map[Int, Stats]]()
  private lazy val obsEncoder: Encoder[Obs] = Encoders.product[Obs]

  /** Per-action model: θ = A⁻¹b plus A⁻¹ for the UCB exploration term.
    * `stats` are the sufficient statistics A = λI + xx and b = bx were
    * solved from (epoch-scaled, as [[fit]] used them); [[update]] folds a
    * batch into them. None for a model built without them, which
    * [[update]] cannot extend.
    */
  final case class ActionModel(action: Int, theta: Array[Double],
                               aInv: Array[Double], n: Long,
                               stats: Option[Stats] = None)

  /** `foldedBy` and `lastBatch` name the streaming query whose
    * micro-batches [[graft.streaming.Streams.retrainLoop]] folded into
    * this model and the last batch id it folded: the loop's guard
    * against folding a replayed batch twice. "" and -1 for a model no
    * loop has published.
    */
  final case class Model(dim: Int, alpha: Double, lambda: Double,
                         actions: Seq[ActionModel],
                         foldedBy: String = "", lastBatch: Long = -1L) {
    /** UCB score for one observation vector against one action. */
    def ucb(am: ActionModel, x: Array[Double]): Double = {
      val d = dim
      var mean = 0.0
      var i = 0
      while (i < d) { mean += am.theta(i) * x(i); i += 1 }
      // xᵀ A⁻¹ x
      var q = 0.0
      i = 0
      while (i < d) {
        var s = 0.0
        var j = 0
        val off = i * d
        while (j < d) { s += am.aInv(off + j) * x(j); j += 1 }
        q += x(i) * s
        i += 1
      }
      mean + alpha * math.sqrt(math.max(q, 0.0))
    }
    /** Greedy UCB action for one observation (A19 batch scoring core). */
    def act(x: Array[Double]): Int = {
      var best = actions.head
      var bestScore = Double.NegativeInfinity
      actions.foreach { am =>
        val s = ucb(am, x)
        if (s > bestScore || (s == bestScore && am.action < best.action)) {
          best = am; bestScore = s
        }
      }
      best.action
    }
  }

  /** One distributed pass: groupBy(action) → sufficient stats. */
  def sufficientStats(df: DataFrame, actionCol: String, obsCol: String,
                      rewardCol: String, dim: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val agg = new StatsAgg(dim).toColumn.name("stats")
    df.select(col(actionCol).cast("int").as("action"),
        col(obsCol).cast("array<double>").as("x"),
        col(rewardCol).cast("double").as("reward"))
      .as[Obs]
      .groupByKey(_.action)
      .agg(agg)
      .toDF("action", "stats")
  }

  /** Train: one aggregation pass + driver-side d×d solves. The reference
    * runs `epochs` identical passes (trainer_component.py:122-130); LinUCB
    * statistics are additive so one pass over epochs× the data is
    * equivalent — we keep `epochs` as a multiplier for parity.
    */
  def fit(df: DataFrame, actionCol: String, obsCol: String,
          rewardCol: String, dim: Int, alpha: Double = 1.0,
          lambda: Double = 1.0, epochs: Int = 1): Model = {
    val stats = sufficientStats(df, actionCol, obsCol, rewardCol, dim)
      .collect()
    val actions = stats.map { r =>
      val s = r.getStruct(1)
      solve(r.getInt(0), Stats(s.getSeq[Double](0).toArray.map(_ * epochs),
        s.getSeq[Double](1).toArray.map(_ * epochs), s.getLong(2) * epochs),
        dim, lambda)
    }
    Model(dim, alpha, lambda, actions.sortBy(_.action).toSeq)
  }

  /** Fold a batch's per-action statistics into `model`. Σxxᵀ, Σr·x and n
    * add across batches (Li et al., WWW 2010), so the merged statistics
    * are what a [[fit]] over history and batch together accumulates, up
    * to summation order. Each action the batch touches re-solves its d×d
    * system on the driver; the others are kept as they are, and an
    * action new to the model starts from the batch alone.
    */
  def update(model: Model, batch: Map[Int, Stats]): Model = {
    val byAction = model.actions.map(a => a.action -> a).toMap
    val touched = batch.map { case (action, b) =>
      val merged = byAction.get(action).fold(b) { am =>
        val s = am.stats.getOrElse(throw new IllegalArgumentException(
          s"action $action carries no statistics to fold a batch into"))
        Stats(add(s.xx, b.xx), add(s.bx, b.bx), s.n + b.n)
      }
      action -> solve(action, merged, model.dim, model.lambda)
    }
    model.copy(actions = (byAction ++ touched).values.toSeq.sortBy(_.action))
  }

  /** `df` with its per-action statistics observed: run one action on the
    * returned frame, then `stats()` returns the statistics that action's
    * scan accumulated ([[ActionStatsAgg]] under `Dataset.observe`).
    */
  def observeStats(df: DataFrame, actionCol: String, obsCol: String,
                   rewardCol: String, dim: Int)
      : (DataFrame, () => Map[Int, Stats]) = {
    val observation = Observation()
    val agg: Column = udaf(new ActionStatsAgg(dim), obsEncoder).apply(
      col(actionCol).cast("int"), col(obsCol).cast("array<double>"),
      col(rewardCol).cast("double"))
    val observed = df.observe(observation, agg.as("stats"))
    (observed, () =>
      observation.get("stats").asInstanceOf[scala.collection.Map[Int, Row]]
        .iterator.map { case (action, s) =>
          action -> Stats(s.getSeq[Double](0).toArray,
            s.getSeq[Double](1).toArray, s.getLong(2))
        }.toMap)
  }

  /** θ = A⁻¹b with A = λI + xx, b = bx: the driver-side solve. */
  private def solve(action: Int, s: Stats, dim: Int,
                    lambda: Double): ActionModel = {
    val a = Array.tabulate(dim * dim) { k =>
      if (k / dim == k % dim) s.xx(k) + lambda else s.xx(k)
    }
    val aInv = invert(a, dim)
    ActionModel(action, matVec(aInv, s.bx, dim), aInv, s.n, Some(s))
  }

  private def add(u: Array[Double], v: Array[Double]): Array[Double] =
    Array.tabulate(u.length)(i => u(i) + v(i))

  /** Batch scoring (A19, prediction_container/main.py:61-85): predicted
    * UCB-greedy action per row. Model broadcasts (actions × d² doubles).
    */
  def score(model: Model, df: DataFrame, obsCol: String,
            outCol: String = "predicted_action"): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(model)
    val actUdf = udf((x: Seq[Double]) => bc.value.act(x.toArray))
    df.withColumn(outCol, actUdf(col(obsCol).cast("array<double>")))
  }

  /** Offline policy evaluation on logged (action, obs, reward) data:
    * match rate between the policy's greedy choice and the logged
    * action, plus the mean logged reward on matching rows (the standard
    * replay estimator for bandit policies — unbiased when the logging
    * policy was uniform-random, as the reference's generator is).
    */
  def evaluate(model: Model, df: DataFrame, actionCol: String,
               obsCol: String, rewardCol: String): DataFrame = {
    val scored = score(model, df, obsCol)
    scored.agg(
      count(lit(1)).as("n"),
      sum(when(col(actionCol) === col("predicted_action"), 1L)
        .otherwise(0L)).as("n_match"),
      avg(when(col(actionCol) === col("predicted_action"),
        col(rewardCol))).as("replay_reward"))
  }

  // ---- persistence (A18, PolicySaver.save / saved_model.load) ---------
  //
  // One small binary file, written and read on the driver through Hadoop
  // FileContext: no Spark job on either side. Layout (big-endian):
  // magic, dim, alpha, lambda, foldedBy, lastBatch, action count, then
  // per action: action, n, θ (d), A⁻¹ (d²), and its statistics behind a
  // presence flag — xx (d²), bx (d), n. Doubles go as raw bits, so the
  // round trip is bit-exact. save writes a temp file beside `path` and
  // renames it over `path`, so a reader sees the old model or the new
  // one, never a partial file (on file systems whose rename is atomic:
  // HDFS, local).

  private val Magic = 0x4c554342 // "LUCB"

  def save(spark: SparkSession, model: Model, path: String): Unit = {
    val dst = new Path(path)
    val fc = fileContext(spark, dst)
    val tmp =
      new Path(dst.getParent, s".${dst.getName}.${UUID.randomUUID}.tmp")
    val out = new DataOutputStream(new BufferedOutputStream(fc.create(tmp,
      EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
      Options.CreateOpts.createParent())))
    try {
      try write(out, model) finally out.close()
      val qualified = fc.makeQualified(tmp)
      // FileContext's OVERWRITE rename is one atomic call on HDFS, but
      // the local file system inherits AbstractFileSystem's
      // delete-then-rename, in whose gap a reader finds no model. There,
      // rename(2) replaces the file in one step.
      if (qualified.toUri.getScheme == "file")
        Files.move(Paths.get(qualified.toUri),
          Paths.get(fc.makeQualified(dst).toUri),
          StandardCopyOption.ATOMIC_MOVE)
      else fc.rename(tmp, dst, Options.Rename.OVERWRITE)
    } finally {
      fc.delete(tmp, false)
      // the local file system checksums what it writes: drop the temp
      // file's .crc, which the data file's rename leaves behind
      fc.delete(new Path(tmp.getParent, s".${tmp.getName}.crc"), false)
    }
  }

  def load(spark: SparkSession, path: String): Model = {
    val p = new Path(path)
    val in = new DataInputStream(new BufferedInputStream(
      fileContext(spark, p).open(p)))
    try {
      val m = read(in)
      if (in.read() != -1)
        throw new IOException(s"$path: bytes after the model")
      m
    } catch {
      case e: EOFException =>
        throw new IOException(s"$path: truncated model file", e)
    } finally in.close()
  }

  /** [[load]], or None when nothing is published at `path`. */
  def loadIfExists(spark: SparkSession, path: String): Option[Model] =
    try Some(load(spark, path))
    catch { case _: FileNotFoundException => None }

  private def fileContext(spark: SparkSession, p: Path): FileContext = {
    val conf = spark.sparkContext.hadoopConfiguration
    if (p.toUri.getScheme == null) FileContext.getFileContext(conf)
    else FileContext.getFileContext(p.toUri, conf)
  }

  private def write(out: DataOutputStream, m: Model): Unit = {
    def doubles(a: Array[Double]): Unit =
      a.foreach(v => out.writeLong(java.lang.Double.doubleToRawLongBits(v)))
    out.writeInt(Magic)
    out.writeInt(m.dim)
    doubles(Array(m.alpha, m.lambda))
    out.writeUTF(m.foldedBy)
    out.writeLong(m.lastBatch)
    out.writeInt(m.actions.size)
    m.actions.foreach { a =>
      out.writeInt(a.action)
      out.writeLong(a.n)
      doubles(a.theta)
      doubles(a.aInv)
      out.writeBoolean(a.stats.isDefined)
      a.stats.foreach { s =>
        doubles(s.xx); doubles(s.bx); out.writeLong(s.n)
      }
    }
  }

  private def read(in: DataInputStream): Model = {
    def double(): Double = java.lang.Double.longBitsToDouble(in.readLong())
    def doubles(k: Int): Array[Double] = Array.fill(k)(double())
    val magic = in.readInt()
    if (magic != Magic)
      throw new IOException(f"not a LinUCB model (magic $magic%08x)")
    val d = in.readInt()
    val alpha = double()
    val lambda = double()
    val foldedBy = in.readUTF()
    val lastBatch = in.readLong()
    val actions = Seq.fill(in.readInt()) {
      val action = in.readInt()
      val n = in.readLong()
      val theta = doubles(d)
      val aInv = doubles(d * d)
      val stats =
        if (in.readBoolean())
          Some(Stats(doubles(d * d), doubles(d), in.readLong()))
        else None
      ActionModel(action, theta, aInv, n, stats)
    }
    Model(d, alpha, lambda, actions, foldedBy, lastBatch)
  }

  // ---- tiny dense linear algebra (d ≈ 20; no external dep) ------------

  /** Gauss-Jordan inverse of a row-major d×d SPD matrix. */
  private[ml] def invert(a0: Array[Double], d: Int): Array[Double] = {
    val a = a0.clone()
    val inv = Array.tabulate(d * d)(k => if (k / d == k % d) 1.0 else 0.0)
    var c = 0
    while (c < d) {
      var p = c
      var i = c + 1
      while (i < d) { if (math.abs(a(i * d + c)) >
        math.abs(a(p * d + c))) p = i; i += 1 }
      if (p != c) { swapRow(a, d, p, c); swapRow(inv, d, p, c) }
      val piv = a(c * d + c)
      require(math.abs(piv) > 1e-12, s"singular at col $c")
      var j = 0
      while (j < d) { a(c * d + j) /= piv; inv(c * d + j) /= piv; j += 1 }
      i = 0
      while (i < d) {
        if (i != c) {
          val f = a(i * d + c)
          if (f != 0.0) {
            var j2 = 0
            while (j2 < d) {
              a(i * d + j2) -= f * a(c * d + j2)
              inv(i * d + j2) -= f * inv(c * d + j2)
              j2 += 1
            }
          }
        }
        i += 1
      }
      c += 1
    }
    inv
  }

  private def swapRow(m: Array[Double], d: Int, r1: Int, r2: Int): Unit = {
    var j = 0
    while (j < d) {
      val t = m(r1 * d + j); m(r1 * d + j) = m(r2 * d + j)
      m(r2 * d + j) = t; j += 1
    }
  }

  private[ml] def matVec(m: Array[Double], v: Array[Double],
                         d: Int): Array[Double] =
    Array.tabulate(d) { i =>
      var s = 0.0
      var j = 0
      while (j < d) { s += m(i * d + j) * v(j); j += 1 }
      s
    }
}
