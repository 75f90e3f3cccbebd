package loopbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every input of a run derives from the run's
  * seed plus a stream tag (and an iteration number where a workload
  * repeats on fresh inputs), so the same seed always gives the same
  * inputs and no two iterations share one.
  */
object Gen {

  /** SplitMix64-style mix of the seed and stream tags. */
  def mix(xs: Long*): Long = xs.foldLeft(0x9E3779B97F4A7C15L) { (h, x) =>
    var z = h ^ (x + 0x9E3779B97F4A7C15L)
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(xs: Long*): SplittableRandom = new SplittableRandom(mix(xs: _*))

  /** A uniform observation vector in [-1, 1)^dim. */
  def obs(r: SplittableRandom, dim: Int): Array[Double] =
    Array.fill(dim)(r.nextDouble() * 2 - 1)

  /** Ratings in the shape of MovieLens `u.data`: tab-separated
    * user_id, item_id, rating 1-5, unix seconds over u.data's time
    * range; 943 users, 1682 items, skewed user activity and item
    * popularity, ratings drawn from a rank-4 latent model so the
    * factorization has structure to find. 40k rows by default (u.data
    * has 100k) to keep a pipeline iteration short. Returns the rows
    * written and the number of distinct ids in the second column —
    * the column the engine's loader (`Tables.ratingsRawSchema`, after
    * the reference's load component) names `user_id`.
    */
  def ratingsTsv(path: String, seed: Long, iteration: Int,
                 rows: Int = 40000, users: Int = 943,
                 items: Int = 1682): (Long, Int) = {
    val r = rng(seed, 1, iteration)
    val rank = 4
    val u = Array.fill(users)(Array.fill(rank)(r.nextGaussian() * 0.6))
    val v = Array.fill(items)(Array.fill(rank)(r.nextGaussian() * 0.6))
    val t0 = 874724710L
    val span = 18561928L // the time range of u.data, in seconds
    val sb = new java.lang.StringBuilder(rows * 24)
    val seen = new java.util.BitSet(items)
    var i = 0
    while (i < rows) {
      // skew: squaring a uniform draw favours low ids (active users,
      // popular items), as in the real file
      val user = (math.pow(r.nextDouble(), 2) * users).toInt
      val item = (math.pow(r.nextDouble(), 2) * items).toInt
      seen.set(item)
      var dot = 0.0
      var k = 0
      while (k < rank) { dot += u(user)(k) * v(item)(k); k += 1 }
      val rating = math.max(1L, math.min(5L,
        math.round(3.5 + dot + r.nextGaussian() * 0.7)))
      sb.append(user + 1).append('\t').append(item + 1).append('\t')
        .append(rating).append('\t').append(t0 + r.nextLong(span))
        .append('\n')
      i += 1
    }
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), sb.toString.getBytes(StandardCharsets.UTF_8))
    (rows.toLong, seen.cardinality())
  }

  /** Pseudo-uniform in [-1, 1) from a seeded hash of (id, salt). */
  private def unit(seed: Long, salt: Int): Column =
    (pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(2000000L)) -
      1000000L) / 1e6

  /** Logged bandit history (action, obs, reward): uniform-random
    * actions over uniform observations, rewarded by [[reward]].
    */
  def banditHistory(spark: SparkSession, rows: Long, dim: Int,
                    actions: Int, seed: Long): DataFrame =
    spark.range(rows).select(
        pmod(xxhash64(col("id"), lit(seed), lit(-1)), lit(actions.toLong))
          .cast("int").as("action"),
        array((0 until dim).map(j => unit(seed, j)): _*).as("obs"))
      .withColumn("reward", reward(col("obs"), col("action"), dim))

  /** The environment: the reward of action a on observation x is
    * x(a mod dim). Deterministic, so a replayed feedback line always
    * yields the same training row.
    */
  def reward(obs: Column, action: Column, dim: Int): Column =
    element_at(obs, pmod(action, lit(dim)) + 1)

  /** An open-vocabulary corpus in the shape GenData's `--open-vocab`
    * writes (Zipf(1) words over a Heaps-law vocabulary, 10-100 words a
    * document), seeded, with planted duplicates whose pairs are known:
    * about 1 in 10 documents after the first 20 is an earlier document
    * plus a trailing " dup" word (a near-duplicate; GenData plants 1 in
    * 20, doubled here so a small corpus holds enough plants for a
    * steady recall reading), about 1 in 300 an exact copy. Columns: doc_id, text, src (the planted source or
    * null), kind ("near" | "exact" | null).
    */
  def corpus(spark: SparkSession, docs: Long, seed: Long): DataFrame = {
    val vocab = graft.tools.GenData.openVocabSize(docs)
    def h(salt: Int, m: Long): Column =
      pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(m))
    val word: Column => Column = j => concat(lit("w"),
      least(lit(vocab), floor(pow(lit(vocab.toDouble),
        pmod(xxhash64(col("id"), j, lit(seed), lit(162)), lit(1000000L))
          / 1000000.0)).cast("long")))
    val base = spark.range(docs).select(col("id"),
      array_join(transform(sequence(lit(1), (h(161, 91) + 10).cast("int")),
        word), " ").as("base_text"))
    val kind = when(col("id") >= 20 && h(163, 10) === 0, lit("near"))
      .when(col("id") >= 20 && h(164, 300) === 0, lit("exact"))
    val withSrc = base.withColumn("kind", kind)
      .withColumn("src", when(col("kind").isNotNull,
        h(165, 1000000L) % col("id")))
    withSrc.join(base.select(col("id").as("src"),
        col("base_text").as("src_text")), Seq("src"), "left")
      .select(col("id").as("doc_id"),
        when(col("kind") === "near", concat(col("src_text"), lit(" dup")))
          .when(col("kind") === "exact", col("src_text"))
          .otherwise(col("base_text")).as("text"),
        col("src"), col("kind"))
  }
}
