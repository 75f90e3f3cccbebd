package loopbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.text.{Cluster, Dedup}

/** The LLM-data side: near-duplicate detection over an open-vocabulary
  * corpus with planted duplicates. A pass reads the corpus as a
  * `documents` table through `Tables.table` and runs exact, n-gram
  * Jaccard, MinHash, SimHash (permuted blocks), SimHash-wide and the
  * dedup clustering. The first pass is cold in a fresh JVM; the
  * measured passes then run on fresh corpora from (seed, pass), so no
  * cached plan or memo can answer them. Traced runs also repeat the
  * first pass warm on the same corpus (cache reliance) and check it
  * finds the same pairs; untraced runs leave it out to fit the
  * benchmark's time budget.
  */
object CorpusDedup {
  val Docs = 600L
  val Calls = Seq("io.table", "text.exact", "text.ngram", "text.minhash",
    "text.simhash", "text.simhash_wide", "text.cluster")
  /** Minimum share of planted pairs each method must find. The exact
    * methods find every plant. A plant adds one word, which flips about
    * a tenth of a SimHash fingerprint's bits, so at hamming <= 3 the
    * 64-bit form finds most plants (about 0.7) and the 128-bit form
    * fewer (about 0.3); their floors sit well below those rates.
    */
  val RecallFloor: Map[String, Double] = Map("exact" -> 1.0,
    "ngram" -> 1.0, "minhash" -> 0.95, "simhash" -> 0.45,
    "simhash_wide" -> 0.1, "cluster" -> 1.0)

  /** Passes in a run: the cold first, then one fresh-corpus pass per
    * 10 s of measuring time, at least one.
    */
  def passes(seconds: Int): Int = 1 + math.max(1, seconds / 10)

  /** Each method's output as a set of (a, b) id pairs, a < b. */
  type Result = Map[String, Set[(Long, Long)]]

  def run(ctx: Ctx): Unit = {
    import ctx._
    def write(j: Int, path: String): Unit =
      Gen.corpus(spark, Docs, Gen.mix(seed, 7, j)).write
        .parquet(s"$path/documents.parquet")
    val first = ctx.setup(3) { k =>
      val p = s"$dir/setup-$k"; write(0, p); p
    }
    val n = ctx.ops(passes(seconds))
    (0 until n).foreach { j =>
      val path = if (j == 0) first else s"$dir/corpus-$j"
      if (j > 0) write(j, path)
      val on = ctx.traceOp(j)
      val t0 = System.nanoTime()
      val res = scala.util.Try(pass(ctx, path))
      val ms = Ctx.ms(t0)
      res.failed.foreach { e =>
        e.printStackTrace(); rec.check(s"pass $j", ok = false, e.toString)
      }
      var ok = res.isSuccess
      res.foreach { r =>
        ctx.op(ms, on, warmup = j == 0)
        if (on) {
          ctx.layers(t0, Calls: _*)
          val cand = candidates(ctx, path)
          rec.add("text.minhash_candidates", cand.toDouble)
          rec.add("text.minhash_pairs", r("minhash").size.toDouble)
          rec.add("text.minhash_yield", r("minhash").size.toDouble / cand)
        }
        ok = recall(ctx, j, path, r)
        if (j == 0 && traced) {
          val t1 = System.nanoTime()
          val warm = pass(ctx, path)
          rec.add("text.warm_s", Ctx.sec(t1))
          ok &= rec.check("warm pass finds the same pairs as the cold one",
            warm.map { case (k, v) => k -> checksum(v) } ==
              r.map { case (k, v) => k -> checksum(v) })
        }
      }
      rec.attempt(ok)
    }
  }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** One timed pass of every method over the corpus at `path`. The
    * read is the io layer's: the documents are scanned and held in
    * memory inside its span, so the text calls time text work only.
    */
  def pass(ctx: Ctx, path: String): Result = {
    import ctx._
    val docs = tr("io.table") {
      val d = graft.io.Tables.table(spark, path, "documents")
        .select("doc_id", "text").persist()
      d.count()
      d
    }
    try methods(ctx, docs) finally docs.unpersist()
  }

  private def methods(ctx: Ctx, docs: DataFrame): Result = {
    import ctx._
    // exact groups are reported by survivor: pair each with its group's
    // size so a planted copy shows as (source, size)
    val exact = tr("text.exact") {
      Dedup.exact(docs, "text", "doc_id").filter(col("n_dups") > 1)
        .select(col("keep_id").cast("long"), col("n_dups")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val ngram = tr("text.ngram") {
      pairs(Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.5))
    }
    val minhash = tr("text.minhash") {
      pairs(Dedup.minhashPairs(docs, "text", "doc_id", 2, 32, 8, 0.5))
    }
    val simhash = tr("text.simhash") {
      pairs(Dedup.simhashPairsBlocked(docs, "text", "doc_id", 3))
    }
    val wide = tr("text.simhash_wide") {
      pairs(Dedup.simhashPairsWide(docs, "text", "doc_id", 3))
    }
    // clusters as (doc, component) pairs; survivors are doc == component.
    // No pair cap: the capped form prices the n-gram join through a
    // per-process memo that a later corpus could answer.
    val clusters = tr("text.cluster") {
      Cluster.dedupClusters(docs, "text", "doc_id", 3, 0.5,
        maxPairs = Long.MaxValue)
        .select(col("doc_id").cast("long"), col("component").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    Map("exact" -> exact, "ngram" -> ngram, "minhash" -> minhash,
      "simhash" -> simhash, "simhash_wide" -> wide, "cluster" -> clusters)
  }

  /** Order-independent checksum of a pair set. */
  def checksum(s: Set[(Long, Long)]): (Int, Long) =
    (s.size, s.iterator.map { case (a, b) => Gen.mix(a, b) }.sum)

  /** MinHash LSH candidate pairs before verification (traced runs). */
  private def candidates(ctx: Ctx, path: String): Long = {
    val docs = graft.io.Tables.table(ctx.spark, path, "documents")
    val sigs = Dedup.shingleSets(docs, "text", "doc_id", 2)
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"),
        Dedup.minhashSignature(Dedup.baseHashes(col("sh")), 32).as("sig"))
    Dedup.minhashCandidates(sigs, 32, 8).count()
  }

  /** Planted duplicates found by each method, against its floor. Only
    * plants whose source is itself unplanted count: a copy of a copy's
    * source is not a duplicate of the copy.
    */
  private def recall(ctx: Ctx, j: Int, path: String, r: Result): Boolean = {
    val rows = graft.io.Tables.table(ctx.spark, path, "documents")
      .select("doc_id", "src", "kind")
      .collect()
    val kind = rows.map(x => x.getLong(0) -> Option(x.getString(2))).toMap
    val plants = rows.filter(x => x.getString(2) != null &&
        kind(x.getLong(1)).isEmpty)
      .map((x: Row) => (x.getString(2), x.getLong(1), x.getLong(0)))
    val near = plants.map { case (_, s, d) => (s, d) }
    val exact = plants.filter(_._1 == "exact").map { case (_, s, d) => (s, d) }
    val comp = r("cluster").toMap
    val found: Map[String, Double] = Map(
      "exact" -> share(exact)(p => r("exact").exists(_._1 == p._1)),
      "ngram" -> share(near)(r("ngram")),
      "minhash" -> share(near)(r("minhash")),
      "simhash" -> share(near)(r("simhash")),
      "simhash_wide" -> share(near)(r("simhash_wide")),
      "cluster" -> share(near)(p => comp.get(p._1) == comp.get(p._2)))
    ctx.rec.add("planted_pairs", near.length.toDouble)
    found.foreach { case (m, v) => ctx.rec.add(s"recall.$m", v) }
    RecallFloor.map { case (m, floor) =>
      ctx.rec.check(s"pass $j: $m finds planted duplicates",
        found(m) >= floor, f"recall ${found(m)}%.3f < floor $floor")
    }.forall(identity)
  }

  private def share(ps: Seq[(Long, Long)])(hit: ((Long, Long)) => Boolean): Double =
    if (ps.isEmpty) 1.0 else ps.count(hit).toDouble / ps.length
}
