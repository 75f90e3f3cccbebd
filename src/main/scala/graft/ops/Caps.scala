package graft.ops

/** Shared plumbing for the output-quadratic guard family (VERDICT r18
  * item 3): every pair-list operator whose output can go quadratic
  * prices its candidate volume first and refuses loudly past a cap —
  * see [[Relational.intervalJoinGuarded]] (the pattern's prototype),
  * [[Graph.coOccurrenceEdgesGuarded]],
  * [[graft.text.Dedup.ngramJaccardPairs]]'s `maxPairs`, and
  * [[graft.text.Similarity.cosinePairsGuarded]].
  */
object Caps {

  /** Env-var long parse, defensive: a malformed value ('2e8',
    * '200_000_000', …) names the variable and the offending text
    * instead of surfacing a bare NumberFormatException from query
    * construction (ADVICE r18).
    */
  def longEnv(name: String, default: Long): Long =
    parseLong(name, sys.env.get(name), default)

  private[graft] def parseLong(name: String, raw: Option[String],
                               default: Long): Long =
    raw match {
      case None => default
      case Some(v) =>
        try v.trim.toLong
        catch {
          case e: NumberFormatException =>
            throw new IllegalArgumentException(
              s"$name='$v' is not a valid long " +
                s"(plain digits — e.g. $default)", e)
        }
    }

  /** Per-JVM memo of guard candidate-volume estimates, keyed on
    * [[planKey]] of the priced relation — the [[Materialize]] keying, so
    * the staleness contract matches: a fresh corpus is a different path
    * → a different key → a fresh estimate; only re-pricing the SAME
    * relation in the same JVM is skipped (measured per warm invocation
    * before memoization: cooc 0.54 s, interval 0.91 s, ngram 0.12 s,
    * embed 0.13 s —
    * `sweeps/sweep_guardcost.jsonl`). The memo stores the ESTIMATE,
    * never the over/under-cap decision: every call still compares
    * against ITS cap, so a planted over-cap corpus refuses on every
    * invocation. In-place overwrites of the same path within one JVM
    * would stale-hit — the same documented trade [[Materialize]]
    * carries, acceptable because corpora here are written once.
    */
  private val estMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  def memoizedEstimate(keyDf: org.apache.spark.sql.DataFrame,
                       tag: String)(compute: => Long): Long =
    estMemo.computeIfAbsent(tag + "|" + planKey(keyDf), _ => compute)

  /** Canonical-plan key, shared by every per-JVM memo keyed on a
    * relation ([[memoizedEstimate]], [[Materialize.parquet]],
    * [[graft.text.Cluster.materializedClusters]]).
    * `canonicalized.toString` alone is blind to what a leaf reads: it
    * prints a LocalRelation's schema but not its rows (two in-memory
    * corpora of one shape would collide — PairGuardSpec's
    * over-cap-then-under-cap sequence), and a parquet scan as
    * `Relation [...] parquet`, with no path (two same-schema corpora on
    * disk would collide). So local rows are folded in by structural hash
    * and file-backed relations by their root paths, which is what makes
    * "fresh corpus ⇒ fresh key" hold.
    */
  private[graft] def planKey(df: org.apache.spark.sql.DataFrame): String = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      LogicalRelation}
    val analyzed = df.queryExecution.analyzed
    val localData = analyzed.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        l.data.hashCode
    }
    val files = analyzed.collect { case l: LogicalRelation => l.relation }
      .collect { case h: HadoopFsRelation => h.location.rootPaths }.flatten
    analyzed.canonicalized.toString + "|local:" + localData.mkString(",") +
      "|files:" + files.mkString(",")
  }

  /** Saturating double→long for guard estimates. Guard sums run in
    * DOUBLE so that pathological concentrations can never overflow
    * BIGINT into an ANSI ArithmeticException (ADVICE r18); any
    * non-finite or ≥Long.Max reading saturates to Long.MaxValue —
    * "exceeds every cap", the safe direction for a guard.
    */
  def saturate(d: Double): Long =
    if (!java.lang.Double.isFinite(d) || d >= Long.MaxValue.toDouble)
      Long.MaxValue
    else math.max(0L, d.toLong)
}
