package graft.ops

import org.apache.spark.sql.DataFrame

/** Process-wide materialized-artifact cache: compute a DataFrame once,
  * write it to a temp parquet, and hand every consumer (same logical
  * plan, same tag) a plain scan of the written table.
  *
  * This is the Spark-local stand-in for what a production pipeline does
  * with expensive shared intermediates (a dedup clustering, a projected
  * graph, a trained index): persist them as TABLES, not as lineage.
  * Writing also truncates the plan — re-deriving a loop/self-join
  * result through `.persist()` drags a nested-cache lineage that Spark
  * re-plans (and can re-execute) on every reuse.
  */
object Materialize {

  private val memo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Return a parquet-backed copy of `df`, computing and writing it at
    * most once per (tag, [[Caps.planKey]]) per JVM.
    */
  def parquet(df: DataFrame, tag: String): DataFrame = {
    val key = tag + "|" + Caps.planKey(df)
    val path = memo.computeIfAbsent(key, { _ =>
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_$tag").toString
      // REBALANCE before the write: without it the artifact inherits
      // the final stage's partitioning (the cosupply projection wrote
      // 32 files totalling 650 kB) and every consumer scan pays a
      // parquet-reader setup per tiny split — measured ~50-120 ms CPU
      // per task, ~0.4-0.5 s per declared q_graph_degree run at 32
      // tasks x 2 scans. The AQE rebalance exchange coalesces the
      // write to advisory-size (64 MB) output files: one file here,
      // parallel-decode-sized files at corpus scale (guide §6 "small
      // files hurt twice" / coalesce-on-write).
      df.hint("rebalance").write.mode("overwrite").parquet(dir)
      dir
    })
    df.sparkSession.read.parquet(path)
  }
}
