package graft.text

import graft.SparkSpec

class ClusterSpec extends SparkSpec {
  import spark.implicits._

  test("connectedComponents labels chains, merges, and singletons") {
    // components: {1,2,3,4} (chain), {10,11} , {20} (singleton)
    val vertices = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("id")
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L))
      .toDF("src", "dst")
    val out = Cluster.connectedComponents(vertices, edges)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("dedupClusters marks exactly one canonical doc per component") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),  // dup of 1
      (3L, "one two three four five six seven"))
      .toDF("doc_id", "text")
    val out = Cluster.dedupClusters(docs, "text", "doc_id", n = 3,
        minJaccard = 0.5)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(out == Set((1L, 1L, true), (2L, 1L, false), (3L, 3L, true)))
  }

  test("same-schema parquet corpora in one JVM get their own clusters " +
      "and guard estimates (memo keys carry the relation's paths)") {
    val dir = java.nio.file.Files.createTempDirectory("corpora").toString
    Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text").write.parquet(s"$dir/a")
    Seq((1L, "one two three four five six seven"),
      (2L, "eight nine ten eleven twelve thirteen"))
      .toDF("doc_id", "text").write.parquet(s"$dir/b")
    val a = spark.read.parquet(s"$dir/a")
    val b = spark.read.parquet(s"$dir/b")
    assert(graft.ops.Caps.planKey(a) != graft.ops.Caps.planKey(b))
    def clusters(docs: org.apache.spark.sql.DataFrame) =
      Cluster.materializedClusters(docs, "text", "doc_id", n = 3,
        minJaccard = 0.5).as[(Long, Long, Boolean)].collect().toSet
    assert(clusters(a) == Set((1L, 1L, true), (2L, 1L, false)))
    assert(clusters(b) == Set((1L, 1L, true), (2L, 2L, true)))
    val tag = s"cluster-spec-$dir"
    assert(graft.ops.Caps.memoizedEstimate(a, tag)(1L) == 1L)
    assert(graft.ops.Caps.memoizedEstimate(b, tag)(2L) == 2L)
    assert(graft.ops.Caps.memoizedEstimate(a, tag)(3L) == 1L)
  }
}
