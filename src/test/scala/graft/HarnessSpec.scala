package graft

import graft.operators._

/** The one session and plan-list path every main runs through. */
class HarnessSpec extends SparkSpec {

  test("bench conf is the verify conf plus exactly the timing-session keys") {
    for (cpus <- Seq(1, 4, 32)) {
      val verify = Harness.conf(cpus, bench = false)
      val bench = Harness.conf(cpus, bench = true)
      assert(verify.map(_._1).distinct.size == verify.size)
      assert(bench.map(_._1).distinct.size == bench.size)
      assert(verify.toSet.subsetOf(bench.toSet))
      assert(bench.toSet -- verify.toSet == Set(
        "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64m",
        "spark.sql.codegen.cache.maxEntries" -> "5000"))
    }
  }

  test("both modes pin UTC and one shuffle partition per core") {
    for (cpus <- Seq(1, 4, 32); bench <- Seq(false, true)) {
      val conf = Harness.conf(cpus, bench).toMap
      assert(conf("spark.sql.session.timeZone") == "UTC")
      assert(conf("spark.sql.shuffle.partitions") == cpus.toString)
      assert(conf("spark.master") == s"local[$cpus]")
    }
  }

  test("the shared test session reads back the verify conf") {
    for ((k, v) <- Harness.conf(4, bench = false))
      assert(spark.conf.get(k) == v, k)
    assert(sys.props.get("graft.fastHash").contains("false"))
  }

  test("per-module query maps are disjoint and make up all 285 plans") {
    // `++` keeps one entry per name, so a name two modules both define
    // would silently drop a plan from the merged maps
    val maps = Seq(KMeansOps.queries, RelationalOps.queries,
      DedupOps.queries, SimilarityOps.queries, TextOps.queries,
      MultimodalOps.queries, PipelineOps.queries, RetrievalOps.queries,
      graft.sources.TextIO.queries, graft.sources.StorageOps.queries,
      graft.streaming.StreamingOps.queries,
      RelationalOps.benchOnly, SimilarityOps.benchOnly)
    for (i <- maps.indices; j <- maps.indices if i < j) {
      val both = maps(i).keySet intersect maps(j).keySet
      assert(both.isEmpty, both)
    }
    assert(maps.map(_.size).sum == 285)
    assert(Harness.plans(None).map(_._1).distinct.size == 285)
    assert((SparkEntry.queries ++ SparkEntry.benchOnly).size == 285)
  }

  test("the plan list is name-sorted and the filter keeps only matches") {
    val names = Harness.plans(None).map(_._1)
    assert(names == names.sorted)
    val only = Harness.plans(Some("^kmeans_".r)).map(_._1)
    assert(only.nonEmpty && only.forall(_.startsWith("kmeans_")))
    assert(only == names.filter(_.startsWith("kmeans_")))
  }
}
