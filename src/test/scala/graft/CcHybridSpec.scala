package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD

import graft.queries.Pipeline

/** The r18 small-graph fast path of [[Pipeline.componentLabels]]: when
  * the (already-collapsed) pair graph fits the bounded driver budget,
  * union-find finishes it locally — the labels must be BIT-IDENTICAL
  * to the distributed O(log diameter) loop's on any graph, because
  * consumers (keep-lists, release filter, dedup clusters) hash-compare
  * against oracles that replay the one semantic: cluster_id = min
  * reachable doc over the symmetric closure. */
class CcHybridSpec extends SparkSpec {

  private def labelFrame(pairs: Seq[(Long, Long)], cap: String): DataFrame = {
    import spark.implicits._
    spark.conf.set("spark.graft.cc.localEdgeThreshold", cap)
    try Pipeline.componentLabels(spark, pairs.toDF("doc_a", "doc_b"))
    finally spark.conf.unset("spark.graft.cc.localEdgeThreshold")
  }

  private def labels(pairs: Seq[(Long, Long)], cap: String): Map[Long, Long] =
    labelFrame(pairs, cap).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("driver union-find equals the distributed loop on chains, cliques and dup edges") {
    // a 40-deep chain (pointer-jump territory), a 5-clique, an
    // isolated pair, duplicate + transposed-duplicate edges
    val chain = (0L until 40L).map(i => (i, i + 1))
    val clique = for (i <- 100L to 104L; j <- (i + 1) to 104L) yield (i, j)
    val pairs = chain ++ clique ++ Seq((200L, 201L), (200L, 201L), (0L, 1L))
    val local = labels(pairs, cap = "1000000")
    val dist = labels(pairs, cap = "0")
    assert(local === dist)
    assert(local.size === 48) // 41 chain + 5 clique + 2 pair docs
    assert((0L until 41L).forall(local(_) == 0L))
    assert((100L to 104L).forall(local(_) == 100L))
    assert(local(200L) === 200L && local(201L) === 200L)
  }

  test("the fast path reports rounds=0 and the loop reports its round count") {
    // the returned frame shows which path the cap selected: the driver
    // union-find hands back its labels as a local relation, the loop
    // its checkpointed final round
    val pairs = Seq((1L, 2L), (2L, 3L))
    val fast = labelFrame(pairs, cap = "1000000").queryExecution.analyzed
    assert(fast.collectLeaves().map(_.getClass) === Seq(classOf[LocalRelation]),
      fast.treeString)
    val loop = labelFrame(pairs, cap = "0").queryExecution.analyzed
    assert(loop.collectLeaves().map(_.getClass) === Seq(classOf[LogicalRDD]),
      loop.treeString)
  }

  test("an empty pair frame yields an empty label frame on both paths") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    spark.conf.set("spark.graft.cc.localEdgeThreshold", "1000000")
    try {
      assert(Pipeline.componentLabels(spark, empty).count() === 0L)
      assert(Pipeline.componentLabels(spark, empty)
        .columns.toSeq === Seq("doc_id", "cluster_id"))
    } finally spark.conf.unset("spark.graft.cc.localEdgeThreshold")
  }
}
