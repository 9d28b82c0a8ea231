package graft

import graft.queries.{Pipeline, VideoDedup}

/** Pipeline.stableCheckpoint (r20, VERDICT r19 item 6): executor-local
  * checkpoint by default, a RELIABLE checkpoint when the session has a
  * checkpoint dir — exercised BOTH ways through a real keep-list query
  * (whose decision frames and CC loop state all route through the
  * helper), results asserted identical.  The reliable path is what a
  * 100 TB cluster run configures so an executor loss cannot strand
  * localCheckpoint blocks mid-query. */
class CheckpointPolicySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("stableCheckpoint: local vs reliable checkpoint, identical results") {
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty, "spec assumes no ambient checkpoint dir")

    val local = VideoDedup.qVideoClusterKeep(spark, sf).collect().toSeq
    spark.catalog.clearCache()

    val dir = tmpDir("graft_ckpt")
    sc.setCheckpointDir(dir)
    try {
      val reliable = VideoDedup.qVideoClusterKeep(spark, sf).collect().toSeq
      assert(reliable == local,
        "reliable-checkpoint run must produce the exact local-checkpoint rows")
      // the reliable path must actually have written checkpoint data
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, s"no checkpoint files under $dir — reliable path not taken")
    } finally {
      // SparkContext has no unsetCheckpointDir; null resets the conf slot
      sc.setCheckpointDir(null)
      spark.catalog.clearCache()
    }
  }

  test("reliable stableCheckpoint evaluates its child once per input row") {
    // the eager reliable checkpoint computes its RDD in the one job that
    // writes the checkpoint files; a second pass over an uncached child
    // (a count, then the write) would run every row twice
    import org.apache.spark.sql.functions.{col, udf}
    val sc = spark.sparkContext
    val evals = sc.longAccumulator("stableCheckpoint_child_evals")
    val counted = udf { (x: Long) => evals.add(1); x }.asNondeterministic()
    val df = spark.range(0, 1000, 1, 4).select(counted(col("id")).as("x"))
    sc.setCheckpointDir(tmpDir("graft_ckpt_once"))
    try {
      val out = Pipeline.stableCheckpoint(df)
      assert(out.count() === 1000L)
      assert(evals.sum === 1000L, "the child ran more than once per row")
    } finally {
      sc.setCheckpointDir(null)
      spark.catalog.clearCache()
    }
  }

  test("stableCheckpoint helper picks the configured mode") {
    import spark.implicits._
    val df = Seq(1L, 2L).toDF("x")
    val localRdd = Pipeline.stableCheckpoint(df)
    assert(localRdd.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }
}
