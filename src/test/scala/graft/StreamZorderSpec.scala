package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.Zorder

// top-level so Spark can encode it without an outer-scope instance
case class ZDoc(doc_id: Long, n_chars: Long, n_tok: Long, payload: String)

/** Streaming z-order ingest + compaction (I4 × P63): every
  * micro-batch appends z-clustered files, compaction restores the
  * global layout.  Evidence is the parquet footers themselves
  * (Zorder.footerAuditDims — the exact statistics the reader
  * prunes on), not just row counts. */
class StreamZorderSpec extends SparkSpec {

  // ids scattered so EVERY batch covers the full (n_chars, n_tok)
  // space — the worst case for append locality, the best case for
  // demonstrating what compaction restores
  private def mkDoc(id: Long): ZDoc =
    ZDoc(id, (id * 7919L) % 1000L, (id * 104729L) % 1000L, s"payload-$id")

  test("sink appends per-batch z-clustered files; compact restores global pruning") {
    val sq = spark
    import sq.implicits._
    implicit val sc = sq.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("zsink").toFile
    val path = new java.io.File(dir, "table").getAbsolutePath
    val mem = MemoryStream[ZDoc]
    val query = Zorder.zOrderedSink(mem.toDS().toDF(), Seq("n_chars", "n_tok"),
      path, filesPerBatch = 2, blockKiB = 8).start()
    try {
      (0 until 4).foreach { b =>
        mem.addData((0L until 500L).map(i => mkDoc(b * 500L + i)): _*)
        query.processAllAvailable()
      }
    } finally query.stop()

    // all rows present, schema preserved
    val readBack = spark.read.parquet(path)
    assert(readBack.count() === 2000L)
    assert(readBack.columns.sorted.toSeq === Seq("doc_id", "n_chars", "n_tok", "payload"))
    val ids = readBack.select("doc_id").as[Long].collect().sorted
    assert(ids.toSeq === (0L until 2000L))

    // 4 batches x 2 files before compaction
    def parquetFiles = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).length
    assert(parquetFiles === 8)

    val rect = Seq(("n_chars", 100L, 200L), ("n_tok", 300L, 400L))
    val (rgPreTotal, rgPreCand, fPreCand, fPreTotal) =
      Zorder.footerAuditDims(path, rect)
    assert(fPreTotal === 8)
    // every batch spans the full value space, so the rectangle finds
    // candidates in several per-batch z-runs
    assert(fPreCand >= 2, s"expected multi-file candidates pre-compaction, got $fPreCand")

    val expected = spark.read.parquet(path)
      .filter("n_chars between 100 and 200 and n_tok between 300 and 400")
      .select("doc_id").as[Long].collect().sorted.toSeq

    Zorder.compact(spark, path, Seq("n_chars", "n_tok"), targetFiles = 4, blockKiB = 8)

    // same rows, same schema, target layout
    val after = spark.read.parquet(path)
    assert(after.count() === 2000L)
    assert(after.columns.sorted.toSeq === Seq("doc_id", "n_chars", "n_tok", "payload"))
    assert(parquetFiles === 4)
    val got = after
      .filter("n_chars between 100 and 200 and n_tok between 300 and 400")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(got === expected)

    // the layout evidence: strictly fewer candidate row groups AND a
    // smaller candidate fraction — global clustering beats 4
    // overlapping per-batch clusterings
    val (rgPostTotal, rgPostCand, fPostCand, fPostTotal) =
      Zorder.footerAuditDims(path, rect)
    assert(fPostTotal === 4)
    assert(rgPostCand < rgPreCand,
      s"compaction must tighten row-group candidates: $rgPreCand -> $rgPostCand")
    assert(rgPostCand.toDouble / rgPostTotal < rgPreCand.toDouble / rgPreTotal,
      s"candidate fraction must drop: $rgPreCand/$rgPreTotal -> $rgPostCand/$rgPostTotal")
  }

  test("a replayed batch is absorbed by downstream exact dedup") {
    // at-least-once delivery: appending the same batch twice must
    // leave the DEDUPED view identical — the P1 absorption argument
    // in the sink's scaladoc, demonstrated
    val sq = spark
    import sq.implicits._
    val dir = java.nio.file.Files.createTempDirectory("zreplay").toFile
    val path = new java.io.File(dir, "t").getAbsolutePath
    val batch = (0L until 100L).map(mkDoc).toDF()
    Zorder.appendZOrdered(batch, Seq("n_chars", "n_tok"), path, files = 1)
    Zorder.appendZOrdered(batch, Seq("n_chars", "n_tok"), path, files = 1)
    val deduped = spark.read.parquet(path).dropDuplicates("doc_id")
    assert(spark.read.parquet(path).count() === 200L)
    assert(deduped.count() === 100L)
  }
}
