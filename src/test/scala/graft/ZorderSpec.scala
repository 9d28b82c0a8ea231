package graft

import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.operators.Zorder
import graft.queries.Packing

/** P63 Z-order layout: kernel bit semantics (interleave/deinterleave
  * round-trip vs a plain per-bit reference) and the capability claim
  * itself — on the real corpus, 2-D range probes must touch strictly
  * fewer z-ordered files than doc_id-ordered files. */
class ZorderSpec extends SparkSpec {

  /** `byid` and `byz` parquet layouts of the sf0.01 documents as
    * (doc_id, n_chars, n_tok, text, z) under `base` — `nFiles`
    * range-partitioned sorted files, small block size so files carry
    * several row groups (text kept for realistic row-group weight). */
  private def writeLayouts(base: String, nFiles: Int, blockKiB: Int): Unit = {
    val frame = Tables.documents(spark, "/root/testdata/sf0.01")
      .select(col("doc_id"), col("n_chars").cast("bigint").as("n_chars"),
        expr(graft.queries.Corpus.tokCount).as("n_tok"), col("text"))
      .withColumn("z", expr("graft_zorder64(n_chars, n_tok)"))
    Seq("byid" -> Seq(col("doc_id")),
        "byz" -> Seq(col("z"), col("doc_id"))).foreach { case (name, sortCols) =>
      frame
        .repartitionByRange(nFiles, sortCols: _*)
        .sortWithinPartitions(sortCols: _*)
        .write.option("parquet.block.size", (blockKiB * 1024).toString)
        .option("parquet.page.size", (16 * 1024).toString)
        .mode("overwrite").parquet(s"$base/$name")
    }
  }

  private def refMorton(a: Long, b: Long): Long = {
    var z = 0L
    var i = 0
    while (i < 31) {
      z |= ((a >> i) & 1L) << (2 * i)
      z |= ((b >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  private def deinterleave(z: Long): (Long, Long) = {
    var a = 0L; var b = 0L
    var i = 0
    while (i < 31) {
      a |= ((z >> (2 * i)) & 1L) << i
      b |= ((z >> (2 * i + 1)) & 1L) << i
      i += 1
    }
    (a, b)
  }

  test("graft_zorder64 matches the per-bit reference and round-trips") {
    val rnd = new scala.util.Random(61)
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (0x7FFFFFFFL, 0x7FFFFFFFL)) ++
      Seq.fill(3000)((rnd.nextLong() & 0x7FFFFFFFL, rnd.nextLong() & 0x7FFFFFFFL))
    cases.foreach { case (a, b) =>
      val z = GraftFunctions.zorder64(a, b)
      assert(z === refMorton(a, b), s"($a, $b)")
      assert(z >= 0, s"code must stay non-negative: ($a, $b) -> $z")
      assert(deinterleave(z) === ((a, b)), s"round-trip ($a, $b)")
    }
    intercept[Exception](GraftFunctions.zorder64(-1L, 0L))
  }

  test("graft_zorder (d-dim) round-trips per bit at d=3,4 and d=2 equals graft_zorder64") {
    // per-bit reference deinterleave for any d: bit j of dim i sits
    // at position j*d + i, width = 62/d bits per dim
    def deinterleaveN(z: Long, d: Int): Array[Long] = {
      val w = 62 / d
      val out = new Array[Long](d)
      for (i <- 0 until d; j <- 0 until w)
        out(i) |= ((z >> (j * d + i)) & 1L) << j
      out
    }
    val rnd = new scala.util.Random(62)
    for (d <- Seq(3, 4)) {
      val w = 62 / d
      val mask = (1L << w) - 1L
      val cases = Seq(Array.fill(d)(0L), Array.fill(d)(mask),
        Array.tabulate(d)(i => if (i == 0) 1L else 0L)) ++
        Seq.fill(2000)(Array.fill(d)(rnd.nextLong() & mask))
      cases.foreach { dims =>
        val z = GraftFunctions.zorderN(dims)
        assert(z >= 0, s"d=$d code must stay non-negative: ${dims.toSeq}")
        assert(deinterleaveN(z, d).toSeq === dims.toSeq,
          s"d=$d round-trip ${dims.toSeq} -> $z")
      }
    }
    // d=2 ≡ the dedicated 2-D kernel (31-bit dims)
    Seq.fill(2000)((rnd.nextLong() & 0x7FFFFFFFL, rnd.nextLong() & 0x7FFFFFFFL))
      .foreach { case (a, b) =>
        assert(GraftFunctions.zorderN(Array(a, b)) === GraftFunctions.zorder64(a, b))
      }
    intercept[Exception](GraftFunctions.zorderN(Array(-1L, 0L, 0L)))
    intercept[Exception](GraftFunctions.zorderN(Array(1L)))
    // monotone locality witness through SQL (codegen path): sorting by
    // the 3-D code groups equal-prefix dims together — and the
    // registered function evaluates inside codegen, same values as
    // the kernel
    import spark.implicits._
    val df = Seq((3L, 5L, 7L), (1L, 2L, 3L), (0L, 0L, 0L))
      .toDF("x", "y", "zz")
      .selectExpr("x", "y", "zz", "graft_zorder(x, y, zz) AS code")
      .collect()
    df.foreach { r =>
      assert(r.getLong(3) ===
        GraftFunctions.zorderN(Array(r.getLong(0), r.getLong(1), r.getLong(2))))
    }
  }

  test("z-sorted PARQUET layout prunes real row groups; scans agree across layouts") {
    // VERDICT r11 item 2: not the geometry model — the engine.  Write
    // both physical layouts, audit the actual parquet footers (the
    // statistics the reader prunes on), and run the filtered scans.
    val base = java.nio.file.Files.createTempDirectory("zspec").toString
    try {
      writeLayouts(base, nFiles = 10, blockKiB = 16)
      val probes = Seq((0L, 200L, 0L, 40L), (200L, 400L, 30L, 70L),
        (100L, 300L, 10L, 50L))
      var idCand = 0; var zCand = 0
      probes.foreach { case (cLo, cHi, tLo, tHi) =>
        val rect = Seq(("n_chars", cLo, cHi), ("n_tok", tLo, tHi))
        val (_, idRg, _, _) = Zorder.footerAuditDims(s"$base/byid", rect)
        val (_, zRg, _, _) = Zorder.footerAuditDims(s"$base/byz", rect)
        assert(zRg <= idRg, s"probe ($cLo,$cHi,$tLo,$tHi): z=$zRg id=$idRg")
        idCand += idRg; zCand += zRg
        // and the engine agrees with itself: identical filtered rows
        def rows(dir: String) = spark.read.parquet(dir)
          .filter(col("n_chars").between(cLo, cHi) &&
            col("n_tok").between(tLo, tHi))
          .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
        assert(rows(s"$base/byid") === rows(s"$base/byz"))
      }
      assert(zCand < idCand,
        s"z layout must touch strictly fewer row groups: z=$zCand id=$idCand")
      // pushdown sanity: the range predicates reach the parquet scan
      val plan = spark.read.parquet(s"$base/byz")
        .filter(col("n_chars").between(0, 200) && col("n_tok").between(0, 40))
        .queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters") &&
        plan.contains("GreaterThanOrEqual(n_chars"), plan)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(base)).iterator().asScala
        .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("Zorder.writeZOrdered (3-D) prunes real row groups and keeps the schema") {
    val base = java.nio.file.Files.createTempDirectory("zspec3").toString
    try {
      val df = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .selectExpr("doc_id", "n_chars",
          "CAST(size(filter(split(text, ' '), t -> t <> '')) AS BIGINT) AS n_tok",
          "(doc_id * 37) % 1000 AS bucket", "text")
      Zorder.writeZOrdered(df,
        Seq("n_chars", "n_tok", "bucket"), s"$base/z3", files = 10, blockKiB = 16)
      df.repartitionByRange(10, col("doc_id")).sortWithinPartitions("doc_id")
        .write.option("parquet.block.size", (16 * 1024).toString)
        .mode("overwrite").parquet(s"$base/byid")
      // written schema is exactly the input's (no internal z column)
      assert(spark.read.parquet(s"$base/z3").columns.toSeq === df.columns.toSeq)
      val probes = Seq(
        Seq(("n_chars", 0L, 200L), ("n_tok", 0L, 40L), ("bucket", 0L, 300L)),
        Seq(("n_chars", 200L, 500L), ("n_tok", 30L, 90L), ("bucket", 300L, 700L)))
      var zC = 0; var idC = 0
      probes.foreach { p =>
        val (_, z, _, _) = Zorder.footerAuditDims(s"$base/z3", p)
        val (_, id, _, _) = Zorder.footerAuditDims(s"$base/byid", p)
        assert(z <= id, s"$p: z=$z id=$id")
        zC += z; idC += id
        def rows(dir: String) = {
          val preds = p.map { case (c, lo, hi) => col(c).between(lo, hi) }
            .reduce(_ && _)
          spark.read.parquet(dir).filter(preds)
            .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
        }
        assert(rows(s"$base/z3") === rows(s"$base/byid"))
      }
      assert(zC < idC, s"3-D z layout must prune strictly: z=$zC id=$idC")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(base)).iterator().asScala
        .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("z-order layout prunes 2-D range probes better than doc_id layout") {
    import spark.implicits._
    val rows = Packing.qZorderLayout(spark, "/root/testdata/sf0.01")
      .select("doc_id", "n_chars", "n_tok", "file_id")
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.length >= 400)
    // doc_id layout: contiguous 100-row slices of doc_id order
    val byId = rows.sortBy(_._1).grouped(100).toSeq
    val byZ = rows.groupBy(_._4).values.toSeq
    def boxes(files: Seq[Array[(Long, Long, Long, Long)]]) =
      files.map { f =>
        (f.map(_._2).min, f.map(_._2).max, f.map(_._3).min, f.map(_._3).max)
      }
    val idBoxes = boxes(byId.map(_.toArray))
    val zBoxes = boxes(byZ.map(_.toArray))
    // fixed probe rectangles over (n_chars, n_tok); count files whose
    // min/max box intersects — the parquet row-group pruning model
    val probes = Seq((0L, 400L, 0L, 60L), (800L, 1200L, 120L, 200L),
      (300L, 600L, 40L, 90L), (1500L, 3000L, 250L, 600L))
    def touched(bs: Seq[(Long, Long, Long, Long)], p: (Long, Long, Long, Long)) =
      bs.count { case (cLo, cHi, tLo, tHi) =>
        cHi >= p._1 && cLo <= p._2 && tHi >= p._3 && tLo <= p._4
      }
    val (idTouch, zTouch) = probes.map(p =>
      (touched(idBoxes, p), touched(zBoxes, p))).unzip
    assert(zTouch.sum < idTouch.sum,
      s"z-layout must prune better: z=$zTouch vs id=$idTouch")
    // and every probe individually must never be WORSE under z
    probes.indices.foreach { i =>
      assert(zTouch(i) <= idTouch(i), s"probe $i: z=${zTouch(i)} id=${idTouch(i)}")
    }
  }
}
