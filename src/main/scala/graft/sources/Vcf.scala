package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.model.VcfVariant

/** VCF text source/sink (S9, S10; ref: VCFInputFormat.java,
  * VCFRecordReader.java, util/VCFHeaderReader.java,
  * util/VCFFileMerger.java).  Plain and BGZF-compressed (.vcf.bgz)
  * files both ride [[RangedText]] — the BGZF path is the S14
  * "splittable codec for any text" case.
  */
object Vcf {

  final case class VcfHeader(lines: Seq[String]) {
    def samples: Seq[String] = {
      lines.lastOption.filter(_.startsWith("#CHROM")).toSeq
        .flatMap(_.split("\t").drop(9))
    }
    def infoTypes: Map[String, String] =
      lines.filter(_.startsWith("##INFO=")).flatMap { l =>
        for {
          id <- "ID=([^,>]+)".r.findFirstMatchIn(l).map(_.group(1))
          ty <- "Type=([^,>]+)".r.findFirstMatchIn(l).map(_.group(1))
        } yield id -> ty
      }.toMap
    def text: String = lines.mkString("\n")
  }

  def readHeader(path: String): VcfHeader = {
    val in = new BufferedReader(new InputStreamReader(
      RangedText.openDecoded(path), UTF_8))
    try {
      val out = scala.collection.mutable.ArrayBuffer[String]()
      var line = in.readLine()
      while (line != null && line.startsWith("#")) {
        out += line
        line = in.readLine()
      }
      VcfHeader(out.toSeq)
    } finally in.close()
  }

  // ---- lazy-decode field groups (ref: LazyVCFGenotypesContext.java:1
  // — the reference defers genotype parsing until accessed; here the
  // caller states up front which column groups it needs and the rest
  // are skipped at scan level: a site-only read of a many-sample VCF
  // never splits, allocates, or even scans the genotype columns).
  // Site fields (CHROM..FILTER) are always parsed.
  val FInfo = 1
  val FGenotypes = 2
  val AllFields: Int = FInfo | FGenotypes

  /** Decode mask for a set of requested VcfVariant column names (the
    * DSv2 pruned schema or a typed reader's `columns` option). */
  def maskFor(columns: Seq[String]): Int =
    if (columns.isEmpty) AllFields
    else columns.foldLeft(0) { (m, c) =>
      m | (c match {
        case "infoKeys" | "infoValues" => FInfo
        case "format" | "genotypes" => FGenotypes
        case _ => 0
      })
    }

  /** Parse one record line (8+ tab fields).  INFO decomposes into
    * parallel key/value arrays (flag keys get value "");
    * genotype columns stay raw with the FORMAT key list — lazy decode
    * like LazyVCFGenotypesContext.java. */
  def parseLine(l: String): VcfVariant = parseLine(l, AllFields)

  /** Parse with a field mask: unmasked column groups are skipped, not
    * parsed — a genotype-less parse stops its tab scan after INFO. */
  def parseLine(l: String, fields: Int): VcfVariant = {
    // malformed input must fail identically regardless of projection:
    // both paths raise the same error on a line with <8 site fields
    def malformed(n: Int): Nothing = throw new IllegalArgumentException(
      s"malformed VCF record line: expected 8 tab-separated site fields, got $n")
    val f =
      if ((fields & FGenotypes) != 0) {
        val all = l.split("\t", -1)
        if (all.length < 8) malformed(all.length)
        all
      } else {
        // a many-sample line is mostly genotype text: extract only the
        // 8 site fields by position instead of splitting the whole line
        val head = new Array[String](8)
        var start = 0
        var i = 0
        while (i < 8) {
          if (start > l.length) malformed(i)
          val t = l.indexOf('\t', start)
          val end = if (t < 0) l.length else t
          head(i) = l.substring(start, end)
          start = end + 1
          i += 1
        }
        head
      }
    val info = f(7)
    val (ik, iv) =
      if ((fields & FInfo) == 0 || info == "." || info.isEmpty)
        (Array.empty[String], Array.empty[String])
      else {
        val pairs = info.split(";").map { kv =>
          val i = kv.indexOf('=')
          if (i < 0) (kv, "") else (kv.substring(0, i), kv.substring(i + 1))
        }
        (pairs.map(_._1), pairs.map(_._2))
      }
    VcfVariant(
      chrom = f(0),
      pos = f(1).toLong,
      id = f(2),
      ref = f(3),
      alt = if (f(4) == ".") Array.empty else f(4).split(","),
      qual = if (f(5) == ".") None else Some(f(5).toDouble),
      filter = f(6),
      infoKeys = ik,
      infoValues = iv,
      format = if (f.length > 8 && f(8) != ".") f(8).split(":") else Array.empty,
      genotypes = if (f.length > 9) f.drop(9) else Array.empty)
  }

  def formatLine(v: VcfVariant): String = {
    val info =
      if (v.infoKeys.isEmpty) "."
      else v.infoKeys.zip(v.infoValues).map { case (k, vv) =>
        if (vv.isEmpty) k else s"$k=$vv"
      }.mkString(";")
    val base = Seq(
      v.chrom, v.pos.toString, v.id, v.ref,
      if (v.alt.isEmpty) "." else v.alt.mkString(","),
      v.qual.map(q => if (q == q.floor && !q.isInfinite) q.toLong.toString else q.toString).getOrElse("."),
      v.filter, info)
    val tail =
      if (v.format.isEmpty && v.genotypes.isEmpty) Seq.empty
      else Seq(if (v.format.isEmpty) "." else v.format.mkString(":")) ++ v.genotypes
    (base ++ tail).mkString("\t")
  }

  /** Distributed read (plain or BGZF).  `columns` limits decode to the
    * named VcfVariant columns (site fields always decode) — a
    * site-only read of a many-sample file skips the genotype text. */
  def read(spark: SparkSession, path: String,
           splitSize: Long = 64L * 1024 * 1024,
           columns: Seq[String] = Nil): Dataset[VcfVariant] = {
    import spark.implicits._
    v2.GraftDataSources.typed(spark, plan(path, Nil, exact = false, splitSize),
      maskFor(columns))
  }

  /** The VCF planner of every read face: with intervals and a `.tbi`
    * over a BGZF file, the bounded-traversal chunk tasks
    * ([[planBounded]]; their ownership rule applies the intervals to
    * records); else the ranged-text split of the whole file, where
    * `exact` intervals filter records by overlap. */
  private[sources] def plan(path: String, intervals: Seq[(String, Int, Int)],
                            exact: Boolean, splitSize: Long)
      : Seq[v2.GraftPartition[VcfVariant]] =
    planBounded(path, intervals, splitSize) match {
      case Some(tasks) => tasks.map(v2.VcfChunkPartition)
      case None =>
        val comp = RangedText.compression(path)
        val iv = if (exact) intervals.toArray else Array.empty[(String, Int, Int)]
        RangedText.ranges(path, splitSize).map { case (s, e) =>
          v2.VcfRangePartition(path, s, e, comp, iv)
        }
    }

  /** The record-level interval filter of the VCF and BCF partitions:
    * `open` with the decode mask, keeping records overlapping
    * `intervals` (POS..[[spanEnd]]; empty = all).  The overlap test
    * reads INFO END=, so INFO always decodes when it applies. */
  private[sources] def openOverlapping(intervals: Array[(String, Int, Int)], fields: Int)
      (open: Int => (Iterator[VcfVariant], () => Unit)): (Iterator[VcfVariant], () => Unit) =
    if (intervals.isEmpty) open(fields)
    else {
      val merged = mergeIntervals(intervals.toSeq)
      val (it, closer) = open(fields | FInfo)
      (it.filter(v => merged.get(v.chrom).exists(_.exists { case (s, e) =>
        v.pos <= e && spanEnd(v) >= s
      })), closer)
    }

  // ------------------------------------------- bounded traversal (.tbi)

  /** 1-based inclusive end of a variant's reference span (POS through
    * POS+len(REF)-1, stretched to the largest all-digit INFO END= for
    * symbolic alleles) — the one span rule: the `.tbi` builder bins
    * records by it and every bounded read filters by it. */
  def spanEnd(v: VcfVariant): Int = {
    var end = v.pos.toInt + math.max(1, v.ref.length) - 1
    var i = 0
    while (i < v.infoKeys.length) {
      if (v.infoKeys(i) == "END" && v.infoValues(i).forall(_.isDigit) &&
        v.infoValues(i).nonEmpty)
        end = math.max(end, v.infoValues(i).toInt)
      i += 1
    }
    end
  }

  /** Per-contig disjoint unions of the query intervals, sorted by
    * start (adjacent/overlapping user intervals collapse — the unit
    * of exactly-once ownership below). */
  def mergeIntervals(iv: Seq[(String, Int, Int)]): Map[String, Seq[(Int, Int)]] =
    iv.groupBy(_._1).map { case (c, is) =>
      val sorted = is.map(i => (i._2, i._3)).filter(i => i._1 <= i._2).sortBy(_._1)
      val out = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
      sorted.foreach { case (s, e) =>
        if (out.nonEmpty && s <= out.last._2 + 1)
          out(out.length - 1) = (out.last._1, math.max(out.last._2, e))
        else out += ((s, e))
      }
      c -> out.toSeq
    }

  /** One bounded-traversal task: the merged `.tbi` chunks serving
    * sub-interval [taskS, taskE] of merged interval `ivIdx` on
    * `contig` (whose full disjoint interval list is `contigIvs`, for
    * cross-interval ownership of spanning records). */
  final case class ChunkTask(file: String, chunks: Seq[(Long, Long)],
                             contig: String, taskS: Int, taskE: Int,
                             ivIdx: Int, contigIvs: Seq[(Int, Int)])

  /** Driver-side bounded-traversal plan: resolve each merged interval
    * through the `.tbi`, bisecting genomic space until each task's
    * compressed chunk span fits `splitSize` (so a whole-chromosome
    * query on a 100 GB VCF still fans out across the cluster).
    * None ⇒ no usable index (plain text, or no `.tbi` sidecar) —
    * caller falls back to the full splittable scan + filter, exactly
    * like the reference when the index is absent
    * (VCFInputFormat.java:408-413 logs and keeps all splits). */
  def planBounded(path: String, intervals: Seq[(String, Int, Int)],
                  splitSize: Long): Option[Seq[ChunkTask]] = {
    if (intervals.isEmpty || !RangedText.isBgzf(path)) return None
    val (fs, p) = Fs.get(path)
    Tabix.read(fs, Tabix.indexPath(p)).map { idx =>
      val merged = mergeIntervals(intervals)
      merged.toSeq.sortBy(_._1).flatMap { case (contig, ivs) =>
        val ri = idx.refIdOf.getOrElse(contig, -1)
        ivs.zipWithIndex.flatMap { case ((s, e), i) =>
          def span(chunks: Seq[BinIndex.Chunk]): Long =
            chunks.map(c => Bgzf.voCompressed(c.end) - Bgzf.voCompressed(c.beg) + 1).sum
          def tasks(lo: Int, hi: Int): Seq[ChunkTask] = {
            val chunks = idx.binning.chunksFor(ri, lo, hi)
            if (chunks.isEmpty) Nil
            else if (span(chunks) <= splitSize || hi - lo < (1 << idx.binning.minShift))
              Seq(ChunkTask(path, chunks.map(c => (c.beg, c.end)), contig,
                lo, hi, i, ivs))
            else {
              val mid = lo + (hi - lo) / 2
              tasks(lo, mid) ++ tasks(mid + 1, hi)
            }
          }
          tasks(s, e)
        }
      }
    }
  }

  /** Records of one task, exactly once across all tasks of a query:
    * a record is owned by the task whose [taskS, taskE] contains its
    * POS; a record STARTING BEFORE the merged interval (spanning in
    * from outside) is owned by the interval's first task, and only
    * when no earlier merged interval on the contig already overlaps
    * it (that interval reported it).  The closer is for consumers that
    * may abandon the iterator early (DSv2 readers under LIMIT): chunks
    * self-close on exhaustion, the closer releases the one in flight. */
  def openTask(t: ChunkTask, fields: Int = AllFields): (Iterator[VcfVariant], () => Unit) = {
    val (ivS, _) = t.contigIvs(t.ivIdx)
    var inFlight: () => Unit = () => ()
    val it = t.chunks.iterator.flatMap { case (beg, end) =>
      val (lines, closer) = RangedText.openLinesAtVo(t.file, beg, end)
      inFlight = closer
      lines.filter(l => l.text.nonEmpty && !l.text.startsWith("#"))
        // the ownership filter below needs spanEnd (INFO END=), so the
        // INFO group always decodes on this path
        .map(l => parseLine(l.text, fields | FInfo))
        .filter { v =>
          val pos = v.pos.toInt
          lazy val end1 = spanEnd(v)
          if (pos >= t.taskS) pos <= t.taskE
          else t.taskS == ivS && end1 >= t.taskS &&
            !t.contigIvs.take(t.ivIdx).exists { case (s2, e2) =>
              pos <= e2 && end1 >= s2
            }
        }
    }
    (it, () => inFlight())
  }

  /** Bounded-traversal read: only the BGZF chunks overlapping
    * `intervals` are read, resolved through the `.tbi` sidecar — the
    * reference's tabix split filtering (VCFInputFormat.java:388-460)
    * re-expressed as driver-side chunk planning.  Falls back to full
    * scan + overlap filter when the file is plain text or unindexed. */
  def readIntervals(spark: SparkSession, path: String,
                    intervals: Seq[(String, Int, Int)],
                    splitSize: Long = 64L * 1024 * 1024): Dataset[VcfVariant] = {
    import spark.implicits._
    v2.GraftDataSources.typed(spark, plan(path, intervals, exact = true, splitSize),
      AllFields)
  }

  /** Write a BGZF-compressed VCF (.vcf.bgz) with terminator — the
    * splittable compressed form our own ranged reader (and tabix-era
    * tooling) consumes.  With `tabix = true`, a `.tbi` sidecar is
    * built after the merge (requires coordinate-sorted input — the
    * builder validates), enabling bounded-traversal reads; the
    * reference's merger pairs shards with the same extension
    * (util/VCFFileMerger.java:54-60). */
  def writeBgzf(ds: Dataset[VcfVariant], header: VcfHeader, out: String,
                tabix: Boolean): Unit = {
    writeBgzf(ds, header, out)
    if (tabix) Tabix.buildAndWriteVcf(out)
  }

  /** Write one BGZF-compressed .vcf.bgz, without building a `.tbi`. */
  def writeBgzf(ds: Dataset[VcfVariant], header: VcfHeader, out: String): Unit =
    save(ds, header, out, bgzf = true)

  /** Write one plain-text .vcf with a single header
    * (ref: util/VCFFileMerger.java). */
  def write(ds: Dataset[VcfVariant], header: VcfHeader, out: String): Unit =
    save(ds, header, out, bgzf = false)

  /** The `format("vcf")` batch write with `header` in memory. */
  private def save(ds: Dataset[VcfVariant], header: VcfHeader, out: String,
                   bgzf: Boolean): Unit =
    v2.GraftDataSinks.overwrite(ds, new v2.VcfTable(v2.GraftDataSinks.at(out),
      Some(v2.GraftDataSinks.TextHeader(header.lines, bgzf))))
}
