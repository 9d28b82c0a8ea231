package graft.sources.v2

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.model.{ReferenceFragment, SamHeader, SamRecord, SequencedFragment, VcfVariant}
import graft.sources.{BamIO, BcfIO, Fasta, Fastq, Fs, RangedText, Vcf}

/** DataSource V2 façade over the graft format codecs — the Spark-first
  * re-expression of the reference's InputFormats as first-class
  * `spark.read.format(...)` sources:
  *
  *   spark.read.format("bam").option("intervals", "chr1:1-10000")
  *     .load("reads.bam")
  *   spark.read.format("fastq").load("reads.fastq")
  *   spark.read.format("vcf").load("calls.vcf.bgz")
  *
  * The BAM source pushes interval predicates into the scan: a
  * conjunction of `rname = c` (or `rname IN (...)`) with `pos`
  * bounds prunes BGZF chunks through the sidecar/.bai/.csi index
  * before any task launches — the reference's bounded traversal
  * (ref: BAMInputFormat.java:150-190, `hadoopbam.bam.intervals`)
  * surfacing as ordinary Catalyst predicate pushdown.  Filter-derived
  * intervals prune CHUNKS only — records inside surviving chunks all
  * flow to Spark, which re-applies every predicate exactly (pushing
  * them into the record-level overlap filter would wrongly drop rows
  * the residual keeps, e.g. zero-reference-length reads whose
  * end < pos).  The `intervals` OPTION, by contrast, is the
  * reference's property-style authoritative filter and does apply
  * record-level overlap semantics.  Column pruning projects the typed
  * record onto the required schema before rows reach the exchange.
  *
  * Partition planning = the same driver-side split placement the
  * typed Dataset readers use (one task per virtual-offset range), so
  * a 1000-executor cluster fans out identically through SQL and the
  * typed API.  Multi-path loads plan partitions per file.
  */
object GraftDataSources {

  /** Decode mask for a DSv2 pruned schema over VcfVariant: an EMPTY
    * pruned schema is count(*) — decode nothing beyond site fields
    * (mask 0), NOT the typed readers' Nil-means-everything
    * convention.  Shared by the VCF and BCF reader factories; public
    * within graft so the lazy-decode contract is directly testable. */
  private[graft] def vcfPrunedMask(pruned: StructType): Int =
    if (pruned.fieldNames.isEmpty) 0
    else graft.sources.Vcf.maskFor(pruned.fieldNames.toSeq)

  /** Same contract for the BAM reader factory's SamRecord schema. */
  private[graft] def bamPrunedMask(pruned: StructType): Int =
    if (pruned.fieldNames.isEmpty) 0
    else graft.sources.BamCodec.maskFor(pruned.fieldNames.toSeq)

  /** Serialize a case-class record stream onto a pruned schema.
    * `closeUnderlying` releases the input stream when the scan stops
    * before exhausting the iterator (LIMIT, task abort). */
  private[v2] class RecordReader[T](it: Iterator[T], enc: ExpressionEncoder[T],
                                    pruned: StructType, closeUnderlying: () => Unit)
      extends PartitionReader[InternalRow] {
    private val ser = enc.createSerializer()
    private val full = enc.schema
    private val proj = UnsafeProjection.create(pruned.map { f =>
      val i = full.fieldIndex(f.name)
      BoundReference(i, full(i).dataType, full(i).nullable)
    }.toSeq)
    private var cur: InternalRow = _
    override def next(): Boolean =
      if (it.hasNext) { cur = proj(ser(it.next())); true } else false
    override def get(): InternalRow = cur
    override def close(): Unit = closeUnderlying()
  }

  /** Load paths: single `path` or the JSON-array `paths` the
    * DataFrameReader writes for multi-path loads. */
  private[v2] def pathsOf(options: CaseInsensitiveStringMap): Seq[String] = {
    val multi = Option(options.get("paths")).map { js =>
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      mapper.readValue(js, classOf[Array[String]]).toSeq
    }.getOrElse(Nil)
    val single = Option(options.get("path")).toSeq
    val all = (single ++ multi).distinct
    require(all.nonEmpty, "graft source needs at least one load path")
    all
  }

  private[v2] def prune(full: StructType, required: StructType): StructType =
    // keep only fields we actually have (Spark may ask for metadata cols)
    StructType(required.filter(f => full.fieldNames.contains(f.name)))

  /** Shared bounded-traversal filter extraction: a conjunction of
    * contig equality/IN on `contigCol` with bounds on `posCol` becomes
    * an interval set for chunk pruning.  Returns (the filters to
    * advertise as pushed, the derived intervals); everything stays
    * residual with Spark — the chunks over-approximate and every
    * predicate is re-checked exactly. */
  /** Long-domain variant for formats whose position column is BIGINT
    * (FASTA `start` on >2 Gbp contigs) — no Int clamping, which would
    * silently over-prune everything past 2³¹. */
  private[v2] def contigPosIntervalsLong(filters: Array[Filter], contigCol: String,
      posCol: String): (Array[Filter], Seq[(String, Long, Long)]) = {
    val contigs: Option[Seq[String]] = filters.collectFirst {
      case EqualTo(`contigCol`, c: String) => Seq(c)
      case In(`contigCol`, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
        vs.toSeq.map(_.toString)
    }
    var lo = 1L
    var hi = Long.MaxValue
    val posFilters = filters.filter {
      case GreaterThan(`posCol`, v: Number) => lo = math.max(lo, v.longValue() + 1); true
      case GreaterThanOrEqual(`posCol`, v: Number) => lo = math.max(lo, v.longValue()); true
      case LessThan(`posCol`, v: Number) => hi = math.min(hi, v.longValue() - 1); true
      case LessThanOrEqual(`posCol`, v: Number) => hi = math.min(hi, v.longValue()); true
      case EqualTo(`posCol`, v: Number) =>
        lo = math.max(lo, v.longValue()); hi = math.min(hi, v.longValue()); true
      case _ => false
    }
    contigs match {
      case Some(cs) =>
        val ivs = cs.map(c => (c, math.max(1L, lo), hi.max(0L)))
        (filters.filter {
          case EqualTo(`contigCol`, _) | In(`contigCol`, _) => true
          case f => posFilters.contains(f)
        }, ivs)
      case None => (Array.empty, Nil) // pos bounds alone cannot prune chunks
    }
  }

  private[v2] def contigPosIntervals(filters: Array[Filter], contigCol: String,
      posCol: String): (Array[Filter], Seq[(String, Int, Int)]) = {
    val (p, iv) = contigPosIntervalsLong(filters, contigCol, posCol)
    // Int-position formats (BAM/VCF/BCF): clamping is sound because
    // the column itself cannot exceed Int range
    (p, iv.map(i => (i._1,
      i._2.min(Int.MaxValue.toLong).toInt, i._3.min(Int.MaxValue.toLong).toInt)))
  }

  private[v2] abstract class SingleTable(tableName: String, tableSchema: StructType)
      extends Table with SupportsRead
      with org.apache.spark.sql.connector.catalog.SupportsWrite {
    override def name(): String = tableName
    override def schema(): StructType = tableSchema
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
        TableCapability.TRUNCATE)
  }
}

// ------------------------------------------------------------------ BAM

class BamDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "bam"
  override def supportsExternalMetadata(): Boolean = false
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ExpressionEncoder[SamRecord]().schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new BamTable(new CaseInsensitiveStringMap(properties))
}

/** `header` = the typed writer's in-memory header; absent, a write
  * resolves `option("header", path)`. */
class BamTable(options: CaseInsensitiveStringMap, header: Option[SamHeader] = None)
    extends GraftDataSources.SingleTable(
      s"bam:${GraftDataSources.pathsOf(options).mkString(",")}",
      ExpressionEncoder[SamRecord]().schema) {
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new BamScanBuilder(GraftDataSources.pathsOf(options), options)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val target = GraftDataSources.pathsOf(options).head
    val h = header.getOrElse(GraftDataSinks.samHeaderFrom(Option(info.options.get("header"))))
    val granularity = GraftDataSinks.granularityOf(info.options)
    new GraftWriteBuilder(target, info, "bam",
      new BamBatchWrite(target, _, h, granularity, info.schema()))
  }
}

class BamScanBuilder(paths: Seq[String], options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private val fullSchema = ExpressionEncoder[SamRecord]().schema
  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var intervals: Seq[(String, Int, Int)] = Nil

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = GraftDataSources.prune(fullSchema, requiredSchema)

  /** Consume `rname` equality/IN plus `pos` bounds as a bounded-
    * traversal interval set for CHUNK pruning.  Everything is
    * returned as residual — the chunks over-approximate and Spark
    * re-checks every predicate exactly. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (p, iv) = GraftDataSources.contigPosIntervals(filters, "rname", "pos")
    pushed = p
    intervals = iv
    filters // all residual: exact semantics stay with Spark
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = {
    val optIntervals = Option(options.get("intervals"))
    val splitSize = Option(options.get("splitsize")).map(_.toLong)
      .getOrElse(64L * 1024 * 1024)
    val includeUnmapped = Option(options.get("includeunmapped")).exists(_.toBoolean)
    new BamScan(paths, required, pushed, intervals, optIntervals, splitSize,
      includeUnmapped)
  }
}

class BamScan(paths: Seq[String], pruned: StructType, pushed: Array[Filter],
              filterIntervals: Seq[(String, Int, Int)],
              optionIntervals: Option[String], splitSize: Long,
              includeUnmapped: Boolean) extends Scan with Batch {

  override def readSchema(): StructType = pruned
  override def toBatch: Batch = this
  override def description(): String =
    s"graft bam ${paths.mkString(",")} " +
      s"intervals=${optionIntervals.getOrElse(if (filterIntervals.isEmpty) "*"
        else filterIntervals.mkString(","))} " +
      s"pushed=${pushed.mkString("[", ",", "]")}"

  override def planInputPartitions(): Array[InputPartition] =
    paths.flatMap { path =>
      // option intervals are authoritative record filters (parsed
      // against each file's own header); filter-derived intervals
      // prune chunks only — records are re-filtered by Spark
      val optIv = optionIntervals.map { spec =>
        BamIO.parseIntervals(spec, BamIO.readHeader(path))
      }
      val pruneIv = optIv.getOrElse(filterIntervals)
      val (header, ranges) =
        BamIO.planSplits(path, pruneIv, splitSize, includeUnmapped)
      ranges.map { case (s, e) =>
        BamPartition(path, s, e, header.refs,
          optIv.getOrElse(Nil).toArray, includeUnmapped): InputPartition
      }
    }.toArray

  override def createReaderFactory(): PartitionReaderFactory = new BamReaderFactory(pruned)

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(paths.size == 1,
      s"streaming reads tail exactly one directory; got ${paths.size} paths")
    require(optionIntervals.isEmpty && !includeUnmapped,
      "bounded traversal (intervals/includeunmapped) applies to batch reads; " +
        "filter the stream with ordinary predicates instead")
    new BamMicroBatchStream(paths.head, splitSize, pruned, checkpointLocation)
  }
}

case class BamPartition(file: String, startVo: Long, endVo: Long,
                        refs: Array[graft.model.SamRef],
                        intervals: Array[(String, Int, Int)],
                        includeUnmapped: Boolean) extends InputPartition

class BamReaderFactory(pruned: StructType) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val bp = p.asInstanceOf[BamPartition]
    // prune-then-decode: the pruned schema drives the byte-level field
    // mask, so a SELECT qname, pos never builds seq/qual/tag strings;
    // an empty pruned schema (count(*)) decodes only fixed fields
    val (it, closer) = BamIO.openRange(bp.file, bp.startVo, bp.endVo, bp.refs,
      bp.intervals, bp.includeUnmapped,
      GraftDataSources.bamPrunedMask(pruned))
    new GraftDataSources.RecordReader(it, ExpressionEncoder[SamRecord](), pruned, closer)
  }
}

// ------------------------------------------- splittable text formats

/** Per-range record framing; returns the iterator plus a closer for
  * early-terminated scans. */
trait RangeFraming[T] extends Serializable {
  def frame(path: String, start: Long, end: Long, comp: RangedText.Compression)
      : (Iterator[T], () => Unit)
}

object FastqFraming extends RangeFraming[SequencedFragment] {
  def frame(path: String, start: Long, end: Long, comp: RangedText.Compression)
      : (Iterator[SequencedFragment], () => Unit) = {
    val endBound = RangedText.endBound(end, comp)
    val (lines, closer) = RangedText.openLines(path, start, end, comp, stopAtEnd = false)
    (Fastq.frame(lines, start, endBound), closer)
  }
}

object SamFraming extends RangeFraming[SamRecord] {
  def frame(path: String, start: Long, end: Long, comp: RangedText.Compression)
      : (Iterator[SamRecord], () => Unit) = {
    val (lines, closer) = RangedText.openLines(path, start, end, comp, stopAtEnd = true)
    (lines.map(_.text).filter(l => l.nonEmpty && !l.startsWith("@")).map(parse _), closer)
  }
  /** Same field semantics as Sam.parseLines' expression chain.
    * limit -1 like SQL split: a trailing empty field (e.g. empty
    * qual) must survive, not throw ArrayIndexOutOfBounds. */
  private def parse(l: String): SamRecord = {
    val p = l.split("\t", -1)
    SamRecord(p(0), p(1).toInt, p(2), p(3).toInt, p(4).toInt, p(5), p(6),
      p(7).toInt, p(8).toInt, p(9), p(10),
      if (p.length > 11) p.slice(11, p.length) else Array.empty[String])
  }
}

object VcfFraming extends RangeFraming[VcfVariant] {
  def frame(path: String, start: Long, end: Long, comp: RangedText.Compression)
      : (Iterator[VcfVariant], () => Unit) =
    frameMasked(path, start, end, comp, Vcf.AllFields)

  /** Range framing with a lazy-decode field mask (pruned-schema-driven
    * batch reads; streaming keeps the full decode). */
  def frameMasked(path: String, start: Long, end: Long,
                  comp: RangedText.Compression, mask: Int)
      : (Iterator[VcfVariant], () => Unit) = {
    val (lines, closer) = RangedText.openLines(path, start, end, comp, stopAtEnd = true)
    (lines.filter(l => l.text.nonEmpty && !l.text.startsWith("#"))
      .map(l => Vcf.parseLine(l.text, mask)), closer)
  }
}

/** Shared scan builder for the text-framed formats (FASTQ, VCF):
  * column pruning + per-file range partitioning. */
class TextFramedScanBuilder[T](options: CaseInsensitiveStringMap,
                               enc: ExpressionEncoder[T], framing: RangeFraming[T])
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = enc.schema
  override def pruneColumns(r: StructType): Unit =
    required = GraftDataSources.prune(enc.schema, r)
  override def build(): Scan = {
    val splitSize = Option(options.get("splitsize")).map(_.toLong)
      .getOrElse(64L * 1024 * 1024)
    new TextFramedScan[T](GraftDataSources.pathsOf(options), splitSize, required,
      enc, framing)
  }
}

class TextFramedScan[T](paths: Seq[String], splitSize: Long, pruned: StructType,
                        enc: ExpressionEncoder[T], framing: RangeFraming[T])
    extends Scan with Batch {
  override def readSchema(): StructType = pruned
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    paths.flatMap { path =>
      val comp = RangedText.compression(path)
      RangedText.ranges(path, splitSize).map { case (s, e) =>
        TextRangePartition(path, s, e, comp): InputPartition
      }
    }.toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new TextFramedReaderFactory[T](pruned, enc, framing)
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(paths.size == 1,
      s"streaming reads tail exactly one directory; got ${paths.size} paths " +
        s"(${paths.mkString(", ")}) — start one query per directory")
    new TextFramedMicroBatchStream[T](paths.head, splitSize, pruned, enc,
      framing, checkpointLocation)
  }
}

// ------------------------------------------------ streaming micro-batch

/** Offset = length of the discovered-file log. */
case class FileSeqOffset(n: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = n.toString
}

/** Directory-tailing micro-batch source over a text-framed format —
  * the streaming face of the same codecs (`spark.readStream
  * .format("fastq").load(dir)`), for the
  * records-arriving-as-files-land pattern (sequencer output, log
  * shipping).  Each committed batch is the slice of newly discovered
  * files; within a batch, files split into the same byte ranges the
  * batch scan plans, so executor fan-out is identical.
  *
  * Contract (same as Spark's file stream source defaults): the
  * directory is append-only — files are never rewritten in place.
  * Discovery order is made stable by a monotone file log: newly
  * listed files are appended in sorted order and earlier offsets
  * always denote the same prefix, even if a late file sorts before
  * an already-committed one.  The log is PERSISTED under the query's
  * checkpoint location, so a restart resumes the exact same
  * offset→file mapping — a file that landed while the stream was
  * down is picked up as new, regardless of how its name sorts.
  * A not-yet-created directory reads as empty (the producer may not
  * have started), matching Spark's file stream source.
  */
abstract class FileLogMicroBatchStream(dir: String, checkpointLocation: String)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  /** Batch-identical partition planning for one newly landed file. */
  protected def planFile(path: String): Seq[InputPartition]

  /** Filter on file NAMES the format claims (sidecar indexes and
    * foreign files in the landing directory must not enter the log). */
  protected def accepts(name: String): Boolean = true

  private val logPath =
    new org.apache.hadoop.fs.Path(checkpointLocation, "graft-file-log")

  private var known: Vector[String] = loadLog()
  private var knownSet: Set[String] = known.toSet

  /** The committed offset→file mapping, one path per line in log
    * order.  Written atomically (temp + rename) on every extension. */
  private def loadLog(): Vector[String] = {
    val fs = logPath.getFileSystem(Fs.conf)
    if (!fs.exists(logPath)) Vector.empty
    else {
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        fs.open(logPath), java.nio.charset.StandardCharsets.UTF_8))
      try Iterator.continually(in.readLine()).takeWhile(_ != null)
        .filter(_.nonEmpty).toVector
      finally in.close()
    }
  }

  private def saveLog(): Unit = {
    val fs = logPath.getFileSystem(Fs.conf)
    fs.mkdirs(logPath.getParent)
    val tmp = new org.apache.hadoop.fs.Path(logPath.getParent,
      logPath.getName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(known.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(logPath)) fs.delete(logPath, false)
    if (!fs.rename(tmp, logPath))
      throw new java.io.IOException(s"could not commit file log $logPath")
  }

  private def refresh(): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(Fs.conf)
    val listed =
      if (!fs.exists(p)) Array.empty[String] // producer not started yet
      else if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).filter(_.isFile).map(_.getPath.toString)
          .filter { f =>
            val n = new org.apache.hadoop.fs.Path(f).getName
            !n.startsWith("_") && !n.startsWith(".") && accepts(n)
          }
      else Array(p.toString)
    val fresh = listed.sorted.filterNot(knownSet.contains)
    if (fresh.nonEmpty) {
      known = known ++ fresh
      knownSet = knownSet ++ fresh
      saveLog()
    }
  }

  override def initialOffset(): Offset = FileSeqOffset(0)
  override def latestOffset(): Offset = { refresh(); FileSeqOffset(known.size) }
  override def deserializeOffset(json: String): Offset = FileSeqOffset(json.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[FileSeqOffset].n.toInt
    val e = end.asInstanceOf[FileSeqOffset].n.toInt
    if (known.size < e) refresh()
    require(known.size >= e,
      s"file log has ${known.size} entries but offset $e was committed — " +
        "files were removed from an append-only streaming directory")
    known.slice(s, e).flatMap(planFile).toArray
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

class TextFramedMicroBatchStream[T](dir: String, splitSize: Long,
                                    pruned: StructType, enc: ExpressionEncoder[T],
                                    framing: RangeFraming[T],
                                    checkpointLocation: String)
    extends FileLogMicroBatchStream(dir, checkpointLocation) {
  override protected def planFile(path: String): Seq[InputPartition] = {
    val comp = RangedText.compression(path)
    RangedText.ranges(path, splitSize).map { case (a, b) =>
      TextRangePartition(path, a, b, comp): InputPartition
    }
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new TextFramedReaderFactory[T](pruned, enc, framing)
}

/** BAM shards landing in a directory (aligner output): each new file
  * plans the same virtual-offset splits the batch scan would. */
class BamMicroBatchStream(dir: String, splitSize: Long, pruned: StructType,
                          checkpointLocation: String)
    extends FileLogMicroBatchStream(dir, checkpointLocation) {
  // aligners land .bam files alongside their sidecar indexes
  // (.bam.sidx/.bai/.csi/.gbi) — only the alignments are records
  override protected def accepts(name: String): Boolean = name.endsWith(".bam")
  override protected def planFile(path: String): Seq[InputPartition] = {
    val (header, ranges) = BamIO.planSplits(path, Nil, splitSize,
      includeUnmapped = false)
    ranges.map { case (s, e) =>
      BamPartition(path, s, e, header.refs, Array.empty, includeUnmapped = false)
        : InputPartition
    }
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new BamReaderFactory(pruned)
}

case class TextRangePartition(path: String, start: Long, end: Long,
                              comp: RangedText.Compression) extends InputPartition

class TextFramedReaderFactory[T](pruned: StructType, enc: ExpressionEncoder[T],
                                 framing: RangeFraming[T])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val tp = p.asInstanceOf[TextRangePartition]
    val (it, closer) = framing.frame(tp.path, tp.start, tp.end, tp.comp)
    new GraftDataSources.RecordReader(it, enc, pruned, closer)
  }
}

// ----------------------------------------------------------------- CRAM

class CramDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "cram"
  override def supportsExternalMetadata(): Boolean = false
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ExpressionEncoder[SamRecord]().schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new CramTable(new CaseInsensitiveStringMap(properties))
}

class CramTable(options: CaseInsensitiveStringMap, header: Option[SamHeader] = None)
    extends GraftDataSources.SingleTable(
      s"cram:${GraftDataSources.pathsOf(options).mkString(",")}",
      ExpressionEncoder[SamRecord]().schema) {
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new CramScanBuilder(options)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val target = GraftDataSources.pathsOf(options).head
    val h = header.getOrElse(GraftDataSinks.samHeaderFrom(Option(info.options.get("header"))))
    val profile = GraftDataSinks.cramProfileOf(info.options)
    new GraftWriteBuilder(target, info, "cram",
      new CramBatchWrite(target, _, h, info.schema(), profile))
  }
}

/** CRAM scan with container-level bounded traversal: `rname`
  * equality/IN + `pos` bounds (or the `intervals` option) prune whole
  * containers through the `.crai` / container-header walk before
  * tasks launch — the same pushdown contract as the bam/vcf/bcf
  * sources (filter-derived = chunk pruning only, option = exact
  * record-level overlap). */
class CramScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {
  private val enc = ExpressionEncoder[SamRecord]()
  private var required: StructType = enc.schema
  private var pushed: Array[Filter] = Array.empty
  private var intervals: Seq[(String, Int, Int)] = Nil
  override def pruneColumns(r: StructType): Unit =
    required = GraftDataSources.prune(enc.schema, r)
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (p, iv) = GraftDataSources.contigPosIntervals(filters, "rname", "pos")
    pushed = p
    intervals = iv
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def build(): Scan = {
    val splitSize = Option(options.get("splitsize")).map(_.toLong)
      .getOrElse(64L * 1024 * 1024)
    new CramScan(GraftDataSources.pathsOf(options), splitSize, required,
      pushed, intervals, Option(options.get("intervals")),
      Option(options.get("reference")))
  }
}

class CramScan(paths: Seq[String], splitSize: Long, pruned: StructType,
               pushed: Array[Filter] = Array.empty,
               filterIntervals: Seq[(String, Int, Int)] = Nil,
               optionIntervals: Option[String] = None,
               reference: Option[String] = None)
    extends Scan with Batch {
  override def readSchema(): StructType = pruned
  override def toBatch: Batch = this
  override def description(): String =
    s"graft cram ${paths.mkString(",")} " +
      s"intervals=${optionIntervals.getOrElse(if (filterIntervals.isEmpty) "*"
        else filterIntervals.mkString(","))} " +
      s"pushed=${pushed.mkString("[", ",", "]")}"
  override def planInputPartitions(): Array[InputPartition] = {
    val optIv = optionIntervals.map(s => BamIO.parseIntervalSpec(s))
    val pruneIv = optIv.getOrElse(filterIntervals)
    paths.flatMap { path =>
      val (header, groups, meta) =
        if (pruneIv.isEmpty) graft.sources.CramIO.planGroups(path, splitSize)
        else graft.sources.CramIO.planGroupsBounded(path, pruneIv, splitSize)
      val rgIds = graft.sources.CramForeign.readGroupIds(header.text)
      groups.map(g => CramPartition(path, g, header.refs,
        optIv.getOrElse(Nil).toArray, meta.major, meta.foreign, rgIds,
        reference): InputPartition)
    }.toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new CramReaderFactory(pruned)
}

case class CramPartition(file: String, offsets: Seq[Long],
                         refs: Array[graft.model.SamRef],
                         intervals: Array[(String, Int, Int)] = Array.empty,
                         major: Int = 3, foreign: Boolean = false,
                         rgIds: Array[String] = Array.empty,
                         reference: Option[String] = None)
    extends InputPartition

class CramReaderFactory(pruned: StructType) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val cp = p.asInstanceOf[CramPartition]
    // readGroup materializes one container group; nothing left open
    val base = graft.sources.CramIO.readGroup(cp.file, cp.offsets, cp.refs,
      graft.sources.CramIO.CramMeta(cp.major, cp.foreign), cp.rgIds,
      cp.reference).iterator
    val it =
      if (cp.intervals.isEmpty) base
      else base.filter { r =>
        cp.intervals.exists { case (c, s, e) =>
          r.rname == c && r.pos <= e && math.max(r.end, r.pos) >= s
        }
      }
    new GraftDataSources.RecordReader(it, ExpressionEncoder[SamRecord](), pruned, () => ())
  }
}

// ---------------------------------------------------------- FASTQ / VCF

class FastqDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "fastq"
  override def supportsExternalMetadata(): Boolean = false
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ExpressionEncoder[SequencedFragment]().schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new FastqTable(new CaseInsensitiveStringMap(properties))
}

class FastqTable(options: CaseInsensitiveStringMap,
                 header: Option[GraftDataSinks.TextHeader] = None)
    extends GraftDataSources.SingleTable(
      s"fastq:${GraftDataSources.pathsOf(options).mkString(",")}",
      ExpressionEncoder[SequencedFragment]().schema) {
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new TextFramedScanBuilder[SequencedFragment](options,
      ExpressionEncoder[SequencedFragment](), FastqFraming)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val target = GraftDataSources.pathsOf(options).head
    TextBatchWrite.builder[SequencedFragment](target, info,
      ExpressionEncoder[SequencedFragment]().schema, GraftDataSinks.RowCodecs.fastq,
      TextFormats.fastqRecord, header.getOrElse(GraftDataSinks.textHeader(target, Nil)))
  }
}

object QseqFraming extends RangeFraming[SequencedFragment] {
  def frame(path: String, start: Long, end: Long, comp: RangedText.Compression)
      : (Iterator[SequencedFragment], () => Unit) = {
    val (lines, closer) = RangedText.openLines(path, start, end, comp, stopAtEnd = true)
    (lines.map(_.text).filter(_.nonEmpty).map(graft.sources.Qseq.parseLine _), closer)
  }
}

/** QSEQ as a DataSource V2 table (ref: QseqInputFormat.java /
  * QseqOutputFormat.java): one tab-separated record per line over the
  * same splittable ranged-text scan the other line formats ride, with
  * the shared SequencedFragment schema (illumina→sanger quality
  * conversion in the codec, as the reference's reader performs). */
// ---------------------------------------------------------------- FASTA

/** FASTA as a read-only DataSource V2 table: one row per sequence
  * line (contig, 1-based start, sequence), the same fragments the
  * typed [[graft.sources.Fasta.read]] produces.  With a `.fai`
  * sidecar, contig (=/IN) + `start` range predicates prune the
  * planned byte ranges to just the lines they can match — record
  * exactness stays with Spark's residual filters, as in the BAM/BCF
  * pushdown (ref role: FastaInputFormat.java, input only). */
class FastaDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "fasta"
  override def supportsExternalMetadata(): Boolean = false
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ExpressionEncoder[ReferenceFragment]().schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new FastaTable(new CaseInsensitiveStringMap(properties))
}

class FastaTable(options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  override def name(): String =
    s"fasta:${GraftDataSources.pathsOf(options).mkString(",")}"
  override def schema(): StructType = ExpressionEncoder[ReferenceFragment]().schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new FastaScanBuilder(options)
}

class FastaScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {
  private val enc = ExpressionEncoder[ReferenceFragment]()
  private var required: StructType = enc.schema
  private var pushed: Array[Filter] = Array.empty
  private var intervals: Seq[(String, Long, Long)] = Nil
  override def pruneColumns(r: StructType): Unit =
    required = GraftDataSources.prune(enc.schema, r)
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // Long domain: `start` is BIGINT and contigs may exceed 2^31 bases
    val (p, iv) = GraftDataSources.contigPosIntervalsLong(filters, "contig", "start")
    pushed = p
    intervals = iv
    filters // all residual: exact semantics stay with Spark
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def build(): Scan = {
    val splitSize = Option(options.get("splitsize")).map(_.toLong)
      .getOrElse(16L * 1024 * 1024)
    new FastaScan(GraftDataSources.pathsOf(options), splitSize, required,
      pushed, intervals)
  }
}

class FastaScan(paths: Seq[String], splitSize: Long, pruned: StructType,
                pushed: Array[Filter], intervals: Seq[(String, Long, Long)])
    extends Scan with Batch {
  override def readSchema(): StructType = pruned
  override def toBatch: Batch = this
  override def description(): String =
    s"graft fasta ${paths.mkString(",")} " +
      s"intervals=${if (intervals.isEmpty) "*" else intervals.mkString(",")} " +
      s"pushed=${pushed.mkString("[", ",", "]")}"
  override def planInputPartitions(): Array[InputPartition] =
    paths.flatMap { path =>
      val fai = Fasta.readFai(path)
      val ranges = (fai, intervals) match {
        case (Some(entries), iv) if iv.nonEmpty =>
          Fasta.planRangesFaiBounded(entries, splitSize, iv)
        case (Some(entries), _) => Fasta.planRangesFai(entries, splitSize)
        // no sidecar: one driver metadata scan, no pruning (residual
        // filters still make the result exact)
        case (None, _) => Fasta.planRanges(path, splitSize)
      }
      ranges.map(r => FastaPartition(path, r): InputPartition)
    }.toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new FastaReaderFactory(pruned)
}

case class FastaPartition(path: String, range: Fasta.FastaRange)
    extends InputPartition

class FastaReaderFactory(pruned: StructType) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val fp = p.asInstanceOf[FastaPartition]
    val (it, closer) = Fasta.openRange(fp.path, fp.range)
    new GraftDataSources.RecordReader(it, ExpressionEncoder[ReferenceFragment](),
      pruned, closer)
  }
}

class QseqDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "qseq"
  override def supportsExternalMetadata(): Boolean = false
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ExpressionEncoder[SequencedFragment]().schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new QseqTable(new CaseInsensitiveStringMap(properties))
}

class QseqTable(options: CaseInsensitiveStringMap,
                header: Option[GraftDataSinks.TextHeader] = None)
    extends GraftDataSources.SingleTable(
      s"qseq:${GraftDataSources.pathsOf(options).mkString(",")}",
      ExpressionEncoder[SequencedFragment]().schema) {
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new TextFramedScanBuilder[SequencedFragment](options,
      ExpressionEncoder[SequencedFragment](), QseqFraming)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val target = GraftDataSources.pathsOf(options).head
    TextBatchWrite.builder[SequencedFragment](target, info,
      ExpressionEncoder[SequencedFragment]().schema, GraftDataSinks.RowCodecs.fastq,
      TextFormats.qseqLine, header.getOrElse(GraftDataSinks.textHeader(target, Nil)))
  }
}

class SamDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "sam"
  override def supportsExternalMetadata(): Boolean = false
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ExpressionEncoder[SamRecord]().schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new SamTable(new CaseInsensitiveStringMap(properties))
}

class SamTable(options: CaseInsensitiveStringMap,
               header: Option[GraftDataSinks.TextHeader] = None)
    extends GraftDataSources.SingleTable(
      s"sam:${GraftDataSources.pathsOf(options).mkString(",")}",
      ExpressionEncoder[SamRecord]().schema) {
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new TextFramedScanBuilder[SamRecord](options,
      ExpressionEncoder[SamRecord](), SamFraming)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val target = GraftDataSources.pathsOf(options).head
    TextBatchWrite.builder[SamRecord](target, info,
      ExpressionEncoder[SamRecord]().schema, GraftDataSinks.RowCodecs.sam,
      TextFormats.samLine, header.getOrElse(GraftDataSinks.textHeader(target,
        GraftDataSinks.samLines(
          GraftDataSinks.samHeaderFrom(Option(info.options.get("header")))))))
  }
}

/** VCF scan with tabix-backed bounded traversal: `chrom` equality/IN
  * plus `pos` bounds prune `.tbi` chunks before tasks launch — the
  * reference's `VCFInputFormat.filterByInterval` (tabix split
  * filtering, VCFInputFormat.java:388-460) surfacing as Catalyst
  * predicate pushdown, exactly like the BAM source's `.bai`/`.csi`
  * path.  Filter-derived intervals prune chunks ONLY (every record in
  * surviving chunks flows out; Spark re-applies the predicates
  * exactly); the `intervals` OPTION applies the reference's
  * record-level overlap semantics (POS..POS+len(REF)-1, END= honored).
  * Unindexed or plain-text files keep the full-range plan. */
class VcfScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private val enc = ExpressionEncoder[VcfVariant]()
  private var required: StructType = enc.schema
  private var pushed: Array[Filter] = Array.empty
  private var intervals: Seq[(String, Int, Int)] = Nil

  override def pruneColumns(r: StructType): Unit =
    required = GraftDataSources.prune(enc.schema, r)

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (p, iv) = GraftDataSources.contigPosIntervals(filters, "chrom", "pos")
    pushed = p
    intervals = iv
    filters // all residual: exact semantics stay with Spark
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = {
    val splitSize = Option(options.get("splitsize")).map(_.toLong)
      .getOrElse(64L * 1024 * 1024)
    val optionIntervals = Option(options.get("intervals"))
    new VcfScan(GraftDataSources.pathsOf(options), splitSize, required,
      pushed, intervals, optionIntervals)
  }
}

class VcfScan(paths: Seq[String], splitSize: Long, pruned: StructType,
              pushed: Array[Filter], filterIntervals: Seq[(String, Int, Int)],
              optionIntervals: Option[String]) extends Scan with Batch {
  private val enc = ExpressionEncoder[VcfVariant]()

  override def readSchema(): StructType = pruned
  override def toBatch: Batch = this
  override def description(): String =
    s"graft vcf ${paths.mkString(",")} " +
      s"intervals=${optionIntervals.getOrElse(if (filterIntervals.isEmpty) "*"
        else filterIntervals.mkString(","))} " +
      s"pushed=${pushed.mkString("[", ",", "]")}"

  override def planInputPartitions(): Array[InputPartition] = {
    val optIv = optionIntervals.map(s => BamIO.parseIntervalSpec(s))
    val pruneIv = optIv.getOrElse(filterIntervals)
    paths.flatMap { path =>
      val bounded =
        if (pruneIv.isEmpty) None
        else Vcf.planBounded(path, pruneIv, splitSize).map(_.map { t =>
          VcfChunkPartition(t): InputPartition
        })
      bounded.getOrElse {
        val comp = RangedText.compression(path)
        // full-range fallback (plain text / no .tbi): the authoritative
        // `intervals` option must still filter records here — only
        // filter-derived intervals may rely on Spark's residual
        // predicates for exactness
        val optionIv = optIv.getOrElse(Nil).toArray
        RangedText.ranges(path, splitSize).map { case (s, e) =>
          VcfRangePartition(path, s, e, comp, optionIv): InputPartition
        }
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new VcfReaderFactory(pruned)

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(paths.size == 1,
      s"streaming reads tail exactly one directory; got ${paths.size} paths")
    require(optionIntervals.isEmpty,
      "bounded traversal (intervals) applies to batch reads; " +
        "filter the stream with ordinary predicates instead")
    new TextFramedMicroBatchStream[VcfVariant](paths.head, splitSize, pruned,
      enc, VcfFraming, checkpointLocation)
  }
}

case class VcfChunkPartition(task: Vcf.ChunkTask) extends InputPartition

case class VcfRangePartition(path: String, start: Long, end: Long,
                             comp: RangedText.Compression,
                             intervals: Array[(String, Int, Int)])
    extends InputPartition

class VcfReaderFactory(pruned: StructType) extends PartitionReaderFactory {
  // lazy decode from the pruned schema (ref: LazyVCFGenotypesContext
  // .java:1): a site-only projection never parses genotype columns
  private def mask: Int = GraftDataSources.vcfPrunedMask(pruned)
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case VcfChunkPartition(task) =>
        // [[Vcf.openTask]]'s ownership rule makes records exactly-once
        // across tasks AND applies the interval-overlap semantics the
        // `intervals` option promises; for filter-derived intervals the
        // same output is a superset of what Spark's residual predicates
        // keep, so exactness stays with Spark either way
        val (it, closer) = Vcf.openTask(task, mask)
        new GraftDataSources.RecordReader(it,
          ExpressionEncoder[VcfVariant](), pruned, closer)
      case VcfRangePartition(path, start, end, comp, intervals) =>
        // the interval overlap filter below needs INFO END= spans
        val m = if (intervals.isEmpty) mask else mask | Vcf.FInfo
        val (it, closer) = VcfFraming.frameMasked(path, start, end, comp, m)
        val filtered =
          if (intervals.isEmpty) it
          else {
            val merged = Vcf.mergeIntervals(intervals.toSeq)
            it.filter { v =>
              merged.get(v.chrom).exists(_.exists { case (s, e) =>
                v.pos <= e && Vcf.spanEnd(v) >= s
              })
            }
          }
        new GraftDataSources.RecordReader(filtered, ExpressionEncoder[VcfVariant](),
          pruned, closer)
    }
}

// ------------------------------------------------------------------ BCF

/** BCF2 as a DataSource V2 table: `spark.read.format("bcf")` with the
  * same bounded-traversal pushdown as the vcf/bam sources — `chrom`
  * equality/IN + `pos` bounds (or the authoritative `intervals`
  * option) prune to disjoint record-aligned VO ranges through a
  * `.csi` or the v2 sidecar splitting index (BcfIO.planIntervalRanges).
  * Writes mirror the BAM sink: per-task header-less shards + driver
  * merge, dictionaries donated by option("header", <.bcf/.vcf>). */
class BcfDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "bcf"
  override def supportsExternalMetadata(): Boolean = false
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ExpressionEncoder[VcfVariant]().schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new BcfTable(new CaseInsensitiveStringMap(properties))
}

class BcfTable(options: CaseInsensitiveStringMap, dicts: Option[BcfIO.Dicts] = None)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String =
    s"bcf:${GraftDataSources.pathsOf(options).mkString(",")}"
  override def schema(): StructType = ExpressionEncoder[VcfVariant]().schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new BcfScanBuilder(options)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val target = GraftDataSources.pathsOf(options).head
    val d = dicts.getOrElse(GraftDataSinks.bcfDictsFrom(Option(info.options.get("header"))))
    val granularity = GraftDataSinks.granularityOf(info.options)
    new GraftWriteBuilder(target, info, "bcf",
      new BcfBatchWrite(target, _, d, granularity, info.schema()))
  }
}

class BcfScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private val enc = ExpressionEncoder[VcfVariant]()
  private var required: StructType = enc.schema
  private var pushed: Array[Filter] = Array.empty
  private var intervals: Seq[(String, Int, Int)] = Nil

  override def pruneColumns(r: StructType): Unit =
    required = GraftDataSources.prune(enc.schema, r)

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (p, iv) = GraftDataSources.contigPosIntervals(filters, "chrom", "pos")
    pushed = p
    intervals = iv
    filters // all residual: exact semantics stay with Spark
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = {
    val splitSize = Option(options.get("splitsize")).map(_.toLong)
      .getOrElse(64L * 1024 * 1024)
    new BcfScan(GraftDataSources.pathsOf(options), splitSize, required,
      pushed, intervals, Option(options.get("intervals")))
  }
}

class BcfScan(paths: Seq[String], splitSize: Long, pruned: StructType,
              pushed: Array[Filter], filterIntervals: Seq[(String, Int, Int)],
              optionIntervals: Option[String]) extends Scan with Batch {
  override def readSchema(): StructType = pruned
  override def toBatch: Batch = this
  override def description(): String =
    s"graft bcf ${paths.mkString(",")} " +
      s"intervals=${optionIntervals.getOrElse(if (filterIntervals.isEmpty) "*"
        else filterIntervals.mkString(","))} " +
      s"pushed=${pushed.mkString("[", ",", "]")}"

  override def planInputPartitions(): Array[InputPartition] = {
    val optIv = optionIntervals.map(s => BamIO.parseIntervalSpec(s))
    val pruneIv = optIv.getOrElse(filterIntervals)
    paths.flatMap { path =>
      val header = BcfIO.headerInfo(path)
      val ranges =
        (if (pruneIv.isEmpty) None
         else BcfIO.planIntervalRanges(path, header, pruneIv, splitSize))
          .getOrElse(BcfIO.planFullRanges(path, header, splitSize))
      // option intervals are authoritative record filters; the
      // filter-derived ranges leave exactness to Spark's residual.
      // dicts ride the partition: re-parsing the header once per task
      // would cost an extra remote open + BGZF decode each
      ranges.map { case (s, e) =>
        BcfPartition(path, s, e, optIv.getOrElse(Nil).toArray, header._1): InputPartition
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new BcfReaderFactory(pruned)

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(paths.size == 1,
      s"streaming reads tail exactly one directory; got ${paths.size} paths")
    require(optionIntervals.isEmpty,
      "bounded traversal (intervals) applies to batch reads; " +
        "filter the stream with ordinary predicates instead")
    new BcfMicroBatchStream(paths.head, splitSize, pruned, checkpointLocation)
  }
}

/** BCF shards landing in a directory (cohort pipelines emit BCF
  * continuously): each new file plans the same record-aligned VO
  * ranges the batch scan would, and the lazy genotype mask from the
  * pruned schema applies identically. */
class BcfMicroBatchStream(dir: String, splitSize: Long, pruned: StructType,
                          checkpointLocation: String)
    extends FileLogMicroBatchStream(dir, checkpointLocation) {
  // variant callers land .bcf files alongside sidecar indexes
  // (.bcf.sidx/.csi) — only the records are rows
  override protected def accepts(name: String): Boolean = name.endsWith(".bcf")
  override protected def planFile(path: String): Seq[InputPartition] = {
    val header = BcfIO.headerInfo(path)
    BcfIO.planFullRanges(path, header, splitSize).map { case (s, e) =>
      BcfPartition(path, s, e, Array.empty, header._1): InputPartition
    }
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new BcfReaderFactory(pruned)
}

case class BcfPartition(file: String, startVo: Long, endVo: Long,
                        intervals: Array[(String, Int, Int)],
                        dicts: BcfIO.Dicts) extends InputPartition

class BcfReaderFactory(pruned: StructType) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val bp = p.asInstanceOf[BcfPartition]
    // lazy decode from the pruned schema: a site-only projection skips
    // the genotype matrix at byte level (and the INFO walk when
    // neither INFO column nor an interval filter needs it)
    val mask0 = GraftDataSources.vcfPrunedMask(pruned)
    val mask = if (bp.intervals.isEmpty) mask0 else mask0 | Vcf.FInfo
    val (base, closer) =
      BcfIO.openRangeWithCloser(bp.file, bp.startVo, bp.endVo, bp.dicts, mask)
    val it =
      if (bp.intervals.isEmpty) base
      else base.filter(BcfIO.overlapFilter(Vcf.mergeIntervals(bp.intervals.toSeq)))
    new GraftDataSources.RecordReader(it, ExpressionEncoder[VcfVariant](),
      pruned, closer)
  }
}

class VcfDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "vcf"
  override def supportsExternalMetadata(): Boolean = false
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ExpressionEncoder[VcfVariant]().schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new VcfTable(new CaseInsensitiveStringMap(properties))
}

class VcfTable(options: CaseInsensitiveStringMap,
               header: Option[GraftDataSinks.TextHeader] = None)
    extends GraftDataSources.SingleTable(
      s"vcf:${GraftDataSources.pathsOf(options).mkString(",")}",
      ExpressionEncoder[VcfVariant]().schema) {
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new VcfScanBuilder(options)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val target = GraftDataSources.pathsOf(options).head
    TextBatchWrite.builder[VcfVariant](target, info,
      ExpressionEncoder[VcfVariant]().schema, GraftDataSinks.RowCodecs.vcf,
      TextFormats.vcfLine, header.getOrElse(GraftDataSinks.textHeader(target,
        // a header-less VCF is spec-invalid (no ##fileformat/#CHROM) and
        // breaks foreign tooling — required, like the typed writer
        Vcf.readHeader(Option(info.options.get("header"))
          .getOrElse(throw new IllegalArgumentException(
            "VCF writes need option(\"header\", <path to an existing .vcf/.vcf.bgz>) " +
              "— a header-less VCF is spec-invalid"))).lines)))
  }
}
