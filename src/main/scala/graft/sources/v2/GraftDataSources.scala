package graft.sources.v2

import java.util

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.model.{ReferenceFragment, SamHeader, SamRecord, SequencedFragment, VcfVariant}
import graft.sources.{BamIO, BcfIO, CramIO, Fasta, Fastq, Fs, Qseq, RangedText, Sam, Vcf}

/** The read side of every graft format — the reference's
  * `InputFormat.getSplits` + `RecordReader` pair, defined ONCE per
  * format and served through two faces:
  *
  *   - the planner: one driver-side function per format (`BamIO.plan`,
  *     `CramIO.plan`, `Vcf.plan`, `BcfIO.plan`, `Fasta.plan`,
  *     `TextRangePartition.plan`) returning its partitions;
  *   - the partition: a [[GraftPartition]] that opens itself on the
  *     executor, decode mask in hand, including the format's
  *     record-level interval filter.
  *
  * The SQL face is `spark.read.format(...)` / `spark.readStream`:
  *
  *   spark.read.format("bam").option("intervals", "chr1:1-10000")
  *     .load("reads.bam")
  *   spark.read.format("fastq").load("reads.fastq")
  *   spark.read.format("vcf").load("calls.vcf.bgz")
  *
  * [[GraftScan]] runs the planner once per query over each load path;
  * [[GraftReaderFactory]] wraps `open` in a [[RecordReader]], the mask
  * coming from the pruned schema.  The typed face
  * ([[GraftDataSources.typed]], behind `BamIO.read`, `Vcf.readIntervals`,
  * ...) parallelizes the same partitions and opens them in a flatMap,
  * so typed `.map`s run on the decoded objects with no row conversion
  * (a V2 row is serialized, projected and deserialized again for
  * `.as[T]` — measured 1.27–1.64× slower on full scans).
  *
  * Interval semantics: contig equality/IN with position bounds in a
  * filter become intervals that prune CHUNKS only — records inside
  * surviving chunks all flow to Spark, which re-applies every
  * predicate exactly (pushing them into the record-level overlap
  * filter would wrongly drop rows the residual keeps, e.g.
  * zero-reference-length reads whose end < pos).  The `intervals`
  * OPTION and the typed readers' `intervals` argument are the
  * reference's authoritative filter (`hadoopbam.bam.intervals`,
  * ref: BAMInputFormat.java:150-190) and apply record-level overlap
  * semantics.  Multi-path loads plan partitions per file.
  */
object GraftDataSources {

  /** Decode mask for a DSv2 pruned schema over VcfVariant: an EMPTY
    * pruned schema is count(*) — decode nothing beyond site fields
    * (mask 0), NOT the typed readers' Nil-means-everything
    * convention.  Shared by the VCF and BCF scans; public within graft
    * so the lazy-decode contract is directly testable. */
  private[graft] def vcfPrunedMask(pruned: StructType): Int =
    if (pruned.fieldNames.isEmpty) 0
    else graft.sources.Vcf.maskFor(pruned.fieldNames.toSeq)

  /** Same contract for the BAM scan's SamRecord schema. */
  private[graft] def bamPrunedMask(pruned: StructType): Int =
    if (pruned.fieldNames.isEmpty) 0
    else graft.sources.BamCodec.maskFor(pruned.fieldNames.toSeq)

  /** The typed face: one task per planned partition, each opened with
    * the `fields` decode mask. */
  private[graft] def typed[T](spark: SparkSession, parts: Seq[GraftPartition[T]], fields: Int)
                             (implicit enc: Encoder[T]): Dataset[T] =
    spark.createDataset(spark.sparkContext.parallelize(parts, math.max(1, parts.size))
      .flatMap(_.open(fields)._1)(enc.clsTag))

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

  private[v2] def splitSizeOf(options: CaseInsensitiveStringMap,
                              default: Long = 64L * 1024 * 1024): Long =
    Option(options.get("splitsize")).map(_.toLong).getOrElse(default)

  private[v2] def prune(full: StructType, required: StructType): StructType =
    // keep only fields we actually have (Spark may ask for metadata cols)
    StructType(required.filter(f => full.fieldNames.contains(f.name)))

  /** Bounded-traversal filter extraction: a conjunction of contig
    * equality/IN on `contigCol` with bounds on `posCol` becomes an
    * interval set for chunk pruning.  Returns (the filters to
    * advertise as pushed, the derived intervals); everything stays
    * residual with Spark — the chunks over-approximate and every
    * predicate is re-checked exactly.  Long domain, so FASTA `start`
    * on >2 Gbp contigs is not clamped (see [[intIntervals]]). */
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

  /** Int-position formats (BAM/CRAM/VCF/BCF): clamping is sound
    * because the column itself cannot exceed Int range. */
  private[v2] def intIntervals(iv: Seq[(String, Long, Long)]): Seq[(String, Int, Int)] =
    iv.map(i => (i._1, i._2.min(Int.MaxValue.toLong).toInt, i._3.min(Int.MaxValue.toLong).toInt))

  /** Scan description tail for the interval-bounded formats. */
  private[v2] def boundsDetail(spec: Option[String], filterIntervals: Seq[_],
                               pushed: Array[Filter]): String =
    s" intervals=${spec.getOrElse(if (filterIntervals.isEmpty) "*"
      else filterIntervals.mkString(","))} pushed=${pushed.mkString("[", ",", "]")}"

  /** The scan of a line-framed text format (FASTQ, SAM, QSEQ). */
  private[v2] def textScanBuilder[T](options: CaseInsensitiveStringMap, name: String,
      enc: ExpressionEncoder[T], format: TextRangePartition.Format[T]): ScanBuilder =
    new GraftScanBuilder[T](enc, None, { (pruned, _, _) =>
      val splitSize = splitSizeOf(options)
      new GraftScan[T](name, pathsOf(options), pruned, enc, 0, "",
        TextRangePartition.plan(_, splitSize, format), stream = Some(_ => true))
    })

  private[v2] abstract class SingleTable(tableName: String, tableSchema: StructType)
      extends Table with SupportsRead
      with org.apache.spark.sql.connector.catalog.SupportsWrite {
    override def name(): String = tableName
    override def schema(): StructType = tableSchema
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
        TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ)
  }
}

// ------------------------------------------------- the partition contract

/** One planned unit of a format's scan.  `open` runs on the executor:
  * it decodes the partition's records under the `fields` mask (the
  * format's own column-group bits; formats without lazy decode ignore
  * it) and returns them with a closer that releases the input when a
  * consumer abandons the iterator early (LIMIT, task abort). */
trait GraftPartition[T] extends InputPartition {
  def open(fields: Int): (Iterator[T], () => Unit)
}

/** The SQL face's one reader factory: opens any format's partition and
  * serializes its records onto the pruned schema. */
class GraftReaderFactory[T](enc: ExpressionEncoder[T], pruned: StructType, fields: Int)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val (it, closer) = p.asInstanceOf[GraftPartition[T]].open(fields)
    new GraftDataSources.RecordReader(it, enc, pruned, closer)
  }
}

/** Column pruning plus, with a `(contig, position)` column pair,
  * chunk-pruning pushdown ([[GraftDataSources.contigPosIntervalsLong]]):
  * every filter stays residual.  `scan` builds the Scan from the pruned
  * schema, the filters advertised as pushed and the filter-derived
  * intervals. */
class GraftScanBuilder[T](enc: ExpressionEncoder[T], key: Option[(String, String)],
                          scan: (StructType, Array[Filter], Seq[(String, Long, Long)]) => Scan)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {
  private var required: StructType = enc.schema
  private var pushed: Array[Filter] = Array.empty
  private var intervals: Seq[(String, Long, Long)] = Nil

  override def pruneColumns(r: StructType): Unit =
    required = GraftDataSources.prune(enc.schema, r)
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    key.foreach { case (contigCol, posCol) =>
      val (p, iv) = GraftDataSources.contigPosIntervalsLong(filters, contigCol, posCol)
      pushed = p
      intervals = iv
    }
    filters // all residual: exact semantics stay with Spark
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def build(): Scan = scan(required, pushed, intervals)
}

/** The SQL face of one format's scan.  `planFile` is the format's
  * planner for one path; it runs once per Scan (Spark asks for the
  * partitions more than once per query, and builds a new Scan for each
  * query, so a later query still sees a rewritten file).  `stream`
  * names the files of a landing directory that are records (None: no
  * streaming read); `bounded` marks an `intervals`/`includeunmapped`
  * option, which only batch reads honour. */
class GraftScan[T](format: String, paths: Seq[String], pruned: StructType,
                   enc: ExpressionEncoder[T], fields: Int, detail: String,
                   planFile: String => Seq[GraftPartition[T]],
                   stream: Option[String => Boolean] = None, bounded: Boolean = false)
    extends Scan with Batch {
  private lazy val partitions: Array[InputPartition] =
    paths.flatMap(planFile).toArray[InputPartition]

  override def readSchema(): StructType = pruned
  override def toBatch: Batch = this
  override def description(): String = s"graft $format ${paths.mkString(",")}$detail"
  override def planInputPartitions(): Array[InputPartition] = partitions
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(enc, pruned, fields)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    val accepts = stream.getOrElse(
      throw new UnsupportedOperationException(s"$format: no streaming read"))
    require(paths.size == 1,
      s"streaming reads tail exactly one directory; got ${paths.size} paths " +
        s"(${paths.mkString(", ")}) — start one query per directory")
    require(!bounded,
      "bounded traversal (intervals/includeunmapped) applies to batch reads; " +
        "filter the stream with ordinary predicates instead")
    new GraftMicroBatchStream[T](paths.head, checkpointLocation, accepts, planFile,
      createReaderFactory())
  }
}

// ------------------------------------------------ streaming micro-batch

/** Offset = length of the discovered-file log. */
case class FileSeqOffset(n: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = n.toString
}

/** Directory-tailing micro-batch source — the streaming face of the
  * same codecs (`spark.readStream.format("fastq").load(dir)`), for the
  * records-arriving-as-files-land pattern (sequencer output, aligner
  * shards, cohort BCFs, log shipping).  Each committed batch is the
  * slice of newly discovered files; each file is planned by the batch
  * scan's own planner, so executor fan-out is identical.  `accepts`
  * filters file NAMES (sidecar indexes and foreign files in the landing
  * directory must not enter the log).
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
class GraftMicroBatchStream[T](dir: String, checkpointLocation: String,
                               accepts: String => Boolean,
                               planFile: String => Seq[GraftPartition[T]],
                               factory: PartitionReaderFactory)
    extends MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

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
    Fs.moveOver(fs, tmp, logPath)
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
    known.slice(s, e).flatMap(planFile).toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory = factory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
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
  * resolves `option("header", path)`.  Reads push `rname` equality/IN
  * plus `pos` bounds into chunk pruning through the sidecar/.bai/.csi
  * index before any task launches. */
class BamTable(options: CaseInsensitiveStringMap, header: Option[SamHeader] = None)
    extends GraftDataSources.SingleTable(
      s"bam:${GraftDataSources.pathsOf(options).mkString(",")}",
      ExpressionEncoder[SamRecord]().schema) {
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder = {
    val enc = ExpressionEncoder[SamRecord]()
    new GraftScanBuilder[SamRecord](enc, Some(("rname", "pos")), { (pruned, pushed, filterIv) =>
      val spec = Option(options.get("intervals"))
      val splitSize = GraftDataSources.splitSizeOf(options)
      val includeUnmapped = Option(options.get("includeunmapped")).exists(_.toBoolean)
      val pruneIv = GraftDataSources.intIntervals(filterIv)
      // option intervals are authoritative record filters, parsed
      // against each file's own header; filter-derived intervals prune
      // chunks only.  Prune-then-decode: the pruned schema drives the
      // byte-level field mask, so a SELECT qname, pos never builds
      // seq/qual/tag strings.
      new GraftScan[SamRecord]("bam", GraftDataSources.pathsOf(options), pruned, enc,
        GraftDataSources.bamPrunedMask(pruned),
        GraftDataSources.boundsDetail(spec, filterIv, pushed),
        path => BamIO.plan(path, splitSize, includeUnmapped, exact = spec.nonEmpty) { h =>
          spec.fold(pruneIv)(BamIO.parseIntervals(_, h))
        },
        // aligners land .bam files alongside their sidecar indexes
        // (.bam.sidx/.bai/.csi/.gbi) — only the alignments are records
        stream = Some(_.endsWith(".bam")), bounded = spec.nonEmpty || includeUnmapped)
    })
  }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val target = GraftDataSources.pathsOf(options).head
    val h = header.getOrElse(GraftDataSinks.samHeaderFrom(Option(info.options.get("header"))))
    val granularity = GraftDataSinks.granularityOf(info.options)
    val decode = GraftDataSinks.decoder(ExpressionEncoder[SamRecord]().schema, info.schema(),
      GraftDataSinks.RowCodecs.sam)
    new GraftWriteBuilder(target, info, "bam",
      new BgzfBatchWrite(target, _, BamIO.RecordCodec(h), granularity, decode))
  }
}

/** Records with start VO in [startVo, endVo); `intervals` (authoritative
  * only) filter by overlap, `includeUnmapped` keeps the unplaced tail. */
case class BamPartition(file: String, startVo: Long, endVo: Long,
                        refs: Array[graft.model.SamRef],
                        intervals: Array[(String, Int, Int)],
                        includeUnmapped: Boolean) extends GraftPartition[SamRecord] {
  def open(fields: Int): (Iterator[SamRecord], () => Unit) =
    BamIO.openRange(file, startVo, endVo, refs, intervals, includeUnmapped, fields)
}

// ------------------------------------------- splittable text formats

/** One byte range of a line-framed text file, under RangedText's
  * ownership rule; `format` frames the owned lines into records. */
case class TextRangePartition[T](path: String, start: Long, end: Long,
                                 comp: RangedText.Compression,
                                 format: TextRangePartition.Format[T])
    extends GraftPartition[T] {
  import TextRangePartition._
  def open(fields: Int): (Iterator[T], () => Unit) = {
    // a FASTQ record's 4 lines may run past the range end: its framer
    // applies the ownership rule to each record's first line instead
    val (lines, closer) =
      RangedText.openLines(path, start, end, comp, stopAtEnd = format != FastqText)
    val records: Iterator[Any] = (format: Format[_]) match {
      case FastqText => Fastq.frame(lines, start, RangedText.endBound(end, comp))
      case SamText =>
        lines.map(_.text).filter(l => l.nonEmpty && !l.startsWith("@")).map(Sam.parseLine)
      case QseqText => lines.map(_.text).filter(_.nonEmpty).map(Qseq.parseLine)
    }
    (records.asInstanceOf[Iterator[T]], closer) // T is fixed by `format`
  }
}

object TextRangePartition {
  sealed abstract class Format[T] extends Serializable
  case object FastqText extends Format[SequencedFragment]
  case object SamText extends Format[SamRecord]
  case object QseqText extends Format[SequencedFragment]

  /** The text planner: `splitSize` byte ranges (block-aligned for
    * BGZF; plain gzip is one whole-file range). */
  def plan[T](path: String, splitSize: Long, format: Format[T]): Seq[TextRangePartition[T]] = {
    val comp = RangedText.compression(path)
    RangedText.ranges(path, splitSize).map { case (s, e) =>
      TextRangePartition(path, s, e, comp, format)
    }
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

/** CRAM with container-level bounded traversal: `rname` equality/IN +
  * `pos` bounds (or the `intervals` option) prune whole containers
  * through the `.crai` / container-header walk before tasks launch. */
class CramTable(options: CaseInsensitiveStringMap, header: Option[SamHeader] = None)
    extends GraftDataSources.SingleTable(
      s"cram:${GraftDataSources.pathsOf(options).mkString(",")}",
      ExpressionEncoder[SamRecord]().schema) {
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder = {
    val enc = ExpressionEncoder[SamRecord]()
    new GraftScanBuilder[SamRecord](enc, Some(("rname", "pos")), { (pruned, pushed, filterIv) =>
      val spec = Option(options.get("intervals"))
      val splitSize = GraftDataSources.splitSizeOf(options)
      val iv = spec.map(BamIO.parseIntervalSpec(_))
        .getOrElse(GraftDataSources.intIntervals(filterIv))
      val reference = Option(options.get("reference"))
      new GraftScan[SamRecord]("cram", GraftDataSources.pathsOf(options), pruned, enc, 0,
        GraftDataSources.boundsDetail(spec, filterIv, pushed),
        CramIO.plan(_, iv, exact = spec.nonEmpty, splitSize, reference))
    })
  }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val target = GraftDataSources.pathsOf(options).head
    val h = header.getOrElse(GraftDataSinks.samHeaderFrom(Option(info.options.get("header"))))
    val profile = GraftDataSinks.cramProfileOf(info.options)
    new GraftWriteBuilder(target, info, "cram",
      new CramBatchWrite(target, _, h, info.schema(), profile))
  }
}

/** One group of consecutive containers; `intervals` (authoritative
  * only) filter records by overlap. */
case class CramPartition(file: String, offsets: Seq[Long],
                         refs: Array[graft.model.SamRef],
                         intervals: Array[(String, Int, Int)],
                         major: Int, foreign: Boolean,
                         rgIds: Array[String],
                         reference: Option[String])
    extends GraftPartition[SamRecord] {
  def open(fields: Int): (Iterator[SamRecord], () => Unit) = {
    // readGroup materializes the group; nothing is left open
    val recs = CramIO.readGroup(file, offsets, refs, CramIO.CramMeta(major, foreign),
      rgIds, reference).iterator
    (if (intervals.isEmpty) recs
     else recs.filter { r =>
       intervals.exists { case (c, s, e) =>
         r.rname == c && r.pos <= e && math.max(r.end, r.pos) >= s
       }
     }, () => ())
  }
}

// ---------------------------------------------------------- FASTQ / QSEQ / SAM

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
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    GraftDataSources.textScanBuilder(options, "fastq",
      ExpressionEncoder[SequencedFragment](), TextRangePartition.FastqText)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val target = GraftDataSources.pathsOf(options).head
    TextBatchWrite.builder[SequencedFragment](target, info,
      ExpressionEncoder[SequencedFragment]().schema, GraftDataSinks.RowCodecs.fastq,
      TextFormats.fastqRecord, header.getOrElse(GraftDataSinks.textHeader(target, Nil)))
  }
}

/** QSEQ as a DataSource V2 table (ref: QseqInputFormat.java /
  * QseqOutputFormat.java): one tab-separated record per line over the
  * same splittable ranged-text scan the other line formats ride, with
  * the shared SequencedFragment schema (illumina→sanger quality
  * conversion in the codec, as the reference's reader performs). */
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
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    GraftDataSources.textScanBuilder(options, "qseq",
      ExpressionEncoder[SequencedFragment](), TextRangePartition.QseqText)
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
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    GraftDataSources.textScanBuilder(options, "sam",
      ExpressionEncoder[SamRecord](), TextRangePartition.SamText)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val target = GraftDataSources.pathsOf(options).head
    TextBatchWrite.builder[SamRecord](target, info,
      ExpressionEncoder[SamRecord]().schema, GraftDataSinks.RowCodecs.sam,
      TextFormats.samLine, header.getOrElse(GraftDataSinks.textHeader(target,
        GraftDataSinks.samLines(
          GraftDataSinks.samHeaderFrom(Option(info.options.get("header")))))))
  }
}

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
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder = {
    val enc = ExpressionEncoder[ReferenceFragment]()
    // Long domain: `start` is BIGINT and contigs may exceed 2^31 bases
    new GraftScanBuilder[ReferenceFragment](enc, Some(("contig", "start")), {
      (pruned, pushed, filterIv) =>
        val splitSize = GraftDataSources.splitSizeOf(options, 16L * 1024 * 1024)
        new GraftScan[ReferenceFragment]("fasta", GraftDataSources.pathsOf(options),
          pruned, enc, 0, GraftDataSources.boundsDetail(None, filterIv, pushed),
          Fasta.plan(_, splitSize, filterIv))
    })
  }
}

/** Whole sequence lines of one planned byte range, one row each. */
case class FastaPartition(path: String, range: Fasta.FastaRange)
    extends GraftPartition[ReferenceFragment] {
  def open(fields: Int): (Iterator[ReferenceFragment], () => Unit) =
    Fasta.openRange(path, range)
}

/** One chunk [start, end] of a requested region, as a single fragment
  * (the typed [[graft.sources.Fasta.readRegions]]). */
case class FastaRegionPartition(path: String, entry: Fasta.FaiEntry, start: Long, end: Long)
    extends GraftPartition[ReferenceFragment] {
  def open(fields: Int): (Iterator[ReferenceFragment], () => Unit) =
    (Iterator.single(ReferenceFragment(entry.name, start,
      Fasta.fetch(path, entry, start, end))), () => ())
}

// ------------------------------------------------------------------ VCF

class VcfDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "vcf"
  override def supportsExternalMetadata(): Boolean = false
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ExpressionEncoder[VcfVariant]().schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new VcfTable(new CaseInsensitiveStringMap(properties))
}

/** VCF with tabix-backed bounded traversal: `chrom` equality/IN plus
  * `pos` bounds prune `.tbi` chunks before tasks launch — the
  * reference's `VCFInputFormat.filterByInterval` (tabix split
  * filtering, VCFInputFormat.java:388-460) surfacing as Catalyst
  * predicate pushdown.  The `intervals` OPTION applies the reference's
  * record-level overlap semantics (POS..POS+len(REF)-1, END= honored).
  * Unindexed or plain-text files keep the full-range plan.  Lazy
  * decode from the pruned schema (ref: LazyVCFGenotypesContext
  * .java:1): a site-only projection never parses genotype columns. */
class VcfTable(options: CaseInsensitiveStringMap,
               header: Option[GraftDataSinks.TextHeader] = None)
    extends GraftDataSources.SingleTable(
      s"vcf:${GraftDataSources.pathsOf(options).mkString(",")}",
      ExpressionEncoder[VcfVariant]().schema) {
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder = {
    val enc = ExpressionEncoder[VcfVariant]()
    new GraftScanBuilder[VcfVariant](enc, Some(("chrom", "pos")), { (pruned, pushed, filterIv) =>
      val spec = Option(options.get("intervals"))
      val splitSize = GraftDataSources.splitSizeOf(options)
      val iv = spec.map(BamIO.parseIntervalSpec(_))
        .getOrElse(GraftDataSources.intIntervals(filterIv))
      new GraftScan[VcfVariant]("vcf", GraftDataSources.pathsOf(options), pruned, enc,
        GraftDataSources.vcfPrunedMask(pruned),
        GraftDataSources.boundsDetail(spec, filterIv, pushed),
        Vcf.plan(_, iv, exact = spec.nonEmpty, splitSize),
        stream = Some(_ => true), bounded = spec.nonEmpty)
    })
  }
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

/** One `.tbi` chunk task.  [[Vcf.openTask]]'s ownership rule makes
  * records exactly-once across tasks AND applies the interval-overlap
  * semantics; for filter-derived intervals the same output is a
  * superset of what Spark's residual predicates keep. */
case class VcfChunkPartition(task: Vcf.ChunkTask) extends GraftPartition[VcfVariant] {
  def open(fields: Int): (Iterator[VcfVariant], () => Unit) = Vcf.openTask(task, fields)
}

/** One ranged-text split of a VCF; `intervals` (authoritative only)
  * filter by overlap. */
case class VcfRangePartition(path: String, start: Long, end: Long,
                             comp: RangedText.Compression,
                             intervals: Array[(String, Int, Int)])
    extends GraftPartition[VcfVariant] {
  def open(fields: Int): (Iterator[VcfVariant], () => Unit) =
    Vcf.openOverlapping(intervals, fields) { mask =>
      val (lines, closer) = RangedText.openLines(path, start, end, comp, stopAtEnd = true)
      (lines.filter(l => l.text.nonEmpty && !l.text.startsWith("#"))
        .map(l => Vcf.parseLine(l.text, mask)), closer)
    }
}

// ------------------------------------------------------------------ BCF

/** BCF2 as a DataSource V2 table: `spark.read.format("bcf")` with the
  * same bounded-traversal pushdown as the vcf/bam sources — `chrom`
  * equality/IN + `pos` bounds (or the authoritative `intervals`
  * option) prune to disjoint record-aligned VO ranges through a
  * `.csi` or the v2 sidecar splitting index (BgzfRecords.plan, the BAM
  * planner too).  Writes run the BAM sink's BGZF record path: per-task
  * header-less shards + driver merge, dictionaries donated by
  * option("header", <.bcf/.vcf>). */
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
    extends GraftDataSources.SingleTable(
      s"bcf:${GraftDataSources.pathsOf(options).mkString(",")}",
      ExpressionEncoder[VcfVariant]().schema) {
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder = {
    val enc = ExpressionEncoder[VcfVariant]()
    new GraftScanBuilder[VcfVariant](enc, Some(("chrom", "pos")), { (pruned, pushed, filterIv) =>
      val spec = Option(options.get("intervals"))
      val splitSize = GraftDataSources.splitSizeOf(options)
      val iv = spec.map(BamIO.parseIntervalSpec(_))
        .getOrElse(GraftDataSources.intIntervals(filterIv))
      new GraftScan[VcfVariant]("bcf", GraftDataSources.pathsOf(options), pruned, enc,
        GraftDataSources.vcfPrunedMask(pruned),
        GraftDataSources.boundsDetail(spec, filterIv, pushed),
        BcfIO.plan(_, iv, exact = spec.nonEmpty, splitSize),
        // variant callers land .bcf files alongside sidecar indexes
        // (.bcf.sidx/.csi) — only the records are rows
        stream = Some(_.endsWith(".bcf")), bounded = spec.nonEmpty)
    })
  }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val target = GraftDataSources.pathsOf(options).head
    val d = dicts.getOrElse(GraftDataSinks.bcfDictsFrom(Option(info.options.get("header"))))
    val granularity = GraftDataSinks.granularityOf(info.options)
    val decode = GraftDataSinks.decoder(ExpressionEncoder[VcfVariant]().schema, info.schema(),
      GraftDataSinks.RowCodecs.vcf)
    new GraftWriteBuilder(target, info, "bcf",
      new BgzfBatchWrite(target, _, BcfIO.RecordCodec(d), granularity, decode))
  }
}

/** Records with start VO in [startVo, endVo) of a BGZF BCF.  The dicts
  * ride the partition: re-parsing the header once per task would cost
  * an extra remote open + BGZF decode each.  A site-only mask skips the
  * genotype matrix at byte level; `intervals` (authoritative only)
  * filter by overlap. */
case class BcfPartition(file: String, startVo: Long, endVo: Long,
                        intervals: Array[(String, Int, Int)],
                        dicts: BcfIO.Dicts) extends GraftPartition[VcfVariant] {
  def open(fields: Int): (Iterator[VcfVariant], () => Unit) =
    Vcf.openOverlapping(intervals, fields)(BcfIO.openRange(file, startVo, endVo, dicts, _))
}

/** A plain (uncompressed) BCF — the single-stream piping form: one
  * partition decodes the whole body (no index or split point can exist
  * over it; files at scale are BGZF). */
case class BcfPlainPartition(file: String, intervals: Array[(String, Int, Int)])
    extends GraftPartition[VcfVariant] {
  def open(fields: Int): (Iterator[VcfVariant], () => Unit) =
    Vcf.openOverlapping(intervals, fields)(BcfIO.openPlain(file, _))
}
