package graft.sources.v2

import java.io.{BufferedOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType

import graft.model.{SamRecord, SequencedFragment, VcfVariant}
import graft.sources.{BamIO, BcfIO, Bgzf, Fastq, Fs, Qseq, Sam, Vcf}

/** DataSource V2 write paths — `df.write.format("bam"/"sam"/"fastq"/
  * "vcf").mode("overwrite").save(path)` — completing the SQL-level
  * I/O story over the same shard-then-merge machinery as the typed
  * writers (ref: KeyIgnoringBAMOutputFormat + SAMFileMerger.java:32).
  *
  * Each task writes one header-less shard (BGZF for BAM, text
  * otherwise) under a query-scoped temp dir, renaming into place on
  * task commit so speculative attempts can never collide; the driver
  * commit concatenates header + shards in partition order (+ BGZF EOF
  * terminator and the v2 splitting index for BAM).
  *
  * SAM/BAM need a header the rows don't carry (reference dictionary
  * for refId encoding) — exactly the reference's
  * `hadoopbam.anysam.output.header` property, surfaced as
  * `option("header", pathToExistingSamOrBam)`.  VCF takes the same
  * option (header lines copied); FASTQ needs none.  Both save modes
  * rewrite the target file (a BAM is one file, not a directory —
  * appending records would need a sort-merge, which is `writeSorted`'s
  * job).
  */
object GraftDataSinks {

  /** Decode incoming rows (in the WRITE schema's column order, which
    * need not match the record's) back to typed records.  `fromRow`
    * reads a row already reordered to `fullSchema` (the case-class
    * field order) — explicit field reads, because a serialized
    * ExpressionEncoder deserializer does not survive the trip to
    * executors (its UnresolvedMapObjects loses the resolution lambda). */
  private[v2] class RowDecoder[T](fullSchema: StructType, writeSchema: StructType,
                                  fromRow: InternalRow => T)
      extends Serializable {
    @transient private lazy val reorder =
      UnsafeProjection.create(fullSchema.map { f =>
        val i = writeSchema.fieldIndex(f.name)
        BoundReference(i, writeSchema(i).dataType, writeSchema(i).nullable)
      }.toSeq)
    def decode(row: InternalRow): T = fromRow(reorder(row))
    def validate(): Unit = fullSchema.fieldNames.foreach { n =>
      require(writeSchema.fieldNames.contains(n),
        s"write schema is missing required column '$n' " +
          s"(expected columns: ${fullSchema.fieldNames.mkString(", ")})")
    }
  }

  /** Explicit InternalRow → record readers (fields in case-class
    * declaration order, matching the reader-side encoder schema). */
  private[v2] object RowCodecs {
    import org.apache.spark.sql.types.StringType
    private def str(r: InternalRow, i: Int): String =
      if (r.isNullAt(i)) null else r.getUTF8String(i).toString
    private def strArr(r: InternalRow, i: Int): Array[String] =
      if (r.isNullAt(i)) Array.empty
      else r.getArray(i).toObjectArray(StringType)
        .map(v => if (v == null) null else v.toString)

    def sam(r: InternalRow): SamRecord = SamRecord(
      str(r, 0), r.getInt(1), str(r, 2), r.getInt(3), r.getInt(4), str(r, 5),
      str(r, 6), r.getInt(7), r.getInt(8), str(r, 9), str(r, 10), strArr(r, 11))

    def fastq(r: InternalRow): SequencedFragment = SequencedFragment(
      str(r, 0), str(r, 1), str(r, 2), str(r, 3), r.getInt(4), r.getInt(5),
      r.getInt(6), r.getInt(7), r.getInt(8), r.getInt(9), r.getBoolean(10))

    def vcf(r: InternalRow): VcfVariant = VcfVariant(
      str(r, 0), r.getLong(1), str(r, 2), str(r, 3), strArr(r, 4),
      if (r.isNullAt(5)) None else Some(r.getDouble(5)),
      str(r, 6), strArr(r, 7), strArr(r, 8), strArr(r, 9), strArr(r, 10))
  }

  private[v2] def shardDir(target: String, queryId: String): String = {
    val p = new Path(target)
    new Path(p.getParent, s".${p.getName}.shards-$queryId").toString
  }

  /** Read a SAM header from an existing .bam/.sam/.cram file (the
    * reference's output-header property semantics). */
  private[v2] def samHeaderFrom(opt: Option[String]): graft.model.SamHeader = {
    val path = opt.getOrElse(throw new IllegalArgumentException(
      "BAM/SAM/CRAM writes need option(\"header\", <path to an existing " +
        ".sam/.bam/.cram>) — records do not carry the reference dictionary"))
    if (path.endsWith(".bam")) BamIO.readHeader(path)
    else if (path.endsWith(".cram")) graft.sources.CramIO.readHeader(path)
    else Sam.readHeader(path)
  }

  /** Resolve BCF write dictionaries from option("header", path): a
    * .bcf donates its parsed dictionaries verbatim (IDX= preserved); a
    * .vcf/.vcf.bgz header is parsed into the shared string table the
    * same way a foreign BCF header would be. */
  private[v2] def bcfDictsFrom(opt: Option[String]): BcfIO.Dicts = {
    val path = opt.getOrElse(throw new IllegalArgumentException(
      "BCF writes need option(\"header\", <path to an existing .bcf/.vcf/" +
        ".vcf.bgz>) — records do not carry the contig/FILTER/INFO/FORMAT " +
        "dictionaries their wire format indexes"))
    if (path.endsWith(".bcf")) BcfIO.headerInfo(path)._1
    else BcfIO.Dicts.fromHeader(Vcf.readHeader(path).lines.mkString("\n"))
  }

  /** Single-file sinks rewrite the target wholesale; only
    * mode("overwrite") expresses that honestly.  Appending to a BAM
    * needs a sort-merge — that's writeSorted's job on the typed API. */
  private[v2] def requireOverwrite(truncated: Boolean, target: String,
                                   fmt: String): Unit = {
    val (fs, p) = Fs.get(target)
    if (!truncated && fs.exists(p)) throw new UnsupportedOperationException(
      s"$fmt writes rewrite the whole file and $target already exists — " +
        "use mode(\"overwrite\") (append would silently drop the existing records)")
  }

  /** Commit-side concat of text shards with optional header; BGZF-
    * compresses when the target name says so. */
  private[v2] def mergeTextShards(target: String, tmp: String,
                                  headerLines: Seq[String]): Unit = {
    val (fs, outPath) = Fs.get(target)
    val bgzf = target.endsWith(".bgz") || target.endsWith(".gz")
    val raw = fs.create(outPath, true)
    val out: OutputStream =
      if (bgzf) new Bgzf.BgzfOutputStream(raw) else new BufferedOutputStream(raw)
    try {
      headerLines.foreach { l => out.write(l.getBytes(UTF_8)); out.write('\n') }
      Fs.concatParts(fs, new Path(tmp), out)
    } finally out.close() // BgzfOutputStream close appends the EOF terminator
    fs.delete(new Path(tmp), true)
  }
}

// ------------------------------------------------------------------ BAM

class BamWriteBuilder(target: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var truncated = false
  override def truncate(): WriteBuilder = { truncated = true; this }
  override def build(): Write = {
    // append would silently destroy existing records (the merge
    // rewrites the whole file) — only overwrite is honest here
    GraftDataSinks.requireOverwrite(truncated, target, "bam")
    // resolve the header NOW so a bad/missing option fails before any
    // task launches, not after the whole job has run
    val header = GraftDataSinks.samHeaderFrom(Option(info.options.get("header")))
    val granularity = Option(info.options.get("granularity")).map(_.toInt).getOrElse(1000)
    new Write {
      override def toBatch: BatchWrite =
        new BamBatchWrite(target, header, granularity, info.schema(),
          GraftDataSinks.shardDir(target, info.queryId()))
    }
  }
}

case class BamShardDone(info: BamIO.ShardInfo) extends WriterCommitMessage

class BamBatchWrite(target: String, header: graft.model.SamHeader,
                    granularity: Int, schema: StructType, tmp: String)
    extends BatchWrite {
  override def createBatchWriterFactory(i: PhysicalWriteInfo): DataWriterFactory = {
    val decoder = new GraftDataSinks.RowDecoder(ExpressionEncoder[SamRecord]().schema,
      schema, GraftDataSinks.RowCodecs.sam)
    decoder.validate()
    val refIdx = header.refs.map(_.name).zipWithIndex.toMap
    new BamWriterFactory(tmp, refIdx, granularity, decoder)
  }
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val infos = messages.map(_.asInstanceOf[BamShardDone].info).sortBy(_.pid)
    BamIO.mergeShardInfo(target, header, tmp, infos.toSeq, granularity)
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val (fs, p) = Fs.get(tmp)
    fs.delete(p, true)
  }
}

class BamWriterFactory(tmp: String, refIdx: Map[String, Int], granularity: Int,
                       decoder: GraftDataSinks.RowDecoder[SamRecord])
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new ShardingDataWriter[BamShardDone](tmp, partitionId, taskId, "bam") {
      // streams record-by-record — a multi-GB partition never buffers
      private val shard = new BamIO.ShardWriter(attemptPath, refIdx, granularity, partitionId)
      override def write(row: InternalRow): Unit = shard.write(decoder.decode(row))
      override def finishAttempt(): BamShardDone = BamShardDone(shard.finish())
      override def abortAttempt(): Unit = shard.abort()
    }
}

// ------------------------------------------------------------------ BCF

/** `df.write.format("bcf").option("header", ...)` — the BAM sink
  * pattern applied to BCF2: per-task header-less BGZF shards through
  * [[BcfIO.ShardWriter]], driver commit concat + shifted splitting
  * index via [[BcfIO.mergeShardInfo]] (ref:
  * KeyIgnoringBCFRecordWriter.java:1 copies a donor header the same
  * way; the merge machinery here is graft's own v2-sidecar contract).
  */
class BcfWriteBuilder(target: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var truncated = false
  override def truncate(): WriteBuilder = { truncated = true; this }
  override def build(): Write = {
    GraftDataSinks.requireOverwrite(truncated, target, "bcf")
    // resolve dictionaries NOW so a bad/missing option fails before
    // any task launches, not after the whole job has run
    val dicts = GraftDataSinks.bcfDictsFrom(Option(info.options.get("header")))
    val granularity = Option(info.options.get("granularity")).map(_.toInt).getOrElse(1000)
    new Write {
      override def toBatch: BatchWrite =
        new BcfBatchWrite(target, dicts, granularity, info.schema(),
          GraftDataSinks.shardDir(target, info.queryId()))
    }
  }
}

case class BcfShardDone(info: BcfIO.ShardInfo) extends WriterCommitMessage

class BcfBatchWrite(target: String, dicts: BcfIO.Dicts, granularity: Int,
                    schema: StructType, tmp: String) extends BatchWrite {
  override def createBatchWriterFactory(i: PhysicalWriteInfo): DataWriterFactory = {
    val decoder = new GraftDataSinks.RowDecoder(ExpressionEncoder[VcfVariant]().schema,
      schema, GraftDataSinks.RowCodecs.vcf)
    decoder.validate()
    new BcfWriterFactory(tmp, dicts, granularity, decoder)
  }
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val infos = messages.map(_.asInstanceOf[BcfShardDone].info).sortBy(_.pid)
    BcfIO.mergeShardInfo(target, dicts, tmp, infos.toSeq, granularity)
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val (fs, p) = Fs.get(tmp)
    fs.delete(p, true)
  }
}

class BcfWriterFactory(tmp: String, dicts: BcfIO.Dicts, granularity: Int,
                       decoder: GraftDataSinks.RowDecoder[VcfVariant])
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new ShardingDataWriter[BcfShardDone](tmp, partitionId, taskId, "bcf") {
      // streams record-by-record — a multi-GB partition never buffers
      private val shard =
        new BcfIO.ShardWriter(attemptPath.toString, dicts, granularity, partitionId)
      override def write(row: InternalRow): Unit = shard.write(decoder.decode(row))
      override def finishAttempt(): BcfShardDone = BcfShardDone(shard.finish())
      override def abortAttempt(): Unit = shard.abort()
    }
}

// ----------------------------------------------------------------- CRAM

class CramWriteBuilder(target: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var truncated = false
  override def truncate(): WriteBuilder = { truncated = true; this }
  override def build(): Write = {
    GraftDataSinks.requireOverwrite(truncated, target, "cram")
    val header = GraftDataSinks.samHeaderFrom(Option(info.options.get("header")))
    val profile = Option(info.options.get("profile")).getOrElse("graft")
    new Write {
      override def toBatch: BatchWrite =
        new CramBatchWrite(target, header, info.schema(),
          GraftDataSinks.shardDir(target, info.queryId()), profile)
    }
  }
}

class CramBatchWrite(target: String, header: graft.model.SamHeader,
                     schema: StructType, tmp: String,
                     profile: String = "graft") extends BatchWrite {
  override def createBatchWriterFactory(i: PhysicalWriteInfo): DataWriterFactory = {
    val decoder = new GraftDataSinks.RowDecoder(ExpressionEncoder[SamRecord]().schema,
      schema, GraftDataSinks.RowCodecs.sam)
    decoder.validate()
    val refIdx = header.refs.map(_.name).zipWithIndex.toMap
    new CramWriterFactory(tmp, refIdx, decoder, profile)
  }
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    graft.sources.CramIO.mergeShards(target, header, new Path(tmp),
      minor = if (profile.startsWith("spec31")) 1 else 0)
  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val (fs, p) = Fs.get(tmp)
    fs.delete(p, true)
  }
}

class CramWriterFactory(tmp: String, refIdx: Map[String, Int],
                        decoder: GraftDataSinks.RowDecoder[SamRecord],
                        profile: String = "graft")
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new ShardingDataWriter[TextShardDone](tmp, partitionId, taskId, "cram") {
      // streams record-by-record into ~1 MB containers — a multi-GB
      // partition never buffers
      private val spec = profile != "graft"
      private val graftShard =
        if (spec) null
        else new graft.sources.CramIO.ShardWriter(attemptPath.toString, refIdx)
      private val specShard =
        if (spec)
          new graft.sources.CramIO.SpecShardWriter(attemptPath.toString, refIdx,
            v31 = profile.startsWith("spec31"), fqz = profile == "spec31-fqz")
        else null
      override def write(row: InternalRow): Unit = {
        val r = decoder.decode(row)
        if (specShard != null) specShard.write(r) else graftShard.write(r)
      }
      override def finishAttempt(): TextShardDone = {
        if (specShard != null) specShard.finish() else graftShard.finish()
        TextShardDone(partitionId)
      }
      override def abortAttempt(): Unit =
        if (specShard != null) specShard.abort() else graftShard.abort()
    }
}

/** Write-to-temp + rename-on-commit shard writer: the commit
  * coordinator guarantees one winner per partition, and the rename
  * keeps speculative attempts from interleaving bytes.  Subclasses
  * stream rows into the attempt file as they arrive. */
abstract class ShardingDataWriter[M <: WriterCommitMessage](
    tmp: String, partitionId: Int, taskId: Long, ext: String)
    extends DataWriter[InternalRow] {
  protected val attemptPath = new Path(tmp, f"attempt-$partitionId%05d-$taskId.$ext.tmp")
  protected val finalPath = new Path(tmp, f"part-$partitionId%05d.$ext")
  /** Close the attempt file, return the commit message. */
  def finishAttempt(): M
  /** Close/discard the attempt file's sink. */
  def abortAttempt(): Unit
  override def commit(): WriterCommitMessage = {
    val (fs, _) = Fs.get(tmp)
    val m = finishAttempt()
    // a stage retry can leave a committed shard from a lost attempt;
    // HDFS rename does not overwrite, so clear the slot first (the
    // coordinator guarantees we are the only live committer)
    if (fs.exists(finalPath)) fs.delete(finalPath, false)
    if (!fs.rename(attemptPath, finalPath)) {
      fs.delete(attemptPath, false)
      throw new java.io.IOException(s"could not commit shard $finalPath")
    }
    m
  }
  override def abort(): Unit = {
    abortAttempt()
    val (fs, _) = Fs.get(tmp)
    fs.delete(attemptPath, false)
  }
  override def close(): Unit = ()
}

// ------------------------------------------- text formats (SAM/FASTQ/VCF)

/** One commit message per text shard. */
case class TextShardDone(pid: Int) extends WriterCommitMessage

class TextWriteBuilder[T](target: String, info: LogicalWriteInfo,
                          fullSchema: StructType, fromRow: InternalRow => T,
                          format: T => String,
                          headerLines: () => Seq[String])
    extends WriteBuilder with SupportsTruncate {
  private var truncated = false
  override def truncate(): WriteBuilder = { truncated = true; this }
  override def build(): Write = {
    GraftDataSinks.requireOverwrite(truncated, target, "single-file text")
    // resolve header lines NOW: a missing/bad header option must fail
    // before any task launches, not at driver commit after the job ran
    val header = headerLines()
    new Write {
      override def toBatch: BatchWrite = new BatchWrite {
        private val tmp = GraftDataSinks.shardDir(target, info.queryId())
        override def createBatchWriterFactory(i: PhysicalWriteInfo): DataWriterFactory = {
          val decoder = new GraftDataSinks.RowDecoder(fullSchema, info.schema(), fromRow)
          decoder.validate()
          new TextWriterFactory[T](tmp, decoder, format)
        }
        override def commit(messages: Array[WriterCommitMessage]): Unit =
          GraftDataSinks.mergeTextShards(target, tmp, header)
        override def abort(messages: Array[WriterCommitMessage]): Unit = {
          val (fs, p) = Fs.get(tmp)
          fs.delete(p, true)
        }
      }
    }
  }
}

class TextWriterFactory[T](tmp: String, decoder: GraftDataSinks.RowDecoder[T],
                           format: T => String) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new ShardingDataWriter[TextShardDone](tmp, partitionId, taskId, "txt") {
      // streams line-by-line — a multi-GB partition never buffers
      private val out = {
        val (fs, _) = Fs.get(tmp)
        new BufferedOutputStream(fs.create(attemptPath, true))
      }
      override def write(row: InternalRow): Unit = {
        out.write(format(decoder.decode(row)).getBytes(UTF_8))
        out.write('\n')
      }
      override def finishAttempt(): TextShardDone = {
        out.close()
        TextShardDone(partitionId)
      }
      override def abortAttempt(): Unit =
        try out.close() catch { case _: java.io.IOException => () }
    }
}

object TextFormats {
  /** SAM line formatter matching Sam.formatLines' expression chain. */
  def samLine(r: SamRecord): String = {
    val base = Seq(r.qname, r.flag.toString, r.rname, r.pos.toString,
      r.mapq.toString, r.cigar, r.rnext, r.pnext.toString, r.tlen.toString,
      r.seq, r.qual).mkString("\t")
    if (r.tags.isEmpty) base else base + "\t" + r.tags.mkString("\t")
  }
  def fastqRecord(f: SequencedFragment): String = Fastq.formatRecord(f)
  def qseqLine(f: SequencedFragment): String = Qseq.formatLine(f)
  def vcfLine(v: VcfVariant): String = Vcf.formatLine(v)
}
