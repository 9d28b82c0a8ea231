package graft.sources.v2

import java.io.{BufferedOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.OverwriteByExpression
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.model.{SamHeader, SamRecord, SequencedFragment, VcfVariant}
import graft.sources.{BamIO, BcfIO, Bgzf, BgzfRecords, CramIO, Fastq, Fs, Qseq, Sam, Vcf}

/** DataSource V2 write paths — the one write path of every graft
  * format.  `df.write.format("bam"/"bcf"/"cram"/"sam"/"fastq"/"qseq"/
  * "vcf").mode("overwrite").save(path)` and the typed writers
  * (`BamIO.write`/`writeSorted`, `BcfIO.write`, `CramIO.write`,
  * `Sam.write`, `Fastq.write`, `Qseq.write`, `Vcf.write`/`writeBgzf`)
  * run the same batch write: a typed writer builds the format's table
  * with its in-memory header and runs Spark's own V2 overwrite plan
  * over it ([[GraftDataSinks.overwrite]]); the DataFrame API resolves
  * the header from `option("header", path)` — the reference's
  * `hadoopbam.anysam.output.header` property (ref:
  * KeyIgnoringBAMOutputFormat + SAMFileMerger.java:32).
  *
  * Tasks: each task attempt streams its rows into its own attempt file
  * under a query-scoped shard dir and renames it to `part-<pid>` on
  * task commit ([[ShardingDataWriter]]).  Spark's commit coordinator
  * lets one attempt per partition commit, so a retried, speculative or
  * abandoned attempt never reaches the output.
  *
  * Driver commit ([[Fs.commitFile]], the same for every format):
  *   1. merge the header + the committed shards in partition order (+
  *      the BGZF EOF block / CRAM EOF container) into a temp sibling
  *      of the target;
  *   2. delete the target's sidecar indexes (.sidx .bai .csi .tbi
  *      .crai);
  *   3. move the temp file over the target;
  *   4. write the sidecars this format produces: `.sidx` for BAM and
  *      BCF, `.crai` for CRAM, each from the lines the shard writers
  *      sent in their commit messages, shifted by the shard's offset.
  * A failed merge leaves the target and its indexes as they were; a
  * crash after step 3 leaves a complete file with no index, which
  * every reader handles by its no-index fallback.  Both save modes
  * rewrite the whole file, so only mode("overwrite") is accepted.
  */
object GraftDataSinks {

  /** The record decoder of a write: by-name V2 writes deliver the
    * table's own columns in its own order, so `fromRow` reads them by
    * position — explicit field reads, because a serialized
    * ExpressionEncoder deserializer does not survive the trip to
    * executors (its UnresolvedMapObjects loses the resolution lambda). */
  private[v2] def decoder[T](fullSchema: StructType, writeSchema: StructType,
                             fromRow: InternalRow => T): InternalRow => T = {
    require(writeSchema.fieldNames.sameElements(fullSchema.fieldNames),
      s"write columns (${writeSchema.fieldNames.mkString(", ")}) are not the " +
        s"table's (${fullSchema.fieldNames.mkString(", ")})")
    fromRow
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

  /** Table options naming `file` as the one path — what a typed
    * writer builds its table over. */
  private[graft] def at(file: String): CaseInsensitiveStringMap =
    new CaseInsensitiveStringMap(java.util.Map.of("path", file))

  /** Run `ds` into `table` as Spark's own V2 overwrite — the plan
    * `df.write.mode("overwrite").save` builds — with columns matched
    * by name, as `.as[T]` matches them.  `options` are the write
    * options (`granularity`, `profile`). */
  private[graft] def overwrite(ds: Dataset[_], table: Table,
                               options: Map[String, String] = Map.empty): Unit = {
    val rows = ds.toDF().select(table.columns().toSeq.map(c => col(c.name)): _*)
    org.apache.spark.sql.classic.GraftDatasetAccess.ofRows(ds.sparkSession,
      OverwriteByExpression.byName(DataSourceV2Relation.create(table, None, None),
        rows.queryExecution.logical, Literal.TrueLiteral, options))
    ()
  }

  private[v2] def shardDir(target: String, queryId: String): String = {
    val p = new Path(target)
    new Path(p.getParent, s".${p.getName}.shards-$queryId").toString
  }

  /** Read a SAM header from an existing .bam/.sam/.cram file (the
    * reference's output-header property semantics). */
  private[v2] def samHeaderFrom(opt: Option[String]): SamHeader = {
    val path = opt.getOrElse(throw new IllegalArgumentException(
      "BAM/SAM/CRAM writes need option(\"header\", <path to an existing " +
        ".sam/.bam/.cram>) — records do not carry the reference dictionary"))
    if (path.endsWith(".bam")) BamIO.readHeader(path)
    else if (path.endsWith(".cram")) CramIO.readHeader(path)
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
    if (path.endsWith(".bcf")) BcfIO.readDicts(path)
    else BcfIO.Dicts.fromHeader(Vcf.readHeader(path).lines.mkString("\n"))
  }

  /** `option("granularity")` (records per splitting-index entry,
    * default 1000), checked on the driver before any task runs. */
  private[v2] def granularityOf(options: CaseInsensitiveStringMap): Int = {
    val v = options.getOrDefault("granularity", "1000")
    v.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"option granularity = '$v': expected a positive integer"))
  }

  private val CramProfiles = Seq("graft", "spec", "spec31", "spec31-fqz")

  /** `option("profile")` of a CRAM write (default "graft"), checked on
    * the driver before any task runs. */
  private[v2] def cramProfileOf(options: CaseInsensitiveStringMap): String = {
    val p = options.getOrDefault("profile", "graft")
    if (!CramProfiles.contains(p)) throw new IllegalArgumentException(
      s"option profile = '$p': expected one of ${CramProfiles.mkString(", ")}")
    p
  }

  /** A text sink's resolved header: the lines written before the
    * records, and whether the file is BGZF-compressed. */
  final case class TextHeader(lines: Seq[String], bgzf: Boolean)

  /** The DataFrame API compresses a text target whose name says so. */
  private[v2] def textHeader(target: String, lines: Seq[String]): TextHeader =
    TextHeader(lines, target.endsWith(".bgz") || target.endsWith(".gz"))

  private[graft] def samLines(h: SamHeader): Seq[String] =
    if (h.text.isEmpty) Nil else h.text.split("\n", -1).toSeq

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

  /** Driver commit of a text sink: header lines + the shards of
    * `pids`, BGZF-compressed (with the EOF terminator) when asked. */
  private[v2] def mergeTextShards(target: String, tmp: String, pids: Seq[Int],
                                  header: TextHeader): Unit = {
    val (fs, _) = Fs.get(target)
    Fs.commitFile(target) { raw =>
      val out: OutputStream = if (header.bgzf) new Bgzf.BgzfOutputStream(raw) else raw
      header.lines.foreach { l => out.write(l.getBytes(UTF_8)); out.write('\n') }
      Fs.concatParts(fs, pids.map(Fs.partPath(tmp, _, "txt")), out)
      out.close() // BgzfOutputStream close appends the EOF terminator
    }(_ => ())
  }

  private[v2] def pidsOf(messages: Array[WriterCommitMessage]): Seq[Int] =
    messages.map(_.asInstanceOf[ShardDone].pid).sorted.toSeq
}

/** The one write builder every graft sink shares: overwrite only,
  * shards under a query-scoped dir.  `batch(shardDir)` is the format's
  * [[ShardedBatchWrite]], built with its header already resolved. */
class GraftWriteBuilder(target: String, info: LogicalWriteInfo, fmt: String,
                        batch: String => BatchWrite)
    extends WriteBuilder with SupportsTruncate {
  private var truncated = false
  override def truncate(): WriteBuilder = { truncated = true; this }
  override def build(): Write = {
    GraftDataSinks.requireOverwrite(truncated, target, fmt)
    val b = batch(GraftDataSinks.shardDir(target, info.queryId()))
    new Write { override def toBatch: BatchWrite = b }
  }
}

/** Driver side shared by every sink: `merge` the committed shards
  * into the target (through [[Fs.commitFile]]); the shard dir is
  * dropped whether the merge succeeds or fails. */
abstract class ShardedBatchWrite(tmp: String) extends BatchWrite {
  protected def merge(messages: Array[WriterCommitMessage]): Unit
  final override def commit(messages: Array[WriterCommitMessage]): Unit =
    try merge(messages) finally dropShards()
  final override def abort(messages: Array[WriterCommitMessage]): Unit = dropShards()
  private def dropShards(): Unit = {
    val (fs, p) = Fs.get(tmp)
    fs.delete(p, true)
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
  protected val finalPath: Path = Fs.partPath(tmp, partitionId, ext)
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

// ------------------------------------------------------------ BAM, BCF

/** The BGZF record sinks (BAM, BCF2): per-task header-less BGZF shards
  * through [[BgzfRecords.ShardWriter]] with the format's codec, then
  * one driver merge + shifted splitting index ([[BgzfRecords.merge]];
  * ref: SAMFileMerger.java:32, and KeyIgnoringBCFRecordWriter.java:1
  * copies a donor header the same way; the `.sidx` is graft's own). */
case class BgzfShardDone(shard: BgzfRecords.Shard) extends WriterCommitMessage

class BgzfBatchWrite[R](target: String, tmp: String, codec: BgzfRecords.Codec[R],
                        granularity: Int, decode: InternalRow => R)
    extends ShardedBatchWrite(tmp) {
  override def createBatchWriterFactory(i: PhysicalWriteInfo): DataWriterFactory =
    new BgzfWriterFactory(tmp, codec, granularity, decode)
  override protected def merge(messages: Array[WriterCommitMessage]): Unit =
    BgzfRecords.merge(target, codec, tmp,
      messages.map(_.asInstanceOf[BgzfShardDone].shard).toSeq, granularity)
}

class BgzfWriterFactory[R](tmp: String, codec: BgzfRecords.Codec[R], granularity: Int,
                           decode: InternalRow => R)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new ShardingDataWriter[BgzfShardDone](tmp, partitionId, taskId, codec.ext) {
      // streams record-by-record — a multi-GB partition never buffers
      private val shard = new BgzfRecords.ShardWriter(attemptPath, codec, granularity, partitionId)
      override def write(row: InternalRow): Unit = shard.write(decode(row))
      override def finishAttempt(): BgzfShardDone = BgzfShardDone(shard.finish())
      override def abortAttempt(): Unit = shard.abort()
    }
}

// ----------------------------------------------------------------- CRAM

/** One commit message per shard of a format whose merge needs only
  * the partition id (the text formats). */
case class ShardDone(pid: Int) extends WriterCommitMessage

/** A committed CRAM shard: its length and the `.crai` lines of its
  * slices, which the driver merge shifts into place. */
case class CramShardDone(shard: CramIO.Shard) extends WriterCommitMessage

class CramBatchWrite(target: String, tmp: String, header: SamHeader,
                     schema: StructType, profile: String)
    extends ShardedBatchWrite(tmp) {
  override def createBatchWriterFactory(i: PhysicalWriteInfo): DataWriterFactory =
    new CramWriterFactory(tmp, header.refs.map(_.name).zipWithIndex.toMap,
      GraftDataSinks.decoder(ExpressionEncoder[SamRecord]().schema, schema,
        GraftDataSinks.RowCodecs.sam), profile)
  override protected def merge(messages: Array[WriterCommitMessage]): Unit =
    CramIO.mergeShards(target, header, tmp,
      messages.map(_.asInstanceOf[CramShardDone].shard).toSeq,
      minor = if (profile.startsWith("spec31")) 1 else 0)
}

class CramWriterFactory(tmp: String, refIdx: Map[String, Int],
                        decode: InternalRow => SamRecord,
                        profile: String)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new ShardingDataWriter[CramShardDone](tmp, partitionId, taskId, "cram") {
      // streams record-by-record into ~1 MB containers — a multi-GB
      // partition never buffers
      private val shard = CramIO.shardWriter(attemptPath.toString, refIdx, profile, partitionId)
      override def write(row: InternalRow): Unit = shard.write(decode(row))
      override def finishAttempt(): CramShardDone = CramShardDone(shard.finish())
      override def abortAttempt(): Unit = shard.abort()
    }
}

// -------------------------------- text formats (SAM/FASTQ/QSEQ/VCF)

class TextBatchWrite[T](target: String, tmp: String, header: GraftDataSinks.TextHeader,
                        decode: InternalRow => T, format: T => String)
    extends ShardedBatchWrite(tmp) {
  override def createBatchWriterFactory(i: PhysicalWriteInfo): DataWriterFactory =
    new TextWriterFactory[T](tmp, decode, format)
  override protected def merge(messages: Array[WriterCommitMessage]): Unit =
    GraftDataSinks.mergeTextShards(target, tmp, GraftDataSinks.pidsOf(messages), header)
}

object TextBatchWrite {
  /** The text sink builder: `header` already resolved by the table. */
  def builder[T](target: String, info: LogicalWriteInfo, fullSchema: StructType,
                 fromRow: InternalRow => T, format: T => String,
                 header: GraftDataSinks.TextHeader): WriteBuilder =
    new GraftWriteBuilder(target, info, "single-file text", tmp =>
      new TextBatchWrite[T](target, tmp, header,
        GraftDataSinks.decoder(fullSchema, info.schema(), fromRow), format))
}

class TextWriterFactory[T](tmp: String, decode: InternalRow => T,
                           format: T => String) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new ShardingDataWriter[ShardDone](tmp, partitionId, taskId, "txt") {
      // streams line-by-line — a multi-GB partition never buffers
      private val out = {
        val (fs, _) = Fs.get(tmp)
        new BufferedOutputStream(fs.create(attemptPath, true))
      }
      override def write(row: InternalRow): Unit = {
        out.write(format(decode(row)).getBytes(UTF_8))
        out.write('\n')
      }
      override def finishAttempt(): ShardDone = {
        out.close()
        ShardDone(partitionId)
      }
      override def abortAttempt(): Unit =
        try out.close() catch { case _: java.io.IOException => () }
    }
}

object TextFormats {
  /** SAM line: the 11 mandatory fields, then the tags, tab-separated. */
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
