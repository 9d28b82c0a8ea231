package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.model.{SamHeader, SamRecord, SamRef}

/** `CramIO.detectMeta` decides the decode plan from the file
  * definition and the first data container's compression header, which
  * is that container's first block: only that block is read and
  * CRC-checked. */
class CramMetaSpec extends SparkSpec {

  private val header = SamHeader(
    "@HD\tVN:1.6\tSO:coordinate\n@SQ\tSN:chr1\tLN:50000",
    Array(SamRef("chr1", 50000)))

  private val recs = (0 until 400).map { i =>
    SamRecord(s"r$i", 0, "chr1", 1 + i * 97, 30, "20M", "*", 0, 0,
      ("ACGTTGCA" * 3).take(20), "I" * 20, Array(s"NM:i:${i % 4}"))
  }

  private def written(profile: String): String = {
    import spark.implicits._
    val file = s"${tmpDir("crammeta")}/t.cram"
    CramIO.write(spark.createDataset(recs).repartition(2), header, file, profile = profile)
    file
  }

  private def firstData(file: String): Cram.Container =
    Cram.enumerateContainers(file).find(_.nRecords > 0).get

  private def meta(file: String): CramIO.CramMeta =
    CramIO.detectMeta(file, Some(firstData(file).offset))

  /** File offsets of the first data container's blocks: (start of the
    * block, start of its body, body length). */
  private def blocks(bytes: Array[Byte], off: Long): Seq[(Int, Int, Int)] = {
    val bs = new CramForeign.ByteStream(bytes)
    bs.p = off.toInt + 4 // container length
    (0 until 4).foreach(_ => bs.itf8()) // refSeqId, start, span, nRecords
    bs.ltf8(); bs.ltf8() // counter, bases
    val nBlocks = bs.itf8()
    val nLandmarks = bs.itf8()
    (0 until nLandmarks).foreach(_ => bs.itf8())
    bs.p += 4 // header crc
    (0 until nBlocks).map { _ =>
      val start = bs.p
      bs.byte(); bs.byte(); bs.itf8() // method, content type, content id
      val csz = bs.itf8(); bs.itf8()
      val body = bs.p
      bs.p += csz + 4 // body + crc
      (start, body, csz)
    }
  }

  private def flipped(file: String, at: Int): String = {
    val bytes = Files.readAllBytes(Paths.get(file))
    bytes(at) = (bytes(at) ^ 0x40).toByte
    val out = s"${tmpDir("crammeta")}/flipped.cram"
    Files.write(Paths.get(out), bytes)
    out
  }

  test("graft-profile and foreign CRAMs get the same CramMeta") {
    assert(meta(written("graft")) === CramIO.CramMeta(3, foreign = false))
    assert(meta(written("spec")) === CramIO.CramMeta(3, foreign = true))
    assert(meta(written("spec31")) === CramIO.CramMeta(3, foreign = true))
    val htslib = getClass.getClassLoader.getResource("test.cram").getFile
    assert(meta(htslib) === CramIO.CramMeta(2, foreign = true))
  }

  test("a flipped byte in the compression header fails the CRC check") {
    val file = written("graft")
    val off = firstData(file).offset
    val bytes = Files.readAllBytes(Paths.get(file))
    val (start, body, csz) = blocks(bytes, off).head
    assert(bytes(start + 1) === CramIO.CompressionHeader)
    val bad = flipped(file, body + csz / 2)
    val e = intercept[java.io.IOException](CramIO.detectMeta(bad, Some(off)))
    assert(e.getMessage.contains("CRC") && e.getMessage.contains(bad) &&
      e.getMessage.contains(s"offset $off"), e.toString)
  }

  test("only the first block is read: later damage surfaces at decode, not planning") {
    val file = written("graft")
    val off = firstData(file).offset
    val bytes = Files.readAllBytes(Paths.get(file))
    val bs = blocks(bytes, off)
    assert(bs.length > 1)
    val (_, body, csz) = bs.last
    val bad = flipped(file, body + csz / 2)
    assert(CramIO.detectMeta(bad, Some(off)) === CramIO.CramMeta(3, foreign = false))
    val e = intercept[Exception](CramIO.read(spark, bad).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).exists(t =>
      t.isInstanceOf[java.io.IOException] && t.getMessage.contains("CRC") &&
        t.getMessage.contains(bad) && t.getMessage.contains(s"offset $off")), e.toString)
  }

  test("a flipped byte in a container header's record count or landmark fails " +
    "every read naming the file and the container offset") {
    import spark.implicits._
    // the header's own CRC32 is what must catch it: Hadoop's .crc
    // sidecar is removed with the flip
    val data = Cram.enumerateContainers(written("graft")).filter(_.nRecords > 0)
    assert(data.length >= 2)
    /** Offsets, within the container at `off`, of the last byte of its
      * record count and of its first landmark. */
    def fields(bytes: Array[Byte], off: Long): (Int, Int) = {
      val bs = new CramForeign.ByteStream(bytes)
      bs.p = off.toInt + 4
      (0 until 4).foreach(_ => bs.itf8()) // refSeqId, start, span, nRecords
      val countEnd = bs.p - 1
      bs.ltf8(); bs.ltf8(); bs.itf8(); bs.itf8() // counter, bases, blocks, landmarks
      (countEnd, bs.p)
    }
    Seq("record count", "landmark").foreach { field =>
      val file = written("graft")
      val target = Cram.enumerateContainers(file).filter(_.nRecords > 0)(1).offset
      val bytes = Files.readAllBytes(Paths.get(file))
      val (countAt, landmarkAt) = fields(bytes, target)
      val at = if (field == "record count") countAt else landmarkAt
      bytes(at) = (bytes(at) ^ 0x01).toByte
      Files.write(Paths.get(file), bytes)
      Files.delete(Paths.get(file).resolveSibling(".t.cram.crc"))
      def failsNamingIt(read: => Any): Unit = {
        val e = intercept[Exception](read)
        assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).exists(t =>
          t.isInstanceOf[java.io.IOException] &&
            t.getMessage.contains(file) && t.getMessage.contains(s"offset $target")),
          s"$field: $e")
      }
      failsNamingIt(CramIO.read(spark, file).collect())
      failsNamingIt(CramIO.readIntervals(spark, file, Seq(("chr1", 1, 50000))).collect())
      failsNamingIt(spark.read.format("cram").load(file).collect())
    }
  }
}
