package graft.functions

import java.util.zip.CRC32

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{BinaryType, LongType}

/** Chunk-level integrity analytics over PNG containers — the
  * corruption-audit slice of the multimodal story. PNG's chunk grammar
  * (4-byte big-endian length, 4-byte type, payload, 4-byte CRC-32 over
  * type+payload) is fully walkable without inflating a single IDAT
  * byte, and the per-chunk CRC means a 100 TB media lake can be
  * integrity-audited by one codec-free scan: no shuffle, no decoder,
  * just a byte walk plus `java.util.zip.CRC32` (the same polynomial the
  * PNG spec mandates, deterministic on every JVM).
  *
  * [[buildPng]] writes a structurally valid PNG: signature, IHDR
  * (seed-derived geometry), seed-many tEXt chunks, seed-many IDAT
  * chunks with opaque payloads, IEND — every CRC real — and, for seeds
  * divisible by 5, flips one bit of the first IDAT's stored CRC (a
  * simulated bit-rot victim). [[pngWalk]] re-parses chunk by chunk and
  * folds one of three statistics: chunk count, total IDAT payload
  * bytes, or the count of chunks whose stored CRC matches a
  * recomputation — so the corrupted seeds report exactly one bad chunk.
  */
object PngChunks {

  private val Sig: Array[Byte] =
    Array(0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)

  private def crcOf(b: Array[Byte], off: Int, len: Int): Long = {
    val c = new CRC32
    c.update(b, off, len)
    c.getValue
  }

  /** A structurally valid PNG with seed-derived chunk inventory; seeds
    * % 5 == 0 get one corrupted IDAT CRC. */
  def buildPng(seed: Long): Array[Byte] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[Byte]
    buf ++= Sig
    def chunk(tpe: String, data: Array[Byte]): Int = {
      val start = buf.length
      val n = data.length
      buf += ((n >> 24) & 0xFF).toByte; buf += ((n >> 16) & 0xFF).toByte
      buf += ((n >> 8) & 0xFF).toByte; buf += (n & 0xFF).toByte
      buf ++= tpe.getBytes("US-ASCII")
      buf ++= data
      val arr = buf.toArray
      val crc = crcOf(arr, start + 4, 4 + n)
      buf += ((crc >> 24) & 0xFF).toByte; buf += ((crc >> 16) & 0xFF).toByte
      buf += ((crc >> 8) & 0xFF).toByte; buf += (crc & 0xFF).toByte
      start
    }
    val w = (seed % 997 + 1).toInt; val h = (seed % 499 + 1).toInt
    val ihdr = Array[Byte](
      ((w >> 24) & 0xFF).toByte, ((w >> 16) & 0xFF).toByte,
      ((w >> 8) & 0xFF).toByte, (w & 0xFF).toByte,
      ((h >> 24) & 0xFF).toByte, ((h >> 16) & 0xFF).toByte,
      ((h >> 8) & 0xFF).toByte, (h & 0xFF).toByte,
      8, 6, 0, 0, 0)
    chunk("IHDR", ihdr)
    var i = 0
    val nText = (seed % 3 + 1).toInt
    while (i < nText) {
      val n = ((seed + i) % 11 + 1).toInt
      chunk("tEXt", Array.tabulate(n)(j => ((seed + i + j) % 256).toByte))
      i += 1
    }
    i = 0
    val nIdat = (seed % 4 + 1).toInt
    var firstIdatStart = -1
    while (i < nIdat) {
      val n = ((seed + 7 * i) % 13 + 1).toInt
      val start =
        chunk("IDAT", Array.tabulate(n)(j => ((seed + 3 * i + j) % 256).toByte))
      if (i == 0) firstIdatStart = start
      i += 1
    }
    chunk("IEND", Array.emptyByteArray)
    val out = buf.toArray
    if (seed % 5 == 0) {
      // bit-rot the first IDAT's stored CRC (last byte of the chunk)
      val dataLen = ((seed + 0) % 13 + 1).toInt
      val crcPos = firstIdatStart + 8 + dataLen + 3
      out(crcPos) = (out(crcPos) ^ 0x01).toByte
    }
    out
  }

  /** Chunk-grammar walk; mode 0 = chunk count (through IEND), 1 = total
    * IDAT payload bytes, 2 = count of CRC-valid chunks. Returns -1 on
    * any malformed structure (bad signature, truncated chunk, missing
    * IEND, IEND with payload). */
  def pngWalk(b: Array[Byte], mode: Int): Long = {
    if (b == null || b.length < 8) return -1L
    var i = 0
    while (i < 8) { if (b(i) != Sig(i)) return -1L; i += 1 }
    var p = 8
    var chunks = 0L; var idat = 0L; var crcOk = 0L
    while (p + 12 <= b.length) {
      val len = ((b(p) & 0xFF) << 24) | ((b(p + 1) & 0xFF) << 16) |
        ((b(p + 2) & 0xFF) << 8) | (b(p + 3) & 0xFF)
      if (len < 0 || p + 12 + len > b.length) return -1L
      val stored = ((b(p + 8 + len) & 0xFFL) << 24) |
        ((b(p + 9 + len) & 0xFFL) << 16) |
        ((b(p + 10 + len) & 0xFFL) << 8) | (b(p + 11 + len) & 0xFFL)
      if (crcOf(b, p + 4, 4 + len) == stored) crcOk += 1
      chunks += 1
      val isIdat = b(p + 4) == 'I' && b(p + 5) == 'D' &&
        b(p + 6) == 'A' && b(p + 7) == 'T'
      if (isIdat) idat += len
      val isIend = b(p + 4) == 'I' && b(p + 5) == 'E' &&
        b(p + 6) == 'N' && b(p + 7) == 'D'
      if (isIend) {
        if (len != 0) return -1L
        return if (mode == 0) chunks else if (mode == 1) idat else crcOk
      }
      p += 12 + len
    }
    -1L // ran off the end without IEND
  }

  def build(seed: Column): Column =
    ObjectCall.column("png_build", this, "buildPng", BinaryType, Seq(seed))
  def chunkCount(media: Column): Column = stat(media, 0)
  def idatBytes(media: Column): Column = stat(media, 1)
  def crcValidCount(media: Column): Column = stat(media, 2)

  /** [[pngWalk]]'s fold `mode`; its -1 sentinel is NULL. */
  private def stat(media: Column, mode: Int): Column =
    ObjectCall.column("png_stat", this, "pngWalk", LongType, Seq(media),
      Seq(mode), nullOn = Some(-1L))
}
