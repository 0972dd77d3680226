package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Dedup, TextFns}
import graft.sources.Tables

/** Round-10: the persisted text-dedup index's edge cases (a batch with
  * no shingles, a tree from the removed partitioned layout), the
  * frozen-keys line strip and the audio container headers. */
class Round10OpsSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val docs = Tables.load(spark, sfDir, "documents")
    .select(col("doc_id"), col("text")).localCheckpoint()

  /** Same shape as the dedup_against contract rows: near-dups of every
    * 13th doc plus fresh rewrites of every 17th. */
  private def probeBatch: DataFrame = {
    val w = TextFns.words(col("text"))
    docs.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 300000L).as("doc_id"),
        concat(lit("zzz "),
          array_join(slice(w, lit(2), size(w) - 1), " ")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 17 === 0)
        .select((col("doc_id") + 400000L).as("doc_id"),
          array_join(transform(w, x => concat(lit("n"), x)), " ")
            .as("text")))
  }

  private def verdictRows(df: DataFrame) =
    df.select("doc_id", "dup_of", "jac", "admitted").collect()
      .map(r => (r.getLong(0), Option(r.get(1)),
        Option(r.get(2)), r.getBoolean(3))).toSet

  test("a batch with no shingles probes cleanly (empty partition filters)") {
    import spark.implicits._
    val p = Files.createTempDirectory("graft-ddsh").toString
    Dedup.buildDedupIndex(docs, "doc_id", "text", p)
    // two words → zero 3-shingles → no band keys → no candidates
    val tiny = Seq((999999L, "hello world")).toDF("doc_id", "text")
    val out = verdictRows(
      Dedup.dedupAgainstIndexed(spark, p, tiny, "doc_id", "text", 0.8))
    assert(out == Set((999999L, None, None, true)))
  }

  // ---- frozen-keys line strip (the streaming line stage's core) ----

  test("stripLinesByKeys vs its own corpus ≡ dedupLinesByHash, columns intact") {
    val lined = docs.select(col("doc_id"),
      regexp_replace(col("text"), "((?:[^ ]+ ){7}[^ ]+) ", "$1\n").as("text"),
      (col("doc_id") % 5).as("extra")) // a passenger column
    val keys = Dedup.repeatedLineKeys(lined, "doc_id", "text")
    val stripped = Dedup.stripLinesByKeys(lined, keys, "doc_id", "text")
    assert(stripped.columns.toSeq ==
      Seq("doc_id", "text", "extra", "n_lines_removed"),
      s"columns: ${stripped.columns.toSeq}")
    val got = stripped.select("doc_id", "text", "n_lines_removed").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val want = Dedup.dedupLinesByHash(
      lined.select("doc_id", "text"), "doc_id", "text")
      .select("doc_id", "clean_text", "n_removed").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == want, "frozen-keys strip diverged from the one-shot form")
    assert(got.exists(_._3 > 0), "fixture must actually strip something")
    // passenger columns survive untouched
    assert(stripped.filter(col("extra") =!= col("doc_id") % 5).count() == 0)
  }

  // ---- audio container headers (WAV/RIFF + MP3) ----

  test("AudioHeader round-trips its own WAV and MP3 fixtures") {
    import graft.functions.Multimodal.AudioHeader
    val payload = "some sample audio payload bytes".getBytes("UTF-8")
    val wav = AudioHeader.parse(
      AudioHeader.wavBytes(2, 16000, 16, payload))
    assert(wav.exists(i => i.format == "audio/wav" && i.channels == 2 &&
      i.sampleRate == 16000 && i.bitsPerSample == 16 &&
      i.headerLen == 64 && i.dataLen == payload.length &&
      i.bitrateKbps == 16000 * 2 * 16 / 8 * 8 / 1000), s"$wav")
    val mp3 = AudioHeader.parse(AudioHeader.mp3Bytes(payload))
    assert(mp3.exists(i => i.format == "audio/mpeg" && i.channels == 2 &&
      i.sampleRate == 44100 && i.bitsPerSample == 0 &&
      i.bitrateKbps == 128 && i.headerLen == 34 &&
      i.dataLen == payload.length), s"$mp3")
  }

  test("AudioHeader rejects malformed containers instead of misparsing") {
    import graft.functions.Multimodal.AudioHeader
    val payload = "payload".getBytes("UTF-8")
    val good = AudioHeader.wavBytes(1, 8000, 16, payload)
    def mut(src: Array[Byte])(f: Array[Byte] => Unit): Array[Byte] = {
      val c = src.clone(); f(c); c
    }
    // truncated inside the fmt chunk
    assert(AudioHeader.parse(good.take(30)).isEmpty, "truncated WAV")
    // RIFF but not WAVE
    assert(AudioHeader.parse(mut(good)(b => b(8) = 'A')).isEmpty)
    // a chunk whose declared size runs past the buffer
    assert(AudioHeader.parse(mut(good)(b => b(40) = 0x7F.toByte)).isEmpty,
      "chunk-size overrun must reject, not read out of bounds")
    // zero channels in fmt
    assert(AudioHeader.parse(mut(good)(b => { b(22) = 0; b(23) = 0 })).isEmpty)
    // data chunk with NO preceding fmt: RIFF + WAVE + bare data chunk
    val bb = java.nio.ByteBuffer.allocate(44 + payload.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + payload.length)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("data".getBytes("US-ASCII")).putInt(payload.length).put(payload)
    assert(AudioHeader.parse(bb.array()).isEmpty, "data before fmt")

    val goodMp3 = AudioHeader.mp3Bytes(payload)
    // broken frame sync after the ID3 tag
    assert(AudioHeader.parse(mut(goodMp3)(b => b(30) = 0x00)).isEmpty)
    // reserved bitrate index 15 (0xF0 in the third header byte)
    assert(AudioHeader.parse(mut(goodMp3)(b => b(32) = 0xF0.toByte)).isEmpty)
    // free-format bitrate index 0
    assert(AudioHeader.parse(mut(goodMp3)(b => b(32) = 0x00.toByte)).isEmpty)
    // reserved sample-rate index 3 (keep 128kbps nibble)
    assert(AudioHeader.parse(mut(goodMp3)(b => b(32) = 0x9C.toByte)).isEmpty)
    // ID3 synchsafe size running past the buffer
    assert(AudioHeader.parse(mut(goodMp3)(b => b(9) = 0x7F.toByte)).isEmpty)
    // non-synchsafe ID3 size byte (high bit set)
    assert(AudioHeader.parse(mut(goodMp3)(b => b(9) = 0x80.toByte)).isEmpty)
    // MPEG2 version bits (the tables here are MPEG1-only)
    assert(AudioHeader.parse(mut(goodMp3)(b => b(31) = 0xF3.toByte)).isEmpty)
  }

  test("a corrupt layout marker fails loudly, not silently-flat") {
    val p = Files.createTempDirectory("graft-ddcm").toString
    Dedup.buildDedupIndex(docs, "doc_id", "text", p)
    // a marker of the removed partitioned layout, well-formed or not,
    // is never read as a flat index: the probe refuses the tree
    def poison(content: String): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$p/_graft_dedup_layout"),
        content.getBytes("UTF-8"))
    poison("banded|not-a-number")
    val e = intercept[RuntimeException] {
      Dedup.dedupAgainstIndexed(spark, p, probeBatch, "doc_id", "text", 0.8)
    }
    assert(e.getMessage.contains("rebuild with buildDedupIndex"),
      s"unexpected error: ${e.getMessage}")
    // a bare number (truncated/foreign write) is refused the same way
    poison("16")
    val e2 = intercept[RuntimeException] {
      Dedup.dedupAgainstIndexed(spark, p, probeBatch, "doc_id", "text", 0.8)
    }
    assert(e2.getMessage.contains("rebuild with buildDedupIndex"),
      s"unexpected error: ${e2.getMessage}")
  }

  test("WAV fingerprint ignores trailing chunks and the pad byte") {
    import spark.implicits._
    import graft.functions.Multimodal
    import graft.functions.Multimodal.AudioHeader
    // ODD payload length: a spec-conforming writer pads the data chunk
    // to even before any trailing chunk
    val payload = "seven bytes and then some more audio data x".getBytes("UTF-8")
    assert(payload.length % 2 == 1, "fixture wants an odd data length")
    val bare = AudioHeader.wavBytes(1, 8000, 16, payload)
    val trailing = {
      val extra = java.nio.ByteBuffer.allocate(13)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      extra.put(0.toByte) // the data chunk's odd-size pad byte
      extra.put("LIST".getBytes("US-ASCII")).putInt(4)
        .put("INFO".getBytes("US-ASCII"))
      bare ++ extra.array()
    }
    // both parse as the SAME audio (the parser stops at data)
    assert(AudioHeader.parse(trailing).map(i => (i.channels, i.dataLen)) ==
      AudioHeader.parse(bare).map(i => (i.channels, i.dataLen)))
    val media = Seq(
      (1L, "audio/wav", bare, bare.length.toLong),
      (2L, "audio/wav", trailing, trailing.length.toLong))
      .toDF("doc_id", "kind", "content", "byte_len")
    val fps = Multimodal.decodeAudioFeatures(spark, media)
      .collect().map(f => f.docId -> f.fingerprint).toMap
    assert(fps(1L) == fps(2L),
      "byte-identical audio must fingerprint identically across containers")
  }
}
