package graft
package gate

import org.apache.spark.sql.functions._
import GateFixtures._

/** Multimodal gate rows (`m_`): media metadata, frame sampling and image
 * hashes over binary payloads built from the documents table. */
object MultimodalRows {

  val rows: Seq[GateRow] = Seq(
    GateRow("m_media_meta", ((s, dir) => {
      // fixture: frame each doc's text as a REAL media payload — doc_id%3
      // picks PNG (full signature + IHDR), JPEG (SOI + APP0 + COM + SOF0,
      // so the marker walk must skip two segments), or raw text — with
      // dimensions derived from doc_id. attachMeta must parse the actual
      // header bytes to recover them; the oracle recomputes them
      // analytically, so a wrong parse (endianness, offset, walk) fails
      // the hash.
      import graft.multimodal.Multimodal
      val docs = load(s, dir, "documents")
      val wd = (pmod(col("doc_id"), lit(800)) + 16).cast("int")
      val ht = (pmod(col("doc_id") * 7, lit(600)) + 16).cast("int")
      val body = hex(encode(col("text"), "UTF-8"))
      val pngHex = concat(lit("89504E470D0A1A0A0000000D49484452"),
        lpad(hex(wd), 8, "0"), lpad(hex(ht), 8, "0"),
        lit("080600000000000000"), body)
      val jpgHex = concat(
        lit("FFD8" + "FFE00010" + "4A46494600010100000100010000" +
          "FFFE0008" + "677261667421" + "FFC00011" + "08"),
        lpad(hex(ht), 4, "0"), lpad(hex(wd), 4, "0"),
        lit("03011100021101031101"), body)
      val payload = when(pmod(col("doc_id"), lit(3)) === 0, unhex(pngHex))
        .when(pmod(col("doc_id"), lit(3)) === 1, unhex(jpgHex))
        .otherwise(col("text").cast("binary"))
      Multimodal.attachMeta(docs.withColumn("payload", payload), "doc_id", "payload")
        .select(col("doc_id"), col("media_meta.format").as("format"),
          col("media_meta.n_bytes").as("n_bytes"),
          col("media_meta.width").as("width"),
          col("media_meta.height").as("height"))
    }),
      // recompute the fixture's embedded header fields analytically — the
      // Spark side must PARSE them back out of the payload bytes
      """SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        |    ELSE 'unknown' END AS format,
        |  CAST(octet_length(encode(text)) + CASE CAST(doc_id % 3 AS INT)
        |    WHEN 0 THEN 33 WHEN 1 THEN 49 ELSE 0 END AS BIGINT) AS n_bytes,
        |  CAST(CASE WHEN doc_id % 3 = 2 THEN NULL
        |    ELSE doc_id % 800 + 16 END AS INT) AS width,
        |  CAST(CASE WHEN doc_id % 3 = 2 THEN NULL
        |    ELSE (doc_id * 7) % 600 + 16 END AS INT) AS height
        |FROM documents""".stripMargin),
    GateRow("m_image_decode", ((s, dir) => {
      // REAL codec round-trip: the fixture ENCODES a valid two-tone
      // vertical-split PNG per doc (see twoTonePngs) with the JDK's
      // ImageIO, and decodeImageStats DECODES it back with the same real
      // codec. PNG is lossless, so the oracle predicts the exact integer
      // channel sums analytically without ever touching bytes — a fake
      // decode (or any pixel-addressing bug in encode or decode) breaks
      // the hash.
      multimodal.Multimodal.decodeImageStats(twoTonePngs(s, dir), "doc_id", "payload")
        .toDF().select(col("id").as("doc_id"), col("width"), col("height"),
          col("sum_r"), col("sum_g"), col("sum_b"))
    }),
      // predict the decoded stats of the two-tone split PNG analytically:
      // the Spark side must run a REAL encode+decode round trip (JDK
      // ImageIO) to reproduce these exact integer channel sums
      """WITH p AS (SELECT doc_id,
        |    doc_id % 24 + 8 AS w, (doc_id * 7) % 24 + 8 AS h,
        |    (doc_id % 24 + 9) // 2 AS wl,
        |    doc_id % 256 AS ra, (doc_id * 3) % 256 AS ga, (doc_id * 7) % 256 AS ba
        |  FROM documents)
        |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(h * (wl * ra + (w - wl) * (255 - ra)) AS BIGINT) AS sum_r,
        |  CAST(h * (wl * ga + (w - wl) * (255 - ga)) AS BIGINT) AS sum_g,
        |  CAST(h * (wl * ba + (w - wl) * (255 - ba)) AS BIGINT) AS sum_b
        |FROM p""".stripMargin),
    GateRow("m_image_ahash", ((s, dir) => // perceptual fingerprint of the REAL
      // decoded pixels: 8x8 block-luma bits by exact integer cross-
      // multiplication — the oracle predicts all 64 bits analytically
      multimodal.Multimodal.imageAHash(twoTonePngs(s, dir), "doc_id", "payload")
        .select(col("doc_id"), col("ahash"))),
      // all 64 aHash bits predicted analytically — the Spark side must run
      // the REAL decode + block-luma integer rule to reproduce them
      s"""WITH $AHASH_BITS
         |SELECT doc_id, ahash FROM hs""".stripMargin),
    GateRow("m_image_dhash", ((s, dir) => // gradient fingerprint of the REAL
      // decoded pixels: 8x9 adjacent-block luma compares, exact integer
      // cross-multiplication — the oracle predicts all 64 bits
      multimodal.Multimodal.imageDHash(twoTonePngs(s, dir), "doc_id", "payload")
        .select(col("doc_id"), col("dhash"))),
      s"""WITH $DHASH_BITS
         |SELECT doc_id, dhash FROM hs""".stripMargin),
    GateRow("m_image_dedup", ((s, dir) => { // perceptual near-dup groups: docs
      // sharing an aHash keep the minimum doc_id (aHash is deliberately
      // coarse — structural copies collide; that is the dedup contract)
      // persist the hashes (r14): h feeds both the probe side and the
      // groupBy — unpersisted, the REAL PNG encode+decode ran twice per doc
      val h = multimodal.Multimodal.imageAHash(twoTonePngs(s, dir), "doc_id", "payload")
        .select(col("doc_id"), col("ahash"))
        .persist()
      h.join(h.groupBy("ahash").agg(min(col("doc_id")).as("keep_id")), "ahash")
        .select(col("doc_id"), col("ahash"), col("keep_id"))
    }),
      s"""WITH $AHASH_BITS
         |SELECT doc_id, ahash,
         |  MIN(doc_id) OVER (PARTITION BY ahash) AS keep_id FROM hs""".stripMargin),
    GateRow("m_audio_decode", ((s, dir) => {
      // REAL audio round trip: the fixture writes a valid 16-bit mono PCM
      // WAV per doc (sample i = ((doc_id*31 + i*7919) mod 65536) - 32768,
      // n = doc_id%100+50 frames) via the JDK's javax.sound.sampled, and
      // decodeAudioStats parses it back with the same real reader. PCM is
      // lossless, so the oracle predicts the exact integer |sample| sum
      // and peak analytically.
      import s.implicits._
      // repartitioned before the codec mapPartitions — see twoTonePngs
      val ids = load(s, dir, "documents").select(col("doc_id").cast("long")).as[Long]
        .repartition(s.sparkContext.defaultParallelism)
      val payloads = ids.mapPartitions { it =>
        it.map { id =>
          val n = (id % 100 + 50).toInt
          val pcm = new Array[Byte](n * 2)
          var i = 0
          while (i < n) {
            val v = (((id * 31 + i.toLong * 7919) % 65536) - 32768).toInt
            pcm(2 * i) = (v & 0xff).toByte
            pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
            i += 1
          }
          val fmt = new javax.sound.sampled.AudioFormat(16000f, 16, 1, true, false)
          val ais = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
          val bos = new java.io.ByteArrayOutputStream()
          javax.sound.sampled.AudioSystem.write(ais,
            javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
          (id, bos.toByteArray)
        }
      }.toDF("doc_id", "payload")
      multimodal.Multimodal.decodeAudioStats(payloads, "doc_id", "payload")
        .toDF().select(col("id").as("doc_id"), col("sample_rate"),
          col("channels"), col("bits"), col("n_frames"), col("sum_abs"), col("peak"))
    }),
      // predict the decoded PCM aggregates analytically: the Spark side
      // must run a REAL WAV write+parse round trip to reproduce them
      """WITH p AS (SELECT doc_id, doc_id % 100 + 50 AS n FROM documents),
        |s AS (SELECT p.doc_id, abs(((p.doc_id*31 + t.i*7919) % 65536) - 32768) AS a
        |      FROM p JOIN range(0, 150) t(i) ON t.i < p.n)
        |SELECT doc_id, CAST(16000 AS INT) AS sample_rate, CAST(1 AS INT) AS channels,
        |  CAST(16 AS INT) AS bits, CAST(count(*) AS BIGINT) AS n_frames,
        |  CAST(sum(a) AS BIGINT) AS sum_abs, CAST(max(a) AS INT) AS peak
        |FROM s GROUP BY doc_id""".stripMargin),
    GateRow("m_video_demux", ((s, dir) => {
      // REAL container demux: the fixture assembles a minimal valid
      // RIFF/AVI per doc (LIST movi with n = doc_id%5+2 '00dc' frame
      // chunks; frame i is doc_id%20+4+i bytes of id-derived data, odd
      // sizes exercising the even-padding rule), demuxRiffFrames walks
      // the actual chunk structure back out, and the oracle predicts
      // each frame's length and exact byte sum analytically.
      import s.implicits._
      // repartitioned before the codec mapPartitions — see twoTonePngs
      val ids = load(s, dir, "documents").select(col("doc_id").cast("long")).as[Long]
        .repartition(s.sparkContext.defaultParallelism)
      val payloads = ids.mapPartitions { it =>
        it.map { id =>
          val nf = (id % 5 + 2).toInt
          val frames = (0 until nf).map { i =>
            val len = (id % 20 + 4 + i).toInt
            Array.tabulate[Byte](len)(j => ((id * 7 + i * 13 + j) % 256).toByte)
          }
          def le32(v: Int): Array[Byte] =
            Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
              ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
          val bos = new java.io.ByteArrayOutputStream()
          val movi = new java.io.ByteArrayOutputStream()
          movi.write("movi".getBytes("US-ASCII"))
          frames.foreach { f =>
            movi.write("00dc".getBytes("US-ASCII"))
            movi.write(le32(f.length))
            movi.write(f)
            if (f.length % 2 == 1) movi.write(0) // RIFF even padding
          }
          val moviBytes = movi.toByteArray
          bos.write("RIFF".getBytes("US-ASCII"))
          bos.write(le32(4 + 8 + moviBytes.length)) // "AVI " + LIST hdr + body
          bos.write("AVI ".getBytes("US-ASCII"))
          bos.write("LIST".getBytes("US-ASCII"))
          bos.write(le32(moviBytes.length))
          bos.write(moviBytes)
          (id, bos.toByteArray)
        }
      }.toDF("doc_id", "payload")
      multimodal.Multimodal.demuxRiffFrames(payloads, "doc_id", "payload")
        .map(f => (f.id, f.frame_idx, f.frame.length,
          f.frame.map(b => (b & 0xff).toLong).sum))
        .toDF("doc_id", "frame_idx", "frame_len", "byte_sum")
    }),
      // predict each demuxed frame's length and byte sum analytically:
      // the Spark side must walk the actual RIFF chunk structure
      """WITH p AS (SELECT doc_id, doc_id % 5 + 2 AS nf, doc_id % 20 + 4 AS base
        |  FROM documents),
        |fr AS (SELECT p.doc_id, t.i AS frame_idx, p.base + t.i AS len
        |       FROM p JOIN range(0, 7) t(i) ON t.i < p.nf),
        |b AS (SELECT fr.doc_id, fr.frame_idx, fr.len,
        |        (fr.doc_id*7 + fr.frame_idx*13 + u.j) % 256 AS v
        |      FROM fr JOIN range(0, 31) u(j) ON u.j < fr.len)
        |SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
        |  CAST(len AS INT) AS frame_len, CAST(sum(v) AS BIGINT) AS byte_sum
        |FROM b GROUP BY doc_id, frame_idx, len""".stripMargin),
    GateRow("m_frame_sample", ((s, dir) => {
      // every 4th 64-byte frame of the payload; frames shipped as hex so the
      // oracle can slice the same BYTES (DuckDB hex(encode(text)) at 2-char
      // offsets) — byte-exact parity even for multi-byte UTF-8 text
      import graft.multimodal.Multimodal
      val docs = load(s, dir, "documents").withColumn("payload", col("text").cast("binary"))
      Multimodal.sampleFrames(docs, "doc_id", "payload", frameSize = 64, everyK = 4)
        .select(col("doc_id"), col("frame_idx"), lower(hex(col("frame"))).as("frame_hex"))
    }),
      // byte-based framing: slice hex(utf8 bytes) at 2-hex-chars-per-byte
      // offsets, so both sides frame the same octets regardless of
      // multi-byte characters
      """WITH f AS (SELECT doc_id,
        |  [{'idx': i, 'h': lower(substr(lower(hex(encode(text))), CAST(i * 128 + 1 AS INT), 128))}
        |   for i in range(0, CAST(ceil(octet_length(encode(text)) / 64.0) AS BIGINT))
        |   if i % 4 = 0] AS frames
        |  FROM documents),
        |u AS (SELECT doc_id, unnest(frames) AS fr FROM f)
        |SELECT doc_id, CAST(fr.idx AS INT) AS frame_idx, fr.h AS frame_hex FROM u""".stripMargin)
  )
}
