package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, plus decode / transform /
  * feature-extract / frame-sample stages.
  *
  * Everything here is REAL byte-level work, no media libraries needed:
  * the container codecs parse actual PNG/JPEG/WAV header structures
  * (IHDR + CRC32, SOFn marker scan, RIFF chunk walk), and the pixel
  * transforms (box-filter resize, per-channel histograms) run
  * all-integer arithmetic over the engine's uncompressed GR raster
  * format ([[graft.functions.RasterKernel]]) — deterministic and
  * oracle-replayable byte-for-byte. Row-streaming stages use the
  * mapPartitions batch shape (one reusable decoder per partition,
  * mirroring how a heavyweight codec or Pandas-UDF batch would
  * amortize init); the pixel kernels are codegen'd Catalyst
  * expressions that stay inside whole-stage codegen.
  */
object Multimodal {

  /** Wrap a text corpus as binary payloads (the testdata has no real
    * media, so documents stand in as opaque bytes). */
  def asBinaryPayloads(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), col("text").cast("binary").as("payload"))

  // ---- REAL header codec (no image libraries required) ----
  // PNG and JPEG dimensions live in fixed, documented header structures
  // (PNG IHDR chunk; JPEG SOFn segment), so a genuine decode of
  // width/height — including PNG CRC32 verification and JPEG
  // variable-length marker scanning — needs only byte arithmetic.

  private def be32(v: Int): Array[Byte] =
    Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)

  private def be32(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
      ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)

  /** A structurally valid PNG prefix: 8-byte signature + IHDR chunk
    * (length, type, 13-byte data, real CRC32), then `body` standing in
    * for the compressed stream. */
  private[graft] def pngBytes(w: Int, h: Int, body: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(body.length + 33)
    out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte), 0, 8)
    val chunk = "IHDR".getBytes("US-ASCII") ++ be32(w) ++ be32(h) ++
      Array[Byte](8, 6, 0, 0, 0) // bit depth 8, RGBA, deflate, none, none
    out.write(be32(13), 0, 4)
    out.write(chunk, 0, chunk.length)
    val crc = new java.util.zip.CRC32(); crc.update(chunk)
    out.write(be32(crc.getValue.toInt), 0, 4)
    out.write(body, 0, body.length)
    out.toByteArray
  }

  /** A structurally valid JPEG prefix: SOI + JFIF APP0 + a DQT segment
    * (which a correct scanner must length-skip) + SOF0 carrying the
    * dimensions + SOS, then `body` as entropy-coded data. */
  private[graft] def jpegBytes(w: Int, h: Int, body: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(body.length + 48)
    def b(vs: Int*): Unit = vs.foreach(v => out.write(v & 0xff))
    b(0xff, 0xd8) // SOI
    b(0xff, 0xe0, 0, 16); out.write("JFIF".getBytes("US-ASCII"), 0, 4)
    b(0, 1, 1, 0, 0, 1, 0, 1, 0, 0) // JFIF 1.1, no density/thumbnail
    b(0xff, 0xdb, 0, 7); b(9, 9, 9, 9, 9) // DQT filler the scan must skip
    b(0xff, 0xc0, 0, 17, 8) // SOF0, len 17, 8-bit precision
    b(h >>> 8, h & 0xff, w >>> 8, w & 0xff, 3)
    b(1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1) // 3 components, 4:2:0
    b(0xff, 0xda, 0, 2) // SOS
    out.write(body, 0, body.length)
    out.toByteArray
  }

  /** Parse format/width/height from real header bytes. PNG: IHDR fields
    * + CRC32 recomputation; JPEG: marker scan (length-skipping APPn/DQT/
    * etc.) to the first SOFn. Truncated/foreign bytes → None, never a
    * throw (dead-letter-friendly). */
  private[graft] def decodeHeader(b: Array[Byte]): Option[(String, Int, Int, Boolean)] = {
    if (b.length >= 33 && (b(0) & 0xff) == 0x89 && b(1) == 'P' &&
        b(2) == 'N' && b(3) == 'G') {
      if (be32(b, 8) != 13 || b(12) != 'I' || b(13) != 'H' ||
          b(14) != 'D' || b(15) != 'R') None
      else {
        val crc = new java.util.zip.CRC32()
        crc.update(b, 12, 17) // chunk type + data
        Some(("png", be32(b, 16), be32(b, 20),
          crc.getValue.toInt == be32(b, 29)))
      }
    } else if (b.length >= 4 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) {
      var i = 2
      while (i + 3 < b.length && (b(i) & 0xff) == 0xff) {
        val marker = b(i + 1) & 0xff
        val isSof = marker >= 0xc0 && marker <= 0xcf &&
          marker != 0xc4 && marker != 0xc8 && marker != 0xcc
        if (isSof) {
          return if (i + 9 <= b.length)
            Some(("jpeg",
              ((b(i + 7) & 0xff) << 8) | (b(i + 8) & 0xff),
              ((b(i + 5) & 0xff) << 8) | (b(i + 6) & 0xff), true))
          else None
        }
        if (marker >= 0xd0 && marker <= 0xd9) i += 2 // standalone markers
        else {
          val segLen = ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
          if (segLen < 2) return None
          i += 2 + segLen
        }
      }
      None
    } else None
  }

  /** Synthesize payloads with REAL PNG/JPEG headers from the document
    * corpus (even doc_ids → PNG, odd → JPEG; dimensions derived
    * deterministically from the document so the oracle can recompute
    * them). The bytes round-trip through [[decodeImageHeaders]] as an
    * actual header parse, not a stub. */
  def synthesizeImagePayloads(documents: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("payload", BinaryType)))
    implicit val enc = RowEncoder.encoderFor(schema)
    documents.select(col("doc_id"), col("text")).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val text = r.getString(1).getBytes("UTF-8")
        val w = 16 + text.length % 600
        val h = (16 + id % 480).toInt
        Row(id, if (id % 2 == 0) pngBytes(w, h, text) else jpegBytes(w, h, text))
      }
    }
  }

  val headerSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("header_ok", BooleanType)))

  /** Real header decode as the codec stage: one decoder per partition,
    * rows streamed through (the mapInPandas batch shape), parsing
    * actual container bytes. */
  def decodeImageHeaders(payloads: DataFrame): DataFrame = {
    implicit val enc = RowEncoder.encoderFor(headerSchema)
    payloads.select(col("doc_id"), col("payload")).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        decodeHeader(r.getAs[Array[Byte]](1)) match {
          case Some((fmt, w, h, ok)) => Row(id, fmt, w, h, ok)
          case None => Row(id, null, null, null, false)
        }
      }
    }
  }

  // ---- REAL audio header codec (RIFF/WAV, no audio libraries) ----
  // WAV metadata lives in the RIFF container's `fmt ` chunk, so a
  // genuine decode of channels/rate/duration — including length-skipping
  // unknown chunks, exactly what a correct RIFF reader must do — needs
  // only byte arithmetic, same as the PNG/JPEG path above.

  private def le32(v: Int): Array[Byte] =
    Array(v.toByte, (v >>> 8).toByte, (v >>> 16).toByte, (v >>> 24).toByte)

  private def le16(v: Int): Array[Byte] = Array(v.toByte, (v >>> 8).toByte)

  private def le32At(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  private def le16At(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  /** A structurally valid PCM16 WAV: RIFF/WAVE signature, a LIST(INFO)
    * filler chunk (which a correct reader must length-skip), the 16-byte
    * PCM `fmt ` chunk, and a `data` chunk carrying `pcm` truncated to a
    * whole number of frames. */
  private[graft] def wavBytes(sampleRate: Int, channels: Int,
      pcm: Array[Byte]): Array[Byte] = {
    val blockAlign = channels * 2
    val data = pcm.take(pcm.length - pcm.length % blockAlign)
    val out = new java.io.ByteArrayOutputStream(data.length + 64)
    def ascii(s: String): Unit = out.write(s.getBytes("US-ASCII"), 0, 4)
    def w(bs: Array[Byte]): Unit = out.write(bs, 0, bs.length)
    val listBody = "INFOgraft   0".getBytes("US-ASCII") // odd length: pad rule
    val riffLen = 4 + (8 + listBody.length + 1) + (8 + 16) + (8 + data.length)
    ascii("RIFF"); w(le32(riffLen)); ascii("WAVE")
    ascii("LIST"); w(le32(listBody.length))
    out.write(listBody, 0, listBody.length); out.write(0) // word-align pad
    ascii("fmt "); w(le32(16))
    w(le16(1)); w(le16(channels)); w(le32(sampleRate))
    w(le32(sampleRate * blockAlign)); w(le16(blockAlign)); w(le16(16))
    ascii("data"); w(le32(data.length)); w(data)
    out.toByteArray
  }

  /** Parse channels / sample rate / frame count from real WAV bytes:
    * verify the RIFF/WAVE signature, then walk chunks (word-aligned,
    * unknown ids length-skipped) to `fmt ` (PCM16 only) and `data`.
    * Truncated/foreign bytes → None, never a throw. */
  private[graft] def decodeWavHeader(b: Array[Byte]): Option[(Int, Int, Long)] = {
    if (b.length < 12 || b(0) != 'R' || b(1) != 'I' || b(2) != 'F' ||
        b(3) != 'F' || b(8) != 'W' || b(9) != 'A' || b(10) != 'V' ||
        b(11) != 'E') return None
    // Offset as Long and chunk length as unsigned 32-bit (RIFF lengths
    // are unsigned): a corrupt length near 0xFFFFFFFF can no longer
    // overflow the cursor into a negative index — the loop guard just
    // stops, and the bytes decode as header_ok=false instead of throwing.
    var i = 12L
    var channels = -1; var rate = -1; var blockAlign = -1
    var dataLen = -1L
    while (i + 8 <= b.length && (channels < 0 || dataLen < 0)) {
      val off = i.toInt
      val id = new String(b, off, 4, "US-ASCII")
      val len = le32At(b, off + 4) & 0xffffffffL
      if (id == "fmt ") {
        if (i + 8 + 16 > b.length) return None
        if (le16At(b, off + 8) != 1 || le16At(b, off + 22) != 16) return None
        channels = le16At(b, off + 10)
        rate = le32At(b, off + 12)
        blockAlign = le16At(b, off + 20)
      } else if (id == "data") {
        // A data chunk that runs past the buffer means the file is
        // truncated: reject it rather than report frames that don't exist.
        if (i + 8 + len > b.length) return None
        dataLen = len
      }
      i += 8 + len + (len & 1) // chunks are word-aligned
    }
    if (channels <= 0 || rate <= 0 || blockAlign <= 0 || dataLen < 0) None
    else Some((channels, rate, dataLen / blockAlign))
  }

  /** Synthesize PCM16 WAV payloads from the document corpus (rate from
    * doc_id % 4, mono/stereo from doc_id % 2, document bytes as the PCM
    * stream) — deterministic, so the oracle recomputes the decoded
    * metadata straight from the documents table. */
  def synthesizeAudioPayloads(documents: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("payload", BinaryType)))
    implicit val enc = RowEncoder.encoderFor(schema)
    val rates = Array(8000, 16000, 22050, 44100)
    documents.select(col("doc_id"), col("text")).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val pcm = r.getString(1).getBytes("UTF-8")
        Row(id, wavBytes(rates((id % 4).toInt), 1 + (id % 2).toInt, pcm))
      }
    }
  }

  val audioSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("channels", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("n_frames", LongType),
    StructField("header_ok", BooleanType)))

  /** Real WAV header decode as the audio codec stage — same per-
    * partition streaming shape as [[decodeImageHeaders]]. */
  def decodeAudioHeaders(payloads: DataFrame): DataFrame = {
    implicit val enc = RowEncoder.encoderFor(audioSchema)
    payloads.select(col("doc_id"), col("payload")).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        decodeWavHeader(r.getAs[Array[Byte]](1)) match {
          case Some((ch, rate, n)) => Row(id, ch, rate, n, true)
          case None => Row(id, null, null, null, false)
        }
      }
    }
  }

  /** Synthesize "video" payloads: `nFrames` equal-size GR rasters
    * concatenated, frame f's pixel i = the document's byte at
    * (i + f·shift) mod len — consecutive frames differ by a gradual
    * content shift, so scene-cut thresholds fire non-vacuously, and
    * every frame byte is recomputable by the oracle straight from the
    * documents table. */
  def synthesizeVideoPayloads(documents: DataFrame, nFrames: Int = 6,
      shift: Int = 11): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("payload", BinaryType)))
    implicit val enc = RowEncoder.encoderFor(schema)
    documents.select(col("doc_id"), col("text")).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val tb = r.getString(1).getBytes("UTF-8")
        val w = (4 + id % 5).toInt
        val h = (3 + id % 4).toInt
        val out = new java.io.ByteArrayOutputStream(
          nFrames * (7 + w * h * 3))
        for (f <- 0 until nFrames) {
          val pix = Array.tabulate(w * h * 3)(i =>
            tb((i + f * shift) % tb.length))
          val fr = graft.functions.RasterKernel.build(3, w, h, pix)
          out.write(fr, 0, fr.length)
        }
        Row(id, out.toByteArray)
      }
    }
  }

  /** REAL scene-cut detection: split each video payload into its
    * frames, reduce every frame to its gray-luminance SUM (the
    * grayscale kernel feeding channel-stats — exact Σ floor-average
    * integers, the shot-boundary signature an actual video curation
    * stage thresholds), then mark a cut wherever |Δsig| exceeds
    * `threshold`; scene ids are the running cut count. The frame
    * split, both kernels, and the signature all run per-row inside
    * whole-stage codegen; the two windows partition by doc_id, so the
    * operator parallelizes per-document at any corpus size and never
    * sees a global sort. First frame: no predecessor → not a cut,
    * scene 0 (the [[sceneCuts]] contract over real pixels). */
  def videoSceneCuts(payloads: DataFrame, nFrames: Int,
      threshold: Long): DataFrame = {
    require(nFrames >= 1, s"nFrames must be >= 1, got $nFrames")
    val gf = graft.functions.functions
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("frame_no"))
    payloads
      .select(col("doc_id"), col("payload"),
        explode(expr(s"sequence(0, $nFrames - 1)")).as("frame_no"))
      .select(col("doc_id"), col("frame_no").cast("int").as("frame_no"),
        expr(s"substring(payload, cast(frame_no * " +
          s"(length(payload) div $nFrames) + 1 as int), " +
          s"cast(length(payload) div $nFrames as int))").as("frame"))
      .select(col("doc_id"), col("frame_no"),
        element_at(
          gf.raster_channel_stats(gf.raster_gray(col("frame"))), 1)
          .as("sig"))
      .withColumn("is_cut",
        coalesce(abs(col("sig") - lag(col("sig"), 1).over(w)) >
          threshold, lit(false)))
      .withColumn("scene_id",
        sum(col("is_cut").cast("int")).over(w).cast("int"))
      .select(col("doc_id"), col("frame_no"), col("sig"), col("is_cut"),
        col("scene_id"))
  }

  /** Windowed PCM energy/peak over WAV payloads — the voice-activity /
    * silence-detection features of an audio curation stage: per FULL
    * window of `winFrames` frames, the exact-integer energy
    * (Σ sample² across channels) and peak (max |sample|), computed by
    * the codegen'd [[graft.functions.WavWindowStats]] kernel in one
    * streamed pass over the container bytes (the RIFF walk and the
    * window loop fuse into whole-stage codegen — no decode
    * materialization, the raster kernels' 100 TB shape applied to
    * audio). Malformed/non-PCM16 payloads null out and drop. */
  def audioWindowStats(payloads: DataFrame,
      winFrames: Int = 16): DataFrame =
    payloads
      .select(col("doc_id"),
        graft.functions.functions.wav_window_stats(col("payload"),
          winFrames).as("st"))
      // Guard BEFORE the sequence: Spark's sequence(0, -1) would step
      // DOWN and fabricate two windows for a zero-window payload.
      .filter(expr("size(st) >= 2"))
      .select(col("doc_id"),
        explode(expr("sequence(0, size(st) div 2 - 1)")).as("win"),
        col("st"))
      .select(col("doc_id"), col("win").cast("int").as("win"),
        expr("element_at(st, cast(win * 2 + 1 as int))").as("energy"),
        expr("element_at(st, cast(win * 2 + 2 as int))").as("peak"))

  /** Content-addressable chunking for large blobs: split each payload
    * into fixed-size chunks and key each by its md5 — the
    * dedup-friendly storage layout for multimodal corpora (identical
    * chunks across documents share storage; transfer diffs reduce to
    * hash-set differences). Pure generator + projection, no shuffle. */
  def chunkPayloads(payloads: DataFrame, chunkSize: Int): DataFrame =
    payloads
      .select(col("doc_id"), col("payload"),
        expr(s"sequence(0, greatest(0, ceil(length(payload) / $chunkSize) - 1))")
          .as("idx"))
      .select(col("doc_id"), explode(col("idx")).as("chunk_no"),
        expr(s"substring(payload, cast(chunk_no * $chunkSize + 1 as int), $chunkSize)")
          .as("chunk"))
      .select(col("doc_id"), col("chunk_no").cast("int").as("chunk_no"),
        length(col("chunk")).as("chunk_len"),
        md5(col("chunk")).as("chunk_hash"))

  /** Chunk-level STORAGE dedup over binary payloads — the content-
    * addressable-store view a multimodal lake runs before writing
    * blobs: chunk every payload ([[chunkPayloads]]), key by chunk
    * hash, and report each duplicated chunk's copy count, document
    * spread, and reclaimable bytes (all copies of a hash are the same
    * content, so one stays). Fixed-offset chunking is the simple CAS
    * scheme (a one-byte prefix shift re-keys every chunk; rolling-hash
    * CDC fixes that — the text side's rolling fingerprint,
    * text_rolling_fingerprint, is exactly that machinery).
    *
    * Scale shape: one generator explode + ONE aggregation keyed by the
    * fixed-width chunk hash — the shuffle carries (hash, len) pairs,
    * never payload bytes; output is the duplicated-chunk set only. */
  def chunkDedup(payloads: DataFrame, chunkSize: Int): DataFrame =
    chunkPayloads(payloads, chunkSize)
      .groupBy(col("chunk_hash"))
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(col("doc_id")).as("n_docs"),
        max(col("chunk_len")).as("chunk_len"))
      .filter(col("n_copies") >= 2)
      .withColumn("bytes_saved",
        col("chunk_len").cast("long") * (col("n_copies") - lit(1)))

  /** Content-DEFINED chunking (CDC) — the rolling-boundary scheme
    * [[chunkDedup]]'s caveat names: boundaries fall where the hash of
    * the trailing `window` bytes divides `divisor` (expected chunk
    * length ≈ `divisor`), so boundaries are a function of local
    * CONTENT, not offset — a one-byte prefix shift re-keys only the
    * chunks before the first surviving boundary, after which cuts (and
    * therefore chunk hashes) re-align, which is what makes CDC the CAS
    * scheme for mutable blobs (Muthitacharoen et al., SOSP'01 "A
    * Low-Bandwidth Network File System"). The window hash is
    * [[graft.functions.CdcKernel]]'s windowed polynomial mod a prime,
    * maintained by the O(1)-per-character rolling recurrence — one
    * O(n) pass per document (the previous md5-window scheme digested
    * O(window) bytes per position; at store-build scale that digest
    * WAS the cost). The same hash is a w-term linear sum per position,
    * which is exactly what the SQL oracle evaluates — per-boundary
    * oracle parity, not just invariant gating.
    * Output: (doc_id, chunk_no, chunk_len, chunk_hash) — one row per
    * chunk, the final partial chunk included. One codegen'd kernel
    * call + per-row array HOFs + one generator; no shuffle at any
    * corpus size. Empty documents produce no chunks. */
  def cdcChunks(documents: DataFrame, window: Int = 8,
      divisor: Int = 32): DataFrame =
    cdcSpans(documents, window, divisor)
      .select(col("doc_id"), col("chunk_no"), col("chunk_len"),
        col("chunk_hash"))

  /** The chunk-span derivation shared by [[cdcChunks]] and the
    * content-addressed store ([[writeChunkStore]]): one row per chunk
    * with its source text and span kept alongside the hash, so the
    * store can slice the payload from the SAME positions the public
    * chunk table hashes — the single-derivation discipline. */
  private def cdcSpans(documents: DataFrame, window: Int,
      divisor: Int): DataFrame = {
    require(window >= 2 && divisor >= 2,
      s"degenerate CDC shape window=$window divisor=$divisor")
    documents
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text"))
      .withColumn("cuts",
        graft.functions.functions.cdc_cuts(col("text"), window, divisor))
      .withColumn("bounds", expr(
        """CASE WHEN size(cuts) = 0 OR element_at(cuts, -1) <> length(text)
          |THEN concat(cuts, array(length(text))) ELSE cuts END""".stripMargin))
      .withColumn("k", explode(expr("sequence(1, size(bounds))")))
      .withColumn("cstart", expr(
        "CASE WHEN k = 1 THEN 1 ELSE element_at(bounds, k - 1) + 1 END"))
      .withColumn("clen", expr("element_at(bounds, k) - cstart + 1"))
      .select(col("doc_id"), col("text"), col("cstart"),
        (col("k") - 1).cast("int").as("chunk_no"),
        col("clen").cast("int").as("chunk_len"),
        expr("md5(cast(substring(text, cstart, clen) as binary))")
          .as("chunk_hash"))
  }

  /** Build a content-addressed chunk store from a corpus: documents
    * CDC-chunk ([[cdcChunks]]' boundaries), the per-doc ordered hash
    * list lands in `manifest/` and each distinct chunk's payload is
    * stored ONCE in `store/` keyed by its hash — the dedup-at-rest
    * layout (an FastCDC/restic-shaped design, expressed relationally).
    * Shared and shifted content across documents costs one stored
    * copy; the manifest is hashes only.
    *
    * Scale shape: the store build groups on the chunk hash, so the
    * payload-bearing shuffle carries each DISTINCT chunk once (min()
    * picks the payload deterministically; equal hashes ⇒ equal bytes);
    * the manifest write is a map-side projection, no shuffle. The
    * chunking parameters are recorded in the [[IndexMeta]] log entry —
    * an append with different parameters would produce chunks that
    * can never dedup against the stored ones, so it fails loudly. */
  def writeChunkStore(documents: DataFrame, dir: String, window: Int = 8,
      divisor: Int = 32): Unit = {
    ChunkStore.build(documents.sparkSession, dir,
        "window" -> window.toString, "divisor" -> divisor.toString) { leg =>
      val (manifest, store) = chunkTables(documents, leg, window, divisor)
      Seq("manifest" -> manifest, "store" -> store)
    }
  }

  private val ChunkStore = Layout(
    Seq("layout" -> "chunk_store", "fmt" -> "1"), Seq("window", "divisor"),
    Seq("manifest" -> Nil, "store" -> Nil))

  /** Shared build/append machinery: the chunk table (spans + payload)
    * materializes ONCE to a scratch table of the write leg — the
    * per-byte window-hash digest work is the dominant cost, and the
    * manifest and store legs are two separate write actions that would
    * each replay it — and both legs derive from the re-read: the
    * manifest rows (the payload column-pruned away) and one store row
    * per distinct hash. The scratch goes with the leg's staging child. */
  private def chunkTables(documents: DataFrame, leg: WriteLeg,
      window: Int, divisor: Int): (DataFrame, DataFrame) = {
    val ch = leg.scratch("chunks", cdcSpans(documents, window, divisor)
      .select(col("doc_id"), col("chunk_no"), col("chunk_hash"),
        expr("substring(text, cstart, chunk_len)").as("chunk")))
    (ch.select(col("doc_id"), col("chunk_no"), col("chunk_hash")),
      ch.select(col("chunk_hash"), col("chunk"))
        .groupBy(col("chunk_hash")).agg(min(col("chunk")).as("chunk")))
  }

  /** Incrementally add a corpus batch to a [[writeChunkStore]] layout:
    * the batch's manifest rows append, but only chunks whose hash the
    * store has NEVER seen ship payload — the anti-join runs on the
    * hash column alone (column-pruned scan of `store/`), so the
    * incremental cost is proportional to NEW content, not corpus
    * size. The CDC boundary property is what makes this effective:
    * an edited document re-aligns after the edit window, so its
    * unchanged tail chunks dedup against the store. */
  def appendChunkStore(spark: org.apache.spark.sql.SparkSession,
      documents: DataFrame, dir: String, window: Int = 8,
      divisor: Int = 32): Unit = {
    val open = ChunkStore.open(spark, dir, "window" -> window.toString,
      "divisor" -> divisor.toString)
    val known = open.table("store").select(col("chunk_hash"))
    open.commit { leg =>
      val (manifest, store) = chunkTables(documents, leg, window, divisor)
      leg.append("manifest", manifest, "appendChunkStore")
      leg.append("store", store.join(known, Seq("chunk_hash"), "left_anti"),
        "appendChunkStore")
    }
  }

  /** DELETE documents from a [[writeChunkStore]] layout and sweep the
    * chunks they orphaned — the retention/GC half of the store
    * lifecycle (user deletions, retracted documents): the manifest
    * drops the deleted docs' rows, then any store chunk no longer
    * referenced by the SURVIVING manifest is removed. Reference
    * counting is exact by construction — a deleted document whose
    * duplicate (or partial overlap) remains keeps every shared chunk,
    * because the sweep is an anti-join against live references, not a
    * per-doc delete.
    *
    * Scale shape: the deletion batch broadcasts into the manifest
    * anti-join; the sweep is one hash-keyed semi-join of the store
    * against the kept manifest's distinct hashes. Both rewrites commit
    * in one entry ([[OpenedLayout.replace]]). */
  def deleteDocsFromChunkStore(spark: org.apache.spark.sql.SparkSession,
      ids: DataFrame, dir: String): Unit = {
    val open = ChunkStore.open(spark, dir)
    val del = ids.select(col("doc_id").cast("long").as("doc_id"))
      .distinct()
    val keep = open.table("manifest")
      .join(broadcast(del), Seq("doc_id"), "left_anti")
    open.replace("manifest" -> keep,
      "store" -> open.table("store")
        .join(keep.select(col("chunk_hash")).distinct(),
          Seq("chunk_hash"), "left_semi"))
  }

  /** Reassemble every document from the store and prove it byte-exact:
    * manifest ⋈ store on the hash key, chunks re-ordered per doc, and
    * the reassembly fingerprinted (md5) so the gate compares one hash
    * per document against the original text's — any byte lost or
    * reordered anywhere in chunk/store/append shows as a mismatch.
    *
    * Scale shape: one hash-keyed join (each chunk's payload fans out
    * to its referencing docs — inherent to reassembly) and one doc-
    * keyed aggregation whose per-group state is the document being
    * rebuilt — bounded by max doc size, the same envelope as parsing
    * it in the first place. */
  def reconstructFromStore(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val open = ChunkStore.open(spark, dir)
    open.table("manifest").join(open.table("store"), Seq("chunk_hash"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(length(col("chunk"))).cast("bigint").as("doc_len"),
        expr("""md5(cast(concat_ws('',
          |  transform(array_sort(collect_list(struct(chunk_no, chunk))),
          |            s -> s.chunk)) as binary))""".stripMargin)
          .as("r_hash"))
  }

  /** Frame sampling for "video" payloads: split the byte stream into
    * fixed-size frames and keep every `stride`-th one. Pure column ops
    * (codegen), no UDF. */
  def sampleFrames(payloads: DataFrame, frameSize: Int, stride: Int): DataFrame =
    payloads
      .select(col("doc_id"), col("payload"),
        explode(expr(
          s"sequence(0, greatest(0, ceil(length(payload) / $frameSize) - 1))"))
          .as("frame_no"))
      .filter(col("frame_no") % stride === 0)
      .select(col("doc_id"), col("frame_no"),
        expr(s"substring(payload, cast(frame_no * $frameSize + 1 as int), $frameSize)")
          .as("frame"))

  // ---- REAL raster kernels (GR format, functions/RasterKernel) ----
  // The container-header codecs above parse real PNG/JPEG/WAV bytes;
  // the transforms below operate on DECODED pixels carried in the
  // engine's uncompressed GR raster (7-byte header + interleaved
  // channel bytes) — all-integer pixel arithmetic, so resize and
  // feature extraction are oracle-replayable byte-for-byte.

  /** Synthesize GR rasters from the document corpus (the testdata has
    * no real media): width 4 + doc_id%5, height 3 + doc_id%4, 3
    * interleaved channels, pixel byte i = the document's byte at
    * i mod len — deterministic, so a SQL oracle recomputes every
    * pixel straight from the documents table. */
  def synthesizeRasterPayloads(documents: DataFrame,
      channels: Int = 3): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("payload", BinaryType)))
    implicit val enc = RowEncoder.encoderFor(schema)
    documents.select(col("doc_id"), col("text")).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val tb = r.getString(1).getBytes("UTF-8")
        val w = (4 + id % 5).toInt
        val h = (3 + id % 4).toInt
        val pix = Array.tabulate(w * h * channels)(i => tb(i % tb.length))
        Row(id, graft.functions.RasterKernel.build(channels, w, h, pix))
      }
    }
  }

  /** Synthesize BLOCK-CONSTANT grayscale rasters — the JPEG gate's
    * fixture: w = 8·(1 + id%2) + id%5 and h = 8·(1 + id%3) + id%3
    * (multi-block with partial edge blocks, so the DC prediction
    * chain and the edge-replication padding are both exercised),
    * pixel (x, y) = (id·31 + (x/8)·41 + (y/8)·59) mod 256. Constant
    * 8×8 blocks are the one input class where baseline DCT JPEG is
    * EXACTLY invertible (only the DC coefficient survives, and
    * 8·levelShift is divisible by the DC quant 8), which is what
    * lets a lossy codec carry an exact closed-form oracle — see
    * [[graft.functions.JpegKernel]]. */
  def synthesizeBlockRasters(documents: DataFrame,
      channels: Int = 1): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("payload", BinaryType)))
    implicit val enc = RowEncoder.encoderFor(schema)
    documents.select(col("doc_id")).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val w = (8 * (1 + id % 2) + id % 5).toInt
        val h = (8 * (1 + id % 3) + id % 3).toInt
        val pix = Array.tabulate(w * h * channels) { i =>
          val x = (i / channels) % w; val y = (i / channels) / w
          val ch = i % channels
          ((id * 31 + (x / 8) * 41 + (y / 8) * 59 + ch * 17) % 256).toByte
        }
        Row(id, graft.functions.RasterKernel.build(channels, w, h, pix))
      }
    }
  }

  /** REAL image resize: integer box-filter (area-average) downsample by
    * `factor` over GR raster payloads — the codegen'd
    * [[graft.functions.RasterResize]] expression, one fused per-row
    * loop inside whole-stage codegen (no UDF, no shuffle; at 100 TB
    * the transform cost is exactly one streamed pass over the image
    * bytes). Malformed payloads yield null (dead-letter-friendly),
    * matching the header decoders' contract. */
  def resizeRasters(payloads: DataFrame, factor: Int): DataFrame =
    payloads.select(col("doc_id"),
      graft.functions.functions.raster_resize(col("payload"), factor)
        .as("payload"))

  /** Nearest-neighbor upscale over GR rasters — the inverse of
    * [[resizeRasters]] (augmentation / display-prep direction); pure
    * byte replication, codegen'd
    * [[graft.functions.RasterUpsample]]. */
  def upsampleRasters(payloads: DataFrame, factor: Int): DataFrame =
    payloads.select(col("doc_id"),
      graft.functions.functions.raster_upsample(col("payload"), factor)
        .as("payload"))

  /** Channel-mean grayscale over GR rasters — the 3×-size reduction
    * ahead of luminance-only stages (scene cuts, perceptual hashes);
    * codegen'd [[graft.functions.RasterGray]], exact floor-average
    * integers, malformed payloads null out. */
  def grayRasters(payloads: DataFrame): DataFrame =
    payloads.select(col("doc_id"),
      graft.functions.functions.raster_gray(col("payload")).as("payload"))

  /** Horizontal mirror over GR rasters — the canonical augmentation
    * transform (a pure byte permutation); codegen'd
    * [[graft.functions.RasterFlipH]]. */
  def flipRasters(payloads: DataFrame): DataFrame =
    payloads.select(col("doc_id"),
      graft.functions.functions.raster_flip_h(col("payload"))
        .as("payload"))

  /** Region-of-interest crop over GR rasters; a window that does not
    * fit nulls out rather than silently clamping (dead-letter
    * discipline — downstream counts expose how many rasters were too
    * small). Codegen'd [[graft.functions.RasterCrop]]. */
  def cropRasters(payloads: DataFrame, x0: Int, y0: Int, w: Int,
      h: Int): DataFrame =
    payloads.select(col("doc_id"),
      graft.functions.functions.raster_crop(col("payload"), x0, y0, w, h)
        .as("payload"))

  /** Per-channel pixel statistics for the multimodal dataset card:
    * exact integer sum/min/max per channel plus the derived mean
    * (sum / pixel count, one IEEE division of two exact integers —
    * oracle-replayable bit-for-bit). One kernel pass per raster
    * ([[graft.functions.RasterChannelStats]]); the pixel count per
    * channel derives from the payload length and channel count, no
    * second decode. */
  def channelStats(payloads: DataFrame): DataFrame =
    payloads
      .select(col("doc_id"),
        graft.functions.functions.raster_channel_stats(col("payload"))
          .as("st"), length(col("payload")).as("blen"))
      .select(col("doc_id"), col("st"),
        ((col("blen") - 7) / (expr("size(st)") / 3)).cast("long")
          .as("npx"),
        explode(expr("sequence(0, size(st) div 3 - 1)")).as("c"))
      .select(col("doc_id"), col("c").cast("int").as("c"),
        expr("element_at(st, cast(c * 3 + 1 as int))").as("psum"),
        expr("element_at(st, cast(c * 3 + 2 as int))").as("pmin"),
        expr("element_at(st, cast(c * 3 + 3 as int))").as("pmax"),
        (expr("element_at(st, cast(c * 3 + 1 as int))").cast("double") /
          col("npx").cast("double")).as("pmean"))

  /** The END-TO-END image pipeline as ONE fused plan: synthesize →
    * box-filter resize → grayscale → histogram, all codegen'd kernel
    * expressions chained inside a single whole-stage-codegen pass over
    * the bytes (zero shuffles until the caller aggregates) — the shape
    * a multimodal curation stage actually runs at 100 TB, where each
    * transform materializing its output would triple the I/O. Output:
    * one (doc_id, b, cnt) row per gray-histogram bucket. */
  def imagePipeline(documents: DataFrame, factor: Int = 2,
      bins: Int = 8): DataFrame = {
    val f = graft.functions.functions
    synthesizeRasterPayloads(documents)
      .select(col("doc_id"),
        f.raster_histogram(
          f.raster_gray(f.raster_resize(col("payload"), factor)), bins)
          .as("hist"))
      .select(col("doc_id"), posexplode(col("hist")))
      .select(col("doc_id"), col("pos").cast("int").as("b"),
        col("col").as("cnt"))
  }

  /** [[imagePipeline]] ingesting WIRE-FORMAT images: the rasters round
    * through a genuine PNG (encode at synthesis, [[graft.functions
    * .PngDecode]] in the chain) before the resize→gray→histogram
    * kernels — the shape a real curation pipeline runs (decode the
    * stored bytes, then transform), all five stages fused in ONE
    * whole-stage-codegen pass per row, no shuffle. decode∘encode is
    * the per-byte identity (spec- and oracle-pinned), so this shares
    * [[imagePipeline]]'s closed-form oracle exactly. */
  def pngPipeline(documents: DataFrame, factor: Int = 2,
      bins: Int = 8): DataFrame = {
    val f = graft.functions.functions
    synthesizeRasterPayloads(documents)
      .select(col("doc_id"),
        f.raster_histogram(
          f.raster_gray(f.raster_resize(
            f.png_decode(f.png_encode(col("payload"))), factor)), bins)
          .as("hist"))
      .select(col("doc_id"), posexplode(col("hist")))
      .select(col("doc_id"), col("pos").cast("int").as("b"),
        col("col").as("cnt"))
  }

  /** REAL feature extraction: per-channel normalized pixel-value
    * histogram over GR raster payloads — `bins` buckets per channel,
    * concatenated channel-major, each count divided by the channel's
    * pixel total (= width·height, recovered as the channel-0 bucket
    * sum so no second decode is needed). The (doc_id, double-vector)
    * output composes directly with the Similarity operators. Counting
    * runs in the codegen'd [[graft.functions.RasterHistogram]]
    * kernel; normalization is exact IEEE division of two integers, so
    * the oracle reproduces every feature bit-for-bit. */
  def extractFeatures(payloads: DataFrame, bins: Int = 8): DataFrame = {
    require(bins > 0, "bins must be positive")
    payloads
      .select(col("doc_id"),
        graft.functions.functions.raster_histogram(col("payload"), bins)
          .as("hist"))
      .select(col("doc_id"), col("hist"),
        expr(s"aggregate(slice(hist, 1, $bins), 0L, (a, x) -> a + x)")
          .as("npx"))
      .select(col("doc_id"),
        expr("transform(hist, x -> CAST(x AS DOUBLE) / CAST(npx AS DOUBLE))")
          .as("features"))
  }

  /** Scene-cut detection over sampled frames — the shot-segmentation
    * stage of a video curation pipeline, on the deterministic frame
    * signature (lead byte × 256 + frame length) standing in for a
    * decoded luminance histogram. A cut is a signature jump above
    * `threshold` versus the previous frame; scene ids are the running
    * cut count. Both windows partition by doc_id, so the operator
    * parallelizes per-document at any corpus size and never sees a
    * global sort. First frame of a doc: no predecessor → not a cut,
    * scene 0. */
  def sceneCuts(frames: DataFrame, threshold: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("frame_no"))
    val sig = expr("ascii(substring(cast(frame as string), 1, 1))") * 256 +
      length(col("frame"))
    frames
      .withColumn("sig", sig.cast("int"))
      .withColumn("is_cut",
        coalesce(abs(col("sig") - lag(col("sig"), 1).over(w)) > threshold,
          lit(false)))
      .withColumn("scene_id",
        sum(col("is_cut").cast("int")).over(w).cast("int"))
      .select(col("doc_id"), col("frame_no"), col("sig"), col("is_cut"),
        col("scene_id"))
  }

  /** Oracle-friendly metadata extraction over the binary column:
    * byte length, sha256, and a hex "magic number" prefix. */
  def binaryMeta(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      length(col("text").cast("binary")).cast("long").as("byte_len"),
      sha2(col("text").cast("binary"), 256).as("sha"),
      lower(hex(substring(col("text"), 1, 4).cast("binary"))).as("magic"))
}
