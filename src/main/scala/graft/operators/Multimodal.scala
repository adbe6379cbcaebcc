package graft.operators

import graft.{Op, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (SURVEY.md §2 `mm_meta`).
  *
  * Real pipelines carry image/audio/video as opaque `binary` columns
  * with typed metadata. The metadata-extract step here is REAL: the
  * container formats (PNG, JPEG, WAV) publish their dimensions and
  * sample rate in fixed header layouts precisely so consumers can read
  * them without a codec, and the `graft_media_meta` codegen kernel
  * (plans.MediaHeader) does exactly that — magic-byte format sniff,
  * PNG IHDR width/height, JPEG SOFn dimensions, WAV fmt channels and
  * sample rate — in pure JVM byte reads inside whole-stage codegen.
  *
  * What remains a stand-in is the UPSTREAM payloads: the test corpus
  * has no real media column, so `ingest` synthesizes one — but as
  * structurally REAL container bytes (PNG with CRC-correct chunks and
  * a valid zlib IDAT stream, JPEG JFIF marker skeleton, RIFF/WAVE PCM
  * with a true fmt chunk), built deterministically per doc through the
  * batched `mapPartitions` plumbing (the Scala analogue of
  * arrow-batched pandas UDFs). A full pixel/sample DECODE (beyond
  * headers) would need codec libraries this container lacks; headers
  * don't.
  */
object Multimodal {

  case class MMIn(doc_id: Long, payload: Array[Byte])
  case class MMRaw(doc_id: Long, payload: Array[Byte], batch_size: Long)

  val BatchSize = 64

  // ---- real minimal container builders (pure JVM, spec-verified) ----

  /** PNG chunk: 4-byte big-endian length + tag + body + CRC32 over
    * tag+body (RFC 2083 §3.2).
    */
  private def pngChunk(tag: String, body: Array[Byte]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(12 + body.length)
    bb.putInt(body.length)
    bb.put(tag.getBytes("US-ASCII"))
    bb.put(body)
    val crc = new java.util.zip.CRC32()
    crc.update(tag.getBytes("US-ASCII"))
    crc.update(body)
    bb.putInt(crc.getValue.toInt)
    bb.array()
  }

  /** Deterministic luma at (x, y) for a seeded synthetic image: a
    * SplitMix64-style mix of (seed, x, y) — per-doc content the
    * perceptual hash can actually distinguish (all-zero payloads hash
    * identically by construction). Shared with the specs so a planted
    * one-pixel edit is expressible.
    */
  private[graft] def plantedLuma(seed: Long, x: Int, y: Int): Int = {
    var z = seed * 0x9e3779b97f4a7c15L + x * 0xbf58476d1ce4e5b9L +
      y * 0x94d049bb133111ebL
    z ^= z >>> 30; z *= 0xbf58476d1ce4e5b9L
    z ^= z >>> 27; z *= 0x94d049bb133111ebL
    ((z >>> 33) & 0xff).toInt
  }

  /** A complete, decodable truecolor PNG: signature, IHDR (8-bit,
    * color type 2), one IDAT holding the zlib stream of h scanlines
    * (filter byte + w×3 samples from `luma` — gray written to all
    * three channels; null luma keeps the legacy all-zero image), IEND.
    * Every chunk CRC is real — javax.imageio decodes the result
    * (spec-verified).
    */
  private[graft] def buildPng(w: Int, h: Int,
      luma: (Int, Int) => Int = null): Array[Byte] = {
    val sig = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
    val ihdr = java.nio.ByteBuffer.allocate(13)
    ihdr.putInt(w)
    ihdr.putInt(h)
    ihdr.put(Array[Byte](8, 2, 0, 0, 0)) // depth, truecolor, deflate, filter0, no interlace
    val raw = new Array[Byte]((1 + w * 3) * h)
    if (luma != null) {
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = (luma(x, y) & 0xff).toByte
          val p = y * (1 + w * 3) + 1 + x * 3
          raw(p) = v; raw(p + 1) = v; raw(p + 2) = v
          x += 1
        }
        y += 1
      }
    }
    val d = new java.util.zip.Deflater()
    val zs = new java.io.ByteArrayOutputStream()
    try {
      d.setInput(raw); d.finish()
      val tmp = new Array[Byte](8192)
      while (!d.finished()) zs.write(tmp, 0, d.deflate(tmp))
    } finally d.end()
    sig ++ pngChunk("IHDR", ihdr.array()) ++
      pngChunk("IDAT", zs.toByteArray) ++
      pngChunk("IEND", Array.emptyByteArray)
  }

  /** A header-complete JFIF skeleton: SOI, APP0/JFIF, SOF0 with the
    * real dimensions and component layout, SOS, EOI. Entropy data is
    * empty (a full scan needs huffman tables a header parser never
    * reads); every marker segment length is correct per ITU T.81 §B.
    */
  private[graft] def buildJpeg(w: Int, h: Int, ncomp: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def m(b: Int*): Unit = b.foreach(x => out.write(x & 0xff))
    m(0xff, 0xd8) // SOI
    m(0xff, 0xe0, 0, 16) // APP0, len 16
    out.write("JFIF".getBytes("US-ASCII"))
    m(0, 1, 1, 0, 0, 1, 0, 1, 0, 0) // v1.1, aspect units, 1:1, no thumbnail
    m(0xff, 0xc0, 0, 8 + 3 * ncomp, 8, // SOF0: len, precision 8
      (h >> 8) & 0xff, h & 0xff, (w >> 8) & 0xff, w & 0xff, ncomp)
    (1 to ncomp).foreach(c => m(c, 0x11, 0)) // id, 1×1 sampling, qtable 0
    m(0xff, 0xda, 0, 6 + 2 * ncomp, ncomp) // SOS
    (1 to ncomp).foreach(c => m(c, 0))
    m(0, 0x3f, 0)
    m(0xff, 0xd9) // EOI
    out.toByteArray
  }

  /** A complete, DECODABLE baseline JPEG (r13): SOI, APP0/JFIF, DQT,
    * two DHTs, SOF0, SOS and REAL entropy-coded data — every pixel of
    * 8×8 block (bx, by) is the constant `blockLuma(bx, by)`, encoded
    * as three 4:4:4 YCbCr components with gray chroma (Cb = Cr = 128).
    * Block-constant content makes every coefficient block DC-only, and
    * with the DC quant step at 8 the DCT round-trip is EXACT in any
    * compliant decoder (DC = 8·(v−128), quantized = v−128, IDCT of a
    * DC-only block = DC/8 + 128 = v): the planted truth survives the
    * lossy format, which is what lets the DuckDB oracles replay JPEG
    * decode as doc_id arithmetic. javax.imageio decodes the result to
    * exactly the planted blocks (spec-verified). Huffman tables are
    * minimal custom canonical tables declared in the DHT segments
    * (12 DC categories at length 5; EOB alone in the AC table).
    */
  private[graft] def buildJpegReal(w: Int, h: Int,
      blockLuma: (Int, Int) => Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def m(b: Int*): Unit = b.foreach(x => out.write(x & 0xff))
    m(0xff, 0xd8) // SOI
    m(0xff, 0xe0, 0, 16) // APP0
    out.write("JFIF".getBytes("US-ASCII"))
    m(0, 1, 1, 0, 0, 1, 0, 1, 0, 0)
    // DQT id 0: zigzag DC step 8 (exact DC round-trip), AC steps 16
    m(0xff, 0xdb, 0, 67, 0x00)
    m(8); (1 until 64).foreach(_ => m(16))
    // DHT DC id 0: 12 category symbols, all at code length 5
    m(0xff, 0xc4, 0, 2 + 17 + 12, 0x00)
    m(0, 0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    (0 to 11).foreach(m(_))
    // DHT AC id 0: the single EOB symbol (0x00) at code length 1
    m(0xff, 0xc4, 0, 2 + 17 + 1, 0x10)
    m(1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    m(0x00)
    // SOF0: 8-bit, 3 components, 1×1 sampling, quant table 0
    m(0xff, 0xc0, 0, 8 + 9, 8,
      (h >> 8) & 0xff, h & 0xff, (w >> 8) & 0xff, w & 0xff, 3)
    (1 to 3).foreach(c => m(c, 0x11, 0))
    // SOS: all components on tables (0, 0)
    m(0xff, 0xda, 0, 12, 3)
    (1 to 3).foreach(c => m(c, 0x00))
    m(0, 0x3f, 0)
    // entropy data: MCU = one 8×8 block per component (4:4:4);
    // DC-category codes are length-5 canonical (category = code value),
    // EOB is the single bit 0
    var acc = 0L
    var nbits = 0
    def putBits(v: Int, n: Int): Unit = {
      acc = (acc << n) | (v & ((1L << n) - 1))
      nbits += n
      while (nbits >= 8) {
        val byte = ((acc >> (nbits - 8)) & 0xff).toInt
        out.write(byte)
        if (byte == 0xff) out.write(0x00) // stuffing
        nbits -= 8
      }
    }
    def category(d: Int): Int = 32 - Integer.numberOfLeadingZeros(math.abs(d))
    def putDc(diff: Int): Unit = {
      val t = category(diff)
      putBits(t, 5) // DC huffman: category == canonical length-5 code
      if (t > 0) putBits(if (diff >= 0) diff else diff + (1 << t) - 1, t)
    }
    val mcusX = (w + 7) / 8
    val mcusY = (h + 7) / 8
    var predY = 0
    var my = 0
    while (my < mcusY) {
      var mx = 0
      while (mx < mcusX) {
        val v = blockLuma(mx, my) & 0xff
        putDc((v - 128) - predY) // Y block: DC-only
        predY = v - 128
        putBits(0, 1) // EOB
        // Cb, Cr: constant 128 → DC 0, diff 0, category 0
        putDc(0); putBits(0, 1)
        putDc(0); putBits(0, 1)
        mx += 1
      }
      my += 1
    }
    if (nbits > 0) putBits((1 << (8 - nbits)) - 1, 8 - nbits) // pad with 1s
    m(0xff, 0xd9) // EOI
    out.toByteArray
  }

  /** A complete RIFF/WAVE PCM file: fmt chunk with real channel count,
    * sample rate, byte rate, block align and bit depth; data chunk
    * carries the given bytes (padded to sample alignment).
    * javax.sound.sampled parses the result (spec-verified).
    */
  private[graft] def buildWav(channels: Int, rate: Int, bits: Int,
      data: Array[Byte]): Array[Byte] = {
    val block = channels * bits / 8
    val pad = (block - data.length % block) % block
    val d = if (pad == 0) data else data ++ new Array[Byte](pad)
    val bb = java.nio.ByteBuffer.allocate(44 + d.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII"))
    bb.putInt(36 + d.length)
    bb.put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII"))
    bb.putInt(16)
    bb.putShort(1) // PCM
    bb.putShort(channels.toShort)
    bb.putInt(rate)
    bb.putInt(rate * block)
    bb.putShort(block.toShort)
    bb.putShort(bits.toShort)
    bb.put("data".getBytes("US-ASCII"))
    bb.putInt(d.length)
    bb.put(d)
    bb.array()
  }

  /** Planted per-doc container parameters — pure functions of doc_id,
    * so the spec can recompute what the header parser must report.
    */
  private[graft] def plantedFormat(id: Long): Long = id % 3 // 0 png, 1 jpeg, 2 wav
  /** JPEG dims sit on a distinct small branch (≤ 96×72, r13): planted
    * JPEGs now carry REAL entropy data the oracles replay pixel by
    * pixel, so the old header-only 640×480 branch would make the
    * DuckDB pixel-replay frames ~50× the size of everything else. */
  private[graft] def plantedW(id: Long): Int =
    if (id % 3 == 0) (id % 64 + 1).toInt else (id % 96 + 1).toInt
  private[graft] def plantedH(id: Long): Int =
    if (id % 3 == 0) (id % 48 + 1).toInt else (id % 72 + 1).toInt
  private[graft] def plantedChannels(id: Long): Int = (id % 2 + 1).toInt
  private[graft] def plantedRate(id: Long): Int = 8000 + (id % 8).toInt * 4000

  private def buildBatch(batch: Seq[MMIn]): Seq[MMRaw] = batch.map { r =>
    val id = r.doc_id
    val payload = (id % 3) match {
      // seeded per-doc pixel content: headers (mm_meta's surface) are
      // unchanged, but mm_phash gets images that actually differ
      case 0 => buildPng(plantedW(id), plantedH(id), plantedLuma(id, _, _))
      // real baseline JPEG (r13): 8×8-block-constant planted luma, so
      // the lossy format round-trips the planted truth exactly and the
      // decode oracles cover the JPEG tier too
      case 1 => buildJpegReal(plantedW(id), plantedH(id),
        plantedLuma(id, _, _))
      case _ => buildWav(plantedChannels(id), plantedRate(id), 16, r.payload)
    }
    MMRaw(id, payload, batch.size.toLong)
  }

  /** Batched container synthesis over a typed Dataset — the ingest
    * stand-in, exposed so the spec can drive it with a forced partition
    * layout. `batch_size` audits the batch machinery but is a function
    * of the PARTITION LAYOUT (the last batch per partition is a
    * remainder), so the op DROPS it before the parse: every emitted
    * column must be a pure function of the payload for the rows-only
    * determinism contract to hold under repartitioning.
    */
  private[graft] def ingest(ds: org.apache.spark.sql.Dataset[MMIn]) = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(it => it.grouped(BatchSize).flatMap(buildBatch))
  }

  private val opMeta = Op(
    "mm_meta",
    (s, dir) => {
      import s.implicits._
      ingest(Tables(s, dir, "documents")
        .select(col("doc_id"),
          col("text").cast("binary").as("payload"))
        .as[MMIn])
        .toDF().drop("batch_size")
        .select(col("doc_id"),
          expr("graft_media_meta(payload)").as("m"))
        .select(col("doc_id"),
          expr("CASE m[0] WHEN 1 THEN 'png' WHEN 2 THEN 'jpeg' " +
            "WHEN 3 THEN 'wav' ELSE 'unknown' END").as("format"),
          col("m").getItem(1).as("width"),
          col("m").getItem(2).as("height"),
          col("m").getItem(3).as("channels"),
          col("m").getItem(4).as("sample_rate"),
          col("m").getItem(5).as("bits"))
    },
    // The synthesis plants every container parameter as a pure
    // function of doc_id (plantedFormat/W/H/Channels/Rate above), so
    // the oracle recomputes what the HEADER PARSER must report from
    // doc_id arithmetic alone — a full planted-truth proof that
    // graft_media_meta recovers the real PNG/JPEG/WAV header fields,
    // not a tautological re-run of the kernel. (The payload byte
    // length is deflate-dependent for PNG and deliberately NOT part
    // of the op surface.)
    Some("""
      SELECT doc_id,
        CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
          ELSE 'wav' END AS format,
        CAST(CASE doc_id % 3 WHEN 0 THEN doc_id % 64 + 1
          WHEN 1 THEN doc_id % 96 + 1 ELSE 0 END AS BIGINT) AS width,
        CAST(CASE doc_id % 3 WHEN 0 THEN doc_id % 48 + 1
          WHEN 1 THEN doc_id % 72 + 1 ELSE 0 END AS BIGINT) AS height,
        CAST(CASE doc_id % 3 WHEN 2 THEN doc_id % 2 + 1
          ELSE 3 END AS BIGINT) AS channels,
        CAST(CASE doc_id % 3 WHEN 2 THEN 8000 + (doc_id % 8) * 4000
          ELSE 0 END AS BIGINT) AS sample_rate,
        CAST(CASE doc_id % 3 WHEN 2 THEN 16 ELSE 8 END AS BIGINT) AS bits
      FROM documents"""))

  // ---- mm_embed: batched payload → embedding (encoder stand-in) ----

  case class MMEmb(doc_id: Long, dim: Long, embedding: Array[Float],
      norm: Double, batch_size: Long)

  val EmbDim = 64

  /** STUB encoder — stands in for a vision/audio tower forward pass.
    * Per-dim values come from an xorshift chain seeded by the payload
    * bytes, then L2-normalized: a pure function of the payload, so the
    * output is reproducible across partitionings, and UNIT-NORM floats
    * in the same shape the `embeddings` table uses — the bridge from
    * multimodal payloads into the ann, dedup_embed, and embed_quantize
    * operators.
    */
  private def encodeBatch(batch: Seq[MMIn]): Seq[MMEmb] = batch.map { r =>
    var seed = -7046029254386353131L // xxprime; mixed with every byte
    var p = 0
    while (p < r.payload.length) {
      seed = (seed ^ r.payload(p)) * 6364136223846793005L + 1442695040888963407L
      p += 1
    }
    val raw = new Array[Double](EmbDim)
    var x = if (seed == 0L) 1L else seed
    var i = 0
    while (i < EmbDim) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      raw(i) = (x >> 11).toDouble / (1L << 52).toDouble // ~[-1, 1)
      i += 1
    }
    val n = math.sqrt(raw.map(v => v * v).sum)
    MMEmb(r.doc_id, EmbDim.toLong,
      raw.map(v => (v / n).toFloat), 1.0, batch.size.toLong)
  }

  /** Batched encode — spec-drivable like [[decode]]; same reason for
    * the output dropping `batch_size` (partition-layout dependent).
    */
  private[graft] def encode(ds: org.apache.spark.sql.Dataset[MMIn]) = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(it => it.grouped(BatchSize).flatMap(encodeBatch))
  }

  private val opEmbed = Op(
    "mm_embed",
    (s, dir) => {
      import s.implicits._
      encode(Tables(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .as[MMIn])
        .toDF()
        .select(col("doc_id"), col("dim"),
          md5(concat_ws(",", expr("transform(embedding, x -> cast(x AS string))")))
            .as("emb_digest"),
          round(col("norm"), 6).as("norm"))
    },
    None)

  // ---- mm_phash: perceptual near-dup over the multimodal column ----

  /** Near-dup pairs count as "near" under this dHash hamming bound —
    * the one-pixel-edit spec bound; unrelated images land near 32. */
  val PhashMaxHamming = 8

  /** mm_phash — the dedup ladder extended to the multimodal tier:
    * every PNG payload is pixel-decoded BY THE ENGINE (graft_dhash,
    * plans.Phash: Inflater + RFC 2083 defilter + luma — zero codec
    * libraries) into a 64-bit perceptual difference hash, then
    * near-dups cluster through the EXACT machinery dedup_simhash
    * already proved at scale: 4×16-bit hamming bands with adaptive
    * bucket sub-splitting sized by a skinny groupBy count broadcast
    * back — never a window, never an all-pairs join. Non-PNG payloads
    * (JPEG skeletons carry no entropy data, WAVs no pixels) fall out
    * with a NULL hash before any shuffle. A re-encoded, resized or
    * slightly-edited image shares its gradient signature, which
    * byte-exact dedup_exact can never see.
    */
  private val opPhash = Op(
    "mm_phash",
    (s, dir) => {
      import s.implicits._
      // materialized once: the frame feeds BOTH the band pair search
      // and the final per-doc join — without the pin each branch
      // re-runs the payload synthesis AND the full PNG pixel decode
      val hashes = ingest(Tables(s, dir, "documents")
          .select(col("doc_id"), col("text").cast("binary").as("payload"))
          .as[MMIn])
        .toDF()
        .select(col("doc_id"), expr("graft_dhash(payload)").as("simhash"))
        .filter(col("simhash").isNotNull)
        // lazy (r19): materialized by simhashPairs' band-frame
        // checkpoint job together with the mult frame — the PNG
        // synthesis + pixel decode runs exactly once, one job earlier
        .localCheckpoint(eager = false)
      // distinct-hash search + multiplicity recombination
      // (Dedup.neighborStats): a flat-image flood shares ONE dHash —
      // at sf10 ~21k docs whose bands AND salt are all identical, a
      // 9.3e8-candidate doc-level pair search no banding parameter can
      // save; in the hash domain it is one node (the r16 fix)
      Dedup.neighborStats(hashes, Dedup.SimhashMaxBucket, PhashMaxHamming)
        .select(col("doc_id"), col("simhash").as("phash"),
          col("n_near_dups"), col("min_hamming"))
    },
    Some(phashOracleSql))

  /** mm_phash planted-truth oracle (r12 — the third rows-only → SQL
    * conversion of the tier): DuckDB replays the ENTIRE op — the
    * engine's PNG decode is lossless on the planted 8-bit gray, so
    * the dHash is pure doc_id arithmetic (the mm_frames replay at the
    * per-doc dims), and the banded/salted near-dup search is plain
    * relational algebra: 4×16-bit band keys via arithmetic-shift+mask
    * (identical bit semantics both engines, verified incl. the sign
    * bit), bucket populations counted over DISTINCT hashes (the hash
    * nodes [[Dedup.neighborStats]] bands, not doc rows), the adaptive
    * sub-split's salt rule, the same-band same-salt self-join,
    * bit_count(xor) hamming, the ≤ [[PhashMaxHamming]] verify, and
    * the per-doc roll-up. Proves
    * decode + hash + candidate machinery end-to-end against an
    * independent engine, not just the kernel.
    */
  private def phashOracleSql: String = {
    s"""
      WITH dims AS (
        SELECT doc_id,
          CASE WHEN doc_id % 3 = 0 THEN doc_id % 64 + 1
            ELSE doc_id % 96 + 1 END AS w,
          CASE WHEN doc_id % 3 = 0 THEN doc_id % 48 + 1
            ELSE doc_id % 72 + 1 END AS h,
          doc_id AS seed,
          CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 8 END AS bs
        FROM documents WHERE doc_id % 3 IN (0, 1)
      ), ${PlantedSql.blockMeans(Seq("doc_id"), 9, 8)}, ph AS (
        ${PlantedSql.dhashFold(Seq("doc_id"), "phash")}
      ), bands AS (
        SELECT doc_id, phash, bi.band_id,
          (phash >> CAST(bi.band_id * 16 AS INTEGER)) & 65535 AS band_key
        FROM ph CROSS JOIN (SELECT unnest(range(4)) AS band_id) bi
      ), sized AS (
        SELECT band_id, band_key, COUNT(DISTINCT phash) AS bn
        FROM bands GROUP BY band_id, band_key
      ), salted AS (
        SELECT b.doc_id, b.phash, b.band_id, b.band_key,
          CASE WHEN s.bn > ${Dedup.SimhashMaxBucket}
            THEN (b.phash >> CAST(((b.band_id + 1) % 4) * 16 AS INTEGER))
              & 65535
            ELSE 0 END AS salt
        FROM bands b JOIN sized s
          ON b.band_id = s.band_id AND b.band_key = s.band_key
      ), pairs AS (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
          bit_count(xor(x.phash, y.phash)) AS hamming
        FROM salted x JOIN salted y
          ON x.band_id = y.band_id AND x.band_key = y.band_key
         AND x.salt = y.salt AND x.doc_id < y.doc_id
      ), near AS (
        SELECT * FROM pairs WHERE hamming <= $PhashMaxHamming
      ), perdoc AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_near_dups,
          CAST(MIN(hamming) AS BIGINT) AS min_hamming
        FROM (
          SELECT a AS doc_id, hamming FROM near
          UNION ALL SELECT b AS doc_id, hamming FROM near)
        GROUP BY doc_id
      )
      SELECT ph.doc_id, ph.phash,
        COALESCE(p.n_near_dups, 0) AS n_near_dups,
        COALESCE(p.min_hamming, -1) AS min_hamming
      FROM ph LEFT JOIN perdoc p ON ph.doc_id = p.doc_id"""
  }

  /** 16-bit hamming-band rows (band_id, band_key) of a (…, phash)
    * frame — the dedup_simhash banding applied to perceptual hashes;
    * shared by the store writer (sources.Fingerprints.writePhashBands),
    * the batch probes below and the stream gates' band rows
    * (streaming.Streams.ingestPhashGate, ingestAudioGate and
    * ingestClipGate).
    */
  private[graft] def phashBandRows(df: DataFrame): DataFrame =
    df.withColumn("band_id", explode(sequence(lit(0L), lit(3L))))
      .withColumn("band_key", expr("(shiftright(phash, band_id * 16) & 65535)"))

  /** Batch core of the multimodal ingest near-dup check: each doc's 4
    * phash band keys probe the PERSISTED band store — an (edited) copy
    * of any historical image collides on ≥ 1 band (a one-pixel edit
    * moves ≤ 2 hash bits, so ≥ 2 of the 4 16-bit bands stay intact).
    * Asymmetric like dedup_incr_minhash: history pixels are decoded
    * once at store build, never per ingest.
    */
  private[graft] def phashProbe(hashes: DataFrame,
      bandStore: DataFrame): DataFrame =
    Dedup.bandProbe(hashes.select(col("doc_id"), col("phash")),
      phashBandRows(hashes), bandStore, Seq("band_id", "band_key"),
      Seq("band_id"), "n_hist_bands", "near_hist")

  /** Clip-tier probe of the persisted band store: every SAMPLED
    * frame's 4 hamming bands probe `phash_bands/`, and a clip is
    * near-historical when ANY sampled frame collides on ≥ 1 band —
    * the [[phashProbe]] firewall lifted from single images to
    * video-shaped rows (frame hashes live in the SAME dHash band
    * space, which is exactly why the composition is a join, not a
    * new index). Input: (doc_id, frame_idx, frame_hash) from
    * [[sampleFrames]]; output one row per doc. Asymmetric like the
    * image tier: history pixels were decoded once at store
    * build/append, never per ingest; the probe joins skinny band
    * rows (≤ 4·|sampled frames| per clip) against the distinct
    * store keys.
    */
  private[graft] def clipProbe(frameHashes: DataFrame,
      bandStore: DataFrame): DataFrame =
    Dedup.bandProbe(frameHashes.select(col("doc_id")).distinct(),
      phashBandRows(frameHashes.select(col("doc_id"), col("frame_idx"),
        col("frame_hash").as("phash"))),
      bandStore, Seq("band_id", "band_key"), Seq("frame_idx", "band_id"),
      "n_clip_bands", "clip_hist")

  // ---- mm_resize: in-engine thumbnailing for the encoder front ----

  /** Thumbnail grid — the encoder-preprocessing convention of fixed
    * small square inputs. */
  val ThumbW = 16
  val ThumbH = 16

  /** mm_resize — the preprocessing step between a raw multimodal
    * column and an encoder: every PNG payload is pixel-decoded BY THE
    * ENGINE and box-filtered to a [[ThumbW]]×[[ThumbH]] luma
    * thumbnail (plans.LumaResize — mm_phash's block-mean generalized
    * to an arbitrary grid), entirely row-local and codegen'd: at
    * 100 TB the resize rides the ingest scan like every other mm
    * kernel, no shuffle, no codec library, no driver loop. Non-PNG
    * payloads (and adversarial headers the decoder refuses) surface
    * `ok = 0` with a null digest instead of killing the job — the
    * mm_phash total-ness contract. Output is the rows-only
    * determinism shape: a digest of the thumbnail bytes plus its
    * exact dimensions, every column a pure function of the payload.
    */
  /** Shared SQL fragments for the planted-truth oracles: the
    * [[plantedLuma]] SplitMix chain re-expressed in DuckDB HUGEINT
    * mod-2⁶⁴ arithmetic (64-bit wrap via a 32-bit split multiply — a
    * full 64×64 product overflows even HUGEINT; xor/logical-shift ride
    * on UBIGINT, which carries the 64-bit pattern exactly). `z2`
    * expects columns `seed`, `x`, `y` in scope; `(z2 >> 33) & 255`
    * is the planted luma byte.
    */
  private object PlantedSql {
    val M64 = "18446744073709551616::HUGEINT"
    val P1 = "11400714819323198485::HUGEINT" // 0x9e3779b97f4a7c15
    val P2 = "13787848793156543929::HUGEINT" // 0xbf58476d1ce4e5b9
    val P3 = "10723151780598845931::HUGEINT" // 0x94d049bb133111eb
    def mulmod(a: String, b: String): String =
      s"((($a) % 4294967296::HUGEINT) * $b + (((($a) // 4294967296::HUGEINT)" +
        s" * $b) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % $M64"
    def xorShift(v: String, n: Int): String =
      s"CAST(xor(CAST($v AS UBIGINT), CAST($v AS UBIGINT) >> $n) AS HUGEINT)"
    // `bs` is the planted BLOCK SCALE: 1 for PNG (per-pixel planting),
    // 8 for real baseline JPEG (8×8-block-constant planting — the
    // shape whose DCT round-trip is exact, see buildJpegReal)
    val z0: String =
      s"((CAST(seed AS HUGEINT) * $P1 + CAST(x // bs AS HUGEINT) * $P2" +
        s" + CAST(y // bs AS HUGEINT) * $P3) % $M64)"
    val z2: String = mulmod(xorShift(mulmod(xorShift(z0, 30), P2), 27), P3)

    /** The shared pixel-replay chain, ONE copy for all three oracles
      * (frames / phash / resize): expects a prior CTE `dims(keys...,
      * w, h, seed)` and emits `cells/px/pxy/lum/cm` where `cm` holds
      * (keys..., cy, cx, mean) — the kernels' exact floor-boundary
      * block means of the planted luma on a gw×gh grid.
      */
    def blockMeans(keys: Seq[String], gw: Int, gh: Int): String = {
      val dkeys = keys.map("d." + _).mkString(", ")
      val ks = keys.mkString(", ")
      s"""cells AS (
        SELECT $dkeys, d.seed, d.bs, cy.cy, cx.cx,
          (cx.cx * d.w) // $gw AS x0,
          greatest((cx.cx * d.w) // $gw + 1,
            ((cx.cx + 1) * d.w) // $gw) AS x1,
          (cy.cy * d.h) // $gh AS y0,
          greatest((cy.cy * d.h) // $gh + 1,
            ((cy.cy + 1) * d.h) // $gh) AS y1
        FROM dims d
        CROSS JOIN (SELECT unnest(range($gh)) AS cy) cy
        CROSS JOIN (SELECT unnest(range($gw)) AS cx) cx
      ), px AS (
        SELECT $ks, seed, bs, cy, cx, y0, y1,
          unnest(range(x0, x1)) AS x
        FROM cells
      ), pxy AS (
        SELECT $ks, seed, bs, cy, cx, x,
          unnest(range(y0, y1)) AS y
        FROM px
      ), lum AS (
        SELECT $ks, cy, cx,
          CAST((CAST(z2 AS UBIGINT) >> 33) & 255 AS BIGINT) AS g
        FROM (SELECT $ks, cy, cx, $z2 AS z2 FROM pxy)
      ), cm AS (
        SELECT $ks, cy, cx, SUM(g) // COUNT(*) AS mean
        FROM lum GROUP BY $ks, cy, cx
      )"""
    }

    /** The dHash bit fold over `cm` (9×8 grid): emits a select
      * producing (keys..., <alias> BIGINT) — the 64 left-neighbor
      * comparisons packed to the signed hash.
      */
    def dhashFold(keys: Seq[String], alias: String): String = {
      val ks = keys.mkString(", ")
      val aks = keys.map("a." + _).mkString(", ")
      val joinKeys = keys.map(k => s"a.$k = b.$k").mkString(" AND ")
      s"""SELECT $ks,
          CAST(CASE WHEN uh >= 9223372036854775808::HUGEINT
            THEN uh - $M64 ELSE uh END AS BIGINT) AS $alias
        FROM (
          SELECT $aks,
            COALESCE(SUM(CASE WHEN b.mean > a.mean
              THEN CAST(1 AS HUGEINT) << CAST(a.cy * 8 + a.cx AS INTEGER)
              ELSE 0::HUGEINT END), 0::HUGEINT) AS uh
          FROM cm a JOIN cm b
            ON $joinKeys AND a.cy = b.cy AND b.cx = a.cx + 1
          WHERE a.cx < 8
          GROUP BY $aks)"""
    }
  }

  /** mm_resize planted-truth oracle — the mm_frames replay applied to
    * the thumbnail kernel: PNG docs' pixels are pure doc_id
    * arithmetic, so DuckDB recomputes the [[ThumbW]]×[[ThumbH]] box
    * means and digests the thumbnail's HEX STRING (DuckDB's md5 is
    * VARCHAR-only, so both engines digest the uppercase hex form —
    * same information, engine-portable). Non-PNG rows are the op's
    * refusal shape (ok = 0, null digest) — also recomputed from
    * doc_id % 3.
    */
  private def resizeOracleSql: String = {
    s"""
      WITH dims AS (
        SELECT doc_id,
          CASE WHEN doc_id % 3 = 0 THEN doc_id % 64 + 1
            ELSE doc_id % 96 + 1 END AS w,
          CASE WHEN doc_id % 3 = 0 THEN doc_id % 48 + 1
            ELSE doc_id % 72 + 1 END AS h,
          doc_id AS seed,
          CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 8 END AS bs
        FROM documents WHERE doc_id % 3 IN (0, 1)
      ), ${PlantedSql.blockMeans(Seq("doc_id"), ThumbW, ThumbH)}, hexed AS (
        SELECT doc_id,
          string_agg(lpad(hex(mean), 2, '0'), '' ORDER BY cy, cx) AS hx
        FROM cm GROUP BY doc_id
      )
      SELECT d.doc_id,
        CAST(CASE WHEN d.doc_id % 3 IN (0, 1) THEN 1 ELSE 0 END AS BIGINT)
          AS ok,
        CAST($ThumbW AS BIGINT) AS thumb_w,
        CAST($ThumbH AS BIGINT) AS thumb_h,
        CASE WHEN d.doc_id % 3 IN (0, 1)
          THEN CAST(${ThumbW * ThumbH} AS BIGINT) ELSE NULL END AS thumb_len,
        CASE WHEN d.doc_id % 3 IN (0, 1) THEN md5(h.hx) ELSE NULL END
          AS thumb_digest
      FROM documents d LEFT JOIN hexed h ON d.doc_id = h.doc_id"""
  }

  private val opResize = Op(
    "mm_resize",
    (s, dir) => {
      import s.implicits._
      ingest(Tables(s, dir, "documents")
          .select(col("doc_id"), col("text").cast("binary").as("payload"))
          .as[MMIn])
        .toDF().drop("batch_size")
        .select(col("doc_id"),
          expr(s"graft_luma_resize(payload, $ThumbW, $ThumbH)").as("thumb"))
        .select(col("doc_id"),
          when(col("thumb").isNotNull, 1L).otherwise(0L).as("ok"),
          lit(ThumbW.toLong).as("thumb_w"), lit(ThumbH.toLong).as("thumb_h"),
          length(col("thumb")).cast("long").as("thumb_len"),
          // digest the HEX of the thumbnail (uppercase, 2 chars/byte)
          // so the DuckDB oracle — whose md5 takes VARCHAR only — can
          // recompute it from the planted pixel arithmetic
          md5(hex(col("thumb"))).as("thumb_digest"))
    },
    Some(resizeOracleSql))

  // ---- mm_frames: frame-sampling over a video-shaped column ----

  /** Frames per synthetic clip and the sampling stride. */
  val ClipFrames = 6
  val FrameStride = 3

  case class MMClip(doc_id: Long, frames: Seq[Array[Byte]])

  /** Batched clip synthesis — the video-column stand-in: a clip is an
    * ARRAY of opaque frame payloads (each a structurally real PNG
    * whose pixel content is seeded per (doc, frame), so consecutive
    * frames differ the way video frames do). Same mapPartitions
    * plumbing as [[ingest]].
    */
  /** Clip frame dimensions: the PNG-branch planting for EVERY doc —
    * plantedW/H's large branches (≤640×480) describe JPEG/WAV header
    * fields, and building six ~1 MB PNG frames per doc would make the
    * synthesis stand-in, not the operator, the measured cost. */
  private[graft] def frameW(id: Long): Int = (id % 64 + 1).toInt
  private[graft] def frameH(id: Long): Int = (id % 48 + 1).toInt

  private def clipBatch(batch: Seq[MMIn]): Seq[MMClip] = batch.map { r =>
    val id = r.doc_id
    MMClip(id, (0 until ClipFrames).map { f =>
      buildPng(frameW(id), frameH(id),
        plantedLuma(id * ClipFrames + f, _, _))
    })
  }

  private[graft] def clips(ds: org.apache.spark.sql.Dataset[MMIn]) = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(it => it.grouped(BatchSize).flatMap(clipBatch))
  }

  /** mm_frames — frame-sampling over the clip column: keep every
    * [[FrameStride]]-th frame, THEN decode (perceptual-hash) only the
    * survivors. The ordering is the entire point at scale — sampling
    * is a predicate on the frame INDEX of still-opaque binaries, so
    * the decode kernel runs on |frames|/stride of the data; a plan
    * that decoded first would pay the full pixel cost to throw most
    * of it away (spec pins the Filter below the hash Project). The
    * sampled frames land in the same dHash space mm_phash banded, so
    * cross-clip near-dup frame detection composes downstream.
    */
  /** The sample-then-decode transform itself — shared verbatim by
    * the batch operator and the streaming twin
    * ([[graft.streaming.Streams.framesSampled]]): every step
    * (generate, index predicate, hash projection) is a per-row
    * expression, which is exactly why the stream side needs no
    * state. */
  private[graft] def sampleFrames(clipFrame: DataFrame,
      stride: Int = FrameStride): DataFrame = {
    // `% 0` would silently drop every frame (NULL predicate) in
    // non-ANSI mode and crash under ANSI — surface the misuse instead
    require(stride >= 1, s"sampleFrames: stride must be >= 1, got $stride")
    clipFrame
      .select(col("doc_id"),
        posexplode(col("frames")).as(Seq("frame_idx", "frame")))
      .filter(col("frame_idx") % stride === 0)
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        expr("graft_dhash(frame)").as("frame_hash"))
  }

  /** The mm_frames planted-truth oracle: the sampled frames are PNGs
    * whose every pixel is [[plantedLuma]](doc_id·ClipFrames+f, x, y)
    * at [[frameW]]×[[frameH]] — all pure doc_id arithmetic — and the
    * engine's dHash of such a frame is therefore ALSO pure arithmetic
    * (lossless 8-bit decode recovers the planted luma exactly;
    * truecolor luma (v+v+v)/3 = v). The oracle recomputes the full
    * pipeline in DuckDB SQL: SplitMix-style luma per pixel (64-bit
    * wrap via HUGEINT mod-2⁶⁴ with a 32-bit split multiply, since a
    * 64×64-bit product overflows even HUGEINT), 9×8 block means with
    * the kernel's exact floor boundaries, and the 64 left-neighbor
    * comparisons — proving the PNG encode→decode→hash round-trip
    * recovers the planted truth, and pinning the sampled index set
    * {0, 3, …} at the same time. ~1 M pixel rows at sf0.01.
    */
  private def framesOracleSql: String = {
    val sampled = (0 until ClipFrames by FrameStride).mkString(", ")
    s"""
      WITH fr AS (
        SELECT doc_id, unnest([$sampled]) AS frame_idx FROM documents
      ), dims AS (
        SELECT doc_id, frame_idx,
          doc_id % 64 + 1 AS w, doc_id % 48 + 1 AS h,
          doc_id * $ClipFrames + frame_idx AS seed, 1 AS bs
        FROM fr
      ), ${PlantedSql.blockMeans(Seq("doc_id", "frame_idx"), 9, 8)}, hashed AS (
        ${PlantedSql.dhashFold(Seq("doc_id", "frame_idx"), "frame_hash")}
      )
      SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx, frame_hash
      FROM hashed"""
  }

  // ---- mm_audio: energy-envelope near-dup over the audio tier ----

  /** Near-dup hamming bound for the audio envelope hash — mirrors
    * [[PhashMaxHamming]]: a re-gained / dithered copy keeps its
    * envelope gradient, unrelated audio lands near 32. */
  val AudioMaxHamming = 8

  /** Planted 16-bit PCM sample for (doc, frame, channel): the
    * [[plantedLuma]] SplitMix chain widened to 16 bits — the same
    * `z2` arithmetic the DuckDB oracles already replay, so the audio
    * oracle reuses the one mixing formula. */
  private[graft] def plantedSamp(seed: Long, f: Int, c: Int): Int = {
    var z = seed * 0x9e3779b97f4a7c15L + f * 0xbf58476d1ce4e5b9L +
      c * 0x94d049bb133111ebL
    z ^= z >>> 30; z *= 0xbf58476d1ce4e5b9L
    z ^= z >>> 27; z *= 0x94d049bb133111ebL
    (((z >>> 33) & 0xffff).toInt) - 32768
  }

  /** Planted frame count: 65·(2..5) whole windows plus a 0..6-frame
    * tail beyond the window grid — so the span arithmetic (onset trim
    * + equal-window truncation, r14) is part of what the oracle
    * proves, tail frames included. */
  private[graft] def audioFrames(id: Long): Int =
    (65 * (id % 4 + 2) + id % 7).toInt

  case class MMAudio(doc_id: Long, payload: Array[Byte])

  private def audioBatch(batch: Seq[MMIn]): Seq[MMAudio] = batch.map { r =>
    val id = r.doc_id
    val ch = plantedChannels(id)
    val n = audioFrames(id)
    val data = new Array[Byte](n * ch * 2)
    var f = 0
    while (f < n) {
      var c = 0
      while (c < ch) {
        val v = plantedSamp(id, f, c)
        val p = (f * ch + c) * 2
        data(p) = (v & 0xff).toByte
        data(p + 1) = ((v >> 8) & 0xff).toByte
        c += 1
      }
      f += 1
    }
    MMAudio(id, buildWav(ch, plantedRate(id), 16, data))
  }

  /** Batched audio synthesis — the audio-column stand-in, same
    * mapPartitions plumbing as [[ingest]]/[[clips]]: every doc gets a
    * complete RIFF/WAVE PCM file whose samples are pure doc_id
    * arithmetic. */
  private[graft] def audio(ds: org.apache.spark.sql.Dataset[MMIn]) = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(it => it.grouped(BatchSize).flatMap(audioBatch))
  }

  /** mm_audio — the dedup ladder extended to the AUDIO tier (VERDICT
    * r12 #3): every WAV payload's PCM samples are decoded BY THE
    * ENGINE (graft_ahash, plans.AudioHash — raw bytes after the RIFF
    * chunks, no codec) into a 64-bit energy-envelope hash, and
    * near-dups cluster through the dedup_simhash hamming-band
    * machinery verbatim — the mm_phash architecture with sound in
    * place of pixels, sharing one candidate engine across the
    * modalities. Full planted-truth oracle: samples, mono fold,
    * equal-window energies, the 64 envelope comparisons AND the
    * banded near-dup search all replay in DuckDB from doc_id
    * arithmetic.
    */
  private val opAudio = Op(
    "mm_audio",
    (s, dir) => {
      import s.implicits._
      // materialized once: feeds the band pair search AND the final
      // per-doc join (the mm_phash lesson — without the pin each
      // branch re-runs synthesis + PCM decode)
      val hashes = audio(Tables(s, dir, "documents")
          .select(col("doc_id"), col("text").cast("binary").as("payload"))
          .as[MMIn])
        .toDF()
        .select(col("doc_id"), expr("graft_ahash(payload)").as("simhash"))
        .filter(col("simhash").isNotNull)
        // lazy (r19): materialized by simhashPairs' band-frame
        // checkpoint job together with the mult frame — the WAV
        // synthesis + PCM decode runs exactly once, one job earlier
        .localCheckpoint(eager = false)
      // the mm_phash move: distinct-hash search + multiplicity
      // recombination (Dedup.neighborStats) — silence/constant-tone
      // floods share one ahash and collapse to one node
      Dedup.neighborStats(hashes, Dedup.SimhashMaxBucket, AudioMaxHamming)
        .select(col("doc_id"), col("simhash").as("ahash"),
          col("n_near_dups"), col("min_hamming"))
    },
    Some(audioOracleSql))

  /** mm_audio planted-truth oracle: the whole op replays in DuckDB —
    * the planted 16-bit samples are the shared z2 SplitMix chain with
    * (x, y) = (frame, channel), the mono fold / equal-window energy
    * sums / 64 neighbor comparisons are integer SQL, and the banded
    * near-dup search is the mm_phash oracle's relational replay with
    * `ahash` in place of `phash`.
    */
  private def audioOracleSql: String = {
    val z2 = PlantedSql.z2
    s"""
      WITH dims AS (
        -- ALL planted frames, incl. the 0..6-frame tail: pre-r14 the
        -- fixed grid truncated the tail unconditionally so the oracle
        -- could ignore it; the onset trim's peak/span now see every
        -- frame, so the oracle must too
        SELECT doc_id, doc_id % 2 + 1 AS ch,
          65 * (doc_id % 4 + 2) + doc_id % 7 AS n65,
          doc_id % 4 + 2 AS win, doc_id AS seed
        FROM documents
      ), fx AS (
        SELECT doc_id, ch, win, seed, unnest(range(n65)) AS f FROM dims
      ), fc AS (
        SELECT doc_id, win, seed, f, 1 AS bs, f AS x,
          unnest(range(ch)) AS y
        FROM fx
      ), samp AS (
        SELECT doc_id, win, f,
          CAST((CAST(z2 AS UBIGINT) >> 33) & 65535 AS BIGINT) - 32768 AS v
        FROM (SELECT doc_id, win, f, $z2 AS z2 FROM fc)
      ), mono AS (
        SELECT doc_id, win, f, SUM(v) AS m
        FROM samp GROUP BY doc_id, win, f
      ), act AS (
        -- onset alignment (r14): active = |m| > peak/64; the window
        -- grid starts at the first active frame and spans to the last
        SELECT doc_id, MAX(ABS(m)) // 64 AS thr FROM mono GROUP BY doc_id
      ), span AS (
        SELECT mono.doc_id, MIN(f) AS f0,
          (MAX(f) - MIN(f) + 1) // 65 AS awin
        FROM mono JOIN act ON mono.doc_id = act.doc_id
        WHERE ABS(m) > thr
        GROUP BY mono.doc_id
      ), energy AS (
        SELECT mono.doc_id, (f - f0) // awin AS w, SUM(m * m) AS e
        FROM mono JOIN span ON mono.doc_id = span.doc_id
        WHERE awin > 0 AND f >= f0 AND (f - f0) < 65 * awin
        GROUP BY mono.doc_id, (f - f0) // awin
      ), ah AS (
        SELECT doc_id,
          CAST(CASE WHEN uh >= 9223372036854775808::HUGEINT
            THEN uh - ${PlantedSql.M64} ELSE uh END AS BIGINT) AS ahash
        FROM (
          SELECT a.doc_id,
            COALESCE(SUM(CASE WHEN b.e > a.e
              THEN CAST(1 AS HUGEINT) << CAST(a.w AS INTEGER)
              ELSE 0::HUGEINT END), 0::HUGEINT) AS uh
          FROM energy a JOIN energy b
            ON a.doc_id = b.doc_id AND b.w = a.w + 1
          WHERE a.w < 64
          GROUP BY a.doc_id)
      ), bands AS (
        SELECT doc_id, ahash, bi.band_id,
          (ahash >> CAST(bi.band_id * 16 AS INTEGER)) & 65535 AS band_key
        FROM ah CROSS JOIN (SELECT unnest(range(4)) AS band_id) bi
      ), sized AS (
        SELECT band_id, band_key, COUNT(DISTINCT ahash) AS bn
        FROM bands GROUP BY band_id, band_key
      ), salted AS (
        SELECT b.doc_id, b.ahash, b.band_id, b.band_key,
          CASE WHEN s.bn > ${Dedup.SimhashMaxBucket}
            THEN (b.ahash >> CAST(((b.band_id + 1) % 4) * 16 AS INTEGER))
              & 65535
            ELSE 0 END AS salt
        FROM bands b JOIN sized s
          ON b.band_id = s.band_id AND b.band_key = s.band_key
      ), pairs AS (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
          bit_count(xor(x.ahash, y.ahash)) AS hamming
        FROM salted x JOIN salted y
          ON x.band_id = y.band_id AND x.band_key = y.band_key
         AND x.salt = y.salt AND x.doc_id < y.doc_id
      ), near AS (
        SELECT * FROM pairs WHERE hamming <= $AudioMaxHamming
      ), perdoc AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_near_dups,
          CAST(MIN(hamming) AS BIGINT) AS min_hamming
        FROM (
          SELECT a AS doc_id, hamming FROM near
          UNION ALL SELECT b AS doc_id, hamming FROM near)
        GROUP BY doc_id
      )
      SELECT ah.doc_id, ah.ahash,
        COALESCE(p.n_near_dups, 0) AS n_near_dups,
        COALESCE(p.min_hamming, -1) AS min_hamming
      FROM ah LEFT JOIN perdoc p ON ah.doc_id = p.doc_id"""
  }

  private val opFrames = Op(
    "mm_frames",
    (s, dir) => {
      import s.implicits._
      // clip synthesis is the heavy per-row stand-in for reading a
      // real video column; a single-row-group local file would build
      // every clip in ONE task (conditional — no exchange when the
      // scan already covers the cores)
      sampleFrames(clips(graft.Tables.rebalance(
          Tables(s, dir, "documents")
            .select(col("doc_id"), col("text").cast("binary").as("payload")))
          .as[MMIn])
        .toDF())
    },
    Some(framesOracleSql))

  // ---- mm_video_dedup: clip-level near-dup within the corpus ----

  /** Canonical clip id for the video-copy planting: every
    * id % 7 == 3 clip is a re-upload of clip id−1 (same frames, same
    * dims) with an EDITED final frame — the re-posted video with a
    * different outro, the case byte-exact dedup can never see and
    * single-image phash has no notion of. No chains: id−1 is itself
    * canonical (id−1 ≡ 2 mod 7). */
  private[graft] def clipCanon(id: Long): Long =
    if (id % 7 == 3 && id > 0) id - 1 else id

  private def clipCopyBatch(batch: Seq[MMIn]): Seq[MMClip] = batch.map { r =>
    val id = r.doc_id
    val c = clipCanon(id)
    MMClip(id, (0 until ClipFrames).map { f =>
      val seed =
        if (f == ClipFrames - 1) id * ClipFrames + f // edited outro
        else c * ClipFrames + f
      buildPng(frameW(c), frameH(c), plantedLuma(seed, _, _))
    })
  }

  /** Clip synthesis with planted re-uploads — the video-dedup
    * stand-in (same mapPartitions plumbing as [[clips]]). */
  private[graft] def clipsWithCopies(ds: org.apache.spark.sql.Dataset[MMIn]) = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(it => it.grouped(BatchSize).flatMap(clipCopyBatch))
  }

  /** mm_video_dedup — the dedup ladder's VIDEO rung: two clips are
    * near-duplicates when EVERY sampled frame of one is perceptually
    * near (dHash hamming ≤ [[PhashMaxHamming]]) some same-position
    * sampled frame of the other. Composition, not new machinery —
    * exactly why the tiers were built to share one hash space:
    * [[sampleFrames]] (decode only every stride-th frame; the edited
    * outro is never even decoded, which is the sampling robustness
    * story), then dedup_simhash's adaptive banding over COMPOSITE keys
    * doc_id·8+frame_idx so frame-0s band with frame-0s (clip alignment
    * by position — the envelope-hash analog of onset alignment is out
    * of scope and documented), a same-position filter, and an
    * ALL-sampled-frames-must-match fold per clip pair. Scale shape:
    * frames decoded once (pinned — the pair search and the per-doc
    * roll-up both consume the skinny hash frame); banding inherits
    * simhashPairs' sub-split bound, pair folds move (da, db, fidx)
    * longs only. Full oracle since r17 (videoDedupOracleSql); the
    * planted copy spec still pins detection and the unrelated-clip
    * zero.
    */
  private[graft] def videoNearDup(fh: DataFrame): DataFrame = {
    // clips collapse to SIGNATURE nodes (the ordered (frame_idx,
    // frame_hash) vector) before any pair search — the neighborStats
    // move lifted to whole-clip granularity. A re-upload flood (many
    // byte-identical or flat clips) shares one signature, so it is ONE
    // node: pair volume is bounded by signature ENTROPY, not clip
    // count. The r16 sf10 checkpoint measured the clip-level pairing
    // at 27× for 10× data on exactly that flood; in signature space
    // the same corpus reads linear. Node ids pack the 60-bit truncated
    // signature with the 3-bit frame position (60+3 bits fit a signed
    // long — the doc_id*8+fidx trick this function always used, now on
    // signatures). TRUNCATION BOUND (accepted, not silent): two
    // DISTINCT clip signatures colliding in the low 60 bits merge into
    // one node — their multiplicities mix and n_sampled reads from an
    // arbitrary member, corrupting n_near_clips for those clips. The
    // xxhash64 low bits are uniform, so the chance of ANY collision
    // among S distinct signatures is ≤ S²/2⁶¹ (birthday bound): one in
    // ~2.3×10⁹ at S=10⁶ distinct signatures, one in ~2 300 at S=10⁹ —
    // far below the dHash false-match rate this operator already
    // tolerates by design. Revisit (carry sig as a struct key) only if
    // the distinct-signature count ever approaches 2³⁰.
    // One aggregation produces the signature AND carries the frame
    // vector, so the signature-node frame set derives from sigMeta's
    // first(fv) instead of a corpus-side join + distinct (r18 — the
    // two extra shuffles were pure overhead: sampleFrames emits one
    // row per (doc, sampled position), so count == countDistinct and
    // the vector per signature is unique up to the documented 2⁻⁶¹
    // truncation collision, which first(n_sampled) already accepts).
    val clipSig = fh.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sampled"),
        sort_array(collect_list(struct(col("frame_idx"),
          col("frame_hash")))).as("fv"))
      .withColumn("sig", expr("xxhash64(concat_ws(',', transform(fv, " +
        "x -> concat(cast(x.frame_idx AS string), ':', " +
        "cast(x.frame_hash AS string)))))"))
      .withColumn("sigt", expr("sig & 1152921504606846975"))
      // lazy (r19): clipSig and sigMeta materialize inside
      // simhashPairs' eager band-frame checkpoint job (the first
      // consumer of the chain) — the frame-hash aggregation runs once,
      // two stand-alone materialization jobs gone (guide §5, the
      // neighborStats recipe)
      .localCheckpoint(eager = false)
    val sigMeta = clipSig.groupBy(col("sigt"))
      .agg(count(lit(1)).as("m"), first(col("n_sampled")).as("n_sampled"),
        first(col("fv")).as("fv"))
      .localCheckpoint(eager = false)
    val sigFrames = sigMeta
      .select(col("sigt"), explode(col("fv")).as("f"))
      .select(col("sigt"), col("f.frame_idx").as("frame_idx"),
        col("f.frame_hash").as("frame_hash"))
    val framePairs = Dedup.simhashPairs(
        sigFrames.select(
          (col("sigt") * 8L + col("frame_idx")).as("doc_id"),
          col("frame_hash").as("simhash")),
        Dedup.SimhashMaxBucket, PhashMaxHamming)
      .filter(col("a") % 8L === col("b") % 8L)
      .select(expr("a DIV 8").as("sa"), expr("b DIV 8").as("sb"),
        (col("a") % 8L).as("fidx"))
    // full-profile match: every sampled position of the (node-order)
    // first signature has a near frame in the second — the same
    // da-side rule as the clip-level shape, now content-ordered and
    // therefore deterministic under any doc-id assignment
    val matched = framePairs.groupBy(col("sa"), col("sb"))
      .agg(countDistinct(col("fidx")).as("n_hit"))
      .join(sigMeta.select(col("sigt").as("sa"), col("n_sampled")),
        Seq("sa"))
      .filter(col("n_hit") === col("n_sampled"))
    // near-clip mass: cross-signature matches add the other side's
    // multiplicity; same-signature copies add (m − 1)
    val cross = matched
      .select(col("sa").as("sigt"), col("sb").as("other"))
      .union(matched.select(col("sb").as("sigt"), col("sa").as("other")))
      .join(sigMeta.select(col("sigt").as("other"), col("m").as("om")),
        Seq("other"))
      .groupBy(col("sigt")).agg(sum(col("om")).as("cross_mass"))
    clipSig.join(sigMeta.select(col("sigt"), col("m")), Seq("sigt"))
      .join(cross, Seq("sigt"), "left")
      .select(col("doc_id"), col("n_sampled"),
        (col("m") - 1 + coalesce(col("cross_mass"), lit(0L)))
          .as("n_near_clips"))
  }

  private val opVideoDedup = Op(
    "mm_video_dedup",
    (s, dir) => {
      import s.implicits._
      val fh = sampleFrames(clipsWithCopies(graft.Tables.rebalance(
          Tables(s, dir, "documents")
            .select(col("doc_id"), col("text").cast("binary").as("payload")))
          .as[MMIn])
        .toDF())
        // lazy (r19): truncates the synthesis+decode lineage at
        // construction; the blocks materialize once inside the first
        // downstream eager-checkpoint job (persist-backed, so the
        // decode still runs exactly once per partition)
        .localCheckpoint(eager = false)
      videoNearDup(fh)
    },
    Some(videoDedupOracleSql))

  /** mm_video_dedup planted-truth oracle (r17 — the fourth rows-only →
    * SQL conversion of the multimodal tier): the post-r16 rewrite made
    * the whole op pure integer arithmetic over frame hashes, so DuckDB
    * replays it END-TO-END. Sampled frame hashes are the mm_frames
    * replay keyed by the CANONICAL clip id (clipCopyBatch builds every
    * frame from canon's dims and — outside the never-sampled edited
    * outro — canon's seed, so a re-upload's sampled hashes equal its
    * canon's); clip signatures are the ordered (frame_idx, frame_hash)
    * vector AS A STRING — semantically the node key the Scala side
    * xxhash64-compresses (the truncation-collision bound at the
    * compression site is ~2⁻⁶¹ per signature pair and the oracle's
    * exact grouping is the ground truth it approximates); then
    * signature-node banding, the adaptive salt rule, the same-position
    * hamming-verified pair search, the all-sampled-positions fold and
    * the multiplicity recombination are plain relational algebra, the
    * mm_phash/mm_audio oracle lifted to composite (signature, frame)
    * nodes. Pair order: the Scala side orders nodes by packed
    * xxhash-signature ids, the oracle by signature STRING — both are
    * arbitrary total orders over the same node set, and every
    * downstream consumer (n_hit fold, cross-mass union) is
    * order-symmetric because n_sampled is constant across clips
    * (ClipFrames/FrameStride sampled positions for every clip).
    */
  private def videoDedupOracleSql: String = {
    val sampled = (0 until ClipFrames by FrameStride).mkString(", ")
    s"""
      WITH docs2 AS (
        SELECT doc_id,
          CASE WHEN doc_id % 7 = 3 AND doc_id > 0
            THEN doc_id - 1 ELSE doc_id END AS canon
        FROM documents
      ), cf AS (
        SELECT canon, unnest([$sampled]) AS fi
        FROM (SELECT DISTINCT canon FROM docs2)
      ), dims AS (
        SELECT canon, fi, canon % 64 + 1 AS w, canon % 48 + 1 AS h,
          canon * $ClipFrames + fi AS seed, 1 AS bs
        FROM cf
      ), ${PlantedSql.blockMeans(Seq("canon", "fi"), 9, 8)}, hashed AS (
        ${PlantedSql.dhashFold(Seq("canon", "fi"), "fh")}
      ), sigf AS (
        SELECT d.doc_id, h.fi, h.fh
        FROM docs2 d JOIN hashed h ON h.canon = d.canon
      ), sigs AS (
        SELECT doc_id,
          string_agg(CAST(fi AS VARCHAR) || ':' || CAST(fh AS VARCHAR),
            ',' ORDER BY fi) AS sig,
          COUNT(DISTINCT fi) AS n_sampled
        FROM sigf GROUP BY doc_id
      ), nodes AS (
        SELECT sig, COUNT(*) AS m, MIN(n_sampled) AS n_sampled
        FROM sigs GROUP BY sig
      ), nodef AS (
        SELECT DISTINCT g.sig, f.fi, f.fh
        FROM sigs g JOIN sigf f USING (doc_id)
      ), bands AS (
        SELECT sig, fi, fh, bi.band_id,
          (fh >> CAST(bi.band_id * 16 AS INTEGER)) & 65535 AS band_key
        FROM nodef CROSS JOIN (SELECT unnest(range(4)) AS band_id) bi
      ), sized AS (
        SELECT band_id, band_key, COUNT(*) AS bn
        FROM bands GROUP BY band_id, band_key
      ), salted AS (
        SELECT b.sig, b.fi, b.fh, b.band_id, b.band_key,
          CASE WHEN s.bn > ${Dedup.SimhashMaxBucket}
            THEN (b.fh >> CAST(((b.band_id + 1) % 4) * 16 AS INTEGER))
              & 65535
            ELSE 0 END AS salt
        FROM bands b JOIN sized s
          ON b.band_id = s.band_id AND b.band_key = s.band_key
      ), fpairs AS (
        SELECT DISTINCT x.sig AS sa, y.sig AS sb, x.fi
        FROM salted x JOIN salted y
          ON x.band_id = y.band_id AND x.band_key = y.band_key
         AND x.salt = y.salt AND x.fi = y.fi AND x.sig < y.sig
        WHERE bit_count(xor(x.fh, y.fh)) <= $PhashMaxHamming
      ), matched AS (
        SELECT p.sa, p.sb
        FROM (SELECT sa, sb, COUNT(DISTINCT fi) AS n_hit
              FROM fpairs GROUP BY sa, sb) p
        JOIN nodes na ON na.sig = p.sa
        WHERE p.n_hit = na.n_sampled
      ), cmass AS (
        SELECT sig, SUM(om) AS cm FROM (
          SELECT m.sa AS sig, n.m AS om
          FROM matched m JOIN nodes n ON n.sig = m.sb
          UNION ALL
          SELECT m.sb AS sig, n.m AS om
          FROM matched m JOIN nodes n ON n.sig = m.sa)
        GROUP BY sig
      )
      SELECT s.doc_id, CAST(s.n_sampled AS BIGINT) AS n_sampled,
        CAST(n.m - 1 + COALESCE(c.cm, 0) AS BIGINT) AS n_near_clips
      FROM sigs s JOIN nodes n ON n.sig = s.sig
      LEFT JOIN cmass c ON c.sig = s.sig"""
  }

  // ---- mm_scenes: shot/scene-cut detection over the clip column ----

  /** Frames per planted scene in the synthesis stand-in (6-frame
    * clips → 3 scenes, cuts before frames 2 and 4). */
  val SceneLen = 2

  /** Hamming step between consecutive frame dHashes that declares a
    * shot cut. Within a shot, consecutive frames hash near-identically
    * (dHash is gradient-based — small motion flips few bits); across a
    * cut the hashes are unrelated (~32 of 64 bits differ), so a wide
    * margin separates the classes — the classic threshold shot-cut
    * detector over perceptual hashes. */
  val SceneCutTau = 16

  /** Scene-structured clip synthesis — frames within a scene share
    * their luma seed (identical frames: the stand-in's controlled
    * planting), scenes differ completely; same mapPartitions plumbing
    * as [[clips]]. */
  private def sceneBatch(batch: Seq[MMIn]): Seq[MMClip] = batch.map { r =>
    val id = r.doc_id
    MMClip(id, (0 until ClipFrames).map { f =>
      buildPng(frameW(id), frameH(id),
        plantedLuma(id * ClipFrames + (f / SceneLen) * SceneLen, _, _))
    })
  }

  private[graft] def clipsScened(ds: org.apache.spark.sql.Dataset[MMIn]) = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(it => it.grouped(BatchSize).flatMap(sceneBatch))
  }

  /** mm_scenes — shot-cut detection: a cut wherever the dHash of
    * consecutive frames jumps by more than [[SceneCutTau]] bits, the
    * index any video curation pipeline needs before per-shot sampling
    * (mm_frames' fixed stride oversamples static shots and can skip
    * short ones; cutting first makes the sample per-shot). CONTRAST
    * with mm_frames' sample-then-decode: a cut detector must see every
    * consecutive pair, so it decodes ALL frames by necessity — the two
    * ops are the two ends of the decode-cost spectrum, which is why
    * they are separate rows.
    *
    * Shape: a clip's frames live in ONE array cell, so the whole
    * detector is per-row HOFs — ZERO shuffle at any corpus size. The
    * frame hashes are bound ONCE per row via the array-of-one
    * let-binding (`transform(array(<hashes>), hs -> ...)`): naming
    * them as a projected column instead would let CollapseProject
    * inline the transform into both slice() consumers and run the
    * decode kernel twice per frame (the repo's recurring
    * single-use-kernel-column pitfall). Emits scalar audit columns
    * only (cut indices as a joined string — raw arrays break the
    * driver compare, the embed_pca lesson). Full oracle since r17
    * (scenesOracleSql — the planted-luma dHash replay over all
    * frames); the planted spec still pins cuts at the synthesized
    * scene boundaries and hand-built [A,A,B] fixtures.
    */
  private[graft] def sceneCuts(clipFrame: DataFrame): DataFrame = {
    clipFrame
      .withColumn("steps", expr(s"""
        CASE WHEN size(frames) < 2 THEN CAST(array() AS array<int>)
        ELSE flatten(transform(
          array(transform(frames, f -> graft_dhash(f))),
          hs -> zip_with(slice(hs, 1, size(hs) - 1),
                         slice(hs, 2, size(hs) - 1),
                         (a, b) -> bit_count(a ^ b)))) END"""))
      .select(col("doc_id"),
        size(col("frames")).cast("long").as("n_frames"),
        expr(s"1L + aggregate(steps, 0L, (a, s) -> a + IF(s > $SceneCutTau, 1L, 0L))")
          .as("n_scenes"),
        expr(s"""array_join(transform(filter(
            zip_with(steps, sequence(1, size(steps)),
              (s, i) -> IF(s > $SceneCutTau, i, -1)),
            x -> x >= 0), x -> cast(x AS string)), ",")""")
          .as("cut_idxs"),
        expr("aggregate(steps, 0L, (a, s) -> greatest(a, s))")
          .as("max_step"),
        expr("aggregate(steps, 64L, (a, s) -> least(a, s))")
          .as("min_step"))
  }

  private val opScenes = Op(
    "mm_scenes",
    (s, dir) => {
      import s.implicits._
      sceneCuts(clipsScened(graft.Tables.rebalance(
          Tables(s, dir, "documents")
            .select(col("doc_id"), col("text").cast("binary").as("payload")))
          .as[MMIn])
        .toDF())
    },
    Some(scenesOracleSql))

  /** mm_scenes planted-truth oracle (r17): the scened clip's every
    * pixel is [[plantedLuma]](doc_id·ClipFrames + (f/SceneLen)·SceneLen,
    * x, y) — pure doc_id arithmetic — so DuckDB replays the full
    * detector: per-frame dHash via the shared blockMeans/dhashFold
    * replay (all [[ClipFrames]] frames — the cut detector decodes
    * everything by design), consecutive-frame hamming steps, the
    * > [[SceneCutTau]] threshold, and the four audit aggregates.
    * `min_step`'s Scala fold seeds at 64 — a no-op floor since
    * bit_count of a 64-bit xor never exceeds 64 and every clip has
    * ClipFrames−1 ≥ 1 steps; `max_step`'s 0 seed likewise.
    */
  private def scenesOracleSql: String = {
    s"""
      WITH f AS (
        SELECT doc_id, unnest(range($ClipFrames)) AS fi FROM documents
      ), dims AS (
        SELECT doc_id, fi, doc_id % 64 + 1 AS w, doc_id % 48 + 1 AS h,
          doc_id * $ClipFrames + (fi // $SceneLen) * $SceneLen AS seed,
          1 AS bs
        FROM f
      ), ${PlantedSql.blockMeans(Seq("doc_id", "fi"), 9, 8)}, hashed AS (
        ${PlantedSql.dhashFold(Seq("doc_id", "fi"), "fhash")}
      ), steps AS (
        SELECT a.doc_id, a.fi + 1 AS i,
          bit_count(xor(a.fhash, b.fhash)) AS s
        FROM hashed a JOIN hashed b
          ON a.doc_id = b.doc_id AND b.fi = a.fi + 1
      )
      SELECT doc_id,
        CAST($ClipFrames AS BIGINT) AS n_frames,
        CAST(1 + SUM(CASE WHEN s > $SceneCutTau THEN 1 ELSE 0 END) AS BIGINT)
          AS n_scenes,
        COALESCE(string_agg(
          CASE WHEN s > $SceneCutTau THEN CAST(i AS VARCHAR) END,
          ',' ORDER BY i), '') AS cut_idxs,
        CAST(MAX(s) AS BIGINT) AS max_step,
        CAST(MIN(s) AS BIGINT) AS min_step
      FROM steps GROUP BY doc_id"""
  }

  // ---- mm_interleave: interleaved image-text sequence assembly ----
  // The vision-language training data shape (Flamingo/LLaVA-style):
  // a document's text is cut into InterleaveStride-token chunks with
  // an image slot BEFORE each chunk, and — the budgeting fact every
  // multimodal packer needs — each image occupies a PATCH-dependent
  // number of sequence positions: patches = ⌈w/14⌉·⌈h/14⌉ (the ViT-14
  // grid), with (w, h) from the planted image arithmetic shared with
  // mm_meta (image_id = doc_id·1000 + slot — swap in a real asset
  // join). Per slot the op emits the placeholder's exact char position
  // in the rendered string ('<|img|>' + chunk, concatenated in slot
  // order — template_audit's marker family), the chunk's token/char
  // extents, and the slot's total sequence cost (patches + tokens) a
  // packer folds. Narrow explode (≤ tokens/stride slots per doc) + one
  // per-doc window over those ≤13-row partitions; chunk chars come
  // from array_join(slice(...)) so nothing re-tokenizes.
  val InterleaveStride = 8
  val VitPatch = 14

  /** Assembly over a (doc_id, text) frame — factored for fixture
    * specs; the Op wires the documents table.
    */
  def mmInterleave(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window
      .partitionBy(col("doc_id")).orderBy(col("slot"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_toks", size(col("toks")).cast("long"))
      .withColumn("slot",
        explode(expr(s"sequence(0L, (n_toks - 1) DIV $InterleaveStride)")))
      .withColumn("chunk",
        expr(s"array_join(slice(toks, CAST(slot * $InterleaveStride + 1 " +
          s"AS INT), $InterleaveStride), ' ')"))
      .withColumn("image_id", col("doc_id") * 1000L + col("slot"))
      .withColumn("w",
        expr(s"CASE WHEN image_id % 3 = 0 THEN image_id % 64 + 1 " +
          "ELSE image_id % 96 + 1 END"))
      .withColumn("h",
        expr(s"CASE WHEN image_id % 3 = 0 THEN image_id % 48 + 1 " +
          "ELSE image_id % 72 + 1 END"))
      .withColumn("patch_tokens",
        expr(s"((w + ${VitPatch - 1}) DIV $VitPatch) * " +
          s"((h + ${VitPatch - 1}) DIV $VitPatch)"))
      .withColumn("chunk_tokens",
        least(lit(InterleaveStride.toLong),
          col("n_toks") - col("slot") * InterleaveStride))
      .withColumn("char_pos",
        coalesce(sum(length(col("chunk")).cast("long") + 7L).over(byDoc),
          lit(0L)))
      .select(col("doc_id"), col("slot"), col("image_id"),
        col("patch_tokens"), col("chunk_tokens"),
        col("char_pos"),
        (col("char_pos") + 7L).as("chunk_start"),
        (col("char_pos") + 7L + length(col("chunk")).cast("long"))
          .as("chunk_end"),
        (col("patch_tokens") + col("chunk_tokens")).as("seq_cost"))
  }

  private val opInterleave = Op(
    "mm_interleave",
    (s, dir) => mmInterleave(
      Tables(s, dir, "documents").select(col("doc_id"), col("text"))),
    Some(s"""
      WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        FROM documents),
      slots AS (
        SELECT doc_id, toks, n_toks, CAST(u.s AS BIGINT) AS slot
        FROM d, UNNEST(generate_series(0,
          (n_toks - 1) // $InterleaveStride)) AS u(s)),
      ch AS (
        SELECT doc_id, slot, n_toks,
          array_to_string(toks[CAST(slot * $InterleaveStride + 1 AS BIGINT):
            CAST(slot * $InterleaveStride + $InterleaveStride AS BIGINT)],
            ' ') AS chunk,
          doc_id * 1000 + slot AS image_id
        FROM slots),
      geom AS (
        SELECT doc_id, slot, n_toks, chunk, image_id,
          CASE WHEN image_id % 3 = 0 THEN image_id % 64 + 1
               ELSE image_id % 96 + 1 END AS w,
          CASE WHEN image_id % 3 = 0 THEN image_id % 48 + 1
               ELSE image_id % 72 + 1 END AS h
        FROM ch),
      pos AS (
        SELECT doc_id, slot, image_id,
          ((w + ${VitPatch - 1}) // $VitPatch) *
            ((h + ${VitPatch - 1}) // $VitPatch) AS patch_tokens,
          LEAST($InterleaveStride, n_toks - slot * $InterleaveStride)
            AS chunk_tokens,
          CAST(COALESCE(SUM(length(chunk) + 7) OVER (
            PARTITION BY doc_id ORDER BY slot
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS char_pos,
          CAST(length(chunk) AS BIGINT) AS chunk_len
        FROM geom)
      SELECT doc_id, slot, image_id,
        CAST(patch_tokens AS BIGINT) AS patch_tokens,
        CAST(chunk_tokens AS BIGINT) AS chunk_tokens,
        char_pos,
        CAST(char_pos + 7 AS BIGINT) AS chunk_start,
        CAST(char_pos + 7 + chunk_len AS BIGINT) AS chunk_end,
        CAST(patch_tokens + chunk_tokens AS BIGINT) AS seq_cost
      FROM pos"""))

  // ---- mm_pack: multimodal batch packing by sequence cost ----
  // The step between mm_interleave and the trainer: each interleaved
  // example's TOTAL sequence cost (Σ patches + tokens over its slots)
  // decides how examples pack into MMPackLen-position training
  // sequences — and a multimodal example is an ATOM (an image's patch
  // block must never split across sequences, so the packer places
  // examples whole: the sft_pack rule, with cost in SEQUENCE
  // POSITIONS rather than chars). Per doc: its cost, the pack its
  // start position falls in, and its offset inside the pack. Scale:
  // the per-doc cost fold reuses mm_interleave's narrow arithmetic
  // (one ≤13-row-group fold keyed on doc_id); the running start is
  // PrefixSum.exclusive over the skinny (doc_id, cost) frame —
  // every window frame O(target) or O(√B), the sft_pack machinery.
  val MMPackLen = 2048L
  val MMPackTargetBucket = 1000L

  /** Packing over a (doc_id, doc_cost) frame — factored for fixture
    * specs; the Op folds mm_interleave's slot costs.
    */
  def mmPack(costs: DataFrame): DataFrame = {
    // ONE job materializes the lazy checkpoint AND measures (n, maxId)
    // — the old shape paid an eager-checkpoint job plus two separate
    // sizing actions (r18 optimization round)
    val pre = costs.select(col("doc_id"), col("doc_cost"))
      .localCheckpoint(eager = false) // sizes the prefix-sum buckets
    val sizedRow = pre
      .agg(count(lit(1)), coalesce(max(col("doc_id")), lit(0L))).head()
    val n = math.max(sizedRow.getLong(0), 1L)
    val maxId = sizedRow.getLong(1)
    val width = math.max(
      (maxId + 1) / math.max(n / MMPackTargetBucket, 1L), 1L)
    val cum = graft.functions.PrefixSum.exclusive(
      pre.withColumn("bkt", expr(s"CAST(doc_id DIV $width AS BIGINT)")),
      "doc_cost", Seq(col("doc_id")),
      numBuckets = (maxId + 1) / width + 1, out = "cum_before")
      .withColumn("pack_id", expr(s"cum_before DIV $MMPackLen"))
    val byPack = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pack_id"))
    cum.withColumn("pack_off",
        col("cum_before") - min(col("cum_before")).over(byPack))
      .select(col("doc_id"), col("doc_cost"), col("pack_id"),
        col("pack_off"))
  }

  private val opMmPack = Op(
    "mm_pack",
    (s, dir) => mmPack(
      mmInterleave(Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")))
        .groupBy(col("doc_id"))
        .agg(sum(col("seq_cost")).as("doc_cost"))),
    Some(s"""
      WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        FROM documents),
      slots AS (
        SELECT doc_id, n_toks, CAST(u.s AS BIGINT) AS slot
        FROM d, UNNEST(generate_series(0,
          (n_toks - 1) // $InterleaveStride)) AS u(s)),
      geom AS (
        SELECT doc_id, slot, n_toks, doc_id * 1000 + slot AS image_id
        FROM slots),
      costs AS (
        SELECT doc_id,
          CAST(SUM(
            ((CASE WHEN image_id % 3 = 0 THEN image_id % 64 + 1
                   ELSE image_id % 96 + 1 END + ${VitPatch - 1})
              // $VitPatch) *
            ((CASE WHEN image_id % 3 = 0 THEN image_id % 48 + 1
                   ELSE image_id % 72 + 1 END + ${VitPatch - 1})
              // $VitPatch) +
            LEAST($InterleaveStride, n_toks - slot * $InterleaveStride))
            AS BIGINT) AS doc_cost
        FROM geom GROUP BY doc_id),
      cum AS (
        SELECT doc_id, doc_cost,
          CAST(COALESCE(SUM(doc_cost) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS cum_before
        FROM costs),
      packs AS (
        SELECT doc_id, doc_cost, cum_before,
          cum_before // $MMPackLen AS pack_id
        FROM cum)
      SELECT doc_id, doc_cost, CAST(pack_id AS BIGINT) AS pack_id,
        CAST(cum_before - MIN(cum_before) OVER (PARTITION BY pack_id)
          AS BIGINT) AS pack_off
      FROM packs"""))

  val ops: Seq[Op] =
    Seq(opMeta, opEmbed, opPhash, opResize, opFrames, opAudio, opVideoDedup,
      opScenes, opInterleave, opMmPack)
}
