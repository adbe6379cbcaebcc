package graft.sources

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Dedup fingerprint-store persistence (SURVEY.md §2 sources/sinks:
  * sink_fingerprints) — the "derive once, probe forever" contract the
  * incremental-ingest family needs: deriving the standing corpus's
  * fingerprints is the expensive offline pass (a full history scan +
  * hash), and an ingest tick must NOT repeat it — at 100 TB a
  * re-derivation per arriving shard re-pays the whole corpus on every
  * tick, which is exactly the cost the asymmetric new×history join
  * exists to avoid. One parquet bundle under `path`, each frame the
  * skinny DISTINCT form its probe join consumes (reference shape:
  * kv_store/kv_loading_interface.py persists derived per-doc state so
  * serving never recomputes it from raw inputs):
  *
  *   content/      (th)        md5 content hashes → exact-dup gate
  *                             (dedup_incremental, stream_ingest)
  *   bands/        (band_val)  MinHash LSH band values, ≤ 8 longs/doc
  *                             → near-dup gate (dedup_incr_minhash,
  *                             stream_ingest_minhash)
  *   spans/        (h)         W=8 token-span hashes → verbatim-
  *                             containment coverage (dedup_incremental)
  *   phash_bands/  (band_id,   16-bit hamming bands of image and
  *                  band_key)  sampled clip-frame dHashes → the image
  *                             and clip gates (Ingest,
  *                             stream_ingest_phash, stream_ingest_clip)
  *   ahash_bands/  (band_id,   the same bands of audio envelope hashes
  *                  band_key)  → the audio gate (Ingest,
  *                             stream_ingest_audio)
  *
  * The two perceptual frames exist once [[writePhashBands]] builds
  * them or an ingest tick remembers an accepted multimodal shard. All
  * five are range-sharded on their hash key (the sink_shards
  * layout): contiguous non-overlapping files a 1000-executor probe
  * join co-partitions against, and a growing corpus appends new
  * shards without rewriting old ones. Plain parquet — partition-
  * prunable, engine-neutral. The round-trip spec (SinksSpec) proves
  * ingest flags from the RELOADED store equal the derive-fresh path
  * row-for-row, and the plan spec proves the store-fed ingest never
  * scans history documents.
  */
object Fingerprints {

  /** Store format version, recorded as a `_graft_format` marker file
    * at the store root (ADVICE r12). Version history:
    *
    *   - (unversioned) — minhash signatures hashed the UTF-8→UTF-16→
    *     UTF-8 round-trip of shingle bytes (malformed sequences
    *     replaced with U+FFFD before hashing).
    *   - 2 — minhash signatures hash RAW shingle bytes
    *     (plans.SignatureKernels direct byte copy). Identical on
    *     valid UTF-8; a `bands/` frame built from an invalid-UTF-8
    *     corpus under the old scheme will NOT collide with the same
    *     doc's new signature.
    *
    * Readers refuse a store whose marker is missing or older — the
    * silent failure mode is an incremental-dedup gate that quietly
    * stops matching history, which is strictly worse than a loud
    * rebuild request.
    */
  val FormatVersion = 2

  /** Declared schema of each frame, part of the store format that
    * [[FormatVersion]] versions. Every reader opens a frame with it, so
    * an open lists the files and runs no Spark job (an inferred read
    * runs one to merge parquet footers). DeclaredSchemaSpec pins each
    * equal to what Spark infers from the files the writers leave. */
  val ContentSchema: StructType = StructType.fromDDL("th STRING")
  val BandsSchema: StructType = StructType.fromDDL("band_val BIGINT")
  val SpansSchema: StructType = StructType.fromDDL("h STRING")
  /** Both perceptual tiers, `phash_bands/` and `ahash_bands/`. */
  val PerceptualBandsSchema: StructType =
    StructType.fromDDL("band_id BIGINT, band_key BIGINT")

  /** The store's five frames, each with its declared schema. */
  private val frames = Seq("content" -> ContentSchema,
    "bands" -> BandsSchema, "spans" -> SpansSchema,
    "phash_bands" -> PerceptualBandsSchema,
    "ahash_bands" -> PerceptualBandsSchema)

  /** Missing marker on a non-empty store ⇒ built before versioning ⇒
    * signatures may predate the raw-byte minhash change ⇒ rebuild. A
    * store root that does not exist at all passes (nothing is
    * historical yet — the readPhashBandsOrEmpty bootstrap path). */
  private val bundle = StoreMaintenance.Bundle("fingerprint",
    FormatVersion, "raw-byte minhash signatures")

  /** Distinct rows of `df` as frame `sub`, range-sharded into
    * `nShards` and sorted within each shard on every column. */
  private def frame(sub: String, df: DataFrame,
      nShards: Int): StoreMaintenance.Frame =
    StoreMaintenance.Frame(sub, df.distinct(), df.columns.toSeq, nShards)

  private def writeFrames(docs: DataFrame, path: String, nShards: Int,
      mode: String): Unit =
    bundle.write(path, mode)(
      frame("content", docs.select(md5(col("text")).as("th")), nShards),
      frame("bands", Dedup.minhashSigs(docs)
        .select(explode(col("bands")).as("band_val")), nShards),
      frame("spans", Dedup.spanHashes(docs).select(col("h")), nShards))

  def write(hist: DataFrame, path: String, nShards: Int = 4): Unit =
    writeFrames(hist, path, nShards, "overwrite")

  /** The store-MAINTENANCE half of the ingest loop (gate, then
    * remember): an accepted shard's fingerprints land as NEW
    * range-sharded files — old shards are never read or rewritten
    * (append-only, the same log-structured move as ann_upsert).
    * Cross-shard duplicate hash values are tolerated by contract:
    * every store consumer reduces its probe side to DISTINCT before
    * joining (spec'd), so append needs no read-modify-write of
    * history — at 100 TB a dedup-on-write would re-pay the store
    * scan per ingest tick for no semantic gain. A stale-format store
    * or a frame that a compaction has moved aside is refused
    * ([[StoreMaintenance.Bundle.write]]).
    */
  def append(shard: DataFrame, path: String, nShards: Int = 1): Unit =
    writeFrames(shard, path, nShards, "append")

  /** Log-structured COMPACTION — the other half of the append story:
    * many ingest ticks leave many small shard files (and cross-shard
    * duplicate hashes the consumers' DISTINCT absorbs); compact
    * rewrites each frame as `nShards` clean range-sharded files with
    * the duplicates folded out. Gating is unchanged before/after
    * (spec) — this is purely the file-count/bytes lever, run on the
    * maintenance cadence (the stream_index → stream_compact
    * relationship, applied to the store tier). The rewrite stages
    * through a temp dir then swaps, so a reader mid-compaction sees
    * either the old files or the new — never a half-written frame
    * (inside the swap window itself the frame is missing, and every
    * reader and appender fails loudly on it). A frame the store does
    * not hold yet (a text-only store has no perceptual bands) is
    * skipped.
    */
  def compact(spark: SparkSession, path: String, nShards: Int = 4): Unit =
    frames.foreach { case (sub, schema) =>
      bundle.compact(spark, path, sub, schema.fieldNames.toSeq, nShards,
        Some(schema))(_.distinct())
    }

  /** Multimodal extension of the store: distinct 16-bit hamming-band
    * keys of perceptual hashes — `phash_bands/` holds the image+clip
    * dHash space (mm_phash), `ahash_bands/` (r13) the audio
    * energy-envelope space (mm_audio); both reuse ONE band layout.
    * `hashes` is a (…, phash) frame; history payloads are decoded
    * exactly once, here.
    */
  def writePhashBands(hashes: DataFrame, path: String, nShards: Int = 1,
      mode: String = "overwrite", sub: String = "phash_bands"): Unit =
    bundle.write(path, mode)(frame(sub,
      graft.operators.Multimodal.phashBandRows(hashes)
        .select(col("band_id"), col("band_key")), nShards))

  def readPhashBands(spark: SparkSession, path: String,
      sub: String = "phash_bands"): DataFrame =
    bundle.read(spark, path, sub, Some(PerceptualBandsSchema))

  /** [[readPhashBands]], tolerating a store with no perceptual tier
    * yet: a text-history store (write() builds content/bands/spans
    * only) gating its FIRST multimodal shard must see an EMPTY band
    * set — nothing is historical — not crash at DataFrame
    * construction; the tier then bootstraps itself through the
    * accepted-band append. The existence probe is one driver-side
    * filesystem call against the store root — the same class of
    * bounded driver lookup as the counted broadcast guards. A frame
    * that a compaction has moved aside is refused
    * ([[StoreMaintenance.Bundle.isLive]]), not read as empty.
    */
  def readPhashBandsOrEmpty(spark: SparkSession, path: String,
      sub: String = "phash_bands"): DataFrame =
    if (bundle.isLive(spark, path, sub)) readPhashBands(spark, path, sub)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      PerceptualBandsSchema)

  def readContent(spark: SparkSession, path: String): DataFrame =
    bundle.read(spark, path, "content", Some(ContentSchema))

  def readBands(spark: SparkSession, path: String): DataFrame =
    bundle.read(spark, path, "bands", Some(BandsSchema))

  def readSpans(spark: SparkSession, path: String): DataFrame =
    bundle.read(spark, path, "spans", Some(SpansSchema))
}
