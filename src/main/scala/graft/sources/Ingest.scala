package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ingest_e2e — the composed gate-then-remember loop, one tick of the
  * deployment ingest firewall against the PERSISTED stores:
  *
  *   1. GATE: the arriving shard is flagged by the bloom-accelerated
  *      exact gate (Dedup.bloomGateFrom over the store's `content/`
  *      frame — "definitely new" costs zero shuffle) and the near-dup
  *      band probe (Dedup.incrementalMinhashFrom over `bands/`).
  *   2. DECIDE: accept = not an exact dup AND no historical band
  *      collision (the conservative firewall; a near-flag is cheap to
  *      re-adjudicate offline, a missed dup pollutes training data).
  *   3. REMEMBER: the ACCEPTED docs' fingerprints append to the store
  *      as new files (Fingerprints.append — history never read or
  *      rewritten), so the NEXT tick's gate sees them: a copy of a
  *      doc accepted in tick N is rejected in tick N+1 (spec).
  *
  * Everything corpus-sized stays where the component contracts put
  * it: the gates probe skinny store parquet (never history text), the
  * append writes only the shard's own fingerprints. Rejected docs
  * leave with their reasons (is_exact_dup / near_hist) — the audit
  * view, same philosophy as quality_filter's reason histogram.
  */
object Ingest {

  /** One perceptual tier of the firewall: the payload `kernel` (64-bit
    * hash, null when it cannot decode the payload), the band sub-store
    * it probes and remembers into, and its three decision columns.
    * dHash and envelope bits live in unrelated spaces, so each tier
    * owns its sub-store — sharing one would manufacture cross-modal
    * collisions. */
  private case class Tier(kernel: String, sub: String, nBands: String,
      hist: String, decoded: String)

  private val Tiers = Seq(
    Tier("graft_dhash", "phash_bands", "n_img_bands", "img_hist",
      "img_decoded"),
    Tier("graft_ahash", "ahash_bands", "n_audio_bands", "audio_hist",
      "audio_decoded"))

  /** The decode-once payload-hash frames a tick computes exactly one
    * time and feeds to BOTH the gate probes and the accepted-band
    * appends (localCheckpoint pins the decoded pixels/samples so
    * neither consumer re-runs the decoder): per perceptual tier its
    * (doc_id, phash) frame, nulls kept for the decode audit; the
    * clip tier's sampled (doc_id, frame_idx, frame_hash) frame. */
  private case class HashFrames(perceptual: Map[Tier, DataFrame],
      clipSampled: Option[DataFrame]) {
    def hashes(t: Tier): Option[DataFrame] =
      perceptual.get(t).map(_.filter(col("phash").isNotNull))
    def clipHashes: Option[DataFrame] =
      clipSampled.map(_.filter(col("frame_hash").isNotNull))
  }

  private def hashFrames(shard: DataFrame): HashFrames = HashFrames(
    if (!shard.columns.contains("payload")) Map.empty
    else Tiers.map(t => t -> shard.select(col("doc_id"),
        expr(s"${t.kernel}(payload)").as("phash")).localCheckpoint()).toMap,
    if (!shard.columns.contains("frames")) None
    else Some(graft.operators.Multimodal.sampleFrames(
        shard.select(col("doc_id"), col("frames"))).localCheckpoint()))

  /** One tick: gate `shard` against the store at `storePath`, append
    * the accepted docs' fingerprints, return the per-doc decision
    * frame (doc_id, bloom_pass, is_exact_dup, n_hist_bands,
    * near_hist, n_img_bands, img_hist, img_decoded, n_audio_bands,
    * audio_hist, audio_decoded, n_clip_bands, clip_hist,
    * n_clip_sampled, n_clip_decoded, accept).
    * `img_decoded` / `audio_decoded` / `n_clip_decoded` are the
    * decode audit: a doc whose payload (or whose EVERY sampled frame)
    * is undecodable cannot be probed against the perceptual store, so
    * it reaches `accept` with img_hist/audio_hist/clip_hist = 0 —
    * these columns let the caller quarantine that blind spot instead
    * of trusting it.
    *
    * If the shard carries a binary `payload` column, each perceptual
    * [[Tier]] decodes it with its kernel (a null hash = undecodable)
    * and probes its own band sub-store: image rows (graft_dhash) probe
    * `phash_bands/` (the stream_ingest_phash core), audio rows
    * (graft_ahash) probe `ahash_bands/` (stream_ingest_audio). An
    * exact or edited copy of any historical payload band-collides and
    * is rejected, and ACCEPTED payloads' bands append to the tier's
    * sub-store so the next tick sees them — the multimodal half of the
    * firewall. Text-only shards leave every tier column at 0.
    *
    * If the shard carries a `frames` column (array<binary> — the
    * video-shaped clip column), clips stride-sample BEFORE decode
    * (Multimodal.sampleFrames, the mm_frames core) and every sampled
    * frame's bands probe the SAME `phash_bands/` store: a clip
    * sharing ≥ 1 sampled frame with any accepted historical clip (or
    * image — one band space) flags `clip_hist` and is rejected, and
    * accepted clips' sampled-frame bands append so the next tick sees
    * them. The decode cost per arriving clip stays |frames|/stride.
    */
  def gateAndRemember(shard: DataFrame, storePath: String,
      nShards: Int = 1): DataFrame = {
    val hs = hashFrames(shard)
    val decided = gateDecisions(shard, storePath, hs)
    remember(shard, decided.filter(col("accept") === 1L)
      .select(col("doc_id")), storePath, nShards, hs)
    decided
  }

  /** Append `cols` to `d`: from the per-doc frames `parts` (left-joined
    * on doc_id, 0 where a doc has no row) when the shard carries the
    * tier, else all 0. */
  private def withTier(d: DataFrame, cols: Seq[String],
      parts: Option[Seq[DataFrame]]): DataFrame = parts match {
    case None => cols.foldLeft(d)(_.withColumn(_, lit(0L)))
    case Some(ps) =>
      cols.foldLeft(ps.foldLeft(d)(_.join(_, Seq("doc_id"), "left"))) {
        (acc, c) => acc.withColumn(c, coalesce(col(c), lit(0L)))
      }
  }

  /** The GATE half of a tick: probe the store, return the decision
    * frame (localCheckpointed) — no store writes. */
  private def gateDecisions(shard: DataFrame, storePath: String,
      hs: HashFrames): DataFrame = {
    val s = shard.sparkSession
    val exact = graft.operators.Dedup.bloomGateFrom(shard,
      Fingerprints.readContent(s, storePath))
    val near = graft.operators.Dedup.incrementalMinhashFrom(shard,
      Fingerprints.readBands(s, storePath))
    val decided0 = exact
      .join(near.select(col("doc_id"), col("n_hist_bands"),
        col("near_hist")), Seq("doc_id"))
    // perceptual tiers: payloads decoded ONCE ([[hashFrames]] — the
    // same frame feeds the probe and the accepted-band append). The
    // `*_decoded` audit (ADVICE r12) is 0 for a doc whose payload the
    // tier cannot decode: it emits no probe row and would otherwise
    // sail through the firewall untested (`*_hist` = 0).
    val withTiers = Tiers.foldLeft(decided0) { (d, t) =>
      withTier(d, Seq(t.nBands, t.hist, t.decoded),
        hs.perceptual.get(t).map { all => Seq(
          graft.operators.Multimodal.phashProbe(hs.hashes(t).get,
              Fingerprints.readPhashBandsOrEmpty(s, storePath, t.sub))
            .select(col("doc_id"), col("n_hist_bands").as(t.nBands),
              col("near_hist").as(t.hist)),
          all.select(col("doc_id"), when(col("phash").isNotNull, 1L)
            .otherwise(0L).as(t.decoded)))
        })
    }
    // clip tier: stride-sample, THEN decode only survivors (the
    // mm_frames contract), once ([[hashFrames]] — probe + append).
    // Its decode audit is the per-doc sampled/decoded frame counts, so
    // callers can quarantine n_clip_decoded = 0 < n_clip_sampled
    // shards. `accept` semantics are unchanged by either audit —
    // quarantine policy is the caller's (an undecodable payload may be
    // a legitimate non-image format, not corruption).
    val clipCols = Seq("n_clip_bands", "clip_hist", "n_clip_sampled",
      "n_clip_decoded")
    withTier(withTiers, clipCols, hs.clipSampled.map { c =>
        Seq(graft.operators.Multimodal.clipProbe(hs.clipHashes.get,
            Fingerprints.readPhashBandsOrEmpty(s, storePath)),
          c.groupBy(col("doc_id"))
            .agg(count(lit(1)).as("n_clip_sampled"),
              count(col("frame_hash")).as("n_clip_decoded")))
      })
      .withColumn("accept",
        when((Seq("is_exact_dup", "near_hist") ++ Tiers.map(_.hist) :+
            "clip_hist").map(col(_) === 0L).reduce(_ && _), 1L)
          .otherwise(0L))
      // the decision frame is consumed twice (append filter + the
      // caller's audit view) and the gates must not re-probe the store
      // after it has grown — pin it before the append mutates state
      .localCheckpoint()
  }

  /** The REMEMBER half of a tick: append the accepted docs'
    * fingerprints (+ perceptual bands) to the store. */
  private def remember(shard: DataFrame, acceptedIds: DataFrame,
      storePath: String, nShards: Int, hs: HashFrames): Unit = {
    Fingerprints.append(shard.join(acceptedIds, Seq("doc_id")),
      storePath, nShards)
    Tiers.foreach { t =>
      hs.hashes(t).foreach { h =>
        Fingerprints.writePhashBands(h.join(acceptedIds, Seq("doc_id")),
          storePath, nShards, mode = "append", sub = t.sub)
      }
    }
    hs.clipHashes.foreach { h =>
      Fingerprints.writePhashBands(
        h.select(col("doc_id"), col("frame_hash").as("phash"))
          .join(acceptedIds, Seq("doc_id")),
        storePath, nShards, mode = "append")
    }
  }

  /** One RESTART-SAFE streaming tick (the foreachBatch body of
    * [[graft.streaming.Streams.ingestTickSink]]), keyed by the
    * engine's `batchId`. The naive shape — gate, append, let the
    * engine commit — has a poisoned replay window: die AFTER the
    * fingerprint append but BEFORE the batch commit and the replay
    * re-gates against a store that already holds this batch's own
    * fingerprints, so every doc the crashed attempt accepted re-gates
    * as an exact dup and flips to reject — the doc is then IN the
    * store (blocking all future copies) but recorded rejected, i.e.
    * silently lost from the corpus.
    *
    * The fix is to make the DECISION durable before the store mutates,
    * and make replay re-drive the append from the durable decision
    * instead of re-gating:
    *
    *   1. gate (store unchanged so far — a crash anywhere here
    *      replays from scratch with identical inputs)
    *   2. write the decision frame to `decisionsPath/bid=<batchId>`
    *      (parquet overwrite; completeness = the `_SUCCESS` marker, so
    *      a half-written decision dir is recomputed, not trusted)
    *   3. append accepted fingerprints to the store
    *
    * A replayed batch whose decision dir is complete SKIPS the gate,
    * reloads the decisions, and re-runs only step 3. Decisions are
    * therefore EXACTLY-ONCE (bid-keyed overwrite); fingerprint appends
    * are AT-LEAST-ONCE with duplicates absorbed by contract — every
    * store consumer DISTINCTs its probe side before joining
    * (Fingerprints class doc), and compact() folds the duplicate files
    * on the maintenance cadence. Gating semantics are thus identical
    * with or without a replay (spec: StreamingSpec ingest-tick
    * restart).
    *
    * The payload-hash recompute on replay (step 3 needs the bands) is
    * deterministic per-row kernel work on the replayed shard only —
    * never a history scan.
    */
  def tick(shard: DataFrame, storePath: String, decisionsPath: String,
      batchId: Long, nShards: Int = 1): DataFrame = {
    val s = shard.sparkSession
    val decDir = s"$decisionsPath/bid=$batchId"
    val hs = hashFrames(shard)
    val decided =
      if (StoreMaintenance.exists(s, new org.apache.hadoop.fs.Path(
          s"$decDir/_SUCCESS"))) s.read.parquet(decDir).localCheckpoint()
      else {
        val d = gateDecisions(shard, storePath, hs)
        d.write.mode("overwrite").parquet(decDir)
        d
      }
    remember(shard, decided.filter(col("accept") === 1L)
      .select(col("doc_id")), storePath, nShards, hs)
    decided
  }
}
