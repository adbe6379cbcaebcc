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

  /** One tick: gate `shard` against the store at `storePath`, append
    * the accepted docs' fingerprints, return the per-doc decision
    * frame (doc_id, bloom_pass, is_exact_dup, n_hist_bands,
    * near_hist, n_img_bands, img_hist, img_decoded, n_audio_bands,
    * audio_hist, audio_decoded, n_clip_bands, clip_hist,
    * n_clip_sampled, n_clip_decoded, accept).
    * `img_decoded` / `n_clip_decoded` are the decode audit: a doc
    * whose payload (or whose EVERY sampled frame) is undecodable
    * cannot be probed against the perceptual store, so it reaches
    * `accept` with img_hist/clip_hist = 0 — these columns let the
    * caller quarantine that blind spot instead of trusting it.
    *
    * If the shard carries a binary `payload` column, image rows
    * (PNG-decodable — graft_dhash yields null otherwise) also probe
    * the store's `phash_bands/` frame (the stream_ingest_phash core):
    * an exact or edited copy of any historical image band-collides
    * and is rejected, and ACCEPTED images' bands append to the store
    * so the next tick sees them — the multimodal half of the
    * firewall. Text-only shards leave the two image columns at 0.
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
  /** The decode-once payload-hash frames a tick computes exactly one
    * time and feeds to BOTH the gate probes and the accepted-band
    * appends (localCheckpoint pins the decoded pixels/samples so
    * neither consumer re-runs the decoder). */
  private case class HashFrames(
      imgAll: Option[DataFrame], imgHashes: Option[DataFrame],
      audioAll: Option[DataFrame], audioHashes: Option[DataFrame],
      clipSampled: Option[DataFrame], clipHashes: Option[DataFrame],
      clipCounts: Option[DataFrame])

  private def hashFrames(shard: DataFrame): HashFrames = {
    val imgAll = if (shard.columns.contains("payload")) {
      Some(shard.select(col("doc_id"),
          expr("graft_dhash(payload)").as("phash"))
        .localCheckpoint())
    } else None
    val audioAll = if (shard.columns.contains("payload")) {
      Some(shard.select(col("doc_id"),
          expr("graft_ahash(payload)").as("phash"))
        .localCheckpoint())
    } else None
    val clipSampled = if (shard.columns.contains("frames")) {
      Some(graft.operators.Multimodal.sampleFrames(
          shard.select(col("doc_id"), col("frames")))
        .localCheckpoint())
    } else None
    HashFrames(
      imgAll, imgAll.map(_.filter(col("phash").isNotNull)),
      audioAll, audioAll.map(_.filter(col("phash").isNotNull)),
      clipSampled, clipSampled.map(_.filter(col("frame_hash").isNotNull)),
      clipSampled.map(_.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_clip_sampled"),
          count(col("frame_hash")).as("n_clip_decoded"))))
  }

  def gateAndRemember(shard: DataFrame, storePath: String,
      nShards: Int = 1): DataFrame = {
    val hs = hashFrames(shard)
    val decided = gateDecisions(shard, storePath, hs)
    remember(shard, decided.filter(col("accept") === 1L)
      .select(col("doc_id")), storePath, nShards, hs)
    decided
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
    // image tier: decode arriving pixels ONCE ([[hashFrames]] — the
    // same frame feeds the probe and the accepted-band append)
    val imgProbe = hs.imgHashes.map { h =>
      graft.operators.Multimodal.phashProbe(h,
          Fingerprints.readPhashBandsOrEmpty(s, storePath))
        .select(col("doc_id"), col("n_hist_bands").as("n_img_bands"),
          col("near_hist").as("img_hist"))
    }
    // audio tier (r13): WAV payloads decode to the energy-envelope
    // hash (graft_ahash — PCM samples, no codec) and probe their OWN
    // band sub-store `ahash_bands/`: dHash and envelope bits live in
    // unrelated spaces, so sharing phash_bands would manufacture
    // cross-modal collisions. Same asymmetric shape as the image
    // tier — history audio is decoded once at store append, never
    // per ingest tick.
    val audioProbe = hs.audioHashes.map { h =>
      graft.operators.Multimodal.phashProbe(h,
          Fingerprints.readPhashBandsOrEmpty(s, storePath, "ahash_bands"))
        .select(col("doc_id"), col("n_hist_bands").as("n_audio_bands"),
          col("near_hist").as("audio_hist"))
    }
    // clip tier: stride-sample, THEN decode only survivors (the
    // mm_frames contract), once ([[hashFrames]] — probe + append).
    // decode audit (ADVICE r12): a clip whose sampled frames are ALL
    // undecodable emits no probe row and would otherwise sail through
    // the firewall untested (clip_hist = 0). Surface the per-doc
    // sampled/decoded counts so callers can quarantine
    // n_clip_decoded = 0 < n_clip_sampled shards; same audit for the
    // image tier (img_decoded 0/1). `accept` semantics are unchanged —
    // quarantine policy is the caller's (an undecodable payload may be
    // a legitimate non-image format, not corruption).
    val clipProbe = hs.clipHashes.map { h =>
      graft.operators.Multimodal.clipProbe(h,
        Fingerprints.readPhashBandsOrEmpty(s, storePath))
    }
    val decided0 = exact
      .join(near.select(col("doc_id"), col("n_hist_bands"),
        col("near_hist")), Seq("doc_id"))
    val withImg = imgProbe.fold(
        decided0.withColumn("n_img_bands", lit(0L))
          .withColumn("img_hist", lit(0L))
          .withColumn("img_decoded", lit(0L))) { p =>
        decided0.join(p, Seq("doc_id"), "left")
          .join(hs.imgAll.get.select(col("doc_id"),
            when(col("phash").isNotNull, 1L).otherwise(0L)
              .as("img_decoded")), Seq("doc_id"), "left")
          .withColumn("n_img_bands", coalesce(col("n_img_bands"), lit(0L)))
          .withColumn("img_hist", coalesce(col("img_hist"), lit(0L)))
          .withColumn("img_decoded", coalesce(col("img_decoded"), lit(0L)))
      }
    val withAudio = audioProbe.fold(
        withImg.withColumn("n_audio_bands", lit(0L))
          .withColumn("audio_hist", lit(0L))
          .withColumn("audio_decoded", lit(0L))) { p =>
        withImg.join(p, Seq("doc_id"), "left")
          .join(hs.audioAll.get.select(col("doc_id"),
            when(col("phash").isNotNull, 1L).otherwise(0L)
              .as("audio_decoded")), Seq("doc_id"), "left")
          .withColumn("n_audio_bands",
            coalesce(col("n_audio_bands"), lit(0L)))
          .withColumn("audio_hist", coalesce(col("audio_hist"), lit(0L)))
          .withColumn("audio_decoded",
            coalesce(col("audio_decoded"), lit(0L)))
      }
    val decided = clipProbe.fold(
        withAudio.withColumn("n_clip_bands", lit(0L))
          .withColumn("clip_hist", lit(0L))
          .withColumn("n_clip_sampled", lit(0L))
          .withColumn("n_clip_decoded", lit(0L))) { p =>
        withAudio.join(p, Seq("doc_id"), "left")
          .join(hs.clipCounts.get, Seq("doc_id"), "left")
          .withColumn("n_clip_bands", coalesce(col("n_clip_bands"), lit(0L)))
          .withColumn("clip_hist", coalesce(col("clip_hist"), lit(0L)))
          .withColumn("n_clip_sampled",
            coalesce(col("n_clip_sampled"), lit(0L)))
          .withColumn("n_clip_decoded",
            coalesce(col("n_clip_decoded"), lit(0L)))
      }
      .withColumn("accept",
        when(col("is_exact_dup") === 0L && col("near_hist") === 0L
          && col("img_hist") === 0L && col("audio_hist") === 0L
          && col("clip_hist") === 0L, 1L)
          .otherwise(0L))
      // the decision frame is consumed twice (append filter + the
      // caller's audit view) and the gates must not re-probe the store
      // after it has grown — pin it before the append mutates state
      .localCheckpoint()
    decided
  }

  /** The REMEMBER half of a tick: append the accepted docs'
    * fingerprints (+ perceptual bands) to the store. */
  private def remember(shard: DataFrame, acceptedIds: DataFrame,
      storePath: String, nShards: Int, hs: HashFrames): Unit = {
    Fingerprints.append(shard.join(acceptedIds, Seq("doc_id")),
      storePath, nShards)
    hs.imgHashes.foreach { h =>
      Fingerprints.writePhashBands(h.join(acceptedIds, Seq("doc_id")),
        storePath, nShards, mode = "append")
    }
    hs.clipHashes.foreach { h =>
      Fingerprints.writePhashBands(
        h.select(col("doc_id"), col("frame_hash").as("phash"))
          .join(acceptedIds, Seq("doc_id")),
        storePath, nShards, mode = "append")
    }
    hs.audioHashes.foreach { h =>
      Fingerprints.writePhashBands(h.join(acceptedIds, Seq("doc_id")),
        storePath, nShards, mode = "append", sub = "ahash_bands")
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
    val success = new org.apache.hadoop.fs.Path(s"$decDir/_SUCCESS")
    val fs = success.getFileSystem(s.sparkContext.hadoopConfiguration)
    val hs = hashFrames(shard)
    val decided =
      if (fs.exists(success)) s.read.parquet(decDir).localCheckpoint()
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
