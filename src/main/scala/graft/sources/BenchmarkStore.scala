package graft.sources

import graft.operators.{Search, Similarity, Splits}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** sink_benchmark — persistence for the FIXED-benchmark side of the
  * decontamination / mining family (SURVEY.md §2 sources/sinks), the
  * "derive once, probe forever" contract stated in the contam_embed /
  * mine_hardneg scaladocs made a code path instead of prose (VERDICT
  * r15 #4): the driver framing derives the benchmark/query side from
  * the corpus's own %97 slice, so BOTH sides grow with the corpus and
  * the synthetic decade ratios read superlinear — but a production
  * benchmark suite / training-query set is FIXED, so each op is
  * strictly LINEAR in pool rows. Persisting the derived side is what
  * makes that claim testable: write once from the benchmark snapshot,
  * probe every later corpus snapshot against the frozen bundle
  * (sink_fingerprints / sink_lm precedent; reference shape:
  * kv_store/kv_loading_interface.py — derived per-doc state persisted
  * so serving never recomputes it from raw inputs).
  *
  * One parquet bundle under `path`, each frame the skinny form its
  * probe consumes:
  *
  *   bands/   (band_val)      benchmark docs' DISTINCT MinHash LSH
  *                            band values → [[contamMinhashFrom]]
  *   codes/   (c_id, c_q)     benchmark embeddings' int8 codes (the
  *                            embed_quantize scheme) → [[contamEmbedFrom]]
  *   qterms/  (q_id, token)   the rarest-first mining query terms
  *                            (≤ HnQueryTerms per query) → [[hardNegativesFrom]]
  *
  * The three sections are independent (a text benchmark has no
  * embeddings; a query set has no bands) — writers create only their
  * own frame, readers require only theirs. bands/ is range-sharded on
  * band_val (the sink_shards layout: a 1000-executor probe join
  * co-partitions against contiguous files); codes/ and qterms/ are
  * driver-bounded by contract (AnnIndexCap / HnQueryTerms·Q) and ship
  * as few plain files. Store-fed flags equal the inline framing
  * row-for-row when the store was written from the same slice
  * (SinksSpec) — structural, because both modes run the SAME kernels
  * (Splits.contamMinhashProbe / contamEmbedServe,
  * Search.hardNegativesWith).
  */
object BenchmarkStore {

  /** Bundle format version (`_graft_format` marker, shared
    * [[StoreMaintenance]] scheme). Version history:
    *
    *   - 1 — raw-byte minhash band values (the Fingerprints v2
    *     signature scheme), symmetric max-abs int8 codes
    *     (embed_quantize), whitespace-token query terms. A signature /
    *     quantization / tokenizer change makes persisted values
    *     incomparable with probe-time derivations: collisions silently
    *     stop matching (the gate drifts open), so readers refuse a
    *     mismatched bundle instead.
    */
  val FormatVersion = 1

  private val bundle = StoreMaintenance.Bundle("benchmark", FormatVersion,
    "signature/quantization/tokenizer of the persisted benchmark")

  // ---- bands: fuzzy decontamination benchmark ----

  /** Persist the benchmark docs' distinct band set — the vanishing
    * (corpus_bench × 8 minus collisions) frame contam_minhash probes. */
  def writeBands(bench: DataFrame, path: String, nShards: Int = 2): Unit =
    bundle.write(path, "overwrite")(StoreMaintenance.Frame("bands",
      Splits.bandRows(bench).select(col("band_val")).distinct(),
      Seq("band_val"), nShards))

  /** Store-fed contam_minhash: flag `pool` docs whose bands collide
    * with the PERSISTED benchmark band set — the corpus text is
    * hashed once, the benchmark is never re-derived, and the op is
    * linear in pool rows at any corpus size. */
  def contamMinhashFrom(pool: DataFrame, path: String): DataFrame =
    Splits.contamMinhashProbe(Splits.bandRows(pool),
      bundle.read(pool.sparkSession, path, "bands"))

  // ---- codes: semantic decontamination benchmark ----

  /** Persist the benchmark embeddings' int8 codes (bounded by
    * [[graft.streaming.Streams.AnnIndexCap]] — checked at READ time
    * by the shared bounded-collect guard; a benchmark suite is
    * bounded by nature, ~10⁴ rows). */
  def writeCodes(benchEmbs: DataFrame, path: String): Unit =
    bundle.write(path, "overwrite")(
      StoreMaintenance.Frame("codes", Similarity.int8Codes(benchEmbs)))

  /** Store-fed contam_embed: ONE narrow pool scan against the
    * reloaded benchmark code index (the stream_ann serving kernel) —
    * pool embeddings in, contamination flags out, linear in pool
    * rows. The count-before-collect guard fires on an oversized
    * store before any row reaches the driver. */
  def contamEmbedFrom(pool: DataFrame, path: String): DataFrame =
    Splits.contamEmbedServe(pool,
      Splits.boundedEvalCodes(bundle.read(pool.sparkSession, path, "codes")))

  // ---- qterms: fixed mining query set ----

  /** Derive AND persist the rarest-first query-term table from the
    * corpus snapshot ([[Search.deriveQueryTerms]] — the offline
    * once-per-benchmark half of mine_hardneg). */
  def writeQueryTerms(corpus: DataFrame, path: String): Unit =
    bundle.write(path, "overwrite")(
      StoreMaintenance.Frame("qterms", Search.deriveQueryTerms(corpus)))

  /** Store-fed mine_hardneg: score `corpus` against the PERSISTED
    * query-term table — one term-filtered corpus pass + skinny
    * fan-out ([[Search.hardNegativesWith]], the same scoring kernel
    * as inline), linear in corpus rows because the query side no
    * longer grows with it. */
  def hardNegativesFrom(corpus: DataFrame, path: String): DataFrame =
    Search.hardNegativesWith(corpus,
      bundle.read(corpus.sparkSession, path, "qterms"))
}
