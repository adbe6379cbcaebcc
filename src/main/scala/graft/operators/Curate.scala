package graft.operators

import graft.{Op, Tables}
import graft.functions.TextFns
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** curate_e2e — the full training-data curation decision, end-to-end
  * (SURVEY.md §2): the chain every individual gate exists FOR, wired
  * the way dedup_pipeline wired the dedup stages. The reference's end
  * state is curated, chunked documents feeding its map-reduce pipeline
  * (reference datasets/parse.py sectioning → test_proactive.py:152
  * rechunk); this operator is the decision record of the curation that
  * precedes that hand-off at corpus scale. One row per INPUT doc with
  * its disposition:
  *
  *   blocklist gate → quality_filter keep-set
  *     → trained quality_classifier gate
  *     → near-dup dedup_pipeline keepers
  *     → sample_temperature mix  → seq_pack training manifest
  *
  * `stage` names the FIRST stage that dropped the doc
  * ("blocklist" | "quality" | "classifier" | "dedup" | "mix") or
  * "kept"; kept docs
  * carry their packed-sequence coordinates (n_seqs, first_seq).
  * Grouping by `stage` is the per-stage drop accounting a curation
  * dashboard shows; the kept rows are the training-set manifest a
  * loader reads (join seq_pack's fragment rows for exact offsets).
  *
  * The classifier stage applies a FROZEN model (the CCNet/DCLM
  * composition: heuristics hand-draw the boundary, the trained filter
  * generalizes it) — the model arrives as a parameter, trained
  * batch-side by `QualityClassifier.trainSplit` (the driver query
  * does exactly that) or reloaded from `sources.ClassifierStore`,
  * because training is a bounded one-off while THIS chain runs per
  * corpus snapshot. Serving is one narrow codegen fold with the
  * weights riding the plan as a literal, so the stage adds ZERO
  * exchanges and ZERO jobs to the chain.
  *
  * Scale shape — the corpus TEXT moves at most once across the whole
  * chain (spec-asserted; with statistics flowing it moves ZERO times):
  *  - quality_filter: narrow scan + skinny repetition shuffles (its
  *    own no-text-exchange contract);
  *  - classifier: a per-row fold over scans that already happen (the
  *    survivor gather, the manifest projection) — no new scan, no
  *    exchange, no checkpoint;
  *  - survivor texts: the corpus scan broadcast-filtered by the
  *    skinny quality keep-set — a semi-join against a checkpointed
  *    tiny frame, no text exchange;
  *  - dedup_pipeline: its own bounded shapes (banded candidates,
  *    checkpoint-stat-driven broadcasts for the rep/candidate gathers);
  *  - mix + pack: skinny (doc_id, source, n_toks) frames only —
  *    broadcast-joined tiny aggregates and the 3-level PrefixSum.
  */
object Curate {

  /** Keep threshold for the trained-classifier stage — the calibrated
    * probability the serving fold emits; 0.5 is the model's own
    * decision boundary (quality_classifier's `pred` bit). */
  val ClassifierMinProb = 0.5

  /** Intermediate stage frames, exposed so specs can audit each
    * stage's plan and the stage-by-stage drop sets independently.
    */
  private[graft] case class CurateStages(
      qf: DataFrame,        // doc_id, qf_reason, qf_keep — all input docs
      survivors: DataFrame, // quality+classifier keepers WITH text
      dd: DataFrame,        // doc_id, cluster_id, is_keeper — survivors
      mixKept: DataFrame,   // doc_id, temp_hash — docs kept by the mix
      manifest: DataFrame)  // one row per input doc

  /** The frozen classifier's keep probability as ONE narrow column
    * expression (rounded exactly as the serving convention rounds, so
    * the survivor filter and the manifest report agree bit-for-bit).
    */
  private def clsProb(m: QualityClassifier.Model) =
    round(QualityClassifier.scoreCol(
      TextFns.tokens(col("text")), m), 4)

  /** Stage 0 — the blocklist hit bit as ONE narrow expression
    * (blocklist_filter's probe: the bounded term list rides as a plan
    * literal). Real pipelines run the blocklist FIRST — it is the
    * cheapest gate and its drops are categorical, not statistical —
    * and here it fuses into scans the chain already pays (the survivor
    * gather, the manifest projection): zero new exchanges, zero jobs.
    */
  private def blkHit =
    size(array_intersect(TextFns.tokens(col("text")),
      array(TextAnalysis.Blocklist.map(lit): _*))) > 0

  /** ONE corpus pass for BOTH corpus-wide gates (r19 optimization
    * round, guide §2.4/§4 duplicate-evaluation class): the heuristic
    * quality_filter decision AND the weak-label classifier training
    * inputs (Gopher pass bit + hashed feature indices) ride a single
    * tokenization-heavy scan, materialized by a single checkpoint —
    * the old shape paid two full corpus scans (weakLabeled's eager
    * checkpoint, then qualityFilter's), each re-running its own
    * tokenize/gram kernels over every document. Rebalanced exactly as
    * weakLabeled rebalanced, so the (doc_id, label, fidx) projection
    * feeding LBFGS carries identical rows in an identical partition
    * layout — the trained model is bit-identical to the two-scan
    * shape's.
    */
  private[graft] def qfWeakFrame(d: DataFrame): DataFrame =
    TextAnalysis.qfWithSignals(
        TextAnalysis.gopherSignals(Tables.rebalance(d)))
      .select(col("doc_id"),
        col("reason").as("qf_reason"), col("keep").as("qf_keep"),
        col("pass_gopher").cast("double").as("label"),
        QualityClassifier.featureIdx(TextFns.tokens(col("text")))
          .as("fidx"))
      .localCheckpoint()

  private[graft] def curateStages(d: DataFrame,
      m: QualityClassifier.Model,
      seqLen: Long = Sampling.SeqLen,
      qfPre: Option[DataFrame] = None): CurateStages = {
    // stage 1: quality gate — skinny per-doc decisions, no text in any
    // exchange. Either the caller's pre-computed shared frame
    // ([[qfWeakFrame]] — the curate_e2e query, whose classifier
    // training already materialized it) or, stand-alone, LAZILY
    // checkpointed so ONE job both materializes the checkpoint AND
    // measures the keep-set for the guard: the old shape paid an
    // eager-checkpoint job plus a separate keepIds.count() guard job;
    // the skinny groupBy(qf_keep) aggregate below computes the qf
    // partitions (checkpointing them as it goes) and returns the same
    // measured count.
    val qf = qfPre.getOrElse(TextAnalysis.qualityFilter(d)
      .select(col("doc_id"), col("reason").as("qf_reason"),
        col("keep").as("qf_keep"))
      .localCheckpoint(eager = false))
    val nKeep = qf.groupBy(col("qf_keep")).count().collect()
      .collectFirst { case r if r.getLong(0) == 1L => r.getLong(1) }
      .getOrElse(0L)
    // survivor texts = the corpus scan filtered by the skinny keep-set,
    // with the keep-set side under a counted broadcast guard (the
    // dedup_span pattern): its MEASURED count — not a checkpoint's
    // unknown statistics — decides broadcast vs shuffled-hash. Under
    // the bound the text crosses no exchange at all; above it this is
    // the chain's ONE text move. Materialized once: every downstream
    // consumer (dedup's groups/reps/ssets, the skinny projection)
    // reads the blocks instead of re-running the corpus scan.
    val keepIds = qf.filter(col("qf_keep") === 1L).select("doc_id")
    val keepSide =
      Tables.broadcastIfSmall(keepIds, nKeep, Dedup.SpanBroadcastMaxRows)
    // stage 2: the TRAINED quality gate rides the SAME survivor gather
    // as a narrow per-row fold (frozen weights are a plan literal) —
    // heuristic keepers below the model's keep probability never enter
    // the checkpoint, and the stage costs no exchange, no job, no scan
    // of its own. Blocklist bit and classifier prob are computed from
    // ONE tokenization behind a Generate barrier (r18 optimization
    // round — as two filter expressions, each re-split the text;
    // explode(array(struct)) evaluates the pair once per row and
    // CollapseProject cannot re-inline it)
    val survivors = d.join(keepSide, Seq("doc_id"))
      .withColumn("_g", explode(array(struct(
        blkHit.as("blk"), clsProb(m).as("prob")))))
      .filter(!col("_g.blk") && col("_g.prob") >= ClassifierMinProb)
      .drop("_g")
      .localCheckpoint()
    // stage 3: near-dup clustering over quality+classifier survivors
    val dd = Dedup.dedupPipeline(survivors.select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("cluster_id"), col("is_keeper"))
    // skinny from here on: source + token count computed narrowly ONCE
    // off the materialized survivors — text never joins again
    val skinny = survivors.select(col("doc_id"), col("source"),
      size(TextFns.tokens(col("text"))).cast("long").as("n_toks"))
    val ddKept = skinny.join(dd, Seq("doc_id"))
      .filter(col("is_keeper") === 1L)
      .localCheckpoint() // feeds the mix counts, the pack, and the manifest
    // stage 4: temperature mix over dedup keepers (α = 1/2, exact)
    val mixKept = Sampling
      .sampleTemperature(ddKept.select(col("doc_id"), col("source")))
      .select(col("doc_id"), col("temp_hash"))
    // stage 5: pack the final keep set into training sequences
    val packed = Sampling.packCounts(
      ddKept.join(mixKept.select("doc_id"), Seq("doc_id"))
        .select(col("doc_id"), col("n_toks").as("n_tokens")), seqLen)
    val perDocPack = packed.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_seqs"), min(col("seq_id")).as("first_seq"))
    // manifest: disposition per input doc + packing coordinates; the
    // classifier probability is recomputed on the manifest's own
    // corpus projection (same narrow fold, same rounding — identical
    // by construction), so the drop reason needs no extra join
    val manifest = d.select(col("doc_id"), col("source"),
        explode(array(struct(blkHit.cast("long").as("blocked"),
          clsProb(m).as("cls_prob")))).as("_g"))
      .select(col("doc_id"), col("source"),
        col("_g.blocked").as("blocked"), col("_g.cls_prob").as("cls_prob"))
      .join(qf, Seq("doc_id"))
      .join(dd, Seq("doc_id"), "left")
      .join(mixKept, Seq("doc_id"), "left")
      .join(perDocPack, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        when(col("blocked") === 1L, "blocklist")
          .when(col("qf_keep") === 0L, "quality")
          .when(col("cls_prob") < ClassifierMinProb, "classifier")
          .when(col("is_keeper") === 0L, "dedup")
          .when(col("temp_hash").isNull, "mix")
          .otherwise("kept").as("stage"),
        col("qf_reason"), col("cls_prob"),
        coalesce(col("cluster_id"), lit(-1L)).as("cluster_id"),
        coalesce(col("n_seqs"), lit(0L)).as("n_seqs"),
        coalesce(col("first_seq"), lit(-1L)).as("first_seq"))
    CurateStages(qf, survivors, dd, mixKept, manifest)
  }

  private[graft] def curateE2e(d: DataFrame,
      m: QualityClassifier.Model,
      seqLen: Long = Sampling.SeqLen): DataFrame =
    curateStages(d, m, seqLen).manifest

  private val opCurate = Op(
    "curate_e2e",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      // the driver query trains its own frozen model first (Gopher
      // weak labels, 80% split, TrainCap-bounded) — a deployment would
      // reload one from sources.ClassifierStore instead. Training
      // inputs and the heuristic qf gate come from ONE shared corpus
      // pass ([[qfWeakFrame]]); the (doc_id, label, fidx) projection
      // is exactly what weakLabeled produced, so the model is
      // bit-identical.
      val shared = qfWeakFrame(d)
      val m = QualityClassifier.trainSplit(
        shared.select(col("doc_id"), col("label"), col("fidx")))
      curateStages(d, m, Sampling.SeqLen,
        Some(shared.select(col("doc_id"), col("qf_reason"),
          col("qf_keep")))).manifest
    },
    None) // dedup_pipeline + LBFGS inside are not SQL-expressible →
          // rows-only + planted-fixture spec (one doc set per stage)

  val ops: Seq[Op] = Seq(opCurate)
}
