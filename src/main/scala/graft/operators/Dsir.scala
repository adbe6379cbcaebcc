package graft.operators

import graft.{Op, Tables}
import graft.functions.TextFns
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DSIR-style data selection: importance resampling of a raw pool
  * toward a curated target distribution (Xie et al., "Data Selection
  * for Language Models via Importance Resampling", NeurIPS 2023).
  * The generative counterpart of the discriminative
  * `quality_classifier`: instead of training weights against a label,
  * each raw document is weighted by the log-likelihood ratio of its
  * tokens under two unigram language models — one fit on the curated
  * reference slice (sources src0..src4, the same slice
  * `perplexity_filter` trains on — LangModel.RefSourceCount), one on
  * the raw pool itself — and the top tranche by weight is selected.
  * The reference's own pipeline curates its corpus by source
  * (datasets/parse.py:20-31 keys every document to its originating
  * section); this op is the scale-native version of "keep what looks
  * like the good sources".
  *
  * Exactness: per-token LLR rides the repo's integer bit-surprisal
  * kernel (the `perplexity_filter` convention — floor(log2) via
  * `length(bin(x)) - 1`, identical in Spark and DuckDB), so per-doc
  * weights are exact int64 SUMS of whole-bit token LLRs: order
  * independent, hash-comparable cross-engine. log2((c+1)·S/(N+V))
  * needs S ≥ N+V to keep the scaled probability ≥ 1 (a zero would
  * silently truncate -inf to 0 bits); S = 2^40 holds to ~10^12
  * reference-slice tokens, and (c+1)·S must stay under 2^63, i.e.
  * the hottest token below ~2^22 occurrences — both hold through sf1
  * with 20 bits of headroom; a 100 TB deployment bumps the arithmetic
  * to Decimal(38) (same formula, wider lanes) or shards the vocab.
  * DSIR's published selector draws Gumbel noise over the weights;
  * the deterministic top-k here is its temperature→0 limit (and what
  * an auditable oracle needs) — `sample_temperature` already covers
  * the noisy-draw machinery for callers who want the smoothed form.
  *
  * Scale shape: ONE vocabulary aggregation over the exploded token
  * stream (skinny (token, ct, cr) rows — the vocab_topk shuffle), a
  * 1-row totals broadcast, one token→vocab shuffle join (the
  * ngram_lm model-join shape; "the"-skew is that op's documented
  * story), and one per-doc sum. Like perplexity_filter, the final
  * SELECTION has two modes:
  *   - exact ([[opSelect]], the oracled driver query): a global rank
  *     window — O(raw docs) rows through one task's sort, the
  *     small-corpus mode (the profile_stats pairing convention);
  *   - deployment ([[opSelectSketch]]): the cut VALUE from ONE
  *     mergeable KLL sketch over the weights (constant state,
  *     map-side combine — the perplexity_cuts_sketch shape) applied
  *     as a narrow filter; rank error ≤ ~1.65 % means only docs in
  *     that band around the 90th percentile can flip, which the spec
  *     bounds against the exact mode.
  */
object Dsir {

  private def docs(s: SparkSession, dir: String) =
    Tables(s, dir, "documents")

  /** floor(log2((c+1)·S/(N+V))) stays ≥ 0 while S ≥ N+V (see class
    * doc); 2^40 ≈ 10^12. */
  val DsirScale: Long = 1L << 40

  /** SQL predicate marking the curated target slice (shared with the
    * streaming gate, which must apply the SAME source split or gate
    * docs the batch path would never score). */
  private[graft] val isTarget =
    s"CAST(substring(source, 4) AS INT) < ${LangModel.RefSourceCount}"

  /** Hottest-token headroom bound for the whole-bit kernel:
    * (c+1)·[[DsirScale]] must stay inside int64. In non-ANSI Spark the
    * multiply WRAPS SILENTLY past this, turning LLR weights into
    * garbage with no error anywhere — exactly the silent-failure class
    * the `_graft_format` marker exists to close — so [[totals]]
    * enforces the bound with `raise_error` instead of trusting the
    * scaladoc. ≈ 2^23 − 1 occurrences of the hottest token. */
  val MaxTokenCount: Long = Long.MaxValue / DsirScale - 1

  /** (doc_id, tgt, tok) token stream — the frame both the model
    * counts and the scoring pass explode from. */
  private[graft] def tokenized(d: DataFrame): DataFrame =
    d.selectExpr("doc_id", s"$isTarget AS tgt", "text")
      .withColumn("tok", explode(TextFns.tokens(col("text"))))
      .drop("text")

  /** The model: per-token counts on both sides — (tok, ct, cr).
    * Additive, so `sources.DsirStore` appends shards and readers
    * sum-fold (the LmModel contract). */
  private[graft] def vocabCounts(toks: DataFrame): DataFrame =
    toks.groupBy(col("tok")).agg(
      sum(when(col("tgt"), 1L).otherwise(0L)).as("ct"),
      sum(when(col("tgt"), 0L).otherwise(1L)).as("cr"))

  /** 1-row totals (nt, nr, v) — derived from the vocab frame so they
    * stay append-mergeable. Enforces the int64 headroom invariants on
    * the same single-row aggregate (free — the frame is already being
    * folded): the hottest token under [[MaxTokenCount]] so
    * (c+1)·S cannot wrap, and N+V ≤ S so the scaled probability never
    * truncates to zero bits. Runs on both the inline path and every
    * `sources.DsirStore` fold, so merged shards that cross the bound
    * fail loudly too. */
  private[graft] def totals(vocab: DataFrame): DataFrame =
    vocab.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"),
      count(lit(1)).as("v"),
      greatest(max(col("ct")), max(col("cr"))).as("maxc"))
      .select(
        when(col("maxc") > lit(MaxTokenCount),
          raise_error(concat(
            lit("dsir: hottest token count "), col("maxc").cast("string"),
            lit(s" exceeds the int64 headroom bound $MaxTokenCount — " +
              "widen the kernel to Decimal(38) or shard the vocab")))
            .cast("long"))
          .when(greatest(col("nt"), col("nr")) + col("v") > lit(DsirScale),
            raise_error(concat(
              lit("dsir: corpus tokens + vocab "),
              (greatest(col("nt"), col("nr")) + col("v")).cast("string"),
              lit(s" exceed DsirScale=$DsirScale — smoothed probabilities " +
                "would truncate to zero bits; raise the scale (wider lanes)")))
              .cast("long"))
          .otherwise(col("nt")).as("nt"),
        col("nr"), col("v"))

  /** Score a (doc_id, tok) token stream against a FROZEN model —
    * inline counts (the oracled driver query) or the reloaded
    * `sources.DsirStore` bundle. LEFT join: a serve-time token the
    * model never saw takes the add-one smoothing floor on both sides
    * (ct = cr = 0), the LmModel unseen-key rule. */
  private[graft] def scoreAgainst(toks: DataFrame, vocab: DataFrame,
      tot: DataFrame): DataFrame =
    toks
      .join(vocab, Seq("tok"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("llr",
        (length(bin(expr(
          s"((coalesce(ct, 0L) + 1L) * $DsirScale) DIV (nt + v)")))
          - length(bin(expr(
            s"((coalesce(cr, 0L) + 1L) * $DsirScale) DIV (nr + v)"))))
          .cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"), sum(col("llr")).as("llr_bits"))

  /** Per-raw-doc integer LLR weights: (doc_id, n_toks, llr_bits). */
  private[graft] def weights(d: DataFrame): DataFrame = {
    val toks = tokenized(d)
    val vocab = vocabCounts(toks)
    scoreAgainst(toks.filter(!col("tgt")), vocab, totals(vocab))
  }

  private val opSelect = Op(
    "dsir_select",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = weights(docs(s, dir))
      val n = w.agg(count(lit(1)).as("n_raw"))
      w.crossJoin(broadcast(n))
        .withColumn("rank", row_number()
          .over(Window.orderBy(col("llr_bits").desc, col("doc_id")))
          .cast("long"))
        .filter(col("rank") <= expr("(n_raw + 9) DIV 10"))
        .select(col("doc_id"), col("n_toks"), col("llr_bits"),
          round(col("llr_bits") / col("n_toks"), 6).as("bits_per_token"),
          col("rank"))
    },
    Some(s"""
      WITH d AS (SELECT doc_id,
          CAST(substring(source, 4) AS INT) < ${LangModel.RefSourceCount}
            AS tgt,
          string_split(text, ' ') AS toks FROM documents),
      t AS (SELECT doc_id, tgt, u.tok FROM d, UNNEST(toks) AS u(tok)),
      voc AS (SELECT tok,
          CAST(SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct,
          CAST(SUM(CASE WHEN tgt THEN 0 ELSE 1 END) AS BIGINT) AS cr
        FROM t GROUP BY 1),
      tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS nt,
          CAST(SUM(cr) AS BIGINT) AS nr,
          CAST(COUNT(*) AS BIGINT) AS v FROM voc),
      sc AS (SELECT t.doc_id,
          CAST(length(bin(((voc.ct + 1) * $DsirScale) // (tot.nt + tot.v)))
            - length(bin(((voc.cr + 1) * $DsirScale) // (tot.nr + tot.v)))
            AS BIGINT) AS llr
        FROM t JOIN voc USING (tok) CROSS JOIN tot WHERE NOT t.tgt),
      pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
          CAST(SUM(llr) AS BIGINT) AS llr_bits FROM sc GROUP BY 1),
      n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_raw FROM pd),
      rk AS (SELECT pd.*, CAST(ROW_NUMBER() OVER
          (ORDER BY llr_bits DESC, doc_id) AS BIGINT) AS rank FROM pd)
      SELECT doc_id, n_toks, llr_bits,
        ROUND(CAST(llr_bits AS DOUBLE) / n_toks, 6) AS bits_per_token,
        rank
      FROM rk CROSS JOIN n WHERE rank <= (n_raw + 9) // 10"""))

  // rows-only by design: KLL compaction draws random bits (the
  // perplexity_cuts_sketch exemption) — the spec bounds the cut's
  // rank against the exact window's boundary instead (DsirSpec).
  // Semantics note: whole-bit weights make ties common, and a
  // threshold keeps the boundary ATOM whole (equal evidence, equal
  // treatment) — so the sketch tranche can exceed the exact mode's
  // ceil(n/10) by the atom mass at the cut. That is the deployment
  // contract, not an error: the exact window's tie-break inside the
  // atom is doc_id, which is no better a selection signal.
  private val opSelectSketch = Op(
    "dsir_select_sketch",
    (s, dir) => {
      val w = weights(docs(s, dir)).localCheckpoint()
      w.crossJoin(broadcast(sketchCut(w)))
        .filter(col("llr_bits") >= col("cut"))
        .select(col("doc_id"), col("n_toks"), col("llr_bits"),
          round(col("llr_bits") / col("n_toks"), 6).as("bits_per_token"))
    },
    None)

  /** The 90th-percentile weight CUT as a 1-row frame, from one
    * mergeable KLL sketch (constant state, map-side combine) — what
    * the sketch mode applies inline and `sources.DsirStore` persists
    * for serving (the LmModel refreshCuts analog). */
  private[graft] def sketchCut(w: DataFrame): DataFrame = {
    w.agg(expr("graft_kll_agg(CAST(llr_bits AS DOUBLE))").as("sk"))
      .select(expr("graft_kll_quantile(sk, CAST(0.9 AS DOUBLE))")
        .as("cut"))
  }

  def ops: Seq[Op] = Seq(opSelect, opSelectSketch)
}
