package graft.operators

import graft.{Op, Tables}
import graft.functions.TextFns
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ngram_lm — bigram language-model surprisal as a quality signal.
  *
  * The CCNet/Gopher-family pipelines score every document with a small
  * n-gram LM trained on the corpus (KenLM in the published stacks) and
  * drop the perplexity tails. This is that operator with the LM scoring
  * re-expressed INTEGER-EXACT so the DuckDB oracle matches bit-for-bit:
  * real pipelines sum float log-probs, but libm `ln` is not bit-portable
  * across engines (same reason keyword_tfidf uses an integer idf
  * surrogate), so the per-token surprisal here is the integer bit-length
  * surrogate
  *
  *   s(w2|w1) = ilog2( ((c1 + V) * 65536) div (c12 + 1) )
  *            = 16 + floor-ish log2( 1 / p_add1(w2|w1) )
  *
  * with add-one smoothing p = (c12+1)/(c1+V), ilog2(x) =
  * length(bin(x)) - 1 — pure integer ops both engines evaluate
  * identically. Granularity is 1 bit per token, which preserves exactly
  * the ordering information a tail-cut quality filter consumes;
  * `bits_per_token` (mean surprisal − the 16-bit scale offset) is the
  * cross-entropy estimate a perplexity threshold would be applied to.
  *
  * Overflow bound: (c1 + V) * 65536 needs c1 + V < 2^47 ≈ 1.4e14.
  * c1 is one context-token's occurrence count and V the vocabulary
  * size; 100 TB of text is ~2e13 tokens total, so even the degenerate
  * single-token corpus sits 7× under the bound — int64 is safe at any
  * realistic corpus scale (no decimal path needed, unlike
  * sample_temperature whose hash product crosses 2^63 first).
  *
  * Scale shape (reference semantics: this is model TRAINING + SCORING
  * fused over the same corpus, the self-perplexity curation setup):
  * token/bigram rows are built NARROW with the shifted-zip trick (no
  * per-doc window shuffle); the count model is two skinny aggregations
  * (c12 on (w1,w2); c1 folded from c12); scoring joins the skinny
  * bigram stream to the count table and folds per-doc — the corpus
  * text itself never crosses an exchange.
  */
object LangModel {

  /** Surprisal scale: 16 fractional-ish bits — see overflow bound. */
  val LmScale = 65536L
  val LmScaleBits = 16

  private def docs(s: SparkSession, dir: String) = Tables(s, dir, "documents")

  /** (doc_id, w1, w2) rows where w2 is the next token (null at the doc
    * tail) — ONE narrow generator yields both the full token stream
    * (w1 column, for the vocabulary count) and the bigram stream
    * (w2-not-null rows): toks zipped against its own 1-shifted tail,
    * arrays_zip null-padding the short side.
    */
  private[graft] def shifted(d: DataFrame): DataFrame =
    shiftedWith(d, Nil)

  /** The zip-shift generator with pass-through columns — ONE kernel
    * shared by the batch ops and the streaming gate so the
    * stream == batch score equality can never drift apart on
    * tokenization (carrying `lang` through the generator is how
    * stream_perplexity keys its roll-up). */
  private[graft] def shiftedWith(d: DataFrame,
      extra: Seq[String]): DataFrame = {
    val keep = extra.map(col)
    d.withColumn("toks", TextFns.tokens(col("text")))
      .withColumn("t1", slice(col("toks"), lit(2),
        greatest(size(col("toks")) - 1, lit(0))))
      .select(col("doc_id") +: keep :+
        posexplode(arrays_zip(col("toks"), col("t1"))).as(Seq("pos", "z")): _*)
      .select(col("doc_id") +: keep :+
        col("z.toks").as("w1") :+ col("z.t1").as("w2"): _*)
  }

  private[graft] def ngramLm(d: DataFrame): DataFrame = {
    val z = shifted(d)
    // vocabulary size over the FULL token stream (w1 covers every token)
    val v = z.agg(countDistinct(col("w1")).as("v"))
    val bg = z.filter(col("w2").isNotNull)
    // bigram counts: the one corpus-sized aggregation, skinny rows
    val c2 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    // context counts fold from c2 (vocab-sized, never re-reads the corpus)
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    // counts enriched once (skinny ⋈ skinny), then ONE join of the
    // bigram stream to the model — both sides shuffle on (w1, w2)/(w1)
    // keys only; V rides as a broadcast 1-row aggregate
    val model = c2.join(c1, Seq("w1"))
    val scored = bg.join(model, Seq("w1", "w2")).crossJoin(broadcast(v))
      .withColumn("s",
        (length(bin(expr(s"((c1 + v) * $LmScale) DIV (c12 + 1)"))) - 1)
          .cast("long"))
    val agg = scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("s")).as("sum_surprisal"))
    // single-token docs have no bigrams: keep them with the -1 sentinel
    // (same convention as dedup_embed's pair-less vectors)
    d.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("sum_surprisal"), lit(0L)).as("sum_surprisal"),
        when(col("n_bigrams").isNull, -1.0)
          .otherwise(round(col("sum_surprisal") / col("n_bigrams")
            - lit(LmScaleBits.toDouble), 6)).as("bits_per_token"))
  }

  private val opNgramLm = Op(
    "ngram_lm",
    (s, dir) => ngramLm(docs(s, dir)),
    Some(s"""
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents),
      z AS (
        SELECT doc_id, toks[i] AS w1,
          CASE WHEN i < len(toks) THEN toks[i+1] END AS w2
        FROM d, UNNEST(generate_series(1, len(toks))) AS u(i)),
      v AS (SELECT CAST(COUNT(DISTINCT w1) AS BIGINT) AS v FROM z),
      bg AS (SELECT doc_id, w1, w2 FROM z WHERE w2 IS NOT NULL),
      c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
             FROM bg GROUP BY 1, 2),
      c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
      sc AS (
        SELECT bg.doc_id,
          CAST(length(bin(((c1.c1 + v.v) * $LmScale) // (c2.c12 + 1))) - 1
            AS BIGINT) AS s
        FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v),
      agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                CAST(SUM(s) AS BIGINT) AS sum_surprisal
              FROM sc GROUP BY 1)
      SELECT dd.doc_id,
        COALESCE(a.n_bigrams, 0) AS n_bigrams,
        COALESCE(a.sum_surprisal, 0) AS sum_surprisal,
        CASE WHEN a.n_bigrams IS NULL THEN -1.0
          ELSE ROUND(a.sum_surprisal / a.n_bigrams - $LmScaleBits.0, 6)
          END AS bits_per_token
      FROM documents dd LEFT JOIN agg a ON dd.doc_id = a.doc_id"""))

  // ---- colloc_pmi: collocation mining by pointwise mutual information ----
  // The phrase-detection prep step (Mikolov et al. 2013 word2vec
  // "phrases"): bigrams whose joint count far exceeds the independence
  // expectation get merged into single tokens downstream. PMI =
  // log2(c12·N / (c1a·c1b)) re-expressed with the same integer
  // machinery as ngram_lm — except c1a·c1b overflows int64 at corpus
  // scale (each factor can reach ~2e13), so the expectation
  // denominator is computed in decimal(38,0) FIRST and only its
  // integral quotient (≤ max(c1a, c1b), back in int64 range) feeds the
  // bit-length log:
  //
  //   expect  = (c1a * c1b) div N          — decimal(38,0), exact
  //   pmi_s   = ilog2((c12 * 65536) div (expect + 1)) − 16
  //
  // Scale shape: identical skinny aggregations to ngram_lm (they share
  // `shifted`); the PMI projection is per-bigram-type (vocab²-bounded,
  // not corpus-bounded); the global top-[[PmiTopK]] collocations run
  // through TakeOrdered per-partition heaps (the vocab_topk shape) and
  // the rank window covers only the K retained rows.
  val PmiMinCount = 5L
  val PmiTopK = 100

  private[graft] def collocPmi(d: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val z = shifted(d)
    val bg = z.filter(col("w2").isNotNull)
    val c2 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val n = c2.agg(sum(col("c12")).as("n"))
    val scored = c2.filter(col("c12") >= PmiMinCount)
      .join(c1, Seq("w1"))
      .join(c1.select(col("w1").as("w2"), col("c1").as("c1b")), Seq("w2"))
      .crossJoin(broadcast(n))
      .withColumn("expect", expr(
        "CAST((CAST(c1 AS DECIMAL(38,0)) * CAST(c1b AS DECIMAL(38,0))) " +
          "DIV CAST(n AS DECIMAL(38,0)) AS BIGINT)"))
      .withColumn("pmi_bits",
        (length(bin(expr(s"(c12 * $LmScale) DIV (expect + 1)"))) - 1
          - LmScaleBits).cast("long"))
    scored
      .orderBy(col("pmi_bits").desc, col("c12").desc, col("w1"), col("w2"))
      .limit(PmiTopK)
      .select(col("w1"), col("w2"), col("c12"),
        col("c1").as("c1a"), col("c1b"), col("pmi_bits"),
        row_number().over(Window.orderBy(col("pmi_bits").desc,
          col("c12").desc, col("w1"), col("w2"))).cast("long").as("rank"))
  }

  private val opColloc = Op(
    "colloc_pmi",
    (s, dir) => collocPmi(docs(s, dir)),
    Some(s"""
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents),
      z AS (
        SELECT doc_id, toks[i] AS w1,
          CASE WHEN i < len(toks) THEN toks[i+1] END AS w2
        FROM d, UNNEST(generate_series(1, len(toks))) AS u(i)),
      bg AS (SELECT w1, w2 FROM z WHERE w2 IS NOT NULL),
      c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
             FROM bg GROUP BY 1, 2),
      c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
      n AS (SELECT CAST(SUM(c12) AS BIGINT) AS n FROM c2),
      sc AS (
        SELECT c2.w1, c2.w2, c2.c12, a.c1 AS c1a, b.c1 AS c1b,
          CAST(length(bin((c2.c12 * $LmScale)
              // (CAST((CAST(a.c1 AS HUGEINT) * b.c1) // n.n AS BIGINT) + 1)))
            - 1 - $LmScaleBits AS BIGINT) AS pmi_bits
        FROM c2 JOIN c1 a ON c2.w1 = a.w1 JOIN c1 b ON c2.w2 = b.w1
          CROSS JOIN n
        WHERE c2.c12 >= $PmiMinCount),
      r AS (
        SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY pmi_bits DESC, c12 DESC,
          w1, w2) AS BIGINT) AS rank
        FROM sc)
      SELECT w1, w2, c12, c1a, c1b, pmi_bits, rank FROM r
      WHERE rank <= $PmiTopK"""))

  // ---- skipgram_pairs: windowed co-occurrence counts (embedding prep) ----
  // The word2vec/GloVe training-data step colloc_pmi's adjacent
  // bigrams don't cover: the SYMMETRIC co-occurrence matrix over a
  // ±[[SkipWindow]] token window with the GloVe 1/d distance
  // weighting, re-expressed integer-exact as Σ 12 DIV d
  // (12/1..12/4 = 12, 6, 4, 3 — exact integers, hash-matchable).
  //
  // Scale shape: the shifted-zip trick generalized — toks zipped
  // against its own 1..W-shifted tails in ONE narrow projection (no
  // per-doc window shuffle, no positional self-join: the join shape
  // shuffles O(corpus · W) rows to compute what each row already
  // holds), stacked to (center, context, d) rows in both directions,
  // then ONE skinny count aggregation with map-side combine — the
  // pair frame entering the exchange is vocab²·W-bounded per
  // partition after partial aggregation, and corpus text never
  // crosses an exchange.
  val SkipWindow = 4
  val SkipMinCount = 5L

  /** The narrow (center, context, d) pair stream shared by the batch
    * aggregation and the streaming delta twin.
    */
  private[graft] def skipgramStacked(d: DataFrame): DataFrame = {
    val withT = (1 to SkipWindow).foldLeft(
      d.withColumn("toks", TextFns.tokens(col("text")))) { case (acc, k) =>
      acc.withColumn(s"t$k", slice(col("toks"), lit(k + 1),
        greatest(size(col("toks")) - k, lit(0))))
    }
    val zipped = arrays_zip(
      (col("toks") +: (1 to SkipWindow).map(k => col(s"t$k"))): _*)
    val z = withT.select(col("doc_id"),
        posexplode(zipped).as(Seq("pos", "z")))
      .select((col("z.toks").as("w") +:
        (1 to SkipWindow).map(k => col(s"z.t$k").as(s"c$k"))): _*)
    val stackArgs = (1 to SkipWindow).map(k =>
      s"w, c$k, CAST($k AS BIGINT), c$k, w, CAST($k AS BIGINT)")
      .mkString(", ")
    z.select(expr(
        s"stack(${2 * SkipWindow}, $stackArgs) AS (center, context, d)"))
      .filter(col("center").isNotNull && col("context").isNotNull)
  }

  private[graft] def skipgramPairs(d: DataFrame, minCount: Long): DataFrame = {
    skipgramStacked(d).groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(expr("12 DIV d")).as("weight12"))
      .filter(col("n_pairs") >= minCount)
  }

  private val opSkipgram = Op(
    "skipgram_pairs",
    (s, dir) => skipgramPairs(docs(s, dir), SkipMinCount),
    Some(s"""
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents),
      t AS (
        SELECT doc_id, i AS pos, toks[i] AS w
        FROM d, UNNEST(generate_series(1, len(toks))) AS u(i)),
      p AS (
        SELECT a.w AS center, b.w AS context, b.pos - a.pos AS dd
        FROM t a JOIN t b ON a.doc_id = b.doc_id
          AND b.pos > a.pos AND b.pos <= a.pos + $SkipWindow),
      sym AS (
        SELECT center, context, dd FROM p
        UNION ALL
        SELECT context AS center, center AS context, dd FROM p)
      SELECT center, context,
        CAST(COUNT(*) AS BIGINT) AS n_pairs,
        CAST(SUM(12 // dd) AS BIGINT) AS weight12
      FROM sym GROUP BY 1, 2
      HAVING COUNT(*) >= $SkipMinCount"""))

  // ---- perplexity_filter: reference-LM curation (the CCNet shape) ----
  // ngram_lm is SELF-perplexity (model trained on the corpus it
  // scores); CCNet (Wenzek 2020) instead trains the LM on a CURATED
  // reference corpus (Wikipedia) and buckets the crawl per language
  // into head/middle/tail at the 1/3 and 2/3 perplexity cuts — the
  // middle+head slices become training data. This operator is that
  // decision: the add-one bigram model (ngram_lm's integer-exact
  // surprisal surrogate) is trained ONLY on the reference sources,
  // every document is scored against the FROZEN model (a bigram the
  // reference never saw gets the full add-one penalty via the left
  // join's coalesce-to-zero counts), and each language is split into
  // equal-count thirds by mean surprisal.
  //
  // Scale shape: the model is two skinny aggregations over the
  // reference slice only (the filter reaches the parquet scan); the
  // corpus-sized work is ONE left join of the bigram stream to the
  // skinny model on (w1, w2) — text never crosses an exchange. The
  // head/middle/tail split has TWO modes:
  //   * the exact mode ([[perplexityFilter]], the oracled driver
  //     query) ranks the per-doc stats frame with a per-language
  //     window — O(docs-per-lang) rows through one task's sort, which
  //     is the q31-rejected shape at 100 TB (language is the textbook
  //     skewed key: a 90%-English corpus puts billions of rows in one
  //     task);
  //   * the DEPLOYMENT mode ([[langCutsSketch]] →
  //     `perplexity_cuts_sketch`, and `sources.LmModel.refreshCuts`'s
  //     default) derives the two cut VALUES per language from ONE
  //     mergeable KLL sketch over `ord` (constant-size state, map-side
  //     combine — the quantile_bins_sketch shape) and applies them as
  //     a narrow CASE. Rank error ≤ ~1.65 % means a doc can land one
  //     bucket off ONLY inside that band around a cut — CCNet's
  //     head/middle/tail semantics are insensitive to that
  //     (PerplexitySketchSpec bounds the disagreement).

  /** Sources 'src0'..'src<n-1>' form the curated reference slice. */
  val RefSourceCount = 5

  /** The reference model's three frames: bigram counts (w1, w2, c12),
    * context counts (w1, c1), vocabulary size (one row, v) — trained
    * on the curated slice only. This is the shape `sources.LmModel`
    * persists: derive once, score every later shard/stream against it.
    */
  /** Token/bigram rows of the curated reference slice of `d` — the
    * input both the one-shot trainer and the store's append path count
    * over (sources.LmModel). */
  private[graft] def refShifted(d: DataFrame): DataFrame =
    shifted(d.filter(
      expr(s"CAST(substring(source, 4) AS INT) < $RefSourceCount")))

  private[graft] def refCounts(d: DataFrame):
      (DataFrame, DataFrame, DataFrame) = {
    val zt = refShifted(d)
    val v = zt.agg(countDistinct(col("w1")).as("v"))
    val c2 = zt.filter(col("w2").isNotNull)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    (c2, c1, v)
  }

  /** Score `d` against a FROZEN model of the caller's provenance —
    * trained in-line ([[perplexityFilter]], the oracled driver query)
    * or reloaded from the persisted `sources.LmModel` bundle. Output
    * per doc: (doc_id, lang, n_bigrams, sum_surprisal, no_bg, ord).
    */
  private[graft] def scoreAgainst(d: DataFrame, c2: DataFrame,
      c1: DataFrame, v: DataFrame): DataFrame = {
    val bg = shifted(d).filter(col("w2").isNotNull)
    // c2 and c1 join SEPARATELY (unlike ngram_lm's fused model): an
    // unseen bigram with a KNOWN context must keep that context's
    // count — the add-one penalty is (c1+V)·S, not (0+V)·S
    val scored = bg.join(c2, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .withColumn("s", (length(bin(expr(
        s"((coalesce(c1, 0L) + v) * $LmScale) DIV (coalesce(c12, 0L) + 1)")))
        - 1).cast("long"))
    val agg = scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("s")).as("sum_surprisal"))
    d.select(col("doc_id"), col("lang"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("sum_surprisal"), lit(0L)).as("sum_surprisal"))
      // bigram-less docs carry no LM evidence: ordered last (worst),
      // never 0/0 (ANSI-safe); ord is IEEE division of two exact
      // int64s — bit-identical cross-engine, doc_id breaks ties
      .withColumn("no_bg", when(col("n_bigrams") === 0L, 1).otherwise(0))
      .withColumn("ord", when(col("n_bigrams") === 0L, 0.0)
        .otherwise(col("sum_surprisal") / col("n_bigrams")))
  }

  /** bits_per_token output column shared by the batch op and the
    * streaming gate. */
  private[graft] def bptCol: org.apache.spark.sql.Column =
    when(col("n_bigrams") === 0L, -1.0)
      .otherwise(round(col("sum_surprisal") / col("n_bigrams")
        - lit(LmScaleBits.toDouble), 6))

  private[graft] def perplexityFilter(d: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (c2, c1, v) = refCounts(d)
    val perDoc = scoreAgainst(d, c2, c1, v)
    val nl = perDoc.groupBy(col("lang")).agg(count(lit(1)).as("nl"))
    val rn = row_number().over(Window.partitionBy(col("lang"))
      .orderBy(col("no_bg"), col("ord"), col("doc_id")))
    perDoc.join(broadcast(nl), Seq("lang"))
      .withColumn("rn", rn)
      .select(col("doc_id"), col("lang"), col("n_bigrams"),
        col("sum_surprisal"), bptCol.as("bits_per_token"),
        when(expr("((rn - 1) * 3) DIV nl") === 0L, "head")
          .when(expr("((rn - 1) * 3) DIV nl") === 1L, "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Per-language threshold VALUES realizing the batch thirds: the
    * largest mean-surprisal inside head and inside middle (bigram-less
    * docs excluded — they bucket 'tail' by the sentinel rule). This is
    * what deployment persists and applies to LATER data: CCNet computes
    * its perplexity cutoffs once and ships them as constants; a
    * boundary TIE in future data goes to the earlier bucket.
    */
  private[graft] def langCuts(d: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (c2, c1, v) = refCounts(d)
    val perDoc = scoreAgainst(d, c2, c1, v)
    val nl = perDoc.groupBy(col("lang")).agg(count(lit(1)).as("nl"))
    val rn = row_number().over(Window.partitionBy(col("lang"))
      .orderBy(col("no_bg"), col("ord"), col("doc_id")))
    perDoc.join(broadcast(nl), Seq("lang"))
      .withColumn("rn", rn)
      .withColumn("b", expr("((rn - 1) * 3) DIV nl"))
      .filter(col("no_bg") === 0)
      .groupBy(col("lang"))
      .agg(max(when(col("b") === 0L, col("ord"))).as("cut_head"),
        max(when(col("b") <= 1L, col("ord"))).as("cut_mid"))
  }

  /** Deployment-path cut derivation: the same (lang, cut_head,
    * cut_mid) frame as [[langCuts]], but from ONE mergeable KLL
    * sketch per language over `ord` — constant-size aggregation state
    * instead of a per-language task-local sort. The target ranks are
    * the exact mode's boundary positions ceil(nl/3) and ceil(2·nl/3)
    * (counted over ALL docs — bigram-less docs rank last, exactly as
    * the window orders them), re-normalized to the scored (no_bg = 0)
    * population the sketch actually holds and clamped to 1 when a
    * boundary lands inside the bigram-less tail (the exact mode's
    * max-over-bucket then also saturates at the largest scored ord).
    */
  private[graft] def cutsFromPerDoc(perDoc: DataFrame): DataFrame = {
    perDoc.groupBy(col("lang"))
      .agg(count(lit(1)).as("nl"),
        sum(lit(1L) - col("no_bg")).as("ns"),
        expr("graft_kll_agg(CASE WHEN no_bg = 0 THEN ord END)").as("sk"))
      .filter(col("ns") > 0L)
      .select(col("lang"),
        expr("""graft_kll_quantile(sk, least(CAST(1.0 AS DOUBLE),
          CAST((nl + 2) DIV 3 AS DOUBLE) / CAST(ns AS DOUBLE)))""")
          .as("cut_head"),
        expr("""graft_kll_quantile(sk, least(CAST(1.0 AS DOUBLE),
          CAST((2 * nl + 2) DIV 3 AS DOUBLE) / CAST(ns AS DOUBLE)))""")
          .as("cut_mid"))
  }

  /** [[langCuts]]'s scale twin: train + score + sketch-derived cuts.
    * This is what `sources.LmModel.refreshCuts` persists by default. */
  private[graft] def langCutsSketch(d: DataFrame): DataFrame = {
    val (c2, c1, v) = refCounts(d)
    cutsFromPerDoc(scoreAgainst(d, c2, c1, v))
  }

  /** Apply persisted/derived cut VALUES to a scored per-doc frame —
    * the CCNet deployment rule, shared with the streaming gate
    * (streaming.Streams.perplexityGate keeps its own copy fused into
    * the stateless select): ties go to the earlier bucket, bigram-less
    * docs and unknown languages score 'tail'. Narrow CASE over a
    * broadcast cuts frame — no window, no per-language shuffle beyond
    * the scoring aggregation itself.
    */
  private[graft] def applyCuts(perDoc: DataFrame,
      cuts: DataFrame): DataFrame =
    perDoc.join(broadcast(cuts), Seq("lang"), "left")
      .select(col("doc_id"), col("lang"), col("n_bigrams"),
        col("sum_surprisal"), bptCol.as("bits_per_token"),
        when(col("n_bigrams") === 0L, "tail")
          .when(col("ord") <=
            coalesce(col("cut_head"), lit(Double.NegativeInfinity)), "head")
          .when(col("ord") <=
            coalesce(col("cut_mid"), lit(Double.NegativeInfinity)), "middle")
          .otherwise("tail").as("bucket"))

  private val opPplFilter = Op(
    "perplexity_filter",
    (s, dir) => perplexityFilter(docs(s, dir)),
    Some(s"""
      WITH d AS (SELECT doc_id, lang, source,
          string_split(text, ' ') AS toks FROM documents),
      zt AS (
        SELECT doc_id, toks[i] AS w1,
          CASE WHEN i < len(toks) THEN toks[i+1] END AS w2
        FROM d, UNNEST(generate_series(1, len(toks))) AS u(i)
        WHERE CAST(substring(source, 4) AS INT) < $RefSourceCount),
      v AS (SELECT CAST(COUNT(DISTINCT w1) AS BIGINT) AS v FROM zt),
      c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
             FROM zt WHERE w2 IS NOT NULL GROUP BY 1, 2),
      c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
      bg AS (
        SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
        FROM d, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)),
      sc AS (
        SELECT bg.doc_id,
          CAST(length(bin(((COALESCE(c1.c1, 0) + v.v) * $LmScale)
            // (COALESCE(c2.c12, 0) + 1))) - 1 AS BIGINT) AS s
        FROM bg LEFT JOIN c2 USING (w1, w2) LEFT JOIN c1 USING (w1)
          CROSS JOIN v),
      agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                CAST(SUM(s) AS BIGINT) AS sum_surprisal
              FROM sc GROUP BY 1),
      pd AS (
        SELECT dd.doc_id, dd.lang,
          COALESCE(a.n_bigrams, 0) AS n_bigrams,
          COALESCE(a.sum_surprisal, 0) AS sum_surprisal
        FROM documents dd LEFT JOIN agg a ON dd.doc_id = a.doc_id),
      rk AS (
        SELECT *,
          ROW_NUMBER() OVER (PARTITION BY lang ORDER BY
            (CASE WHEN n_bigrams = 0 THEN 1 ELSE 0 END),
            (CASE WHEN n_bigrams = 0 THEN 0.0
              ELSE sum_surprisal / n_bigrams END), doc_id) AS rn,
          COUNT(*) OVER (PARTITION BY lang) AS nl
        FROM pd)
      SELECT doc_id, lang, n_bigrams, sum_surprisal,
        CASE WHEN n_bigrams = 0 THEN -1.0
          ELSE ROUND(sum_surprisal / n_bigrams - $LmScaleBits.0, 6)
          END AS bits_per_token,
        CASE ((rn - 1) * 3) // nl WHEN 0 THEN 'head'
          WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket
      FROM rk"""))

  // rows-only by design: KLL compaction draws random bits, so two
  // builds may place a within-band doc in adjacent buckets — the spec
  // bounds the disagreement vs the exact window instead
  // (PerplexitySketchSpec), the determinism-exemption rule the other
  // *_sketch ops follow. The per-doc frame is localCheckpointed ONCE
  // so the cut derivation and the bucket application don't each re-pay
  // the corpus-sized scoring join (the q32 edge-view discipline).
  private val opPplSketch = Op(
    "perplexity_cuts_sketch",
    (s, dir) => {
      val d = docs(s, dir)
      val (c2, c1, v) = refCounts(d)
      val perDoc = scoreAgainst(d, c2, c1, v).localCheckpoint()
      applyCuts(perDoc, cutsFromPerDoc(perDoc))
    },
    None)

  val ops: Seq[Op] =
    Seq(opNgramLm, opColloc, opSkipgram, opPplFilter, opPplSketch)
}
