package graft.operators

import graft.{Op, Tables}
import graft.functions.TextFns
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus mixing/sampling for training-data curation (SURVEY.md §2).
  *
  * mix_sample balances the `source` mixture: every source is
  * deterministically downsampled to the SMALLEST source's size (the
  * balanced-mixing target), the way a pre-training pipeline caps
  * over-represented domains before interleaving. Selection is a pure
  * per-row hash-threshold test — keep doc iff
  * h(doc_id) · n_source < M · target — so the plan is one narrow scan
  * plus two broadcast-joined tiny aggregates (per-source counts, their
  * min): no corpus shuffle, no per-source sort, identical decisions on
  * any cluster size. The hash is a shared integer formula
  * (doc_id·48271 mod 1048573) evaluated exactly in both engines; the
  * smallest source passes the threshold for every row, larger sources
  * keep a ~target-sized deterministic subset.
  */
object Sampling {

  val MixMod = 1048573L // prime modulus for the keep-threshold hash
  val MixMul = 48271L   // Lehmer/Park-Miller multiplier (public classic)

  private[graft] def mixSample(d: DataFrame): DataFrame = {
    val counts = d.groupBy(col("source")).agg(count(lit(1)).as("ns"))
    val target = counts.agg(min(col("ns")).as("t"))
    d.join(broadcast(counts), Seq("source"))
      .crossJoin(broadcast(target))
      .withColumn("h", (col("doc_id") * MixMul) % MixMod)
      // integer cross-multiplication: no division rounding to disagree on
      .filter(col("h") * col("ns") < lit(MixMod) * col("t"))
      .select(col("doc_id"), col("source"), col("h").as("mix_hash"))
  }

  private val opMix = Op(
    "mix_sample",
    (s, dir) => mixSample(Tables(s, dir, "documents")),
    Some(s"""
      WITH counts AS (SELECT source, COUNT(*) AS ns FROM documents GROUP BY 1),
      t AS (SELECT MIN(ns) AS t FROM counts)
      SELECT d.doc_id, d.source,
        (d.doc_id * $MixMul) % $MixMod AS mix_hash
      FROM documents d JOIN counts c ON d.source = c.source CROSS JOIN t
      WHERE ((d.doc_id * $MixMul) % $MixMod) * c.ns < $MixMod * t.t"""))

  // ---- sample_stratified: deterministic fixed-k per-stratum sample ----
  // The eval-set / debug-set primitive mix_sample is NOT: every stratum
  // contributes exactly k docs (or all of them, if smaller) regardless
  // of stratum size — the k smallest by the same portable Lehmer hash
  // (a deterministic shuffle, so the sample is unbiased w.r.t. corpus
  // order and reproducible on any cluster). Scale: per-stratum top-k
  // runs through the TopKPerKey bounded heaps — k rows per (partition,
  // stratum) reach the one skinny shuffle; no rank window ever sees a
  // full stratum. Ties cannot happen per stratum (doc_id is unique and
  // the hash is injective mod M on doc_id < M... it is not — hash ties
  // ARE possible across doc_ids; doc_id breaks them), so the k-set is
  // exact in both engines.
  val StratK = 50

  private[graft] def sampleStratified(d: DataFrame): DataFrame = {
    val hashed = d.select(col("doc_id"), col("source"))
      .withColumn("strat_hash", (col("doc_id") * MixMul) % MixMod)
    graft.plans.TopK.perKey(hashed, Seq("source"),
        Seq("strat_hash" -> graft.plans.TopK.Asc,
          "doc_id" -> graft.plans.TopK.Asc), StratK)
      .select(col("source"), col("doc_id"), col("strat_hash"), col("rk"))
  }

  private val opStrat = Op(
    "sample_stratified",
    (s, dir) => {
      sampleStratified(Tables(s, dir, "documents"))
    },
    Some(s"""
      WITH h AS (
        SELECT source, doc_id, (doc_id * $MixMul) % $MixMod AS strat_hash
        FROM documents),
      r AS (
        SELECT source, doc_id, strat_hash,
          CAST(ROW_NUMBER() OVER (PARTITION BY source
            ORDER BY strat_hash, doc_id) AS BIGINT) AS rk
        FROM h)
      SELECT source, doc_id, strat_hash, rk FROM r WHERE rk <= $StratK"""))

  // ---- seq_pack: fixed-length training-sequence packing ----
  // The step between curation and training: docs are laid out in a
  // DETERMINISTIC SHUFFLED order (the Lehmer hash above — a training
  // pipeline never feeds corpus order), their token streams
  // concatenated, and the stream cut into SeqLen-token sequences
  // (GPT-style concat-and-chunk / HF group_texts). Output is one row
  // per (doc, sequence) FRAGMENT — a doc spanning a boundary appears in
  // each sequence it touches — which is exactly the manifest a loader
  // needs to assemble sequence tensors from the doc store.
  //
  // Scale: text never moves. The packed position of every doc is a
  // global prefix sum over the skinny (doc_id, n_tokens) frame via
  // functions.PrefixSum (bucket = hash-range prefix, so bucket order
  // IS the global order; bucket count ∝ n, every window frame
  // O(target) or O(√B) — see PrefixSum's scaladoc). The skinny frame
  // is checkpointed ONCE: the count that sizes the buckets and the
  // main plan both read the materialized blocks, so the corpus is
  // tokenized exactly once per run.
  val SeqLen = 128L
  val PackTargetBucket = 1000L

  private[graft] def seqPack(d: DataFrame, seqLen: Long,
      targetBucket: Long = PackTargetBucket): DataFrame =
    packCounts(d.select(col("doc_id"),
      size(TextFns.tokens(col("text"))).cast("long").as("n_tokens")),
      seqLen, targetBucket)

  /** seq_pack over an already-computed skinny (doc_id, n_tokens)
    * frame — the entry point for pipelines (curate_e2e) that already
    * carry token counts and must not re-tokenize the corpus.
    */
  private[graft] def packCounts(counts: DataFrame, seqLen: Long,
      targetBucket: Long = PackTargetBucket): DataFrame = {
    // ONE job materializes the lazy checkpoint AND measures (n, total):
    // the old shape paid an eager-checkpoint job, a count job, and a
    // broadcast-exchange sub-job for the 1-row total frame (r18
    // optimization round — the measured values ride the plan as
    // literals; same arithmetic, two fewer jobs per pack)
    val pre = counts.select(col("doc_id"), col("n_tokens"))
      .withColumn("pack_h", (col("doc_id") * MixMul) % MixMod)
      .localCheckpoint(eager = false)
    val sizedRow = pre
      .agg(count(lit(1)), coalesce(sum(col("n_tokens")), lit(0L))).head()
    val n = math.max(sizedRow.getLong(0), 1L)
    val total = sizedRow.getLong(1)
    val bktWidth =
      math.max(MixMod / math.max(n / targetBucket, 1L), 1L)
    val sized = pre
      .withColumn("bkt", expr(s"CAST(pack_h DIV $bktWidth AS BIGINT)"))
    val fullBound = total / seqLen // same integer DIV, now a literal
    graft.functions.PrefixSum.exclusive(sized, "n_tokens",
        Seq(col("pack_h"), col("doc_id")),
        numBuckets = MixMod / bktWidth + 1, out = "tok_start")
      .withColumn("seq_id", explode(expr(
        s"sequence(tok_start DIV $seqLen, (tok_start + n_tokens - 1) DIV $seqLen)")))
      .select(col("doc_id"), col("seq_id"),
        greatest(col("seq_id") * seqLen - col("tok_start"), lit(0L)).as("doc_off"),
        greatest(col("tok_start") - col("seq_id") * seqLen, lit(0L)).as("seq_off"),
        (least(col("tok_start") + col("n_tokens"), (col("seq_id") + 1) * seqLen)
          - greatest(col("tok_start"), col("seq_id") * seqLen)).as("frag_len"),
        when(col("seq_id") < lit(fullBound), 1L).otherwise(0L)
          .as("seq_full"))
  }

  private val opPack = Op(
    "seq_pack",
    (s, dir) => seqPack(Tables(s, dir, "documents"), SeqLen),
    Some(s"""
      WITH d AS (
        SELECT doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
          (doc_id * $MixMul) % $MixMod AS pack_h
        FROM documents),
      c AS (
        SELECT doc_id, n_tokens,
          CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY pack_h, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS tok_start
        FROM d),
      t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM d)
      SELECT c.doc_id, u.s AS seq_id,
        GREATEST(u.s * $SeqLen - tok_start, 0) AS doc_off,
        GREATEST(tok_start - u.s * $SeqLen, 0) AS seq_off,
        LEAST(tok_start + n_tokens, (u.s + 1) * $SeqLen)
          - GREATEST(tok_start, u.s * $SeqLen) AS frag_len,
        CAST(CASE WHEN u.s < total // $SeqLen THEN 1 ELSE 0 END AS BIGINT)
          AS seq_full
      FROM c CROSS JOIN t,
        UNNEST(generate_series(tok_start // $SeqLen,
          (tok_start + n_tokens - 1) // $SeqLen)) AS u(s)"""))

  // ---- sample_temperature: temperature-scaled source mixing ----
  // The multilingual-pretraining mixing rule (XLM-R / mT5 style):
  // instead of capping every source at the smallest (mix_sample),
  // sources are downsampled so kept mass ∝ n_s^α — over-represented
  // sources shrink, the tail keeps most of its rows. α = 1/2 here
  // BECAUSE it is the one temperature with an integer-exact keep test:
  // keep iff P = sqrt(n_min/n_s), and with h uniform on [0, M)
  //   h/M < sqrt(n_min/n_s)  ⟺  h²·n_s < M²·n_min
  // — evaluated in decimal(38,0) (see [[tempKeep]]) so both sides are
  // exact at ANY corpus size, and Spark and the oracle agree
  // bit-for-bit with no libm pow. Plan
  // shape = mix_sample's: ONE narrow corpus scan + two broadcast tiny
  // aggregates; no corpus shuffle, decisions identical on any cluster
  // size. The hash multiplier differs from mix_sample's so the two
  // samples are decorrelated.
  val TempMul = 16807L // Lewis-Goodman-Miller multiplier (public classic)

  /** The exact keep predicate, exposed for expression-level specs:
    * h^2 * ns < M^2 * nmin, evaluated in decimal(38,0) so both sides
    * stay exact at ANY corpus size (raw int64 silently overflows once
    * a source exceeds ~2^23 docs; decimal(38,0) holds exact products
    * up to 10^38, and h^2 * ns < 2^40 * 10^25 for any corpus that
    * could exist). The oracle runs the same comparison in DuckDB
    * HUGEINT (128-bit) — likewise exact.
    */
  private[graft] def tempKeep(h: org.apache.spark.sql.Column,
      ns: org.apache.spark.sql.Column,
      nmin: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    h.cast("decimal(38,0)") * h * ns <
      lit(MixMod).cast("decimal(38,0)") * lit(MixMod) * nmin

  private[graft] def sampleTemperature(d: DataFrame): DataFrame = {
    val counts = d.groupBy(col("source")).agg(count(lit(1)).as("ns"))
    val target = counts.agg(min(col("ns")).as("nmin"))
    d.join(broadcast(counts), Seq("source"))
      .crossJoin(broadcast(target))
      .withColumn("h", (col("doc_id") * TempMul) % MixMod)
      .filter(tempKeep(col("h"), col("ns"), col("nmin")))
      .select(col("doc_id"), col("source"), col("h").as("temp_hash"))
  }

  private val opTemp = Op(
    "sample_temperature",
    (s, dir) => sampleTemperature(Tables(s, dir, "documents")),
    Some(s"""
      WITH counts AS (SELECT source, COUNT(*) AS ns FROM documents GROUP BY 1),
      t AS (SELECT MIN(ns) AS nmin FROM counts)
      SELECT d.doc_id, d.source,
        (d.doc_id * $TempMul) % $MixMod AS temp_hash
      FROM documents d JOIN counts c ON d.source = c.source CROSS JOIN t
      WHERE CAST((d.doc_id * $TempMul) % $MixMod AS HUGEINT)
              * ((d.doc_id * $TempMul) % $MixMod) * c.ns
            < CAST($MixMod AS HUGEINT) * $MixMod * t.nmin"""))

  // ---- quantile_bins: curriculum/difficulty binning ----
  // Assign every doc a quartile bin by token count — the curriculum-
  // learning primitive (order training from short/easy to long/hard)
  // and the length-bucketing step before seq_pack. The SCALE point:
  // binning by global rank is usually written ntile() — a full-table
  // sort through ONE partition. Here exact interpolated quartile
  // CUTOFFS come from one aggregate (integer token counts → the
  // (n-1)·p interpolation is exact in both engines, the score_stats
  // convention), broadcast back, and the assignment is a narrow CASE:
  // no global sort anywhere, identical bins on any cluster size.
  //
  // Buffer bound: exact `percentile` buffers O(DISTINCT values), not
  // O(rows) — token counts are small integers bounded by the max doc
  // length (≤ ~10^6 distinct values no matter how many docs), so the
  // single aggregate's buffer is bounded at any corpus size. An
  // unbounded-domain variant would use approx_percentile instead.
  private[graft] def quantileBins(d: DataFrame): DataFrame = {
    val sized = d.select(col("doc_id"),
      size(TextFns.tokens(col("text"))).cast("long").as("n_toks"))
    val cuts = sized.agg(
      expr("percentile(n_toks, 0.25D)").as("q1"),
      expr("percentile(n_toks, 0.5D)").as("q2"),
      expr("percentile(n_toks, 0.75D)").as("q3"))
    sized.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("n_toks"),
        when(col("n_toks") <= col("q1"), 0L)
          .when(col("n_toks") <= col("q2"), 1L)
          .when(col("n_toks") <= col("q3"), 2L)
          .otherwise(3L).as("bin"),
        round(col("q1"), 6).as("q1"), round(col("q2"), 6).as("q2"),
        round(col("q3"), 6).as("q3"))
  }

  // ---- quantile_bins_sketch: the at-scale binning mode ----
  // quantile_bins' exact `percentile` buffers O(DISTINCT n_toks) per
  // aggregate — safe on the bounded token-length domain, wrong as the
  // ONLY mode for an unbounded difficulty score (loss, perplexity, …).
  // Same cutoff→CASE shape, but the cutoffs come from ONE mergeable
  // KLL sketch (constant-size partials, map-side combine — the
  // score_stats_sketch machinery): rank error ≤ ~1.65 % means a doc
  // can land one bin off ONLY within that band around a cutoff —
  // curriculum semantics are insensitive to that. Rows-only (KLL
  // compaction is randomized); spec bounds each cutoff's empirical
  // rank and the resulting bin-population balance.
  private[graft] def quantileBinsSketch(d: DataFrame): DataFrame = {
    val sized = d.select(col("doc_id"),
      size(TextFns.tokens(col("text"))).cast("long").as("n_toks"))
    val cuts = sized.agg(
        expr("graft_kll_agg(CAST(n_toks AS DOUBLE))").as("sk"))
      .select(expr("graft_kll_quantile(sk, 0.25D)").as("q1"),
        expr("graft_kll_quantile(sk, 0.5D)").as("q2"),
        expr("graft_kll_quantile(sk, 0.75D)").as("q3"))
    sized.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("n_toks"),
        when(col("n_toks") <= col("q1"), 0L)
          .when(col("n_toks") <= col("q2"), 1L)
          .when(col("n_toks") <= col("q3"), 2L)
          .otherwise(3L).as("bin"),
        round(col("q1"), 6).as("q1"), round(col("q2"), 6).as("q2"),
        round(col("q3"), 6).as("q3"))
  }

  private val opBinsSketch = Op(
    "quantile_bins_sketch",
    (s, dir) => quantileBinsSketch(Tables(s, dir, "documents")),
    None)

  private val opBins = Op(
    "quantile_bins",
    (s, dir) => quantileBins(Tables(s, dir, "documents")),
    Some("""
      WITH d AS (SELECT doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        FROM documents),
      c AS (SELECT quantile_cont(n_toks, 0.25) AS q1,
              quantile_cont(n_toks, 0.5) AS q2,
              quantile_cont(n_toks, 0.75) AS q3 FROM d)
      SELECT doc_id, n_toks,
        CAST(CASE WHEN n_toks <= q1 THEN 0 WHEN n_toks <= q2 THEN 1
                  WHEN n_toks <= q3 THEN 2 ELSE 3 END AS BIGINT) AS bin,
        ROUND(q1, 6) AS q1, ROUND(q2, 6) AS q2, ROUND(q3, 6) AS q3
      FROM d CROSS JOIN c"""))

  // ---- span_corrupt: T5 span-corruption objective prep ----
  // The training-objective side of data prep (Raffel et al. 2020
  // §3.1.4): each doc becomes a (corrupted input, target) pair —
  // non-overlapping spans replaced by <extra_id_k> sentinels in the
  // input and emitted sentinel-prefixed in the target, losslessly
  // invertible (the spec reconstructs every corpus doc). Span
  // placement is the portable Lehmer hash over (doc_id, position)
  // (plans.SpanCorrupt) — deterministic on every engine/run, expected
  // mask ratio 3/22 ≈ 13.6 % (in-span positions are never tested for
  // new starts; near T5's 15 % default). One narrow
  // codegen kernel pass; the output rows carry the pair as digests
  // plus pure-arithmetic masking stats (n_spans and n_masked derive
  // from the three lengths: |input| = n − masked + spans,
  // |target| = spans + masked), so nothing corpus-sized leaves the
  // row. FULL SQL oracle (r9, upgraded from rows-only): the
  // sequential greedy replays exactly in a DuckDB RECURSIVE CTE —
  // one level per outer-loop iteration (a span consumes its whole
  // 3-token run in one step), state = (i, k, input, target, masked);
  // the Lehmer trigger is the same integer formula, and the digests
  // md5 the same space-joined strings. Validated against a python
  // mirror of the kernel on every sf0.001 doc before wiring.
  private val opSpanCorrupt = Op(
    "span_corrupt",
    (s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
        .withColumn("ct", expr("graft_span_corrupt(toks, doc_id)"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          ((size(expr("ct[0]")) + size(expr("ct[1]"))
            - size(col("toks"))).cast("long") / 2).cast("long").as("n_spans"),
          (size(expr("ct[1]")) - (size(expr("ct[0]")) + size(expr("ct[1]"))
            - size(col("toks"))) / 2).cast("long").as("n_masked"),
          round((size(expr("ct[1]")).cast("double")
            - (size(expr("ct[0]")) + size(expr("ct[1]"))
              - size(col("toks"))).cast("double") / 2)
            / greatest(size(col("toks")), lit(1)), 6).as("mask_ratio"),
          md5(concat_ws(" ", col("ct").getItem(0))).as("input_digest"),
          md5(concat_ws(" ", col("ct").getItem(1))).as("target_digest"))
    },
    Some {
      import graft.plans.SpanCorrupt.{Mod, Mul, SpanLen, StartMod, MaxSpans}
      val trig = s"s.k < $MaxSpans AND " +
        s"((s.doc_id % $Mod + s.i + 1) * $Mul) % $Mod % $StartMod = 0"
      s"""
      WITH RECURSIVE t AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
          len(string_split(text, ' ')) AS n
        FROM documents),
      st AS (
        SELECT doc_id, 0 AS i, 0 AS k, '' AS inp, '' AS tgt, 0 AS nm FROM t
        UNION ALL
        SELECT s.doc_id,
          CASE WHEN $trig THEN least(s.i + $SpanLen, t.n) ELSE s.i + 1 END,
          CASE WHEN $trig THEN s.k + 1 ELSE s.k END,
          CASE WHEN $trig
            THEN (CASE WHEN s.inp = '' THEN '<extra_id_' || s.k || '>'
                  ELSE s.inp || ' <extra_id_' || s.k || '>' END)
            ELSE (CASE WHEN s.inp = '' THEN t.toks[s.i + 1]
                  ELSE s.inp || ' ' || t.toks[s.i + 1] END) END,
          CASE WHEN $trig
            THEN (CASE WHEN s.tgt = '' THEN '<extra_id_' || s.k || '>'
                  ELSE s.tgt || ' <extra_id_' || s.k || '>' END) || ' ' ||
              array_to_string(
                list_slice(t.toks, s.i + 1, least(s.i + $SpanLen, t.n)), ' ')
            ELSE s.tgt END,
          CASE WHEN $trig THEN s.nm + least($SpanLen, t.n - s.i)
            ELSE s.nm END
        FROM st s JOIN t ON s.doc_id = t.doc_id
        WHERE s.i < t.n)
      SELECT s.doc_id, CAST(t.n AS BIGINT) AS n_tokens,
        CAST(s.k AS BIGINT) AS n_spans, CAST(s.nm AS BIGINT) AS n_masked,
        ROUND(CAST(s.nm AS DOUBLE) / t.n, 6) AS mask_ratio,
        md5(s.inp) AS input_digest, md5(s.tgt) AS target_digest
      FROM st s JOIN t ON s.doc_id = t.doc_id WHERE s.i = t.n"""
    })

  // ---- fim_prep: fill-in-the-middle objective prep ----
  // The FIM transform (Bavarian et al. 2022 — the code-model data
  // staple): each doc splits at two deterministic points into
  // (prefix, middle, suffix) and is re-serialized PSM:
  // <PRE> prefix <SUF> suffix <MID> middle — trivially invertible, so
  // the model learns infilling at zero information cost. Split points
  // are pure Lehmer-hash column arithmetic over doc_id (two
  // independent multipliers), so unlike span_corrupt no kernel and no
  // sequential scan is needed: the whole op is slice()/concat
  // projections — fully NARROW and fully SQL-expressible, so it
  // carries a complete DuckDB oracle. Output keeps the split
  // coordinates plus the PSM digest (nothing corpus-sized leaves the
  // row); section lengths are exact: |prefix| = p1, |middle| =
  // p2 − p1, |suffix| = n − p2 with 0 ≤ p1 ≤ p2 ≤ n.
  val FimMul1 = 48271L
  val FimMul2 = 16807L
  val FimMod = 2147483647L

  private[graft] def fimPrep(d: DataFrame): DataFrame =
    d.select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      // doc_id is reduced mod FimMod BEFORE the multiply so the
      // product stays well inside int64 for any doc_id: the raw
      // (doc_id + 1) * 48271 silently wraps in Spark (ANSI-off
      // arithmetic) for doc_id ≳ 1.9e14 while DuckDB promotes —
      // cross-engine divergence (and a possible negative p1).
      .withColumn("p1",
        expr(s"(((doc_id % $FimMod) + 1) * $FimMul1 % $FimMod) % (n + 1)"))
      .withColumn("p2",
        expr(s"p1 + (((doc_id % $FimMod) + 7) * $FimMul2 % $FimMod)" +
          s" % (n - p1 + 1)"))
      .withColumn("psm", concat_ws(" ", concat(
        array(lit("<PRE>")), slice(col("toks"), lit(1), col("p1").cast("int")),
        array(lit("<SUF>")),
        slice(col("toks"), (col("p2") + 1).cast("int"),
          (col("n") - col("p2")).cast("int")),
        array(lit("<MID>")),
        slice(col("toks"), (col("p1") + 1).cast("int"),
          (col("p2") - col("p1")).cast("int")))))
      .select(col("doc_id"), col("n").as("n_tokens"), col("p1"), col("p2"),
        (col("p2") - col("p1")).as("n_middle"),
        md5(col("psm")).as("psm_digest"))

  private val opFim = Op(
    "fim_prep",
    (s, dir) => fimPrep(Tables(s, dir, "documents")),
    Some(s"""
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        FROM documents),
      p AS (
        SELECT doc_id, toks, n,
          (((doc_id % $FimMod) + 1) * $FimMul1 % $FimMod) % (n + 1) AS p1
        FROM d),
      q AS (
        SELECT doc_id, toks, n, p1,
          p1 + (((doc_id % $FimMod) + 7) * $FimMul2 % $FimMod)
            % (n - p1 + 1) AS p2
        FROM p)
      SELECT doc_id, n AS n_tokens, CAST(p1 AS BIGINT) AS p1,
        CAST(p2 AS BIGINT) AS p2, CAST(p2 - p1 AS BIGINT) AS n_middle,
        md5(array_to_string(
          ['<PRE>'] || list_slice(toks, 1, p1) ||
          ['<SUF>'] || list_slice(toks, p2 + 1, n) ||
          ['<MID>'] || list_slice(toks, p1 + 1, p2), ' ')) AS psm_digest
      FROM q"""))

  // ---- curriculum_order: exact rank-decile training phases ----
  // The curriculum SCHEDULE on top of quantile_bins' buckets: every doc
  // gets an exact rank-based phase 0..9 (train on phase 0 first, 9
  // last) keyed by difficulty = token count. The mechanism is the
  // third point on the ntile-avoidance ladder and the only one that is
  // BOTH exact and buffer-free:
  //   - ntile(10): exact, but a full-table sort through ONE task;
  //   - quantile_bins' `percentile` cutoffs: no sort, but the aggregate
  //     buffers O(distinct) per PARTIAL — bounded-domain only;
  //   - here: a skinny per-VALUE histogram (groupBy difficulty, map-
  //     side combine — constant-size partials on any domain), a
  //     cumulative sum over that VANISHING frame (rows = distinct
  //     values, the one single-task window, bounded by the domain not
  //     the corpus), and phase(v) = floor(10·rank_below(v) / n)
  //     broadcast back onto the docs.
  // Ties (equal difficulty) share a phase by construction —
  // deterministic and order-independent, unlike ntile's arbitrary
  // tie-splitting — so the phase populations deviate from n/10 by at
  // most the largest tie group; integer arithmetic end-to-end makes
  // the whole op hash-provable against the oracle.
  val CurriculumPhases = 10L

  private[graft] def curriculumOrder(d: DataFrame): DataFrame = {
    val sized = d.select(col("doc_id"),
      size(TextFns.tokens(col("text"))).cast("long").as("difficulty"))
    // pinned: the VANISHING histogram feeds both the cumsum and the
    // total — lazy, each consumer would re-run the corpus token scan
    val hist = sized.groupBy(col("difficulty"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val cum = Window.orderBy(col("difficulty"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = hist
      .withColumn("below", sum(col("c")).over(cum) - col("c"))
    // n from the histogram, not a third corpus scan (census-driven):
    // Σc over the vanishing frame equals count(*) exactly
    val tot = hist.agg(sum(col("c")).as("n"))
    val phases = ranked.crossJoin(broadcast(tot))
      .select(col("difficulty"),
        expr(s"CAST(below * $CurriculumPhases DIV n AS BIGINT)")
          .as("phase"))
    sized.join(broadcast(phases), Seq("difficulty"))
      .select(col("doc_id"), col("difficulty"), col("phase"))
  }

  private val opCurriculum = Op(
    "curriculum_order",
    (s, dir) => curriculumOrder(Tables(s, dir, "documents")),
    Some(s"""
      WITH d AS (SELECT doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS difficulty
        FROM documents),
      v AS (SELECT difficulty, CAST(COUNT(*) AS BIGINT) AS c
        FROM d GROUP BY 1),
      r AS (SELECT difficulty,
          SUM(c) OVER (ORDER BY difficulty
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c AS below
        FROM v),
      t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d)
      SELECT d.doc_id, d.difficulty,
        CAST((r.below * $CurriculumPhases) // t.n AS BIGINT) AS phase
      FROM d JOIN r USING (difficulty) CROSS JOIN t"""))

  val ops: Seq[Op] =
    Seq(opMix, opTemp, opPack, opBins, opBinsSketch, opStrat, opSpanCorrupt,
      opFim, opCurriculum)
}
