package graft.operators

import graft.{Fns, Op, Tables}
import graft.Fns.{cents, centsSql, sumMoney, sumMoneySql}
import graft.functions.TextFns
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's proactive map-reduce document pipeline, re-expressed
  * as declarative Spark plans (SURVEY.md §2, "Map-reduce document
  * pipeline" rows).
  *
  * Chunking mirrors `rechunk(ids, chunk_len)` (reference
  * test_proactive.py:152-165): fixed-size token chunks, with a trailing
  * chunk shorter than 0.3·chunk_len merged into its predecessor. The
  * reference rechunks BPE token IDS (tokenizer.encode_chat_completion,
  * test_proactive.py:202-207), not whitespace words — the chunk basis
  * here is the same BPE-ish regex token_count uses (letter runs /
  * single digits / single punct), so boundaries approximate the token
  * basis. We use chunk_len=20 (reference uses 100) because the
  * synthetic docs average ~60 tokens; the rule is identical. The
  * per-chunk LLM map (test_proactive.py:202) is re-expressed as a
  * deterministic extractive transform; the ordered reduce mirrors
  * test_proactive.py:336-385.
  *
  * Scale: chunking is NARROW — tokens are sliced from the doc's own
  * array (no explode-then-regroup shuffle). The only shuffle in the
  * whole pipeline is the final per-doc reduce, partitioned by doc_id.
  */
object MapReduceDocs {

  val ChunkLen = 20
  val MergeBelow = 6 // 0.3 * ChunkLen, the rechunk trailing-merge rule

  /** BPE-ish chunk basis (same regex as token_count's bpe_ish_tokens). */
  val BpeRe = "[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]"

  /** doc_id, chunk_id, n_tokens, chunk_text — narrow, no shuffle. */
  def chunked(docs: DataFrame): DataFrame = {
    val n = size(col("toks"))
    val base = ceil(n / lit(ChunkLen.toDouble)).cast("int")
    docs
      .select(col("doc_id"),
        expr(s"regexp_extract_all(text, '$BpeRe', 0)").as("toks"))
      .withColumn("n", n)
      .withColumn("nchunks",
        when(col("n") <= ChunkLen, 1)
          .when(col("n") % ChunkLen > 0 && col("n") % ChunkLen < MergeBelow,
            base - 1)
          .otherwise(base))
      .withColumn("chunk_id",
        explode(sequence(lit(0), col("nchunks") - 1)))
      .withColumn("start", col("chunk_id") * ChunkLen)
      .withColumn("chunk_len",
        when(col("chunk_id") === col("nchunks") - 1, col("n") - col("start"))
          .otherwise(lit(ChunkLen)))
      .select(col("doc_id"),
        col("chunk_id").cast("long").as("chunk_id"),
        col("chunk_len").cast("long").as("n_tokens"),
        array_join(slice(col("toks"), col("start") + 1, col("chunk_len")), " ")
          .as("chunk_text"))
  }

  /** Shared CTE prefix for chunk oracles (DuckDB). */
  private val chunkCte = s"""
    WITH d AS (SELECT doc_id, regexp_extract_all(text, '$BpeRe') AS toks FROM documents),
    c AS (SELECT doc_id, toks, len(toks) AS n,
      CASE WHEN len(toks) <= $ChunkLen THEN 1
           WHEN (len(toks) % $ChunkLen) > 0 AND (len(toks) % $ChunkLen) < $MergeBelow
             THEN CAST(ceil(len(toks)/$ChunkLen.0) AS INT) - 1
           ELSE CAST(ceil(len(toks)/$ChunkLen.0) AS INT) END AS nchunks
      FROM d),
    chunks AS (
      SELECT doc_id, CAST(u.chunk_id AS BIGINT) AS chunk_id,
        CAST(CASE WHEN u.chunk_id = nchunks-1 THEN n - u.chunk_id*$ChunkLen
                  ELSE $ChunkLen END AS BIGINT) AS n_tokens,
        array_to_string(list_slice(toks, u.chunk_id*$ChunkLen + 1,
          CASE WHEN u.chunk_id = nchunks-1 THEN n
               ELSE u.chunk_id*$ChunkLen + $ChunkLen END), ' ') AS chunk_text
      FROM c, UNNEST(generate_series(0, nchunks-1)) AS u(chunk_id))"""

  /** Deterministic extractive per-chunk "map" (LLM stand-in): summary =
    * first 5 tokens of the chunk.
    */
  def mapped(chunks: DataFrame): DataFrame =
    chunks.withColumn("summary",
      array_join(slice(TextFns.tokens(col("chunk_text")), 1, 5), " "))

  private val mappedCte = chunkCte + s""",
    mapped AS (
      SELECT doc_id, chunk_id, n_tokens, chunk_text,
        array_to_string(list_slice(string_split(chunk_text, ' '), 1, 5), ' ') AS summary
      FROM chunks)"""

  /** Ordered per-doc combine: the reduce side. One shuffle on doc_id. */
  def reduced(mapped: DataFrame): DataFrame =
    mapped.groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(col("n_tokens")).as("total_tokens"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("chunk_id"), col("summary")))),
            x => x.getField("summary")),
          " | ").as("final_summary"))

  private val reducedSelect = s"""
      SELECT doc_id, COUNT(*) AS n_chunks,
        CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        string_agg(summary, ' | ' ORDER BY chunk_id) AS final_summary
      FROM mapped GROUP BY doc_id"""

  private def docs(s: SparkSession, dir: String) = Tables(s, dir, "documents")

  // ---- text_normalize ----
  // norm_text/n_tokens_norm mirror normalize_answer; norm_question
  // mirrors normalize_question (hanchen_recomp.py:23-27): append "?"
  // unless already present, lowercase ONLY the first character.
  private val opNormalize = Op(
    "text_normalize",
    (s, dir) => {
      val q = when(col("text").endsWith("?"), col("text"))
        .otherwise(concat(col("text"), lit("?")))
      docs(s, dir)
        .withColumn("q", q)
        .select(
          col("doc_id"),
          TextFns.normalize(col("text")).as("norm_text"),
          size(TextFns.tokens(TextFns.normalize(col("text")))).cast("long")
            .as("n_tokens_norm"),
          concat(lower(substring(col("q"), 1, 1)),
            expr("substring(q, 2, length(q))")).as("norm_question"))
    },
    Some(s"""
      WITH d AS (SELECT doc_id, text,
          CASE WHEN text LIKE '%?' THEN text ELSE text || '?' END AS q
        FROM documents)
      SELECT doc_id, ${TextFns.normalizeSql("text")} AS norm_text,
        CAST(len(string_split(${TextFns.normalizeSql("text")}, ' ')) AS BIGINT) AS n_tokens_norm,
        concat(lower(substring(q, 1, 1)), substring(q, 2, length(q))) AS norm_question
      FROM d"""))

  // ---- mr_chunk ----
  private val opChunk = Op(
    "mr_chunk",
    (s, dir) => chunked(docs(s, dir)),
    Some(chunkCte + "\nSELECT doc_id, chunk_id, n_tokens, chunk_text FROM chunks"))

  // ---- mr_chunk_overlap: sliding-window chunking with stride ----
  // The RAG-ingestion shape mr_chunk's DISJOINT chunks don't cover:
  // retrieval corpora chunk with OVERLAP (size 64, stride 48 → 16
  // shared tokens) so no answer span is ever split across a boundary.
  // Start rule: a window starts at every multiple of the stride that
  // still contributes NEW tokens — n_chunks = 1 + ceil(max(n−size,0)
  // / stride) — so the tail chunk may be short but never redundant.
  // Per-doc arithmetic + slice: fully NARROW (one Generate per doc,
  // no shuffle at all), digests instead of chunk text leaving the row.
  val OvSize = 64
  val OvStride = 48

  private[graft] def chunkOverlap(d: DataFrame): DataFrame =
    d.select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .withColumn("nc",
        lit(1L) + expr(s"(greatest(n - $OvSize, 0L) + ${OvStride - 1}) DIV $OvStride"))
      .select(col("doc_id"), col("toks"), col("n"),
        explode(expr("sequence(0L, nc - 1)")).as("chunk_id"))
      .withColumn("start_pos", col("chunk_id") * OvStride)
      .withColumn("n_chunk_toks",
        least(lit(OvSize.toLong), col("n") - col("start_pos")))
      .select(col("doc_id"), col("chunk_id"), col("start_pos"),
        col("n_chunk_toks"),
        md5(concat_ws(" ", expr(
          s"slice(toks, CAST(start_pos + 1 AS INT), CAST(n_chunk_toks AS INT))")))
          .as("chunk_digest"))

  private val opChunkOverlap = Op(
    "mr_chunk_overlap",
    (s, dir) => chunkOverlap(docs(s, dir)),
    Some(s"""
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        FROM documents),
      c AS (SELECT doc_id, toks, n,
          1 + (greatest(n - $OvSize, 0) + ${OvStride - 1}) // $OvStride AS nc
        FROM d)
      SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
        CAST(k * $OvStride AS BIGINT) AS start_pos,
        CAST(least($OvSize, n - k * $OvStride) AS BIGINT) AS n_chunk_toks,
        md5(array_to_string(
          list_slice(toks, k * $OvStride + 1,
            k * $OvStride + least($OvSize, n - k * $OvStride)), ' '))
          AS chunk_digest
      FROM c, UNNEST(generate_series(0, nc - 1)) AS u(k)"""))

  // ---- mr_map ----
  private val opMap = Op(
    "mr_map",
    (s, dir) => mapped(chunked(docs(s, dir))),
    Some(mappedCte + "\nSELECT doc_id, chunk_id, n_tokens, chunk_text, summary FROM mapped"))

  // ---- mr_reduce ----
  private val opReduce = Op(
    "mr_reduce",
    (s, dir) => reduced(mapped(chunked(docs(s, dir)))),
    Some(mappedCte + reducedSelect))

  // ---- mr_pipeline: end-to-end fused ----
  private val opPipeline = Op(
    "mr_pipeline",
    (s, dir) => {
      val out = reduced(mapped(chunked(docs(s, dir))))
      out.select(col("doc_id"), col("n_chunks"), col("total_tokens"),
        md5(col("final_summary")).as("summary_hash"))
    },
    Some(mappedCte + s""",
      red AS ($reducedSelect)
      SELECT doc_id, n_chunks, total_tokens, md5(final_summary) AS summary_hash
      FROM red"""))

  // ---- mr_e2e_model: proactive-overlap delay model ----
  // Re-expresses the sequential recurrence of compute_scores.py:70-80
  // as window lead + per-doc sums. Integer milli-units keep it exact:
  // load = 10 ms/token (100 tok/s), compute = 4 ms/token.
  private val opE2e = Op(
    "mr_e2e_model",
    (s, dir) => {
      val ch = chunked(docs(s, dir))
        .withColumn("load_ms", col("n_tokens") * 10L)
        .withColumn("compute_ms", col("n_tokens") * 4L)
      val w = Window.partitionBy(col("doc_id")).orderBy(col("chunk_id"))
      val step = when(lead(col("load_ms"), 1).over(w).isNull, col("compute_ms"))
        .otherwise(greatest(lead(col("load_ms"), 1).over(w), col("compute_ms")))
      ch.withColumn("step_ms", step)
        .withColumn("first_load_ms",
          when(col("chunk_id") === 0, col("load_ms")).otherwise(lit(0L)))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          (sum(col("load_ms")) + sum(col("compute_ms"))).as("baseline_ms"),
          (sum(col("first_load_ms")) + sum(col("step_ms"))).as("proactive_ms"))
        .select(col("doc_id"), col("n_chunks"), col("baseline_ms"),
          col("proactive_ms"),
          round(col("baseline_ms") / col("proactive_ms"), 6).as("speedup"))
    },
    Some(chunkCte + s""",
      timed AS (
        SELECT doc_id, chunk_id, n_tokens * 10 AS load_ms, n_tokens * 4 AS compute_ms,
          LEAD(n_tokens * 10) OVER (PARTITION BY doc_id ORDER BY chunk_id) AS next_load_ms
        FROM chunks)
      SELECT doc_id, COUNT(*) AS n_chunks,
        CAST(SUM(load_ms) + SUM(compute_ms) AS BIGINT) AS baseline_ms,
        CAST(SUM(CASE WHEN chunk_id = 0 THEN load_ms ELSE 0 END)
          + SUM(CASE WHEN next_load_ms IS NULL THEN compute_ms
                     ELSE GREATEST(next_load_ms, compute_ms) END) AS BIGINT) AS proactive_ms,
        ROUND((SUM(load_ms) + SUM(compute_ms))
          / (SUM(CASE WHEN chunk_id = 0 THEN load_ms ELSE 0 END)
             + SUM(CASE WHEN next_load_ms IS NULL THEN compute_ms
                        ELSE GREATEST(next_load_ms, compute_ms) END)), 6) AS speedup
      FROM timed GROUP BY doc_id"""))

  /** Consecutive-doc pairing used by the scoring ops: prediction = doc
    * text, ground truth = head of the next doc's text (deterministic,
    * non-degenerate).
    */
  private def pairs(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val a = d.select(col("doc_id"), TextFns.normalize(col("text")).as("pred"))
    val b = d.select((col("doc_id") - 1).as("doc_id"),
      array_join(slice(TextFns.tokens(TextFns.normalize(col("text"))), 1, 2), " ")
        .as("gt"))
    a.join(b, "doc_id")
  }

  private def pairsCte = s"""
    WITH pairs AS (
      SELECT a.doc_id AS doc_id,
        ${TextFns.normalizeSql("a.text")} AS pred,
        array_to_string(list_slice(string_split(${TextFns.normalizeSql("b.text")}, ' '), 1, 2), ' ') AS gt
      FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1)"""

  // ---- score_em_substr (test_proactive.py:79-83, accuracy :130) ----
  // `acc` is compute_accuracy's token-SET containment: 1 iff every
  // distinct truth token appears in the prediction (ordering-free,
  // unlike substring match).
  private val opEmSubstr = Op(
    "score_em_substr",
    (s, dir) =>
      pairs(s, dir).select(
        col("doc_id"),
        when(col("pred") === col("gt"), 1L).otherwise(0L).as("em"),
        when(col("pred").contains(col("gt")), 1L).otherwise(0L).as("substr_m"),
        when(size(array_except(
          array_distinct(TextFns.tokens(col("gt"))),
          array_distinct(TextFns.tokens(col("pred"))))) === 0, 1L)
          .otherwise(0L).as("acc")),
    Some(pairsCte + """
      SELECT doc_id,
        CAST(CASE WHEN pred = gt THEN 1 ELSE 0 END AS BIGINT) AS em,
        CAST(CASE WHEN contains(pred, gt) THEN 1 ELSE 0 END AS BIGINT) AS substr_m,
        CAST(CASE WHEN len(list_filter(list_distinct(string_split(gt, ' ')),
               x -> NOT list_contains(list_distinct(string_split(pred, ' ')), x))) = 0
             THEN 1 ELSE 0 END AS BIGINT) AS acc
      FROM pairs"""))

  // ---- mr_fold_reduce: progressive (rolling) reduce ----
  // The reference's recompute pipelines fold each new chunk into the
  // running summary (pipeline_70b_samsum.py): result_i =
  // combine(result_{i-1}, chunk_i) — inherently sequential PER DOC,
  // parallel ACROSS docs, which is exactly how it shards at 100 TB.
  // The LLM combine step is stubbed as digest chaining.
  private val opFoldReduce = Op(
    "mr_fold_reduce",
    (s, dir) => {
      val m = mapped(chunked(docs(s, dir)))
      m.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          expr("transform(array_sort(collect_list(struct(chunk_id, summary))), x -> x.summary)")
            .as("arr"))
        .select(col("doc_id"), col("n_chunks"),
          expr("aggregate(slice(arr, 2, size(arr) - 1), element_at(arr, 1), (acc, x) -> md5(concat(acc, ' | ', x)))")
            .as("rolling_digest"))
    },
    Some(mappedCte + """
      SELECT doc_id, COUNT(*) AS n_chunks,
        list_reduce(list(summary ORDER BY chunk_id),
          (x, y) -> md5(concat(x, ' | ', y))) AS rolling_digest
      FROM mapped GROUP BY doc_id"""))

  // ---- score_f1: SQuAD-style token-overlap F1 (test_proactive.py:110) ----
  // Scoring is a PER-ROW function, so it deserves no shuffle at all:
  // the graft_f1_common kernel (plans.TokenOverlap) computes the
  // multiset overlap Σ min(cp, cg) in one O(n+m) hash pass per row,
  // and the whole operator is a narrow projection over the pair scan.
  // (The previous explode + two-aggregation shape paid two corpus-
  // sized shuffles for the same numbers — the signature-kernel lesson,
  // README "Per-row functions don't deserve shuffles".)
  private val opF1 = Op(
    "score_f1",
    (s, dir) => {
      val scored = pairs(s, dir)
        .withColumn("pt", TextFns.tokens(col("pred")))
        .withColumn("gtt", TextFns.tokens(col("gt")))
        .select(col("doc_id"),
          size(col("pt")).cast("long").as("n_pred"),
          size(col("gtt")).cast("long").as("n_gold"),
          expr("graft_f1_common(pt, gtt)").as("n_common"))
      val prec = col("n_common") / col("n_pred")
      val rec = col("n_common") / col("n_gold")
      scored.select(col("doc_id"), col("n_pred"), col("n_gold"),
        col("n_common"),
        when(col("n_common") === 0, lit(0.0))
          .otherwise(round(lit(2.0) * prec * rec / (prec + rec), 6)).as("f1"))
    },
    Some(pairsCte + """,
      sides AS (
        SELECT doc_id, 'p' AS side, pred AS txt FROM pairs
        UNION ALL SELECT doc_id, 'g' AS side, gt AS txt FROM pairs),
      toks AS (SELECT doc_id, side, t AS tok
               FROM sides, UNNEST(string_split(txt, ' ')) AS u(t)),
      cnt AS (SELECT doc_id, tok,
                SUM(CASE WHEN side = 'p' THEN 1 ELSE 0 END) AS cp,
                SUM(CASE WHEN side = 'g' THEN 1 ELSE 0 END) AS cg
              FROM toks GROUP BY 1, 2),
      agg AS (SELECT doc_id,
                CAST(SUM(cp) AS BIGINT) AS n_pred,
                CAST(SUM(cg) AS BIGINT) AS n_gold,
                CAST(SUM(LEAST(cp, cg)) AS BIGINT) AS n_common
              FROM cnt GROUP BY 1)
      SELECT doc_id, n_pred, n_gold, n_common,
        CASE WHEN n_common = 0 THEN 0.0
             ELSE ROUND(2.0 * (n_common / n_pred) * (n_common / n_gold)
                        / ((n_common / n_pred) + (n_common / n_gold)), 6)
        END AS f1
      FROM agg"""))

  // ---- score_stats: fleet-level stats (compute_scores.py:57-66) ----
  // mean/min/max/percentile per SURVEY §2: p50/p95 are exact
  // interpolated percentiles over integer cents (one-pass group
  // aggregate; both engines use the (n-1)·p linear-interpolation
  // definition, and the cents basis keeps the interpolation arithmetic
  // on exact integers).
  //
  // Buffer bound: Spark's exact `percentile` holds a (value → count)
  // map per group, i.e. O(DISTINCT values), NOT O(rows). Here the
  // domain is integer cents of a bounded price range (`value` is a
  // synthetic [0, 1000) money column → ≤ 10^5 distinct cents), so the
  // buffer is a few hundred KB per group at ANY corpus size. For a
  // genuinely unbounded domain (e.g. free floats), swap in
  // approx_percentile — the exact form is chosen here because the
  // bounded domain makes it free and the oracle bit-exact.
  private val opStats = Op(
    "score_stats",
    (s, dir) => {
      val e = Tables.events(s, dir)
      val sumV = sum(cents(col("value"))) / 100.0
      val sumSq = sum(cents(col("value")) * cents(col("value"))) / 10000.0
      e.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sumV.as("sum_value"),
          round(sumV / count(lit(1)), 6).as("avg_value"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"),
          round((sumSq - sumV * sumV / count(lit(1))) / count(lit(1)), 6)
            .as("var_pop"),
          round(expr(s"percentile(${centsSql("value")}, 0.5D)") / 100.0, 6)
            .as("p50_value"),
          round(expr(s"percentile(${centsSql("value")}, 0.95D)") / 100.0, 6)
            .as("p95_value"))
    },
    Some(s"""
      SELECT event_type, COUNT(*) AS n,
        ${sumMoneySql("value")} AS sum_value,
        ROUND(${sumMoneySql("value")} / COUNT(*), 6) AS avg_value,
        MIN(value) AS min_value, MAX(value) AS max_value,
        ROUND(((SUM(${centsSql("value")} * ${centsSql("value")}) / 10000.0)
               - ${sumMoneySql("value")} * ${sumMoneySql("value")} / COUNT(*))
              / COUNT(*), 6) AS var_pop,
        ROUND(quantile_cont(${centsSql("value")}, 0.5) / 100.0, 6) AS p50_value,
        ROUND(quantile_cont(${centsSql("value")}, 0.95) / 100.0, 6) AS p95_value
      FROM events GROUP BY event_type"""))

  // ---- score_stats_sketch: mergeable-quantile fleet stats ----
  // The at-scale companion to score_stats (the profile_sketch move
  // applied to quantiles): exact `percentile` buffers O(DISTINCT
  // values) per group — free on the pinned cents domain, wrong as the
  // ONLY mode for an unbounded one. One KLL sketch (plans.KllQuantiles,
  // k = 200 → ±~1.65 % RANK error) per event_type is built in a single
  // pass — constant-size partial buffers merge map-side, the shuffle
  // carries one sketch per (partition, group) — and p50/p95 read out
  // of the same binary in the post-projection. The sketch column is
  // also the shard→fleet rollup unit: graft_kll_merge unions per-shard
  // sketches without re-reading rows (merge == single-pass spec'd).
  // Rows-only: sketch compaction draws the published algorithm's
  // random bits, so estimates carry a rank-error BOUND, not
  // bit-stability — the spec asserts the bound vs the exact pass.
  private val opStatsSketch = Op(
    "score_stats_sketch",
    (s, dir) => {
      val e = Tables.events(s, dir)
      e.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"),
          expr(s"graft_kll_agg(CAST(${centsSql("value")} AS DOUBLE))").as("sk"))
        .select(col("event_type"), col("n"), col("min_value"), col("max_value"),
          round(expr("graft_kll_quantile(sk, 0.5D)") / 100.0, 6).as("p50_approx"),
          round(expr("graft_kll_quantile(sk, 0.95D)") / 100.0, 6).as("p95_approx"))
    },
    None)

  // ---- kv_cache_plan (kv_store/kv_loading_interface.py:28-126) ----
  // Content-addressed placement with PER-TIER CAPACITY BUDGETS: the
  // reference's add_kv/decide_tier_to_add track occupied GB against
  // tier totals (cpu_total=40, gpu from device memory, nfs as the
  // backstop; kv_loading_interface.py:81-126), so placement is a
  // function of arrival order — each entry goes to the preferred tier
  // (gpu → cpu → nfs, get_predicted_loading_time's probe order) that
  // still has budget. Re-expressed as a cumulative-size threshold over
  // doc_id arrival order, computed on EXACT integer chars so the
  // running sum is order-independent (no fp drift) and the per-tier
  // time model (size/100, size/10, size/1) mirrors estimated_time.
  val GpuCapK = 16000L // 16 GB in the n_chars/1000 size scale
  val CpuCapK = 40000L // reference cpu_total = 40 GB

  /** Capacity-driven placement. The global running sum comes from
    * functions.PrefixSum — per-1000-doc buckets, bucket offsets
    * windowed within √B superbuckets, one global window over only the
    * √B superbucket rows — so no window frame grows linearly in n (the
    * old two-level scheme still ran one single-partition window over
    * the n/1000 bucket offsets). The doc count that sizes the
    * superbucket grouping is a doc_id-only column-pruned scan, and only
    * tunes constants — correctness never depends on it.
    */
  private[graft] def kvPlan(d: DataFrame, gpuCapK: Long, cpuCapK: Long): DataFrame = {
    val sized = d.withColumn("bkt", expr("CAST(doc_id DIV 1000 AS BIGINT)"))
    val nBkts = d.select(col("doc_id")).count() / 1000L + 1L
    val cum = graft.functions.PrefixSum.exclusive(sized, "n_chars",
        Seq(col("doc_id")), numBuckets = nBkts, out = "prev_chars")
      .withColumn("cum_chars", col("prev_chars") + col("n_chars"))
    cum.select(col("doc_id"), md5(col("text")).as("content_hash"),
      round(col("n_chars") / 1000.0, 6).as("size_gb"),
      round(col("cum_chars") / 1000.0, 6).as("cum_gb"),
      when(col("cum_chars") <= gpuCapK, "gpu")
        .when(col("cum_chars") <= gpuCapK + cpuCapK, "cpu")
        .otherwise("nfs").as("tier"),
      round(
        when(col("cum_chars") <= gpuCapK, col("n_chars") / 1000.0 / 100.0)
          .when(col("cum_chars") <= gpuCapK + cpuCapK, col("n_chars") / 1000.0 / 10.0)
          .otherwise(col("n_chars") / 1000.0), 9).as("est_load_time"))
  }

  private val opKv = Op(
    "kv_cache_plan",
    (s, dir) => kvPlan(docs(s, dir), GpuCapK, CpuCapK),
    Some(s"""
      WITH d AS (
        SELECT doc_id, text, n_chars,
          SUM(n_chars) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_chars
        FROM documents)
      SELECT doc_id, md5(text) AS content_hash,
        ROUND(n_chars / 1000.0, 6) AS size_gb,
        ROUND(cum_chars / 1000.0, 6) AS cum_gb,
        CASE WHEN cum_chars <= $GpuCapK THEN 'gpu'
             WHEN cum_chars <= ${GpuCapK + CpuCapK} THEN 'cpu'
             ELSE 'nfs' END AS tier,
        ROUND(CASE WHEN cum_chars <= $GpuCapK THEN n_chars / 1000.0 / 100.0
                   WHEN cum_chars <= ${GpuCapK + CpuCapK} THEN n_chars / 1000.0 / 10.0
                   ELSE n_chars / 1000.0 END, 9) AS est_load_time
      FROM d"""))

  // ---- mr_ratio_split: proactive first-chunk ratio schedule ----
  // Re-expresses split_ratio(low, num_doc, ratio) (reference
  // test_proactive.py:141-150): doc i gets first-chunk ratio
  // min(low + i*(2*ratio-low)/num_doc, 1.0); the first chunk takes
  // ceil(ratio_i * n_tokens) tokens, the remainder streams behind it.
  private val opRatioSplit = Op(
    "mr_ratio_split",
    (s, dir) => {
      val low = 0.1
      val target = 0.5
      val d = docs(s, dir)
        .select(col("doc_id"),
          size(TextFns.tokens(col("text"))).cast("long").as("n_tokens"))
      val nd = d.agg(count(lit(1)).as("nd"))
      d.crossJoin(broadcast(nd))
        .withColumn("ratio",
          least(lit(low) + col("doc_id") * ((lit(2.0) * target - low) / col("nd")),
            lit(1.0)))
        .select(col("doc_id"), col("n_tokens"),
          round(col("ratio"), 6).as("ratio"),
          ceil(col("ratio") * col("n_tokens")).cast("long").as("first_len"),
          (col("n_tokens") - ceil(col("ratio") * col("n_tokens")))
            .cast("long").as("rest_len"))
    },
    Some("""
      WITH d AS (SELECT doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents),
      nd AS (SELECT COUNT(*) AS nd FROM documents),
      r AS (SELECT doc_id, n_tokens,
          LEAST(0.1 + doc_id * ((2.0 * 0.5 - 0.1) / nd), 1.0) AS ratio
        FROM d, nd)
      SELECT doc_id, n_tokens, ROUND(ratio, 6) AS ratio,
        CAST(CEIL(ratio * n_tokens) AS BIGINT) AS first_len,
        CAST(n_tokens - CEIL(ratio * n_tokens) AS BIGINT) AS rest_len
      FROM r"""))

  // ---- score_bleu: BLEU-4 with chencherry method7 smoothing ----
  // Mirrors the reference's sentence_bleu(ref, cand,
  // smoothing_function=chencherry.method7) (test_proactive.py:376,
  // compute_scores.py:6): NLTK method7 = method4 (zero counts get
  // ln(hyp_len)/(2^incvnt·5·denom)) then method5 (average with the
  // neighboring orders, seeded by m[-1] = p1+1, using the raw 5-gram
  // precision as the n+1 neighbor), brevity penalty exp(1-ref/hyp) when
  // hyp ≤ ref, and BLEU = 0 outright when no unigram matches
  // (corpus_bleu's early return). All ln/exp values are Scala-computed
  // double literals spliced into BOTH the Spark plan and the DuckDB
  // oracle (hyp/ref lengths are ≤ 10 after the slice), so no libm call
  // runs at query time on either engine — the arithmetic is
  // bit-identical. NB: method5 can legitimately exceed 1.0 on
  // near-perfect matches (m[-1] = p1+1), matching NLTK.
  private[graft] object BleuSql {
    /** 1-based literal-array lookup — flat array indexing compiles far
      * lighter than an equivalent CASE chain. Spark's element_at and
      * DuckDB's list_extract are both 1-based.
      */
    private def lookup(values: Seq[Double], idx: String, duck: Boolean): String =
      if (duck) s"list_extract([${values.mkString(", ")}], $idx)"
      else s"element_at(array(${values.mkString(", ")}), $idx)"

    /** ln(hyp_len) for hyp_len 1..10 as exact double literals (the
      * hl=1 slot is never read: method4 requires hl > 1).
      */
    def lnOf(hl: String, duck: Boolean): String =
      lookup((1 to 10).map(h => math.log(h.toDouble)), hl, duck)

    /** NLTK brevity_penalty: 1 when hyp ≥ ref, else exp(1 - ref/hyp);
      * flat (hl-1)*10 + rl indexed table over hl,rl ∈ 1..10.
      */
    def bp(hl: String, rl: String, duck: Boolean): String = {
      val table = for { h <- 1 to 10; r <- 1 to 10 }
        yield if (h >= r) 1.0 else math.exp(1.0 - r.toDouble / h)
      lookup(table, s"(($hl - 1) * 10 + $rl)", duck)
    }

    /** modified_precision denominator: max(1, hyp_len - n + 1). */
    def denom(i: Int, hl: String) = s"greatest($hl - ${i - 1}, 1)"

    /** method4's incvnt for order i = 1 + zero orders before i. */
    private def incvnt(i: Int, c: Int => String): String =
      if (i == 1) "1"
      else "(1 + " + (1 until i)
        .map(j => s"(CASE WHEN ${c(j)} = 0 THEN 1 ELSE 0 END)")
        .mkString(" + ") + ")"

    /** Post-method4 precision for order i (1..4). */
    def ps(i: Int, c: Int => String, hl: String, duck: Boolean): String =
      s"""(CASE WHEN ${c(i)} > 0 THEN CAST(${c(i)} AS DOUBLE) / ${denom(i, hl)} WHEN $hl > 1 THEN ${lnOf(hl, duck)} / (power(2.0, ${incvnt(i, c)}) * 5.0 * ${denom(i, hl)}) ELSE 0.0 END)"""

    /** Raw 5-gram precision (method5's n+1 neighbor). */
    def p5(c: Int => String, hl: String) =
      s"(CAST(${c(5)} AS DOUBLE) / ${denom(5, hl)})"
  }

  /** BLEU-4/method7 over (doc_id, pt, gt) token-array pairs. ONE
    * generator pass: both sides are unpivoted, then n=1..5 and gram
    * positions explode in sequence — no per-n subtree re-evaluation
    * (the old shape scanned the pairs join 8×) and no interpreted
    * lambdas (grams are built by slice/array_join on exploded
    * positions, all codegen).
    */
  private[graft] def bleuScores(pairs: DataFrame): DataFrame = {
    // FULLY NARROW scoring (r12): the clipped n-gram counts of a
    // (pt, gt) pair are a pure per-row function — one
    // graft_bleu_counts kernel call replaces the old
    // explode(2 sides × 5 orders × positions) → corpus-gram count
    // shuffle → per-doc pivot chain, and the smoothing cascade stays
    // the graft_bleu_smooth kernel. The only exchange left in
    // score_bleu is the caller's pair-construction join; nothing
    // gram-shaped ever shuffles. Counts are value-identical to the
    // old shape (the kernel iterates hypothesis grams and clips
    // against reference counts — grams on one side only contribute
    // min(·, 0) = 0). The DuckDB oracle keeps the expanded
    // relational form.
    pairs
      .withColumn("bc", expr("graft_bleu_counts(pt, gt)"))
      .select(col("doc_id"),
        element_at(col("bc"), 1).as("clip1"),
        round(expr("graft_bleu_smooth(bc)"), 6).as("bleu"))
  }

  private val opBleu = Op(
    "score_bleu",
    (s, dir) => {
      val d = docs(s, dir)
      val slice10 = (c: org.apache.spark.sql.Column) =>
        slice(TextFns.tokens(TextFns.normalize(c)), 1, 10)
      val a = d.select(col("doc_id"), slice10(col("text")).as("pt"))
      val b = d.select((col("doc_id") - 1).as("doc_id"), slice10(col("text")).as("gt"))
      bleuScores(a.join(b, "doc_id"))
    },
    Some {
      val cName = (i: Int) => s"c$i"
      s"""
      WITH d AS (SELECT doc_id,
          list_slice(string_split(${TextFns.normalizeSql("text")}, ' '), 1, 10) AS toks
        FROM documents),
      pairs AS (
        SELECT a.doc_id, a.toks AS pt, b.toks AS gt
        FROM d a JOIN d b ON b.doc_id = a.doc_id + 1),
      sides AS (
        SELECT doc_id, 'p' AS side, pt AS toks FROM pairs
        UNION ALL SELECT doc_id, 'g' AS side, gt AS toks FROM pairs),
      byn AS (
        SELECT doc_id, side, n, toks
        FROM sides, UNNEST(generate_series(1, 5)) AS nn(n)
        WHERE len(toks) >= n),
      grams AS (
        SELECT doc_id, side, n, array_to_string(list_slice(toks, i+1, i+n), ' ') AS gram
        FROM byn, UNNEST(generate_series(0, len(toks) - n)) AS ii(i)),
      cnt AS (
        SELECT doc_id, n, gram,
          SUM(CASE WHEN side = 'p' THEN 1 ELSE 0 END) AS cp,
          SUM(CASE WHEN side = 'g' THEN 1 ELSE 0 END) AS cg
        FROM grams GROUP BY 1, 2, 3),
      piv AS (SELECT doc_id,
          ${(1 to 5).map(i =>
            s"CAST(SUM(CASE WHEN n = $i THEN LEAST(cp, cg) END) AS BIGINT) AS c$i")
            .mkString(", ")},
          CAST(SUM(CASE WHEN n = 1 THEN cp END) AS INT) AS hl,
          CAST(SUM(CASE WHEN n = 1 THEN cg END) AS INT) AS rl
        FROM cnt GROUP BY 1),
      base AS (SELECT doc_id, hl, rl,
          ${(1 to 5).map(i => s"COALESCE(c$i, 0) AS c$i").mkString(", ")}
        FROM piv),
      s1 AS (SELECT doc_id, c1,
          ${BleuSql.ps(1, cName, "hl", duck = true)} AS ps1,
          ${BleuSql.ps(2, cName, "hl", duck = true)} AS ps2,
          ${BleuSql.ps(3, cName, "hl", duck = true)} AS ps3,
          ${BleuSql.ps(4, cName, "hl", duck = true)} AS ps4,
          ${BleuSql.p5(cName, "hl")} AS p5raw,
          ${BleuSql.bp("hl", "rl", duck = true)} AS bp
        FROM base),
      s2 AS (SELECT *, ((ps1 + 1.0) + ps1 + ps2) / 3.0 AS p1f FROM s1),
      s3 AS (SELECT *, (p1f + ps2 + ps3) / 3.0 AS p2f FROM s2),
      s4 AS (SELECT *, (p2f + ps3 + ps4) / 3.0 AS p3f FROM s3),
      s5 AS (SELECT *, (p3f + ps4 + p5raw) / 3.0 AS p4f FROM s4)
      SELECT doc_id, c1 AS clip1,
        ROUND(CASE WHEN c1 = 0 THEN 0.0
                   ELSE bp * sqrt(sqrt(p1f * p2f * p3f * p4f)) END, 6) AS bleu
      FROM s5"""
    })

  // ---- score_has_answer: multi-candidate answer containment ----
  // text_has_answer(answers, text) (hanchen_recomp.py:55): TRUE iff ANY
  // normalized candidate answer is a substring of the normalized text.
  // Candidates: head phrases of the next two docs (deterministic).
  private val opHasAnswer = Op(
    "score_has_answer",
    (s, dir) => {
      val d = docs(s, dir)
      val head2 = (c: org.apache.spark.sql.Column) =>
        array_join(slice(TextFns.tokens(TextFns.normalize(c)), 1, 2), " ")
      val base = d.select(col("doc_id"), TextFns.normalize(col("text")).as("txt"))
      val a1 = d.select((col("doc_id") - 1).as("doc_id"), head2(col("text")).as("cand1"))
      val a2 = d.select((col("doc_id") - 2).as("doc_id"), head2(col("text")).as("cand2"))
      base.join(a1, "doc_id").join(a2, "doc_id")
        .select(col("doc_id"),
          when(col("txt").contains(col("cand1")) ||
            col("txt").contains(col("cand2")), 1L).otherwise(0L)
            .as("has_answer"))
    },
    Some(s"""
      WITH d AS (SELECT doc_id, ${TextFns.normalizeSql("text")} AS txt FROM documents),
      h AS (SELECT doc_id,
          array_to_string(list_slice(string_split(txt, ' '), 1, 2), ' ') AS head2
        FROM d)
      SELECT a.doc_id,
        CAST(CASE WHEN contains(a.txt, b.head2) OR contains(a.txt, c.head2)
             THEN 1 ELSE 0 END AS BIGINT) AS has_answer
      FROM d a
      JOIN h b ON b.doc_id = a.doc_id + 1
      JOIN h c ON c.doc_id = a.doc_id + 2"""))

  // ---- score_rougeL: LCS-based ROUGE-L f-measure, Porter-stemmed ----
  // compute_r1 (hanchen_recomp.py:76-77) scores with
  // `RougeScorer(['rougeL'], use_stemmer=True)` and returns
  // rougeL.fmeasure — tokens longer than 3 chars are Porter-stemmed
  // before the LCS (graft_stem), then LCS runs in the native graft_lcs
  // codegen expression; F = 2·lcs/(|p|+|g|) (stemming never changes
  // token counts). FULL SQL oracle (r9, upgraded from rows-only): LCS
  // is the bit-parallel Allison–Dix/Hyyrö recurrence — V starts all
  // ones over |gt| bits; per pt token, u = V & M[tok],
  // V = ((V + u) | (V − u)) masked; LCS = |gt| − popcount(V) — pure
  // integer ops a DuckDB RECURSIVE CTE iterates (one step per pt
  // token, ≤ 10 by the slice; |gt| ≤ 10 bits so BIGINT never carries
  // past bit 11). Recurrence fuzz-validated against the classic DP
  // (200k random cases + every sf0.001 pair); stemming rides the
  // proven PorterSql cascade with positions kept through
  // generate_series and `list(... ORDER BY i)` re-assembly.
  private val opRougeL = Op(
    "score_rougeL",
    (s, dir) => {
      val d = docs(s, dir)
        .withColumn("toks10",
          slice(TextFns.tokens(TextFns.normalize(col("text"))), 1, 10))
        .withColumn("st", expr("graft_stem(toks10)"))
      val a = d.select(col("doc_id"), col("st").as("pt"))
      val b = d.select((col("doc_id") - 1).as("doc_id"), col("st").as("gt"))
      a.join(b, "doc_id")
        .withColumn("lcs", expr("graft_lcs(pt, gt)"))
        .select(col("doc_id"), col("lcs"),
          round(lit(2.0) * col("lcs") / (size(col("pt")) + size(col("gt"))), 6)
            .as("rouge_l"))
    },
    Some(s"""
      WITH RECURSIVE d AS (SELECT doc_id,
          list_slice(string_split(${TextFns.normalizeSql("text")}, ' '), 1, 10) AS toks
        FROM documents),
      rpairs AS (SELECT a.doc_id, a.toks AS pt0, b.toks AS gt0
        FROM d a JOIN d b ON b.doc_id = a.doc_id + 1),
      rtoks AS (
        SELECT doc_id, 'p' AS side, i, pt0[i] AS tok
        FROM rpairs, UNNEST(generate_series(1, len(pt0))) AS u(i)
        UNION ALL
        SELECT doc_id, 'g' AS side, i, gt0[i] AS tok
        FROM rpairs, UNNEST(generate_series(1, len(gt0))) AS u(i)),
      rvocab AS (SELECT DISTINCT tok FROM rtoks WHERE length(tok) > 3),
      ${graft.functions.PorterSql.ctes("rvocab")},
      stoks AS (SELECT doc_id, side, i,
          CASE WHEN length(tok) <= 3 THEN tok ELSE s.st END AS stok
        FROM rtoks LEFT JOIN stemmed s USING (tok)),
      sarr AS (SELECT doc_id, side, list(stok ORDER BY i) AS st
        FROM stoks GROUP BY 1, 2),
      spairs AS (SELECT p.doc_id, p.st AS pt, g.st AS gt,
          len(p.st) AS np, len(g.st) AS ng
        FROM sarr p JOIN sarr g
          ON p.doc_id = g.doc_id AND p.side = 'p' AND g.side = 'g'),
      masks AS (
        SELECT doc_id, i,
          CAST(COALESCE(list_sum(list_transform(generate_series(1, ng),
            j -> CASE WHEN gt[j] = pt[i] THEN (1::BIGINT << (j - 1))
                 ELSE 0::BIGINT END)), 0) AS BIGINT) AS mask
        FROM spairs, UNNEST(generate_series(1, np)) AS u(i)),
      rec AS (
        SELECT doc_id, 0 AS i, (1::BIGINT << ng) - 1 AS v,
          (1::BIGINT << ng) - 1 AS ones, np, ng
        FROM spairs
        UNION ALL
        SELECT r.doc_id, r.i + 1,
          ((r.v + (r.v & k.mask)) | (r.v - (r.v & k.mask))) & r.ones,
          r.ones, r.np, r.ng
        FROM rec r JOIN masks k ON k.doc_id = r.doc_id AND k.i = r.i + 1
        WHERE r.i < r.np)
      SELECT r.doc_id, CAST(r.ng - bit_count(r.v) AS BIGINT) AS lcs,
        ROUND(2.0 * (r.ng - bit_count(r.v)) / (r.np + r.ng), 6) AS rouge_l
      FROM rec r WHERE r.i = r.np"""))

  // ---- score_rouge1: stemmed-unigram ROUGE-1 f-measure ----
  // The reference computes rouge1 ALONGSIDE rougeL with the same
  // stemmed tokenizer (hanchen_recomp.py:78, `RougeScorer(['rougeL'])`
  // returns only rougeL but the rouge1 member is the same scorer
  // family) — overlap = multiset ∩ of Porter-stemmed unigrams,
  // F = 2·common/(|p|+|g|). Unlike the LCS this IS portable SQL: the
  // oracle stems its vocabulary with functions.PorterSql (the full
  // 1980 algorithm as a DuckDB CTE cascade over DISTINCT tokens) and
  // reuses score_f1's multiset-overlap shape, so the op carries a
  // FULL hash-checked oracle. Spark side: graft_stem + graft_f1_common
  // — a fully narrow projection over the pair scan (per-row functions
  // deserve no shuffles). NLTK-divergence note carried from
  // score_rougeL: the reference's NLTK stemmer runs NLTK_EXTENSIONS
  // special cases (e.g. "dying"→"die" vs Porter-1980 "dy"); identical
  // stems on both sides still yield identical ROUGE-1.
  private val opRouge1 = Op(
    "score_rouge1",
    (s, dir) => {
      val d = docs(s, dir)
        .withColumn("toks10",
          slice(TextFns.tokens(TextFns.normalize(col("text"))), 1, 10))
        .withColumn("st", expr("graft_stem(toks10)"))
      val a = d.select(col("doc_id"), col("st").as("pt"))
      val b = d.select((col("doc_id") - 1).as("doc_id"), col("st").as("gt"))
      a.join(b, "doc_id")
        .select(col("doc_id"),
          size(col("pt")).cast("long").as("n_pred"),
          size(col("gt")).cast("long").as("n_gold"),
          expr("graft_f1_common(pt, gt)").as("n_common"))
        .select(col("doc_id"), col("n_pred"), col("n_gold"), col("n_common"),
          when(col("n_common") === 0, lit(0.0))
            .otherwise(round(lit(2.0) * col("n_common")
              / (col("n_pred") + col("n_gold")), 6)).as("rouge1"))
    },
    Some(s"""
      WITH d AS (SELECT doc_id,
          list_slice(string_split(${TextFns.normalizeSql("text")}, ' '), 1, 10) AS toks
        FROM documents),
      rpairs AS (SELECT a.doc_id, a.toks AS pt, b.toks AS gt
        FROM d a JOIN d b ON b.doc_id = a.doc_id + 1),
      rtoks AS (
        SELECT doc_id, 'p' AS side, t AS tok FROM rpairs, UNNEST(pt) AS u(t)
        UNION ALL
        SELECT doc_id, 'g' AS side, t AS tok FROM rpairs, UNNEST(gt) AS u(t)),
      rvocab AS (SELECT DISTINCT tok FROM rtoks WHERE length(tok) > 3),
      ${graft.functions.PorterSql.ctes("rvocab")},
      stoks AS (SELECT doc_id, side,
          CASE WHEN length(tok) <= 3 THEN tok ELSE s.st END AS stok
        FROM rtoks LEFT JOIN stemmed s USING (tok)),
      cnt AS (SELECT doc_id, stok,
          SUM(CASE WHEN side = 'p' THEN 1 ELSE 0 END) AS cp,
          SUM(CASE WHEN side = 'g' THEN 1 ELSE 0 END) AS cg
        FROM stoks GROUP BY 1, 2),
      agg AS (SELECT doc_id,
          CAST(SUM(cp) AS BIGINT) AS n_pred,
          CAST(SUM(cg) AS BIGINT) AS n_gold,
          CAST(SUM(LEAST(cp, cg)) AS BIGINT) AS n_common
        FROM cnt GROUP BY 1)
      SELECT doc_id, n_pred, n_gold, n_common,
        CASE WHEN n_common = 0 THEN 0.0
             ELSE ROUND(2.0 * n_common / (n_pred + n_gold), 6) END AS rouge1
      FROM agg"""))

  // ---- score_rouge2: stemmed-BIGRAM ROUGE-2 f-measure ----
  // Closes the ROUGE family the reference's scorer instantiates
  // (hanchen_recomp.py:76-78, the google-research rouge_scorer whose
  // ['rouge1','rouge2','rougeL'] share one stemmed tokenizer):
  // overlap = multiset ∩ of Porter-stemmed bigrams,
  // F = 2·common/(|p2|+|g2|). Bigrams form NARROW from the stemmed
  // array (two shifted slices zipped — ≤ 9 elements per row, no
  // explode, no shuffle beyond the same pair join rouge1 pays), and
  // the multiset overlap reuses the graft_f1_common kernel unchanged
  // (bigram strings are just tokens to it). FULL SQL oracle: the
  // PorterSql cascade stems the vocabulary, positions survive via
  // generate_series, and the +1 self-join rebuilds the same bigrams.
  private val opRouge2 = Op(
    "score_rouge2",
    (s, dir) => {
      val bigrams = expr(
        "zip_with(slice(st, 1, greatest(size(st) - 1, 0)), " +
          "slice(st, 2, greatest(size(st) - 1, 0)), " +
          "(x, y) -> concat(x, ' ', y))")
      val d = docs(s, dir)
        .withColumn("toks10",
          slice(TextFns.tokens(TextFns.normalize(col("text"))), 1, 10))
        .withColumn("st", expr("graft_stem(toks10)"))
        .withColumn("b2", bigrams)
      val a = d.select(col("doc_id"), col("b2").as("pt"))
      val b = d.select((col("doc_id") - 1).as("doc_id"), col("b2").as("gt"))
      a.join(b, "doc_id")
        .select(col("doc_id"),
          size(col("pt")).cast("long").as("n_pred"),
          size(col("gt")).cast("long").as("n_gold"),
          expr("graft_f1_common(pt, gt)").as("n_common"))
        .select(col("doc_id"), col("n_pred"), col("n_gold"), col("n_common"),
          when(col("n_common") === 0, lit(0.0))
            .otherwise(round(lit(2.0) * col("n_common")
              / (col("n_pred") + col("n_gold")), 6)).as("rouge2"))
    },
    Some(s"""
      WITH d AS (SELECT doc_id,
          list_slice(string_split(${TextFns.normalizeSql("text")}, ' '), 1, 10) AS toks
        FROM documents),
      rp AS (SELECT a.doc_id, a.toks AS pt, b.toks AS gt
        FROM d a JOIN d b ON b.doc_id = a.doc_id + 1),
      rt AS (
        SELECT doc_id, 'p' AS side, i, pt[i] AS tok
        FROM rp, UNNEST(generate_series(1, len(pt))) AS u(i)
        UNION ALL
        SELECT doc_id, 'g' AS side, i, gt[i] AS tok
        FROM rp, UNNEST(generate_series(1, len(gt))) AS u(i)),
      rvocab AS (SELECT DISTINCT tok FROM rt WHERE length(tok) > 3),
      ${graft.functions.PorterSql.ctes("rvocab")},
      st2 AS (SELECT doc_id, side, i,
          CASE WHEN length(tok) <= 3 THEN tok ELSE s.st END AS stok
        FROM rt LEFT JOIN stemmed s USING (tok)),
      bg AS (SELECT x.doc_id, x.side, x.stok || ' ' || y.stok AS bgram
        FROM st2 x JOIN st2 y
          ON y.doc_id = x.doc_id AND y.side = x.side AND y.i = x.i + 1),
      cnt AS (SELECT doc_id, bgram,
          SUM(CASE WHEN side = 'p' THEN 1 ELSE 0 END) AS cp,
          SUM(CASE WHEN side = 'g' THEN 1 ELSE 0 END) AS cg
        FROM bg GROUP BY 1, 2),
      agg AS (SELECT doc_id,
          CAST(SUM(cp) AS BIGINT) AS n_pred,
          CAST(SUM(cg) AS BIGINT) AS n_gold,
          CAST(SUM(LEAST(cp, cg)) AS BIGINT) AS n_common
        FROM cnt GROUP BY 1)
      SELECT rp.doc_id,
        COALESCE(agg.n_pred, 0) AS n_pred,
        COALESCE(agg.n_gold, 0) AS n_gold,
        COALESCE(agg.n_common, 0) AS n_common,
        CASE WHEN COALESCE(agg.n_common, 0) = 0 THEN 0.0
             ELSE ROUND(2.0 * agg.n_common / (agg.n_pred + agg.n_gold), 6)
        END AS rouge2
      FROM rp LEFT JOIN agg USING (doc_id)"""))

  // ---- score_edit: character-level Levenshtein distance ----
  // The remaining classic lexical-similarity metric after EM/F1/BLEU/
  // ROUGE: exact edit distance between prediction and reference
  // (compute_scores.py's string-match family, char-level). Spark's
  // built-in `levenshtein` is a codegen'd per-row DP kernel — a narrow
  // projection over the pair scan, no shuffle at any corpus size (the
  // O(|pred|·|gt|) per-row cost is bounded by the short reference
  // side). sim_ppm is the normalized similarity in integer parts-per-
  // million ((maxlen − d)·10⁶ DIV maxlen — integer division, matching
  // the oracle's `//` literally rather than relying on doubles staying
  // exact below 2^53). The DP kernel runs ONCE per row: edit_dist is
  // projected first and sim_ppm references the column.
  private val opEdit = Op(
    "score_edit",
    (s, dir) => {
      pairs(s, dir)
        .select(
          col("doc_id"),
          levenshtein(col("pred"), col("gt")).cast("long").as("edit_dist"),
          greatest(length(col("pred")), length(col("gt")), lit(1))
            .cast("long").as("maxlen"))
        .select(
          col("doc_id"),
          col("edit_dist"),
          expr("((maxlen - least(edit_dist, maxlen)) * 1000000L) DIV maxlen")
            .as("sim_ppm"))
    },
    Some(pairsCte + """
      SELECT doc_id,
        CAST(levenshtein(pred, gt) AS BIGINT) AS edit_dist,
        CAST((greatest(length(pred), length(gt), 1)
              - least(levenshtein(pred, gt),
                      greatest(length(pred), length(gt), 1))) * 1000000
             // greatest(length(pred), length(gt), 1) AS BIGINT) AS sim_ppm
      FROM pairs"""))

  val ops: Seq[Op] = Seq(opNormalize, opChunk, opChunkOverlap, opMap,
    opReduce, opPipeline, opE2e, opEmSubstr, opF1, opStats, opStatsSketch,
    opKv, opRatioSplit, opFoldReduce, opBleu, opHasAnswer, opRougeL,
    opRouge1, opRouge2, opEdit)
}
