package graft.operators

import graft.{Op, Tables}
import graft.functions.TextFns
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for an LLM training-data pipeline
  * (SURVEY.md §2 "LLM-scale data pipeline"). All are NARROW per-doc
  * transforms — pure column expressions over the scan, no shuffle —
  * so at 100 TB they stream through executors at scan speed.
  */
object TextAnalysis {

  private def docs(s: SparkSession, dir: String) = Tables(s, dir, "documents")

  private val stop = Map(
    "en" -> Seq("the", "of", "and", "to", "in"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "es" -> Seq("el", "los", "las", "y", "es"),
    "zh" -> Seq("的", "是", "不", "了", "在"))

  private def hitCount(lang: String): String = {
    val lst = stop(lang).map(w => s"'$w'").mkString(", ")
    s"CAST(len(list_filter(string_split(text, ' '), x -> x IN ($lst))) AS BIGINT)"
  }

  private def hitCountSpark(lang: String) = {
    val set = stop(lang)
    size(filter(TextFns.tokens(col("text")),
      x => x.isin(set: _*))).cast("long")
  }

  // ---- lang_id: stopword-profile heuristic language ID ----
  // Argmax over per-language stopword hit counts, fixed priority order
  // en > de > fr > es > zh on ties (deterministic in both engines).
  private val langs = Seq("en", "de", "fr", "es", "zh")

  /** Appends `hits_*` and `predicted_lang` to `d` IN PLACE — pure
    * per-row expressions over whatever columns `d` already carries, so
    * consumers that need both the language signals and other per-doc
    * columns (quality_filter) get them from ONE narrow scan instead of
    * a self-join back to the corpus.
    */
  private[graft] def withLangSignals(d: DataFrame): DataFrame = {
    val withCounts = langs.foldLeft(d) { (df, l) =>
      df.withColumn(s"hits_$l", hitCountSpark(l))
    }
    val cols = langs.map(l => col(s"hits_$l"))
    val pred = langs.init.zipWithIndex.foldLeft(when(lit(false), "")) {
      case (acc, (l, i)) =>
        val c = col(s"hits_$l")
        acc.when(cols.drop(i + 1).map(o => c >= o).reduce(_ && _), l)
    }.otherwise("zh")
    withCounts.withColumn("predicted_lang", pred)
  }

  /** Argmax over stopword hit counts with fixed en>de>fr>es>zh tie
    * order; extracted so specs can pin behavior on hand-built docs.
    */
  private[graft] def predictLang(d: DataFrame): DataFrame =
    withLangSignals(d).select(col("doc_id") +: col("predicted_lang") +:
      langs.map(l => col(s"hits_$l")): _*)

  private val opLangId = Op(
    "lang_id",
    (s, dir) => predictLang(docs(s, dir)),
    Some(s"""
      WITH h AS (SELECT doc_id,
        ${stop.keys.toSeq.sorted.map(l => s"${hitCount(l)} AS hits_$l").mkString(",\n        ")}
      FROM documents)
      SELECT doc_id,
        CASE
          WHEN hits_en >= hits_de AND hits_en >= hits_fr AND hits_en >= hits_es AND hits_en >= hits_zh THEN 'en'
          WHEN hits_de >= hits_fr AND hits_de >= hits_es AND hits_de >= hits_zh THEN 'de'
          WHEN hits_fr >= hits_es AND hits_fr >= hits_zh THEN 'fr'
          WHEN hits_es >= hits_zh THEN 'es'
          ELSE 'zh' END AS predicted_lang,
        hits_en, hits_de, hits_fr, hits_es, hits_zh
      FROM h"""))

  // ---- text_quality: length/punct/stopword/repetition features ----
  private val opQuality = Op(
    "text_quality",
    (s, dir) =>
      docs(s, dir)
        .withColumn("toks", TextFns.tokens(col("text")))
        .withColumn("n_toks", size(col("toks")).cast("long"))
        .withColumn("len_c", length(col("text")).cast("long"))
        .select(
          col("doc_id"), col("len_c").as("n_chars_m"), col("n_toks"),
          round(length(regexp_replace(col("text"), " ", "")).cast("double")
            / col("n_toks"), 6).as("avg_token_len"),
          round(regexp_count(col("text"), lit("[0-9]")).cast("double")
            / col("len_c"), 6).as("digit_ratio"),
          round(hitCountSpark("en").cast("double") / col("n_toks"), 6)
            .as("stopword_ratio"),
          round(size(array_distinct(col("toks"))).cast("double")
            / col("n_toks"), 6).as("distinct_ratio")),
    Some(s"""
      SELECT doc_id,
        CAST(length(text) AS BIGINT) AS n_chars_m,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
        ROUND(CAST(length(replace(text, ' ', '')) AS DOUBLE)
          / len(string_split(text, ' ')), 6) AS avg_token_len,
        ROUND(CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
          / length(text), 6) AS digit_ratio,
        ROUND(CAST(${hitCount("en")} AS DOUBLE)
          / len(string_split(text, ' ')), 6) AS stopword_ratio,
        ROUND(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
          / len(string_split(text, ' ')), 6) AS distinct_ratio
      FROM documents"""))

  // ---- token_count: whitespace + BPE-ish regex tokenization ----
  private val opTokenCount = Op(
    "token_count",
    (s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        size(TextFns.tokens(col("text"))).cast("long").as("ws_tokens"),
        regexp_count(col("text"), lit("[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]"))
          .cast("long").as("bpe_ish_tokens"),
        length(col("text")).cast("long").as("n_chars_m")),
    Some("""
      SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]')) AS BIGINT) AS bpe_ish_tokens,
        CAST(length(text) AS BIGINT) AS n_chars_m
      FROM documents"""))

  // ---- doc_fingerprint: Rabin-Karp-style window fingerprint ----
  // min over md5 of every 4-token window (winnowing with w = whole doc):
  // a content-defined fingerprint robust to doc reordering of windows.
  private val opFingerprint = Op(
    "doc_fingerprint",
    (s, dir) => {
      // 4-token windows via lead() over exploded tokens — split() runs
      // once per doc in the generator and the md5s stay in codegen,
      // instead of an interpreted transform() re-slicing per window.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("pos"))
      docs(s, dir)
        .select(col("doc_id"),
          posexplode(TextFns.tokens(col("text"))).as(Seq("pos", "tok")))
        .withColumn("w1", lead(col("tok"), 1).over(w))
        .withColumn("w2", lead(col("tok"), 2).over(w))
        .withColumn("w3", lead(col("tok"), 3).over(w))
        .filter(col("w3").isNotNull || col("pos") === 0)
        .withColumn("h",
          md5(concat_ws(" ", col("tok"), col("w1"), col("w2"), col("w3"))))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_windows"), min(col("h")).as("fingerprint"))
    },
    Some("""
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks,
        len(string_split(text, ' ')) AS n FROM documents)
      SELECT doc_id,
        CAST(greatest(n-4, 0) + 1 AS BIGINT) AS n_windows,
        list_min([md5(array_to_string(list_slice(toks, i+1, i+4), ' '))
                  for i in generate_series(0, greatest(n-4, 0))]) AS fingerprint
      FROM d"""))

  // ---- text_nfc: Unicode composition audit ----
  // The VALID-bytes cousin of encoding_audit's mojibake probe: "é"
  // (U+00E9) and "e"+U+0301 are byte-distinct spellings of the same
  // grapheme, so a corpus mixing sources that disagree about
  // composition silently splits every duplicate class at the hash
  // layer — NFC must run before any fingerprint/dedup hash sees
  // text. The kernel is the native graft_nfc expression
  // (plans/NfcNormalize.scala — JDK UAX #15 with a scan-only
  // isNormalized fast path, inside whole-stage codegen); the oracle
  // twin is DuckDB's utf8proc nfc_normalize. Per doc: already-NFC
  // flag and the code-point delta under normalization (composition
  // SHRINKS or preserves length — the spec pins it); the per-source
  // non-NFC rate is the ingest dashboard number. Pure per-row
  // projection — scan speed at 100 TB.
  private[graft] def textNfc(d: DataFrame): DataFrame = {
    d.withColumn("nfc", expr("graft_nfc(text)"))
      .select(col("doc_id"),
        length(col("text")).cast("long").as("raw_chars"),
        length(col("nfc")).cast("long").as("nfc_chars"),
        when(col("nfc") === col("text"), 1L).otherwise(0L).as("is_nfc"))
  }

  private val opTextNfc = Op(
    "text_nfc",
    (s, dir) => textNfc(docs(s, dir)),
    Some("""
      SELECT doc_id,
        CAST(length(text) AS BIGINT) AS raw_chars,
        CAST(length(nfc_normalize(text)) AS BIGINT) AS nfc_chars,
        CAST(CASE WHEN nfc_normalize(text) = text THEN 1 ELSE 0 END
          AS BIGINT) AS is_nfc
      FROM documents"""))

  // ---- winnow_fingerprint: MOSS winnowing fingerprint sets ----
  // doc_fingerprint above is winnowing DEGENERATED to one window (a
  // whole-doc min — reorder-robust but blind to partial overlap);
  // THIS is the real algorithm (Schleimer/Wilkerson/Aiken 2003,
  // "Winnowing: Local Algorithms for Document Fingerprinting" — the
  // MOSS engine): slide a window of WinnowW consecutive k-gram
  // hashes and select each window's MINIMUM (rightmost on ties), so
  // any match of length ≥ W+k−1 tokens between two docs GUARANTEES a
  // shared selected fingerprint — the local-containment property
  // substring-level dedup needs and a global min cannot give.
  // Expected selected density is the paper's 2/(W+1); the corpus
  // spec checks the measured density against it. Tie-break and
  // selection run on ONE sortable key — md5 hex (fixed-width, so
  // lexicographic = value order) concatenated with the REVERSED
  // zero-padded position (min key = smallest hash, then rightmost
  // position) — a plain string min both engines replay identically.
  // Scale shape: the gram build is the doc_fingerprint kernel (one
  // per-doc window partition); selection adds one more window over
  // the SAME partitioning (exchange reused, q14 class) and the
  // distinct+fold stay per-doc. Output is one skinny row per doc;
  // the selected-set digest is order-free (sorted concat under md5).
  val WinnowW = 8

  /** Per-doc winnowing as ONE local array fold (r18 optimization
    * round): gram keys and window minima are per-document, so the old
    * posexplode → Window(partitionBy doc_id) pipeline paid a full
    * exchange+sort of every token row plus a global distinct for what
    * a per-row expression computes in place. The gram-key array is
    * bound once via the single-element-array transform (the
    * let-binding trick — keeps CollapseProject from re-inlining the
    * md5 chain per element; see dedup_substr_ladder), and the result
    * rides an explode(array(struct)) so the struct is evaluated once
    * per row (Generate is a collapse boundary). Selection semantics
    * are bit-identical: key = md5hex ‖ '-' ‖ reversed zero-padded
    * position, per-window array_min = the window MIN (lexicographic =
    * value order on the fixed-width key), distinct per doc = the old
    * global distinct restricted to its own doc partition.
    * Returns (doc_id, n_grams, sel) with sel the distinct selected
    * keys — consumers fold it locally (winnow_fingerprint: zero
    * exchanges end-to-end) or explode it (winnow_pairs).
    */
  private[graft] def winnowArrays(d: DataFrame): DataFrame =
    // NULL-text docs DROP (r19, spec-pinned): the old posexplode
    // pipeline emitted no rows for them and the oracle's
    // UNNEST(NULL) agrees; without the guard greatest(size(NULL)-4,
    // 0)+1 = 1 would fabricate one md5('')-keyed gram. An
    // EMPTY-STRING doc deliberately keeps its single ''-token gram
    // (n_grams = 1) — that is what the oracle's
    // greatest(len-4,0)+1 computes too. The guard tests TEXT, not the
    // computed toks alias (split(text) IS NULL ⇔ text IS NULL):
    // filtering on the alias let the pushed-down predicate re-evaluate
    // the split per row — the §4.4 duplicate-evaluation class,
    // measured +21-23% on both winnow queries.
    //
    // Tables.rebalance (r19): the fold removed the old pipeline's
    // token exchange and with it its ACCIDENTAL parallelism — on a
    // narrow scan (input splits < cores) the whole winnow fold
    // serialized onto one task (sf1: winnow_pairs 10.5 s wall
    // 1-task-bound vs the old pipeline's 5.0 s on 32 reducers despite
    // 3.3x the CPU). The conditional round-robin rebalance (the
    // gopherSignals / mm-frames idiom) is a structural no-op whenever
    // the scan already has >= defaultParallelism splits — i.e. at
    // 100 TB; the filter still pushes below it to the scan.
    graft.Tables.rebalance(d).filter(col("text").isNotNull)
      .select(col("doc_id"),
        TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(expr(s"""
        transform(
          array(transform(sequence(1, greatest(size(toks) - 4, 0) + 1),
            i -> concat(md5(concat_ws(' ', slice(toks, i, 4))), '-',
                        lpad(cast(999999999 - (i - 1) AS string), 9, '0')))),
          ks -> named_struct(
            'ng', cast(size(ks) AS bigint),
            'sel', array_distinct(transform(
              sequence(1, greatest(size(ks) - $WinnowW, 0) + 1),
              p -> array_min(slice(ks, p, $WinnowW))))))""")).as("s"))
      .select(col("doc_id"), col("s.ng").as("n_grams"),
        col("s.sel").as("sel"))

  /** The selected-fingerprint frame (doc_id, n_grams, sel_key) —
    * [[winnowArrays]] exploded, for the winnow_pairs candidate join.
    */
  private[graft] def winnowSelected(d: DataFrame): DataFrame =
    winnowArrays(d)
      .select(col("doc_id"), col("n_grams"), explode(col("sel")).as("sel_key"))

  /** Winnowed rows over a (doc_id, text) frame — factored so the
    * spec can drive two docs sharing a long substring through it.
    * Pure per-row folds over [[winnowArrays]]: no exchange anywhere.
    */
  private[graft] def winnowFingerprint(d: DataFrame): DataFrame =
    winnowArrays(d)
      .select(col("doc_id"), col("n_grams"),
        size(col("sel")).cast("long").as("n_selected"),
        expr("md5(concat_ws('', sort_array(transform(sel, " +
          "k -> substring(k, 1, 32)))))").as("fp_digest"))
      .select(col("doc_id"), col("n_grams"), col("n_selected"),
        expr("(n_selected * 1000000) DIV n_grams").as("density_ppm"),
        col("fp_digest"))

  private val opWinnow = Op(
    "winnow_fingerprint",
    (s, dir) => winnowFingerprint(docs(s, dir)),
    Some(s"""
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        FROM documents),
      grams AS (
        SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
          CAST(greatest(n - 4, 0) + 1 AS BIGINT) AS n_grams,
          md5(array_to_string(list_slice(toks, i, i + 3), ' ')) AS h
        FROM d, UNNEST(generate_series(1, greatest(n - 4, 0) + 1))
          AS u(i)),
      keyed AS (
        SELECT doc_id, pos, n_grams,
          h || '-' || lpad(CAST(999999999 - pos AS VARCHAR), 9, '0')
            AS key
        FROM grams),
      sel AS (
        SELECT DISTINCT doc_id, n_grams,
          MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING)
            AS sel_key
        FROM keyed
        QUALIFY pos <= greatest(n_grams - $WinnowW, 0))
      SELECT doc_id, n_grams,
        CAST(COUNT(*) AS BIGINT) AS n_selected,
        CAST((COUNT(*) * 1000000) // n_grams AS BIGINT) AS density_ppm,
        md5(list_aggregate(list_sort(list(substring(sel_key, 1, 32))),
          'string_agg', '')) AS fp_digest
      FROM sel GROUP BY doc_id, n_grams"""))

  // ---- winnow_pairs: MOSS candidate pairs over shared selections --
  // Winnowing's actual USE (the MOSS service): two documents sharing
  // selected fingerprints share real substrings, so the candidate-
  // pair join runs on the selected sets — orders of magnitude
  // smaller than the gram sets (density 2/(W+1)) while keeping the
  // ≥ W+k−1-token match guarantee. The two scale disciplines are the
  // dedup_minhash ones applied to fingerprints: (1) the EXACT-DEDUP
  // PRE-PASS — identical texts collapse to one representative before
  // winnowing, so a boilerplate flood of m copies is ONE row in
  // every bucket, with group mass m riding alongside; (2) the HOT-
  // FINGERPRINT CAP — a fingerprint selected by more than HotFpCap
  // distinct texts is corpus boilerplate with no discriminative
  // value (the df-capped-term move from BM25 mining) and is dropped
  // from the join, bounding every bucket's self-join at HotFpCap².
  // Pairs need ≥ PairMinShared shared fingerprints (one shared
  // window can be a coincidental common 4-gram; two is a real
  // overlap signal). Output: (a, b) representative pairs with the
  // shared count and both group masses — the adjudication queue a
  // substring-dedup pass reads.
  val HotFpCap = 64L
  val PairMinShared = 2L

  private[graft] def winnowPairs(d: DataFrame): DataFrame = {
    val withHash = d.withColumn("chash", md5(col("text")))
    val groups = withHash.select(col("chash"), col("doc_id"))
      .groupBy(col("chash"))
      .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("m"))
    val reps = withHash.select(col("doc_id"), col("text"))
      .join(groups, col("doc_id") === col("rep_id"))
      .select(col("doc_id"), col("m"), col("text"))
    // h carried as 16-byte unhex(md5) binary (r19, the ladder move —
    // guide §2.3): equality is unchanged (unhex is injective on the
    // fixed-width hex), the checkpoint blocks, the df count shuffle
    // and both self-join sides carry half the key bytes. LAZY: the
    // blocks materialize inside the final query's own job (the df
    // aggregate computes them first), not a stand-alone job.
    val sel = winnowSelected(reps.select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        expr("unhex(substring(sel_key, 1, 32))").as("h"))
      .localCheckpoint(eager = false)
    val cold = sel.groupBy(col("h"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= HotFpCap && col("df") >= 2L)
      .select(col("h"))
    val bucketed = sel.join(cold, Seq("h"))
    val pairs = bucketed.as("x")
      .join(bucketed.as("y"),
        col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= PairMinShared)
    pairs
      .join(groups.select(col("rep_id").as("a"), col("m").as("ma")), Seq("a"))
      .join(groups.select(col("rep_id").as("b"), col("m").as("mb")), Seq("b"))
      .select(col("a"), col("b"), col("n_shared"), col("ma"), col("mb"))
  }

  private val opWinnowPairs = Op(
    "winnow_pairs",
    (s, dir) => winnowPairs(docs(s, dir)),
    Some(s"""
      WITH g AS (
        SELECT md5(text) AS chash, CAST(MIN(doc_id) AS BIGINT) AS rep_id,
          CAST(COUNT(*) AS BIGINT) AS m
        FROM documents GROUP BY md5(text)),
      reps AS (
        SELECT d.doc_id, d.text
        FROM documents d JOIN g ON d.doc_id = g.rep_id),
      dd AS (SELECT doc_id, string_split(text, ' ') AS toks,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        FROM reps),
      grams AS (
        SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
          CAST(greatest(n - 4, 0) + 1 AS BIGINT) AS n_grams,
          md5(array_to_string(list_slice(toks, i, i + 3), ' ')) AS h
        FROM dd, UNNEST(generate_series(1, greatest(n - 4, 0) + 1))
          AS u(i)),
      keyed AS (
        SELECT doc_id, pos, n_grams,
          h || '-' || lpad(CAST(999999999 - pos AS VARCHAR), 9, '0')
            AS key
        FROM grams),
      sel AS (
        SELECT DISTINCT doc_id,
          substring(MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING),
            1, 32) AS h
        FROM keyed
        QUALIFY pos <= greatest(n_grams - $WinnowW, 0)),
      cold AS (
        SELECT h FROM sel GROUP BY h
        HAVING COUNT(*) <= $HotFpCap AND COUNT(*) >= 2),
      b AS (SELECT sel.doc_id, sel.h FROM sel JOIN cold USING (h)),
      pairs AS (
        SELECT x.doc_id AS a, y.doc_id AS b,
          CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM b x JOIN b y ON x.h = y.h AND x.doc_id < y.doc_id
        GROUP BY 1, 2
        HAVING COUNT(*) >= $PairMinShared)
      SELECT p.a, p.b, p.n_shared, ga.m AS ma, gb.m AS mb
      FROM pairs p
      JOIN g ga ON p.a = ga.rep_id
      JOIN g gb ON p.b = gb.rep_id"""))

  // ---- text_repetition: Gopher-style repetition filters ----
  // The two classic repetition signals used to drop low-quality docs at
  // pre-training scale: the fraction of duplicate lines and the mass of
  // the single most frequent 2-gram. Both are per-doc quantities, so
  // since r11 the whole frame is ONE narrow projection: the line
  // signals were always row-local expressions, and the top-bigram
  // stats come from the native count kernel (plans.TopGramCount) —
  // the (doc, bigram) count shuffle + per-doc roll-up + join back of
  // the old shape are gone (at 100 TB that exchange carried a row per
  // token position of the corpus for a row-local signal).
  /** The two published repetition ratios as column expressions —
    * ONE definition shared by the audit op ([[repetitionSignals]])
    * and the keep/drop gate ([[qualityFilter]]), so the two can
    * never disagree on a doc. The coalesces preserve the old left
    * join's NULL-text behavior (stats 0, ratio 0.0), which is also
    * what the DuckDB oracle's COALESCE emits. */
  private def topBigramN(tg: org.apache.spark.sql.Column) =
    coalesce(element_at(tg, 1), lit(0L))
  private def nBigrams(tg: org.apache.spark.sql.Column) =
    coalesce(element_at(tg, 2), lit(0L))
  private def topBigramRatio(tg: org.apache.spark.sql.Column) =
    round(topBigramN(tg) / greatest(nBigrams(tg), lit(1L)), 6)
  private def dupLineRatio(nl: org.apache.spark.sql.Column,
      ndl: org.apache.spark.sql.Column) = round((nl - ndl) / nl, 6)

  private[graft] def repetitionSignals(d: DataFrame): DataFrame = {
    d.withColumn("tg", expr(
        "graft_top_ngram_count(split(text, ' '), 2)"))
      .select(col("doc_id"),
        size(split(col("text"), "\n")).cast("long").as("n_lines"),
        size(array_distinct(split(col("text"), "\n"))).cast("long")
          .as("n_distinct_lines"),
        col("tg"))
      .select(col("doc_id"), col("n_lines"),
        dupLineRatio(col("n_lines"), col("n_distinct_lines"))
          .as("dup_line_ratio"),
        nBigrams(col("tg")).as("n_bigrams"),
        topBigramRatio(col("tg")).as("top_bigram_ratio"))
  }

  private val opRepetition = Op(
    "text_repetition",
    (s, dir) => repetitionSignals(docs(s, dir)),
    Some("""
      WITH lines AS (
        SELECT doc_id,
          CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
          CAST(len(list_distinct(string_split(text, chr(10)))) AS BIGINT) AS n_distinct_lines
        FROM documents),
      bg AS (
        SELECT doc_id,
          array_to_string(list_slice(string_split(text, ' '), i+1, i+2), ' ') AS bigram
        FROM documents, UNNEST(generate_series(0, greatest(len(string_split(text, ' ')) - 2, -1))) AS u(i)),
      cnt AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY 1, 2),
      top AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_bigram_n,
                CAST(SUM(c) AS BIGINT) AS n_bigrams
              FROM cnt GROUP BY 1)
      SELECT l.doc_id, l.n_lines,
        ROUND((l.n_lines - l.n_distinct_lines) / l.n_lines, 6) AS dup_line_ratio,
        COALESCE(t.n_bigrams, 0) AS n_bigrams,
        ROUND(COALESCE(t.top_bigram_n, 0)
              / GREATEST(COALESCE(t.n_bigrams, 0), 1), 6) AS top_bigram_ratio
      FROM lines l LEFT JOIN top t ON l.doc_id = t.doc_id"""))

  // ---- pii_scrub: PII redaction for corpus publication ----
  // The standard pre-release scrub: emails and phone-shaped numbers are
  // replaced with typed placeholders and counted (the counts feed audit
  // dashboards). Pure per-row regexp_replace/regexp_count — narrow,
  // codegen, and the patterns are dialect-portable (Java regex and RE2
  // agree on these character classes).
  val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val PhoneRe = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"

  private[graft] def piiScrub(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
      regexp_count(col("text"), lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(col("text"), lit(PhoneRe)).cast("long").as("n_phones"),
      regexp_replace(regexp_replace(col("text"), EmailRe, "[EMAIL]"),
        PhoneRe, "[PHONE]").as("scrubbed"))

  private val opPii = Op(
    "pii_scrub",
    (s, dir) => piiScrub(docs(s, dir)),
    Some(s"""
      SELECT doc_id,
        CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT) AS n_emails,
        CAST(len(regexp_extract_all(text, '$PhoneRe')) AS BIGINT) AS n_phones,
        regexp_replace(regexp_replace(text, '$EmailRe', '[EMAIL]', 'g'),
          '$PhoneRe', '[PHONE]', 'g') AS scrubbed
      FROM documents"""))

  // ---- vocab_topk: tokenizer-vocabulary construction ----
  // The first step of training any tokenizer: ranked token counts with
  // document frequencies, cut to the top-V. Scale shape: ONE count
  // shuffle of skinny (token, doc_id) rows, then a global
  // TakeOrdered(V) — per-partition heaps, never a full sort — and the
  // rank window runs over only V rows (V is a constant, so the
  // single-partition window is bounded regardless of corpus size).
  val VocabSize = 1000

  private val opVocab = Op(
    "vocab_topk",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = docs(s, dir)
        .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("token"))
      val counts = toks.groupBy(col("token"))
        .agg(count(lit(1)).as("n_occ"),
          countDistinct(col("doc_id")).as("n_docs"))
      counts.orderBy(col("n_occ").desc, col("token")).limit(VocabSize)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("n_occ").desc, col("token")))
            .cast("long"))
    },
    Some(s"""
      WITH t AS (
        SELECT doc_id, u.tok AS token
        FROM documents, UNNEST(string_split(text, ' ')) AS u(tok)),
      c AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS n_occ,
          CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM t GROUP BY 1),
      r AS (
        SELECT token, n_occ, n_docs,
          CAST(ROW_NUMBER() OVER (ORDER BY n_occ DESC, token) AS BIGINT) AS rank
        FROM c)
      SELECT token, n_occ, n_docs, rank FROM r WHERE rank <= $VocabSize"""))

  // ---- vocab_topk_sketch: heavy hitters at open-domain scale ----
  // The at-scale twin of vocab_topk, the same pairing as
  // profile_stats/profile_sketch and quantile_bins/_sketch: the exact
  // op shuffles one count row per DISTINCT token — right when the
  // vocabulary is the product, O(distinct) the moment the domain is
  // open (URL hosts, n-grams, error strings at 100 TB). Here each
  // partition keeps ONE constant-size Misra–Gries map
  // (plans/FreqItems.scala; ≤ 4096 entries regardless of rows), the
  // partials merge associatively map-side, and the single merged
  // sketch reads out the top-V with per-item [lb, ub] bounds plus the
  // sketch-wide max_err (0 ⇔ no purge fired ⇔ estimates exact).
  // Rows-only: purge order is an implementation detail; the spec pins
  // the published guarantees (planted heavy hitters present, every
  // interval contains the exact count, exact below 0.75·capacity).
  private val opVocabSketch = Op(
    "vocab_topk_sketch",
    (s, dir) => {
      val toks = docs(s, dir)
        .select(explode(TextFns.tokens(col("text"))).as("token"))
      val sk = toks.agg(
        expr(s"graft_freq_agg(token, ${graft.plans.FreqItems.DefaultMapSize})")
          .as("sk"))
      sk.select(
          posexplode(expr(s"graft_freq_topk(sk, $VocabSize)")).as(Seq("pos", "r")),
          expr("graft_freq_maxerr(sk)").as("max_err"))
        .select(col("r.token").as("token"), col("r.est").as("n_occ_est"),
          col("r.lb").as("n_occ_lb"), col("r.ub").as("n_occ_ub"),
          (col("pos") + 1).cast("long").as("rank"), col("max_err"))
    })

  // ---- vocab_cms: point-frequency estimates from constant state ----
  // The count-min member of the sketch family (plans/CountMin.scala —
  // HLL cardinality, KLL quantiles, MG heavy hitters, Bloom
  // membership, theta set algebra, CMS per-item counts): "how often
  // does THIS token occur in THIS language" for ANY probed token,
  // from a constant ~320 KB buffer per language — where the MG sketch
  // answers only for survivors of its map and exact counting holds
  // O(distinct) state. The sketch pass is the production path; the
  // exact (lang, token) side here is the demonstration harness that
  // exhibits the one-sided bound (est ≥ exact always, overcount
  // ≤ ε·N w.h.p.) and dies at open domains — the same exact/sketch
  // pairing as vocab_topk/_sketch and outlier_mad/_sketch. The s-row
  // sketch frame broadcasts (languages are an enum — bounded by
  // contract, ~100 × 320 KB worst case); rows-only (counter hashing
  // is not portable SQL), spec pins the published bounds and the
  // merge-exactness property.
  private val opVocabCms = Op(
    "vocab_cms",
    (s, dir) => {
      val toks = docs(s, dir)
        .select(col("lang"), explode(TextFns.tokens(col("text"))).as("token"))
        .filter(length(col("token")) > 0)
      val sk = toks.groupBy(col("lang"))
        .agg(expr(s"graft_cms_agg(token, ${graft.plans.CountMin.DefaultWidth})")
          .as("sk"))
      toks.groupBy(col("lang"), col("token"))
        .agg(count(lit(1)).as("n_exact"))
        .join(broadcast(sk), Seq("lang"))
        .select(col("lang"), col("token"), col("n_exact"),
          expr("graft_cms_est(sk, token)").as("n_est"),
          expr("graft_cms_total(sk)").as("n_total"))
    },
    None)

  // ---- text_compress: compression-ratio quality signal ----
  // The CCNet/Gopher heuristic: natural prose deflates to ~0.3-0.5 of
  // its size, templated spam far below that, noise barely at all.
  // Per-doc, NARROW, via the native graft_deflate_len kernel
  // (plans.DeflateKernel) — rows-only because the compressed length is
  // a zlib detail, not portable SQL; the property spec pins semantics.
  private val opCompress = Op(
    "text_compress",
    (s, dir) => {
      docs(s, dir)
        .withColumn("n_bytes",
          length(col("text")).cast("long"))
        .withColumn("n_deflated",
          expr("graft_deflate_len(cast(text AS binary))"))
        .select(col("doc_id"), col("n_bytes"), col("n_deflated"),
          round(col("n_deflated") / col("n_bytes"), 6).as("compress_ratio"))
    },
    None)

  // ---- quality_filter: the end-to-end curation KEEP/DROP decision ----
  // What the individual signal ops exist FOR: one gate combining
  // length, language, digit mass, stopword density, lexical diversity,
  // and the Gopher repetition filters into a keep bit with the FIRST
  // failing reason (fixed order, so reasons are deterministic and
  // auditable — the reason histogram is the curation dashboard).
  // Thresholds follow the published C4/Gopher shapes scaled to the
  // synthetic corpus. Plan shape: every signal — language hits
  // (withLangSignals), ratios, and since r11 the repetition pair
  // (plans.TopGramCount) — rides ONE narrow scan; no aggregation, no
  // join, no Exchange at all (the old shape shuffled (doc, bigram)
  // counts and joined back; spec-asserted text-free plan, now
  // exchange-free outright).
  val QfMinToks = 16L
  val QfMaxToks = 1000L
  val QfMaxDigit = 0.2
  val QfMinStop = 0.01
  val QfMinDistinct = 0.35
  val QfMaxDupLine = 0.3
  val QfMaxTopBigram = 0.2

  /** [[qualityFilter]]'s signal + decision columns APPENDED to `d`
    * (incoming columns ride through, `_qf_`-prefixed helpers dropped
    * — the gopherSignals convention), so a composition that must fuse
    * this gate into a corpus pass it already pays reads it from ONE
    * scan: curate_e2e computes the heuristic gate AND the weak-label
    * classifier features from a single tokenization-heavy pass (r19
    * optimization round — the old shape ran two full corpus scans).
    */
  private[graft] def qfWithSignals(d: DataFrame): DataFrame = {
    val base = withLangSignals(d)
      .withColumn("_qf_toks", TextFns.tokens(col("text")))
      .withColumn("n_toks", size(col("_qf_toks")).cast("long"))
      .withColumn("_qf_nl", size(split(col("text"), "\n")).cast("long"))
      .withColumn("_qf_ndl",
        size(array_distinct(split(col("text"), "\n"))).cast("long"))
      // repetition signals inline via the count kernel (row-local
      // since r11): the rep join this gate used to pay is gone
      .withColumn("_qf_tg", expr("graft_top_ngram_count(_qf_toks, 2)"))
      .withColumn("digit_ratio",
        round(regexp_count(col("text"), lit("[0-9]")).cast("double")
          / length(col("text")), 6))
      .withColumn("stopword_ratio",
        round(col("hits_en").cast("double") / col("n_toks"), 6))
      .withColumn("distinct_ratio",
        round(size(array_distinct(col("_qf_toks"))).cast("double")
          / col("n_toks"), 6))
      .withColumn("dup_line_ratio", dupLineRatio(col("_qf_nl"), col("_qf_ndl")))
      .withColumn("top_bigram_ratio", topBigramRatio(col("_qf_tg")))
    val reason =
      when(col("n_toks") < QfMinToks, "short")
        .when(col("n_toks") > QfMaxToks, "long")
        .when(col("predicted_lang") =!= "en", "lang")
        .when(col("digit_ratio") > QfMaxDigit, "digits")
        .when(col("stopword_ratio") < QfMinStop, "stopwords")
        .when(col("distinct_ratio") < QfMinDistinct, "distinct")
        .when(col("dup_line_ratio") > QfMaxDupLine, "dup_lines")
        .when(col("top_bigram_ratio") > QfMaxTopBigram, "top_bigram")
        .otherwise("ok")
    base
      .withColumn("reason", reason)
      .withColumn("keep", when(col("reason") === "ok", 1L).otherwise(0L))
      .drop(("_qf_toks" :: "_qf_nl" :: "_qf_ndl" :: "_qf_tg" ::
        langs.map(l => s"hits_$l").toList): _*)
  }

  private[graft] def qualityFilter(d: DataFrame): DataFrame =
    qfWithSignals(d).select(col("doc_id"), col("predicted_lang"),
      col("n_toks"), col("digit_ratio"), col("stopword_ratio"),
      col("distinct_ratio"), col("dup_line_ratio"),
      col("top_bigram_ratio"), col("reason"), col("keep"))

  private val opFilter = Op(
    "quality_filter",
    (s, dir) => qualityFilter(docs(s, dir)),
    Some(s"""
      WITH h AS (SELECT doc_id, text,
        ${stop.keys.toSeq.sorted.map(l => s"${hitCount(l)} AS hits_$l").mkString(",\n        ")}
      FROM documents),
      base AS (
        SELECT doc_id,
          CASE
            WHEN hits_en >= hits_de AND hits_en >= hits_fr AND hits_en >= hits_es AND hits_en >= hits_zh THEN 'en'
            WHEN hits_de >= hits_fr AND hits_de >= hits_es AND hits_de >= hits_zh THEN 'de'
            WHEN hits_fr >= hits_es AND hits_fr >= hits_zh THEN 'fr'
            WHEN hits_es >= hits_zh THEN 'es' ELSE 'zh' END AS predicted_lang,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
          ROUND(CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
            / length(text), 6) AS digit_ratio,
          ROUND(CAST(hits_en AS DOUBLE)
            / len(string_split(text, ' ')), 6) AS stopword_ratio,
          ROUND(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
            / len(string_split(text, ' ')), 6) AS distinct_ratio
        FROM h),
      lines AS (
        SELECT doc_id,
          CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
          CAST(len(list_distinct(string_split(text, chr(10)))) AS BIGINT) AS n_distinct_lines
        FROM documents),
      bg AS (
        SELECT doc_id,
          array_to_string(list_slice(string_split(text, ' '), i+1, i+2), ' ') AS bigram
        FROM documents, UNNEST(generate_series(0, greatest(len(string_split(text, ' ')) - 2, -1))) AS u(i)),
      cnt AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY 1, 2),
      top AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_bigram_n,
                CAST(SUM(c) AS BIGINT) AS n_bigrams
              FROM cnt GROUP BY 1),
      full_t AS (
        SELECT b.*,
          ROUND((l.n_lines - l.n_distinct_lines) / l.n_lines, 6) AS dup_line_ratio,
          ROUND(COALESCE(t.top_bigram_n, 0)
            / GREATEST(COALESCE(t.n_bigrams, 0), 1), 6) AS top_bigram_ratio
        FROM base b JOIN lines l USING (doc_id) LEFT JOIN top t USING (doc_id)),
      dec AS (
        SELECT *,
          CASE WHEN n_toks < $QfMinToks THEN 'short'
               WHEN n_toks > $QfMaxToks THEN 'long'
               WHEN predicted_lang <> 'en' THEN 'lang'
               WHEN digit_ratio > $QfMaxDigit THEN 'digits'
               WHEN stopword_ratio < $QfMinStop THEN 'stopwords'
               WHEN distinct_ratio < $QfMinDistinct THEN 'distinct'
               WHEN dup_line_ratio > $QfMaxDupLine THEN 'dup_lines'
               WHEN top_bigram_ratio > $QfMaxTopBigram THEN 'top_bigram'
               ELSE 'ok' END AS reason
        FROM full_t)
      SELECT doc_id, predicted_lang, n_toks, digit_ratio, stopword_ratio,
        distinct_ratio, dup_line_ratio, top_bigram_ratio, reason,
        CAST(CASE WHEN reason = 'ok' THEN 1 ELSE 0 END AS BIGINT) AS keep
      FROM dec"""))

  // ---- keyword_tfidf: per-doc keyword extraction ----
  // Top-3 tokens per doc by tf·idf — the tagging/retrieval primitive
  // (doc keywords, index terms). idf is the INTEGER surrogate
  // (N·1000) DIV df: exact in both engines (no libm log to drift
  // cross-engine — ln values are not bit-portable, integer division
  // is), order-preserving in df, so ranking matches float idf for any
  // fixed tf. Scale: tf is one shuffle of skinny (doc, token) rows,
  // df one shuffle of the vocab-sized tf frame, the re-join shuffles
  // on token (vocab can exceed broadcast at corpus scale), and the
  // per-doc top-3 runs through the TopKPerKey heap — k rows per
  // (partition, doc) reach the final exchange, never a full sort.
  val KwPerDoc = 3

  private[graft] def keywordTfidf(d: DataFrame): DataFrame = {
    val toks = d.select(col("doc_id"),
      explode(TextFns.tokens(col("text"))).as("token"))
    val tf = toks.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = d.agg(count(lit(1)).as("n"))
    val scored = tf.join(dfreq, Seq("token")).crossJoin(broadcast(n))
      .withColumn("score", col("tf") * expr("(n * 1000) DIV df"))
    graft.plans.TopK.perKey(scored, Seq("doc_id"),
        Seq("score" -> graft.plans.TopK.Desc, "token" -> graft.plans.TopK.Asc),
        KwPerDoc)
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        col("score").cast("long").as("score"), col("rk"))
  }

  private val opKeywords = Op(
    "keyword_tfidf",
    (s, dir) => {
      keywordTfidf(docs(s, dir))
    },
    Some(s"""
      WITH t AS (
        SELECT doc_id, u.tok AS token
        FROM documents, UNNEST(string_split(text, ' ')) AS u(tok)),
      tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
             FROM t GROUP BY 1, 2),
      df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
      s AS (
        SELECT doc_id, tf.token, tf.tf, df.df,
          CAST(tf.tf * ((n.n * 1000) // df.df) AS BIGINT) AS score
        FROM tf JOIN df USING (token) CROSS JOIN n),
      r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
              ORDER BY score DESC, token) AS BIGINT) AS rk
            FROM s)
      SELECT doc_id, token, tf, df, score, rk FROM r WHERE rk <= $KwPerDoc"""))

  // ---- index_build: inverted index (token → posting list) ----
  // The retrieval-side primitive: one row per vocabulary token with
  // its bounded posting list. Entries are "docid:pos" with BOTH parts
  // ZERO-PADDED so lexicographic order IS numeric order — both engines
  // sort the same strings identically, no struct-sort portability
  // hazard. Scale: posting lists are capped at [[PostingCap]] entries
  // per row (a stopword's full posting grows O(corpus) — real indexes
  // chunk posting blocks; the cap bounds row width while n_postings
  // keeps the true total), and the cap is enforced BEFORE any
  // aggregation buffer exists: TopK.perKey keeps the bottom-PostingCap
  // entries per token in bounded per-partition heaps, so at most
  // PostingCap × tokens rows reach the exchange and the collect_list
  // that assembles the posting string only ever sees ≤ PostingCap rows
  // per token. The true totals (n_postings, n_docs) come from a
  // separate skinny count aggregation joined back on token —
  // constant-size buffers all the way, even for a stopword token whose
  // full posting list is the corpus.
  val PostingCap = 100

  private[graft] def indexBuild(d: DataFrame): DataFrame = {
    val entries = d.select(col("doc_id"),
        posexplode(TextFns.tokens(col("text"))).as(Seq("pos", "token")))
      .withColumn("entry", concat_ws(":",
        lpad(col("doc_id").cast("string"), 8, "0"),
        lpad(col("pos").cast("string"), 6, "0")))
    val counts = entries.groupBy(col("token"))
      .agg(count(lit(1)).as("n_postings"),
        countDistinct(col("doc_id")).as("n_docs"))
    // bottom-PostingCap per token (Asc on the zero-padded entry IS
    // numeric order); the ≤ PostingCap survivors per token are the only
    // rows any collect_list buffer ever holds
    val capped = graft.plans.TopK.perKey(
      entries.select(col("token"), col("entry")),
      Seq("token"), Seq("entry" -> graft.plans.TopK.Asc), PostingCap)
    val posting = capped.groupBy(col("token"))
      .agg(expr("array_join(array_sort(collect_list(entry)), ',')")
        .as("posting"))
    counts.join(posting, Seq("token"))
      .select(col("token"), col("n_postings"), col("n_docs"), col("posting"))
  }

  private val opIndex = Op(
    "index_build",
    (s, dir) => indexBuild(docs(s, dir)),
    Some(s"""
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents),
      t AS (
        SELECT doc_id, toks[u.i] AS token, u.i - 1 AS pos
        FROM d, UNNEST(generate_series(1, len(toks))) AS u(i)),
      e AS (
        SELECT token, doc_id,
          lpad(CAST(doc_id AS VARCHAR), 8, '0') || ':' ||
            lpad(CAST(pos AS VARCHAR), 6, '0') AS entry
        FROM t)
      SELECT token,
        CAST(COUNT(*) AS BIGINT) AS n_postings,
        CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        array_to_string(list_slice(list_sort(list(entry)), 1, $PostingCap), ',')
          AS posting
      FROM e GROUP BY token"""))

  // ---- data_card: per-(lang, source) corpus composition summary ----
  // The dataset-documentation deliverable every released corpus ships
  // (datasheets / data cards): docs, tokens, chars and corpus SHARES
  // per (lang, source) slice. Shares ride as exact integer basis
  // points (n·10⁴ DIV total — hash-matchable; a float ratio would
  // diverge in the last ulp across engines). Scale shape: ONE scan →
  // one skinny groupBy (≤ langs × sources rows), totals folded from
  // the group frame (never a second scan) and broadcast back.
  private val opDataCard = Op(
    "data_card",
    (s, dir) => {
      val d = docs(s, dir)
      // localCheckpoint pins the skinny group frame (≤ langs × sources
      // rows) so the totals fold reads IT, not a second corpus scan.
      // (Not fault-tolerant beyond one box — see the simhashPairs note
      // in Dedup.scala; a cluster run would persist() instead.)
      val byLs = d.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(TextFns.tokens(col("text"))).cast("long")).as("n_tokens"),
          sum(col("n_chars")).as("sum_chars"))
        .localCheckpoint()
      val tot = byLs.agg(sum(col("n_docs")).as("td"),
        sum(col("n_tokens")).as("tt"))
      byLs.crossJoin(broadcast(tot))
        .select(col("lang"), col("source"), col("n_docs"), col("n_tokens"),
          col("sum_chars"),
          expr("n_docs * 10000 DIV td").as("doc_share_bp"),
          expr("n_tokens * 10000 DIV tt").as("tok_share_bp"))
    },
    Some("""
      WITH g AS (
        SELECT lang, source,
          CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
          CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM documents GROUP BY 1, 2),
      t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS td,
                   CAST(SUM(n_tokens) AS BIGINT) AS tt FROM g)
      SELECT lang, source, n_docs, n_tokens, sum_chars,
        n_docs * 10000 // td AS doc_share_bp,
        n_tokens * 10000 // tt AS tok_share_bp
      FROM g CROSS JOIN t"""))

  // ---- data_card_kanon: the RELEASABLE data card (cell suppression) ----

  /** Minimum docs a (lang, source) cell needs to be published on its
    * own; below it the cell folds into the per-lang "(suppressed)"
    * bucket. Small-cell suppression is the standard
    * statistical-disclosure control for released cross-tabulations —
    * a published cell of 1-4 docs can identify individual documents
    * (and with them authors/sites) by intersection with other public
    * tables; aggregating the tail keeps the TOTALS of the card exact
    * while removing the identifying resolution. */
  val KanonMinCell = 5L

  private val opDataCardKanon = Op(
    "data_card_kanon",
    (s, dir) => {
      val d = docs(s, dir)
      val byLs = d.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(TextFns.tokens(col("text"))).cast("long")).as("n_tokens"))
      // fold small cells per lang; counts stay exact in aggregate —
      // one skinny re-group over the <= langs x sources cell frame
      byLs
        .withColumn("source_out",
          when(col("n_docs") >= KanonMinCell, col("source"))
            .otherwise(lit("(suppressed)")))
        .groupBy(col("lang"), col("source_out"))
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          count(lit(1)).as("n_cells"))
        .withColumn("suppressed",
          when(col("source_out") === "(suppressed)", 1L).otherwise(0L))
    },
    Some(s"""
      WITH g AS (
        SELECT lang, source,
          CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY 1, 2),
      f AS (
        SELECT lang,
          CASE WHEN n_docs >= $KanonMinCell THEN source
            ELSE '(suppressed)' END AS source_out,
          n_docs, n_tokens
        FROM g)
      SELECT lang, source_out,
        CAST(SUM(n_docs) AS BIGINT) AS n_docs,
        CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
        CAST(COUNT(*) AS BIGINT) AS n_cells,
        CASE WHEN source_out = '(suppressed)' THEN 1 ELSE 0 END
          AS suppressed
      FROM f GROUP BY 1, 2"""))

  // ---- quality_gopher: the published Gopher rule set, integer-exact ----
  // text_quality/quality_filter are this library's own heuristics;
  // quality_gopher is the NAMED rule set from Gopher (Rae et al. 2021,
  // Table A1) that MassiveText, RefinedWeb and the Llama-family data
  // recipes reuse, so a user can reproduce those corpora's filter
  // decisions verbatim: word-count bounds [50, 100k], mean word length
  // [3, 10], symbol-to-word ratio ≤ 0.1 (# and ellipsis), ≥ 80 % of
  // words contain an alphabetic character, and ≥ 2 distinct stop words
  // present. (The two LINE-shape rules — bullet/ellipsis line starts —
  // need a line-structured corpus; this table's documents are
  // single-line, so they are vacuously true and not emitted.)
  // Every ratio is an integer surrogate (mean length ×100, ratios in
  // basis points — the data_card convention) so the DuckDB oracle
  // matches bit-for-bit. One narrow projection per doc: array lambdas
  // + replace-count tricks, no shuffle, no UDF.
  // Gopher's published English list plus "a" — the stop-list is the
  // one corpus/language-ADAPTED knob of the rule set (CCNet/Gopher
  // localize it per language); this table's synthetic vocabulary
  // carries exactly {the, a} as function words, so the canonical
  // 8-word list alone would fail every document vacuously.
  private val GopherStops = Seq("the", "a", "be", "to", "of", "and",
    "that", "have", "with")

  // Gopher Table A1's repetition sub-table ceilings (r10): fraction
  // of characters in DUPLICATE n-grams (n = 5..10 at 15 % down to
  // 10 %) and in the MOST COMMON n-gram (n = 2..4 at 20/18/16 %),
  // as integer basis points over length(text). The paper's prose
  // leaves the duplicate-char count ambiguous (implementations
  // disagree on overlap handling); this library pins the SET-WISE
  // reading — chars in non-first occurrences, Σ over distinct
  // n-grams of (count−1)·len — because it is order-free, exactly
  // computable in one aggregation, and oracle-matchable bit-for-bit.
  private[graft] val GopherDupBp = Seq(5 -> 1500L, 6 -> 1400L,
    7 -> 1300L, 8 -> 1200L, 9 -> 1100L, 10 -> 1000L)
  private[graft] val GopherTopBp = Seq(2 -> 2000L, 3 -> 1800L, 4 -> 1600L)

  /** The repetition signals are per-doc quantities computed ROW-LOCALLY
    * — zero shuffle, zero join: they stay embarrassingly parallel
    * gates like the rest of Table A1, and since r11 they come from
    * ONE native kernel pass ([[graft.plans.GopherRepetition]] —
    * token interning, rolling polynomial gram keys, open-addressed
    * count maps; see its scaladoc for the arithmetic). History: the
    * r10 shape exploded 9 gram structs per token position (gram
    * STRING build + string hash each) into a count shuffle and
    * joined the roll-up back — measured 25 s at sf0.1 vs 1.75 s for
    * the interim row-local SQL fold vs ~0.4 s for the kernel; at
    * 100 TB the exchange it removed is corpus-token-sized. A
    * gram-less doc (size < n) yields 0 — the old left join's
    * coalesce, now vacuous.
    */

  /** Every Table A1 signal + the pass verdict as ADDED columns over
    * the incoming frame — the shared kernel of the batch operator and
    * the streaming gate ([[graft.streaming.Streams.gopherGated]]).
    * Row-local by construction (see
    * [[graft.plans.GopherRepetition]]), so the streaming
    * twin needs no state; helper columns are dropped and incoming
    * columns ride through so the gate composes.
    *
    * Blast radius: the repetition kernel fail-louds on a row with
    * ≥2²⁹ tokens (a multi-GiB document — an upstream ingestion bug),
    * which aborts the whole JOB, not just the row. On a 100 TB run
    * put a cheap `length(text) < cap` quarantine filter upstream of
    * this gate if the corpus may carry pathological rows; the kernel
    * itself stays strict so corruption can never silently pass every
    * repetition ceiling.
    */
  private[graft] def gopherSignals(d: DataFrame): DataFrame = {
    val stopHits = GopherStops.map(w =>
      when(array_contains(col("_g_toks"), w), 1L).otherwise(0L))
      .reduce(_ + _)
    // internal helper columns carry a _g_ prefix so the gate's
    // "incoming columns ride through" contract survives a stream
    // whose schema legitimately holds a toks/rep/sum_len column;
    // only the 15 documented signal names are overwritten
    val base = d
      .withColumn("_g_toks", TextFns.tokens(col("text")))
      .withColumn("n_words", size(col("_g_toks")).cast("long"))
      .withColumn("_g_sum_len", expr(
        "aggregate(_g_toks, 0L, (a, w) -> a + length(w))"))
      .withColumn("_g_n_alpha", expr(
        "CAST(size(filter(_g_toks, w -> w rlike '[a-zA-Z]')) AS LONG)"))
      .withColumn("_g_n_sym", expr(
        """CAST((length(text) - length(replace(text, '#', '')))
          + (length(text) - length(replace(text, '...', ''))) DIV 3
          AS LONG)"""))
      .withColumn("mwl_x100", expr("_g_sum_len * 100 DIV n_words"))
      .withColumn("symbol_bp", expr("_g_n_sym * 10000 DIV n_words"))
      .withColumn("alpha_bp", expr("_g_n_alpha * 10000 DIV n_words"))
      .withColumn("stop_hits", stopHits)
      // all nine repetition signals from ONE native kernel pass (no
      // explode, no count shuffle, no join back — plans.GopherRepetition)
      .withColumn("_g_rep", expr(
        "graft_gopher_rep(_g_toks, CAST(length(text) AS BIGINT))"))
    val repIdx = (GopherDupBp.map { case (n, _) => s"dup${n}_bp" } ++
      GopherTopBp.map { case (n, _) => s"top${n}_bp" }).zipWithIndex
    val withRep = repIdx.foldLeft(base) { case (df, (c, i)) =>
      df.withColumn(c, element_at(col("_g_rep"), i + 1)) }
    val passRep = (GopherDupBp.map { case (n, bp) =>
      col(s"dup${n}_bp") <= bp } ++ GopherTopBp.map { case (n, bp) =>
      col(s"top${n}_bp") <= bp }).reduce(_ && _)
    withRep
      .withColumn("pass_gopher",
        when(col("n_words").between(50L, 100000L)
          && col("mwl_x100").between(300L, 1000L)
          && col("symbol_bp") <= 1000L
          && col("alpha_bp") >= 8000L
          && col("stop_hits") >= 2L
          && passRep, 1L).otherwise(0L))
      .drop("_g_toks", "_g_sum_len", "_g_n_alpha", "_g_n_sym", "_g_rep")
  }

  private[graft] val GopherSignalCols: Seq[String] =
    Seq("n_words", "mwl_x100", "symbol_bp", "alpha_bp", "stop_hits") ++
      GopherDupBp.map(n => s"dup${n._1}_bp") ++
      GopherTopBp.map(n => s"top${n._1}_bp") :+ "pass_gopher"

  private[graft] def qualityGopher(d: DataFrame): DataFrame =
    // the repetition folds are the one heavy per-row kernel in this
    // library; a single-row-group local file would run them in ONE
    // task (conditional — no exchange when splits ≥ cores)
    gopherSignals(graft.Tables.rebalance(d))
      .select(col("doc_id") +: GopherSignalCols.map(col): _*)

  private val opGopher = Op(
    "quality_gopher",
    (s, dir) => qualityGopher(docs(s, dir)),
    Some {
      val dupDefs = GopherDupBp.map { case (n, _) =>
        s"""CAST(COALESCE(SUM(CASE WHEN n = $n AND c >= 2
           THEN (c - 1) * glen ELSE 0 END), 0) AS BIGINT) AS dup$n"""
      }.mkString(",\n          ")
      val topDefs = GopherTopBp.map { case (n, _) =>
        s"""CAST(COALESCE(MAX(CASE WHEN n = $n THEN c * glen END), 0)
           AS BIGINT) AS top$n"""
      }.mkString(",\n          ")
      val bpDefs = (GopherDupBp.map { case (n, _) =>
        s"CAST(COALESCE(r.dup$n * 10000 // r.lt, 0) AS BIGINT) AS dup${n}_bp"
      } ++ GopherTopBp.map { case (n, _) =>
        s"CAST(COALESCE(r.top$n * 10000 // r.lt, 0) AS BIGINT) AS top${n}_bp"
      }).mkString(",\n          ")
      val bpCols = (GopherDupBp.map(p => s"dup${p._1}_bp") ++
        GopherTopBp.map(p => s"top${p._1}_bp")).mkString(", ")
      val repPass = (GopherDupBp.map { case (n, bp) =>
        s"dup${n}_bp <= $bp" } ++ GopherTopBp.map { case (n, bp) =>
        s"top${n}_bp <= $bp" }).mkString("\n          AND ")
      s"""
      WITH t AS (
        SELECT doc_id, text, string_split(text, ' ') AS toks
        FROM documents),
      m AS (
        SELECT doc_id,
          CAST(len(toks) AS BIGINT) AS n_words,
          CAST(list_aggregate(list_transform(toks, w -> length(w)), 'sum')
            AS BIGINT) AS sum_len,
          CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-zA-Z]')))
            AS BIGINT) AS n_alpha,
          CAST((length(text) - length(replace(text, '#', '')))
            + (length(text) - length(replace(text, '...', ''))) // 3
            AS BIGINT) AS n_sym,
          CAST(${GopherStops.map(w => s"CASE WHEN list_contains(toks, '$w') THEN 1 ELSE 0 END")
            .mkString(" + ")} AS BIGINT) AS stop_hits
        FROM t),
      g AS (
        SELECT t.doc_id, CAST(length(t.text) AS BIGINT) AS lt, nn.n AS n,
          array_to_string(list_slice(t.toks, u.i, u.i + nn.n - 1), ' ') AS gram
        FROM t,
          UNNEST(generate_series(2, 10)) AS nn(n),
          UNNEST(generate_series(1, greatest(len(t.toks) - nn.n + 1, 0))) AS u(i)),
      c AS (
        SELECT doc_id, lt, n, gram, CAST(length(gram) AS BIGINT) AS glen,
          CAST(COUNT(*) AS BIGINT) AS c
        FROM g GROUP BY doc_id, lt, n, gram),
      r AS (
        SELECT doc_id, lt,
          $dupDefs,
          $topDefs
        FROM c GROUP BY doc_id, lt),
      f AS (
        SELECT m.doc_id, m.n_words,
          m.sum_len * 100 // m.n_words AS mwl_x100,
          m.n_sym * 10000 // m.n_words AS symbol_bp,
          m.n_alpha * 10000 // m.n_words AS alpha_bp,
          m.stop_hits,
          $bpDefs
        FROM m LEFT JOIN r ON m.doc_id = r.doc_id)
      SELECT doc_id, n_words, mwl_x100, symbol_bp, alpha_bp, stop_hits,
        $bpCols,
        CAST(CASE WHEN n_words BETWEEN 50 AND 100000
          AND mwl_x100 BETWEEN 300 AND 1000
          AND symbol_bp <= 1000
          AND alpha_bp >= 8000
          AND stop_hits >= 2
          AND $repPass THEN 1 ELSE 0 END AS BIGINT) AS pass_gopher
      FROM f"""
    })

  // ---- blocklist_filter: term-blocklist gate (the C4 practice) ----

  /** The blocklist: a bounded curated term list (C4 filtered on a
    * published "bad words" list; the mechanism, not the list, is the
    * operator). Bounded by contract — real lists are 10²-10⁴ terms —
    * so it rides the plan as a foldable array literal and the gate is
    * a NARROW per-row set probe: no join, no shuffle, scan-speed at
    * any corpus size (a token-join formulation would shuffle the
    * corpus's exploded tokens to reach a few-hundred-row table). The
    * fixture list holds a rare corpus term and an absent one, so both
    * the hit and miss paths are exercised non-degenerately. */
  val Blocklist = Seq("dup", "forbidden")

  private val opBlocklist = Op(
    "blocklist_filter",
    (s, dir) => {
      val bl = array(Blocklist.map(lit): _*)
      docs(s, dir)
        .withColumn("toks", TextFns.tokens(col("text")))
        .select(col("doc_id"),
          // occurrences of ANY blocklisted term (C4 drops on >= 1)
          expr(s"size(filter(toks, t -> array_contains(" +
            s"array(${Blocklist.map(t => s"'$t'").mkString(",")}), t)))")
            .cast("long").as("n_blocked"),
          size(array_intersect(col("toks"), bl)).cast("long")
            .as("n_blocked_terms"))
        .withColumn("keep",
          when(col("n_blocked") === 0L, 1L).otherwise(0L))
    },
    Some(s"""
      WITH t AS (
        SELECT doc_id,
          CAST(len(list_filter(string_split(text, ' '),
            t -> list_contains(
              [${Blocklist.map(t => s"'$t'").mkString(",")}], t)))
            AS BIGINT) AS n_blocked,
          CAST(len(list_distinct(list_filter(string_split(text, ' '),
            t -> list_contains(
              [${Blocklist.map(t => s"'$t'").mkString(",")}], t))))
            AS BIGINT) AS n_blocked_terms
        FROM documents)
      SELECT doc_id, n_blocked, n_blocked_terms,
        CASE WHEN n_blocked = 0 THEN 1 ELSE 0 END AS keep
      FROM t"""))

  // ---- code_detect: code-vs-prose heuristic classification ----
  // The source-separation step every mixed web corpus needs before
  // per-domain mixing (code is tokenized, deduped and weighted
  // differently from prose — the StarCoder/The-Stack practice): a
  // per-row feature probe, all features exact integers (ppm via DIV,
  // no float), so the whole operator is one narrow codegen projection
  // over the scan — no shuffle at any corpus size, full DuckDB oracle.
  // Features are the published cheap signals: symbol density (code is
  // punctuation-heavy), code punctuation ({};()=<>[]), indented lines
  // (leading whitespace after a newline — layout prose lacks), and
  // reserved-word hits. is_code is the disjunctive gate over them; on
  // the synthetic prose corpus it reads 0 everywhere (the spec plants
  // real code to drive the positive path).
  // regexes shared verbatim by the Spark plan and the DuckDB oracle —
  // char classes and \n/\t/\b escapes read identically under Java
  // regex and RE2 (values hold backslash-escapes, interpolated into
  // the SQL literal untouched: DuckDB does no escape processing in
  // single-quoted strings)
  private val CodeKwRe =
    "\\b(def|class|return|import|function|var|const|void|int|for|while)\\b"
  // symbol class excludes BOTH letter cases, all whitespace (\n/\t are
  // layout, not symbols) and ordinary sentence punctuation (.,!?;:
  // quotes/apostrophe \x27, hyphen) — capitalized punctuated prose
  // ("Hello, World. This is a sentence.") must read ~0 ppm, not trip
  // the 3 % gate (the pre-r17 class [^a-z0-9 ] misclassified it)
  private val CodeSymRe = "[^a-zA-Z0-9\\s.,!?;:\\x27\"-]"
  private val CodePunctRe = "[{}();=<>\\[\\]]"
  private val CodeIndentRe = "\\n(  |\\t)"
  /** The code_detect feature columns appended to `d` with incoming
    * columns riding through — shared verbatim by the batch operator
    * and the stream_code router (the gopherSignals convention), so
    * streamed verdicts equal batch row-for-row structurally. */
  private[graft] def codeSignals(d: DataFrame): DataFrame = {
    val nChars = greatest(length(col("text")), lit(1)).cast("long")
    val symPpm = (regexp_count(col("text"), lit(CodeSymRe))
      .cast("long") * lit(1000000L)).divide(nChars).cast("long")
    val punct = regexp_count(col("text"), lit(CodePunctRe)).cast("long")
    val indent = regexp_count(col("text"), lit(CodeIndentRe)).cast("long")
    val kw = regexp_count(col("text"), lit(CodeKwRe)).cast("long")
    d.withColumn("n_chars", nChars)
      .withColumn("sym_ppm", symPpm)
      .withColumn("code_punct", punct)
      .withColumn("indent_lines", indent)
      .withColumn("kw_hits", kw)
      .withColumn("is_code",
        when(symPpm >= 30000L || (kw >= 2L && punct >= 2L) || indent >= 3L,
          1L).otherwise(0L))
  }

  private[graft] def codeDetect(d: DataFrame): DataFrame =
    codeSignals(d).select(col("doc_id"), col("n_chars"), col("sym_ppm"),
      col("code_punct"), col("indent_lines"), col("kw_hits"), col("is_code"))

  /** code_detect routed into the MIXING surface (r17, VERDICT r16
    * #7) — the StarCoder/The-Stack practice the gate's scaladoc
    * cites: code is tokenized, deduped and WEIGHTED separately from
    * prose, so the router rewrites the domain column — any doc the
    * gate calls code moves to the synthetic "code" source, and every
    * mixer downstream (mix_sample / mix_epoch_plan / mix_doremi)
    * prices it as its own domain with no further wiring. Same narrow
    * [[codeSignals]] kernel as the batch operator and stream_code — a
    * stateless per-row projection, so the router composes identically
    * over a static frame or an arriving stream (the streaming spec
    * drives THIS function on a MemoryStream and asserts equality with
    * the batch rewrite). Feature columns are dropped on the way out:
    * the router returns the caller's own shape, so it slots in front
    * of any (doc_id, text, source) consumer.
    */
  def codeDomain(d: DataFrame): DataFrame =
    codeSignals(d)
      .withColumn("source",
        when(col("is_code") === 1L, lit("code")).otherwise(col("source")))
      .drop("n_chars", "sym_ppm", "code_punct", "indent_lines", "kw_hits",
        "is_code")

  private val opCodeDetect = Op(
    "code_detect",
    (s, dir) => codeDetect(docs(s, dir)),
    Some(s"""
      WITH f AS (
        SELECT doc_id,
          CAST(greatest(length(text), 1) AS BIGINT) AS n_chars,
          CAST(len(regexp_extract_all(text, '$CodeSymRe')) * 1000000
               // greatest(length(text), 1) AS BIGINT) AS sym_ppm,
          CAST(len(regexp_extract_all(text, '$CodePunctRe')) AS BIGINT)
            AS code_punct,
          CAST(len(regexp_extract_all(text, '$CodeIndentRe')) AS BIGINT)
            AS indent_lines,
          CAST(len(regexp_extract_all(text, '$CodeKwRe')) AS BIGINT)
            AS kw_hits
        FROM documents)
      SELECT doc_id, n_chars, sym_ppm, code_punct, indent_lines, kw_hits,
        CAST(CASE WHEN sym_ppm >= 30000 OR (kw_hits >= 2 AND code_punct >= 2)
                  OR indent_lines >= 3 THEN 1 ELSE 0 END AS BIGINT) AS is_code
      FROM f"""))

  // ---- dp_card: differentially-private composition release ----
  // The third rung of the release ladder: data_card publishes exact
  // cells, data_card_kanon suppresses small ones, dp_card NOISES
  // every one — the mechanism a provider uses when the composition
  // table itself crosses a trust boundary (k-anon leaks through
  // repeated releases; calibrated noise does not). Mechanism: the
  // truncated two-sided geometric (the discrete Laplace of Ghosh/
  // Roughgarden/Sundararajan, utility-optimal for counts) with
  // α = 1/2 (ε = ln 2 per released statistic), tails folded into ±4.
  // Doc counts have sensitivity 1 as-is; token counts are CLIPPED at
  // TokClip per doc first (unbounded contributions have no finite
  // sensitivity) and their noise scales by TokClip. Determinism
  // discipline: the noise draw is the Lehmer inverse-CDF over an
  // EXACT 48-ary draw (the α=1/2 ladder has all mass in 48ths —
  // P(0)=16/48, P(±1)=8/48, P(±2)=4/48, P(±3)=2/48, tails 2/48 —
  // so unlike a permille quantization nothing rounds), seeded by the
  // cell's rank in (lang, source) order: both engines replay the
  // identical integer draw (the eval_bootstrap move). True values
  // never appear in the output. Production knob: α per the ε budget;
  // the ladder table regenerates the same way.
  // Scale shape: one corpus scan folding to the ≤ langs × sources
  // cell frame; the rank window runs over that vanishing frame.
  val TokClip = 512L

  /** (upper 48-ary bound, noise) rungs of the α=1/2 ladder; ≥46 → +4. */
  val GeomLadder48: Seq[(Int, Int)] =
    Seq((2, -4), (4, -3), (8, -2), (16, -1), (32, 0), (40, 1), (44, 2),
      (46, 3))

  private def ladderSql(p: String): String =
    "CASE " + GeomLadder48.map { case (b, z) => s"WHEN $p < $b THEN $z" }
      .mkString(" ") + " ELSE 4 END"

  private[graft] def dpCard(d: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byLs = d.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(least(size(TextFns.tokens(col("text"))).cast("long"),
          lit(TokClip))).as("clip_toks"))
    byLs
      .withColumn("rid",
        row_number().over(Window.orderBy(col("lang"), col("source")))
          .cast("long"))
      .withColumn("p48d", expr(s"((rid * 2 - 1) * ${Sampling.MixMul}" +
        s" % ${Sampling.MixMod}) * 48 DIV ${Sampling.MixMod}"))
      .withColumn("p48t", expr(s"((rid * 2) * ${Sampling.MixMul}" +
        s" % ${Sampling.MixMod}) * 48 DIV ${Sampling.MixMod}"))
      .select(col("lang"), col("source"),
        greatest(col("n_docs") + expr(ladderSql("p48d")), lit(0L))
          .as("n_docs_dp"),
        greatest(col("clip_toks") + expr(ladderSql("p48t")) * TokClip,
          lit(0L)).as("n_toks_dp"))
  }

  private val opDpCard = Op(
    "dp_card",
    (s, dir) => dpCard(docs(s, dir)),
    Some(s"""
      WITH byls AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(LEAST(len(string_split(text, ' ')), $TokClip))
            AS BIGINT) AS clip_toks
        FROM documents GROUP BY 1, 2),
      seeded AS (
        SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY lang, source)
            AS BIGINT) AS rid
        FROM byls),
      drawn AS (
        SELECT *,
          ((rid * 2 - 1) * ${Sampling.MixMul} % ${Sampling.MixMod})
            * 48 // ${Sampling.MixMod} AS p48d,
          ((rid * 2) * ${Sampling.MixMul} % ${Sampling.MixMod})
            * 48 // ${Sampling.MixMod} AS p48t
        FROM seeded)
      SELECT lang, source,
        GREATEST(n_docs + ${ladderSql("p48d")}, 0) AS n_docs_dp,
        GREATEST(clip_toks + ${ladderSql("p48t")} * $TokClip, 0)
          AS n_toks_dp
      FROM drawn"""))

  // ---- code_metrics: per-file code-quality heuristics ----
  // The filter tier that runs AFTER code_detect has routed a doc to
  // the code domain: the published per-FILE gates a code corpus
  // applies before training (the StarCoder/The-Stack line-statistic
  // filters: max line length ≤ 1000, average line length ≤ 100,
  // alphanumeric fraction ≥ 0.25) plus the two cheap autogenerated-
  // content probes (runs of ≥16 hex chars — UUIDs/hashes/minified
  // bundles; ≥64-char base64 blobs — embedded binaries), which the
  // line gates miss because generated files can be perfectly line-
  // disciplined. All features are exact integers (x100 / ppm via DIV
  // — the code_detect convention), so the whole operator is one
  // narrow codegen projection over the scan: no shuffle at any corpus
  // size, scan-speed at 100 TB, full DuckDB oracle. avg_line_x100
  // divides the char count EXCLUDING the n_lines−1 separators, so a
  // file and its trailing-newline-stripped twin measure identically.
  // Regex note: \b and the hex/base64 classes read identically under
  // Java regex and RE2 (the CodeKwRe precedent above).
  private val HexRunRe = "\\b[0-9a-fA-F]{16,}\\b"
  private val B64BlobRe = "[A-Za-z0-9+/=]{64,}"

  /** Line/charset metrics over a frame carrying (doc_id, text) —
    * factored so the planted-fixture spec drives real code through it.
    */
  private[graft] def codeMetrics(d: DataFrame): DataFrame = {
    val nChars = length(col("text")).cast("long")
    val nLines = expr("CAST(size(split(text, '\\n')) AS BIGINT)")
    val maxLine = expr(
      "CAST(array_max(transform(split(text, '\\n'), x -> length(x))) AS BIGINT)")
    d.withColumn("n_lines", nLines)
      .withColumn("max_line", maxLine)
      .withColumn("avg_line_x100",
        ((nChars - (col("n_lines") - 1L)) * 100L)
          .divide(col("n_lines")).cast("long"))
      .withColumn("alnum_ppm",
        (regexp_count(col("text"), lit("[A-Za-z0-9]")).cast("long")
          * 1000000L).divide(greatest(nChars, lit(1L))).cast("long"))
      .withColumn("hex_runs",
        regexp_count(col("text"), lit(HexRunRe)).cast("long"))
      .withColumn("b64_blobs",
        regexp_count(col("text"), lit(B64BlobRe)).cast("long"))
      .withColumn("keep_code",
        when(col("max_line") <= 1000L && col("avg_line_x100") <= 10000L &&
          col("alnum_ppm") >= 250000L && col("hex_runs") < 4L &&
          col("b64_blobs") === 0L, 1L).otherwise(0L))
      .select(col("doc_id"), col("n_lines"), col("max_line"),
        col("avg_line_x100"), col("alnum_ppm"), col("hex_runs"),
        col("b64_blobs"), col("keep_code"))
  }

  private val opCodeMetrics = Op(
    "code_metrics",
    (s, dir) => codeMetrics(docs(s, dir)),
    Some(s"""
      WITH f AS (
        SELECT doc_id,
          CAST(length(text) AS BIGINT) AS n_chars,
          CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
          CAST(list_max(list_transform(string_split(text, chr(10)),
            x -> length(x))) AS BIGINT) AS max_line,
          CAST(len(regexp_extract_all(text, '[A-Za-z0-9]')) AS BIGINT)
            AS n_alnum,
          CAST(len(regexp_extract_all(text, '$HexRunRe')) AS BIGINT)
            AS hex_runs,
          CAST(len(regexp_extract_all(text, '$B64BlobRe')) AS BIGINT)
            AS b64_blobs
        FROM documents),
      m AS (
        SELECT doc_id, n_lines, max_line,
          CAST((n_chars - (n_lines - 1)) * 100 // n_lines AS BIGINT)
            AS avg_line_x100,
          CAST(n_alnum * 1000000 // greatest(n_chars, 1) AS BIGINT)
            AS alnum_ppm,
          hex_runs, b64_blobs
        FROM f)
      SELECT doc_id, n_lines, max_line, avg_line_x100, alnum_ppm,
        hex_runs, b64_blobs,
        CAST(CASE WHEN max_line <= 1000 AND avg_line_x100 <= 10000
                  AND alnum_ppm >= 250000 AND hex_runs < 4
                  AND b64_blobs = 0 THEN 1 ELSE 0 END AS BIGINT)
          AS keep_code
      FROM m"""))

  val ops: Seq[Op] = Seq(opLangId, opQuality, opTokenCount, opFingerprint,
    opRepetition, opPii, opVocab, opVocabSketch, opVocabCms, opCompress,
    opFilter, opKeywords, opIndex,
    opDataCard, opDataCardKanon, opGopher, opBlocklist, opCodeDetect,
    opCodeMetrics, opDpCard, opWinnow, opWinnowPairs, opTextNfc)
}
