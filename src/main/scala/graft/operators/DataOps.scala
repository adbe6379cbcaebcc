package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Op, Tables}

/** Pipeline-operations surface — the three data-engineering staples a
  * production training pipeline runs around the content operators:
  *
  *   - epoch_shuffle: the DETERMINISTIC, seeded, resumable global
  *     training order. Large-scale training cannot re-shuffle in the
  *     loader (the order must be reproducible across restarts and
  *     identical on every worker reading a shard), so the permutation
  *     is materialized: per epoch, sort key = xxhash64(doc_id, epoch)
  *     and position = the key's global rank. A resume at step K is
  *     `WHERE position >= K` — no state beyond the step counter.
  *   - data_contract: the expectations gate (schema/integrity rules
  *     checked in ONE scan, per-rule violation counts + first
  *     offending doc) — the "fail the ingest, not the training run"
  *     front door every lakehouse pipeline puts before promotion.
  *   - json_fields: semi-structured extraction audit over the events
  *     log's JSON `props` — per event type, how many rows parse, how
  *     many carry the typed field, and the field's range/sum. The
  *     engine-surface point: JSON path extraction as a first-class
  *     scan-side projection (get_json_object + TRY_CAST), not an ETL
  *     preprocess.
  *
  * Scale shape: epoch_shuffle's only hard problem is the GLOBAL rank
  * without a single-partition window — solved by the PrefixSum
  * three-level machinery over hash-range buckets (bucket = key DIV
  * width is monotone in the key, so (epoch, bucket, key, doc_id)
  * order IS the global order; every window frame is O(target) or
  * O(√B); the one count() sizes the buckets, the bpe/sft_pack
  * convention). data_contract is one scan into one 1-row aggregate
  * (localCheckpoint'd so the 6-way per-rule melt does not re-scan).
  * json_fields is a narrow projection + one skinny groupBy.
  */
object DataOps {

  // ---- epoch_shuffle: deterministic resumable training order ----
  val Epochs = 2
  val ShuffleTargetBucket = 1000L

  /** The permutation over a (doc_id) frame — factored for fixture
    * specs; the Op wires the documents table.
    */
  def epochShuffle(docs: DataFrame): DataFrame = {
    // checkpoint the skinny id frame ONCE: the sizing count both
    // materializes the lazy checkpoint and measures n in a single job
    // (r18 optimization round — the seq_pack convention); the
    // PrefixSum plan's several reads all hit the materialized blocks,
    // not the parquet scan
    val ids = docs.select(col("doc_id")).localCheckpoint(eager = false)
    val n = math.max(ids.count(), 1L) // sizes buckets (bounded action)
    val nBkts = math.max(n / ShuffleTargetBucket, 1L)
    val width = math.max(Long.MaxValue / nBkts, 1L)
    val perEpoch = 2 * nBkts + 3 // kb ∈ [-nBkts-1, nBkts] shifted positive
    val keyed = ids
      .withColumn("epoch", explode(sequence(lit(0L), lit(Epochs - 1L))))
      .withColumn("skey", xxhash64(col("doc_id"), col("epoch")))
      .withColumn("bkt",
        expr(s"epoch * $perEpoch + (skey DIV $width) + ${nBkts + 1}"))
      .withColumn("one", lit(1L))
    val ranked = graft.functions.PrefixSum.exclusive(
      keyed, "one", Seq(col("skey"), col("doc_id")),
      numBuckets = Epochs * perEpoch, out = "gpos")
    // every doc appears in every epoch, so the within-epoch rank is
    // the global rank minus epoch * |docs| (the already-counted n —
    // no second aggregate, no crossJoin)
    ranked.select(col("epoch"), col("doc_id"), col("skey"),
      (col("gpos") - col("epoch") * lit(n)).as("position"))
  }

  private val opEpochShuffle = Op(
    "epoch_shuffle",
    (s, dir) => epochShuffle(
      Tables(s, dir, "documents").select(col("doc_id"))),
    Some {
      val O = graft.plans.OracleSql
      s"""
      WITH docs0 AS (SELECT doc_id FROM documents),
      ep AS (
        SELECT doc_id, CAST(g.e AS BIGINT) AS epoch
        FROM docs0, generate_series(0, ${Epochs - 1}) g(e)),
      ${O.hashLongCte("ep", Seq("doc_id", "epoch"), "doc_id",
        "42::HUGEINT", "eph1", "es1")},
      ${O.hashLongCte("eph1", Seq("doc_id", "epoch"), "epoch",
        "h", "eph2", "es2")},
      keyed AS (
        SELECT doc_id, epoch, ${O.toSigned("h")} AS skey FROM eph2)
      SELECT epoch, doc_id, skey,
        CAST(ROW_NUMBER() OVER (PARTITION BY epoch
          ORDER BY skey, doc_id) - 1 AS BIGINT) AS position
      FROM keyed"""
    })

  // ---- data_contract: the one-scan expectations gate ----
  // Each rule is (name, violation predicate); the corpus passes every
  // rule by construction (a contract that fails its own healthy data
  // is miscalibrated) — the violation paths are exercised by planted
  // fixtures in the spec. first_bad_doc = the LOWEST violating doc_id
  // (deterministic, the id a human opens first), -1 when clean.
  private def contractChecks: Seq[(String, Column)] = Seq(
    "nonempty" -> (length(col("text")) === 0),
    "len_consistent" -> (col("n_chars") =!= length(col("text"))),
    "len_bounds" -> (col("n_chars") < 1 || col("n_chars") > 100000L),
    "lang_known" -> !col("lang").isin("en", "de", "fr", "es", "zh"),
    "source_format" -> !col("source").rlike("^src[0-9]+$"),
    "markers_clean" ->
      (instr(col("text"), "<|") > 0 || instr(col("text"), "|>") > 0))

  /** Per-doc melted rule verdicts (rule, violated, doc_id) — the
    * stream twin's input shape (stream_contract folds these with
    * running counters; the batch gate folds them in one aggregate).
    * |rules| rows per doc, all narrow.
    */
  def contractVerdicts(docs: DataFrame): DataFrame =
    contractChecks.map { case (nm, c) =>
      docs.select(lit(nm).as("rule"),
        when(c, 1L).otherwise(0L).as("violated"), col("doc_id"))
    }.reduce(_.union(_))

  /** The gate over a documents-shaped frame — factored for fixture
    * specs; the Op wires the documents table.
    */
  def dataContract(docs: DataFrame): DataFrame = {
    val checks = contractChecks
    val aggs = count(lit(1)).as("n_checked") +:
      checks.flatMap { case (nm, c) =>
        Seq(sum(when(c, 1L).otherwise(0L)).as(s"v_$nm"),
          min(when(c, col("doc_id"))).as(s"b_$nm"))
      }
    // ONE scan, one 1-row aggregate; checkpointed so the per-rule
    // melt below reads the row, not the corpus, six times
    val one = docs.agg(aggs.head, aggs.tail: _*).localCheckpoint()
    checks.map { case (nm, _) =>
      one.select(lit(nm).as("rule"), col("n_checked"),
        col(s"v_$nm").as("n_violations"),
        expr(s"(v_$nm * 1000000) DIV n_checked").as("violation_ppm"),
        coalesce(col(s"b_$nm"), lit(-1L)).as("first_bad_doc"))
    }.reduce(_.union(_))
  }

  private val opDataContract = Op(
    "data_contract",
    (s, dir) => dataContract(Tables(s, dir, "documents")),
    Some {
      val rulesSql = Seq(
        "nonempty" -> "length(text) = 0",
        "len_consistent" -> "n_chars <> length(text)",
        "len_bounds" -> "n_chars < 1 OR n_chars > 100000",
        "lang_known" -> "lang NOT IN ('en','de','fr','es','zh')",
        "source_format" -> "NOT regexp_matches(source, '^src[0-9]+$')",
        "markers_clean" ->
          "strpos(text, '<|') > 0 OR strpos(text, '|>') > 0")
      val aggCols = rulesSql.map { case (nm, p) =>
        s"""SUM(CASE WHEN $p THEN 1 ELSE 0 END) AS v_$nm,
            MIN(CASE WHEN $p THEN doc_id END) AS b_$nm"""
      }.mkString(",\n          ")
      val branches = rulesSql.map { case (nm, _) =>
        s"""SELECT '$nm' AS rule, CAST(n_checked AS BIGINT) AS n_checked,
            CAST(v_$nm AS BIGINT) AS n_violations,
            CAST((v_$nm * 1000000) // n_checked AS BIGINT)
              AS violation_ppm,
            CAST(COALESCE(b_$nm, -1) AS BIGINT) AS first_bad_doc
          FROM one"""
      }.mkString("\n        UNION ALL\n        ")
      s"""
      WITH one AS (
        SELECT COUNT(*) AS n_checked,
          $aggCols
        FROM documents)
      $branches"""
    })

  // ---- json_fields: semi-structured extraction audit ----
  /** The audit over an events-shaped frame — factored for fixture
    * specs; the Op wires the events table. The row parses ONCE into
    * Spark 4's VARIANT (try_parse_json — null on malformed, never an
    * error) and the typed field reads out of the variant
    * (try_variant_get — null on missing path or failed numeric cast),
    * so the three failure modes fold into the two coverage counters
    * at one parse per row — the two-call get_json_object shape
    * measured 4.1 s vs 1.1 s at sf0.1 (each call re-parses the
    * document).
    */
  def jsonFields(events: DataFrame): DataFrame =
    events.select(col("event_type"),
      try_parse_json(col("props")).as("v"))
      .select(col("event_type"),
        col("v").isNotNull.as("is_json"),
        try_variant_get(col("v"), "$.k", "bigint").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("is_json"), 1L).otherwise(0L)).as("n_json"),
        sum(when(col("k").isNotNull, 1L).otherwise(0L)).as("n_with_k"),
        countDistinct(col("k")).as("n_distinct_k"),
        coalesce(min(col("k")), lit(-1L)).as("min_k"),
        coalesce(max(col("k")), lit(-1L)).as("max_k"),
        coalesce(sum(col("k")), lit(0L)).as("sum_k"))
      .withColumn("k_coverage_ppm",
        expr("(n_with_k * 1000000) DIV n_events"))

  private val opJsonFields = Op(
    "json_fields",
    (s, dir) => jsonFields(Tables.events(s, dir)),
    Some("""
      SELECT event_type,
        CAST(COUNT(*) AS BIGINT) AS n_events,
        CAST(SUM(CASE WHEN json_valid(props) THEN 1 ELSE 0 END)
          AS BIGINT) AS n_json,
        CAST(SUM(CASE WHEN TRY_CAST(json_extract_string(props, '$.k')
          AS BIGINT) IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_with_k,
        CAST(COUNT(DISTINCT TRY_CAST(json_extract_string(props, '$.k')
          AS BIGINT)) AS BIGINT) AS n_distinct_k,
        CAST(COALESCE(MIN(TRY_CAST(json_extract_string(props, '$.k')
          AS BIGINT)), -1) AS BIGINT) AS min_k,
        CAST(COALESCE(MAX(TRY_CAST(json_extract_string(props, '$.k')
          AS BIGINT)), -1) AS BIGINT) AS max_k,
        CAST(COALESCE(SUM(TRY_CAST(json_extract_string(props, '$.k')
          AS BIGINT)), 0) AS BIGINT) AS sum_k,
        CAST((SUM(CASE WHEN TRY_CAST(json_extract_string(props, '$.k')
          AS BIGINT) IS NOT NULL THEN 1 ELSE 0 END) * 1000000)
          // COUNT(*) AS BIGINT) AS k_coverage_ppm
      FROM events GROUP BY event_type"""))

  // ---- shard_manifest: writer-side shard integrity manifest ----
  // The op a dataset RELEASE runs after sharded writes: deterministic
  // hash sharding (shard = pmod(xxhash64(doc_id), Shards) — the same
  // assignment any reader can recompute) with per-shard ORDER-FREE
  // integrity facts: row count, char mass, doc-id range, and a
  // content-independent hash digest (min/max/sum of the hash's top 24
  // bits — shifted so a shard of 10¹¹ rows still sums inside BIGINT).
  // Validating a delivered shard set is then one aggregation against
  // the manifest, no content re-read; a dropped, duplicated, or
  // misrouted row moves at least one of (n_docs, digest_fold). One
  // narrow projection + one Shards-row groupBy.
  val Shards = 16L

  /** Per-doc shard rows (doc_id, n_chars, shard_id, h40) — the
    * derivation the batch manifest folds and the stream twin
    * (stream_manifest) maintains live, shared so both see the same
    * assignment by construction.
    */
  def shardRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("n_chars"),
        xxhash64(col("doc_id")).as("h"))
      .select(col("doc_id"), col("n_chars"),
        pmod(col("h"), lit(Shards)).as("shard_id"),
        expr("shiftrightunsigned(h, 40)").as("h40"))

  /** The manifest over a (doc_id, n_chars) frame — factored for
    * fixture specs; the Op wires the documents table.
    */
  def shardManifest(docs: DataFrame): DataFrame =
    shardRows(docs)
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"),
        min(col("h40")).as("min_h40"),
        max(col("h40")).as("max_h40"),
        sum(col("h40")).as("digest_fold"))

  private val opShardManifest = Op(
    "shard_manifest",
    (s, dir) => shardManifest(
      Tables(s, dir, "documents").select(col("doc_id"), col("n_chars"))),
    Some {
      val O = graft.plans.OracleSql
      // unsigned h % 16 == Spark's pmod(signed h, 16): 2⁶⁴ ≡ 0 (mod 16)
      // and 2⁴⁰ | 2⁶⁴, so the unsigned // 2⁴⁰ == shiftrightunsigned
      s"""
      WITH d0 AS (SELECT doc_id, n_chars FROM documents),
      ${O.hashLongCte("d0", Seq("doc_id", "n_chars"), "doc_id",
        "42::HUGEINT", "hd", "sm1")},
      sh AS (
        SELECT doc_id, n_chars,
          CAST(h % $Shards AS BIGINT) AS shard_id,
          CAST(h // 1099511627776::HUGEINT AS BIGINT) AS h40
        FROM hd)
      SELECT shard_id,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        CAST(MIN(doc_id) AS BIGINT) AS min_doc,
        CAST(MAX(doc_id) AS BIGINT) AS max_doc,
        CAST(MIN(h40) AS BIGINT) AS min_h40,
        CAST(MAX(h40) AS BIGINT) AS max_h40,
        CAST(SUM(h40) AS BIGINT) AS digest_fold
      FROM sh GROUP BY shard_id"""
    })

  // ---- longctx_stitch: source-contiguous packing for long context --
  // Long-context curation co-locates RELATED text: within each
  // source, documents stitch in doc_id order into one separator-
  // joined stream ('\n' between docs), cut into StitchLen-char
  // segments with each document an ATOM (the sft_pack rule: a doc
  // lands in the segment its start falls in, segments absorb
  // overflow) — unlike seq_pack, which deliberately hash-scatters
  // unrelated docs into fixed windows. Output is each doc's segment
  // and its [seg_off, seg_end) span inside it.
  //
  // Scale: the per-source stream position is a GLOBAL PrefixSum over
  // the composite (src_idx, doc-range) bucket order minus the
  // source's own start offset — no per-source window ever holds a
  // whole source (a source is corpus-sized/|sources|, far beyond one
  // task at 100 TB). The source-start frame is |sources| rows and
  // rides the counted broadcast guard (Search.guarded — broadcast
  // only while measured-small, shuffled-hash above); the segment
  // window partitions are (src, seg) groups bounded by StitchLen
  // (every doc is ≥ 1 char).
  val StitchLen = 4096L
  val StitchTargetBucket = 1000L

  /** Stitching over a (src_idx, doc_id, n_chars) frame — factored
    * for fixture specs; the Op wires the documents table (src_idx
    * parsed from the source name).
    */
  def longctxStitch(docs: DataFrame): DataFrame = {
    // ONE job materializes the lazy checkpoint AND measures the sizes
    // (r18 optimization round — was an eager checkpoint + sizing agg)
    val pre = docs.select(col("src_idx"), col("doc_id"),
        col("n_chars"), (col("n_chars") + 1L).as("step"))
      .localCheckpoint(eager = false)
    val sized = pre.agg(count(lit(1)).as("n"), max(col("doc_id")).as("md"),
      max(col("src_idx")).as("ms")).head()
    val (n, maxDoc, maxSrc) = (math.max(sized.getLong(0), 1L),
      sized.getLong(1), sized.getLong(2))
    val width = math.max(
      (maxDoc + 1) / math.max(n / StitchTargetBucket, 1L), 1L)
    val srcBkts = (maxDoc + 1) / width + 2
    val cum = graft.functions.PrefixSum.exclusive(
      pre.withColumn("bkt",
        expr(s"src_idx * $srcBkts + doc_id DIV $width")),
      "step", Seq(col("doc_id")),
      numBuckets = (maxSrc + 1) * srcBkts, out = "gcum")
    val (_, srcStart) = Search.guarded(
      cum.groupBy(col("src_idx")).agg(min(col("gcum")).as("src0")),
      broadcastMaxRows = Dedup.SpanBroadcastMaxRows)
    val placed = cum.join(srcStart, "src_idx")
      .withColumn("pos", col("gcum") - col("src0"))
      .withColumn("seg_id", expr(s"pos DIV $StitchLen"))
    val bySeg = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src_idx"), col("seg_id"))
    placed
      .withColumn("seg_off", col("pos") - min(col("pos")).over(bySeg))
      .select(col("src_idx"), col("doc_id"), col("seg_id"),
        col("seg_off"), (col("seg_off") + col("n_chars")).as("seg_end"))
  }

  private val opLongctxStitch = Op(
    "longctx_stitch",
    (s, dir) => longctxStitch(Tables(s, dir, "documents").select(
      expr("CAST(substring(source, 4) AS BIGINT)").as("src_idx"),
      col("doc_id"), col("n_chars"))),
    Some(s"""
      WITH d AS (
        SELECT CAST(source[4:] AS BIGINT) AS src_idx, doc_id, n_chars,
          n_chars + 1 AS step
        FROM documents),
      c AS (
        SELECT src_idx, doc_id, n_chars,
          CAST(COALESCE(SUM(step) OVER (PARTITION BY src_idx
            ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
            AND 1 PRECEDING), 0) AS BIGINT) AS pos
        FROM d),
      seg AS (
        SELECT src_idx, doc_id, n_chars, pos,
          pos // $StitchLen AS seg_id
        FROM c)
      SELECT src_idx, doc_id, CAST(seg_id AS BIGINT) AS seg_id,
        CAST(pos - MIN(pos) OVER (PARTITION BY src_idx, seg_id)
          AS BIGINT) AS seg_off,
        CAST(pos - MIN(pos) OVER (PARTITION BY src_idx, seg_id)
          + n_chars AS BIGINT) AS seg_end
      FROM seg"""))

  // ---- quality_fuse: min-max normalized multi-scorer fusion ----
  // Curation stacks run SEVERAL quality scorers (heuristics, a
  // trained classifier, perplexity) whose raw scales are
  // incommensurable; the standard fusion (CombSUM over min-max
  // normalized scores) maps each scorer onto [0, 1e6] ppm by its own
  // corpus range and averages. The three scorers here are the
  // deterministic contract (distinct-token ratio, length, mean token
  // length — swap in any trained trio); min/max per scorer are ONE
  // 1-row aggregate broadcast back, so the whole op is a scan, a
  // 1-row broadcast, and a narrow projection — no global rank, no
  // per-scorer sort (rank fusion over bounded CANDIDATE sets is
  // hybrid_rrf; this is the corpus-wide normalization that must not
  // sort the corpus three times). A constant scorer (max == min)
  // contributes a neutral 500000 to every doc, not a div-by-zero.
  /** Fusion over a (doc_id, s1, s2, s3) frame — factored for fixture
    * specs; the Op wires the documents scorers.
    */
  def qualityFuse(scored: DataFrame): DataFrame = {
    val bounds = scored.agg(
      min(col("s1")).as("mn1"), max(col("s1")).as("mx1"),
      min(col("s2")).as("mn2"), max(col("s2")).as("mx2"),
      min(col("s3")).as("mn3"), max(col("s3")).as("mx3"))
    val norm = (i: Int) =>
      expr(s"""CASE WHEN mx$i = mn$i THEN 500000
               ELSE ((s$i - mn$i) * 1000000) DIV (mx$i - mn$i)
               END""").as(s"n$i")
    scored.join(broadcast(bounds))
      .select(col("doc_id"), col("s1"), col("s2"), col("s3"),
        norm(1), norm(2), norm(3))
      .withColumn("fused_ppm", expr("(n1 + n2 + n3) DIV 3"))
  }

  private def fuseScorers(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents").select(
      col("doc_id"),
      expr("""(CAST(size(array_distinct(split(text, ' '))) AS BIGINT)
              * 1000000) DIV size(split(text, ' '))""").as("s1"),
      col("n_chars").as("s2"),
      expr("(n_chars * 1000000) DIV size(split(text, ' '))").as("s3"))

  private val opQualityFuse = Op(
    "quality_fuse",
    (s, dir) => qualityFuse(fuseScorers(s, dir)),
    Some("""
      WITH scored AS (
        SELECT doc_id,
          (CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
            * 1000000) // len(string_split(text, ' ')) AS s1,
          n_chars AS s2,
          (n_chars * 1000000) // len(string_split(text, ' ')) AS s3
        FROM documents),
      b AS (
        SELECT MIN(s1) AS mn1, MAX(s1) AS mx1,
          MIN(s2) AS mn2, MAX(s2) AS mx2,
          MIN(s3) AS mn3, MAX(s3) AS mx3
        FROM scored),
      n AS (
        SELECT doc_id, s1, s2, s3,
          CAST(CASE WHEN mx1 = mn1 THEN 500000
            ELSE ((s1 - mn1) * 1000000) // (mx1 - mn1) END AS BIGINT)
            AS n1,
          CAST(CASE WHEN mx2 = mn2 THEN 500000
            ELSE ((s2 - mn2) * 1000000) // (mx2 - mn2) END AS BIGINT)
            AS n2,
          CAST(CASE WHEN mx3 = mn3 THEN 500000
            ELSE ((s3 - mn3) * 1000000) // (mx3 - mn3) END AS BIGINT)
            AS n3
        FROM scored, b)
      SELECT doc_id, s1, s2, s3, n1, n2, n3,
        CAST((n1 + n2 + n3) // 3 AS BIGINT) AS fused_ppm
      FROM n"""))

  // ---- needle_plant: long-context retrieval-eval prep ------------------
  // The needle-in-a-haystack construction (Kamradt's NIAH protocol,
  // the standard long-context retrieval probe): plant a uniquely
  // identifiable needle at a deterministic depth inside each document
  // and record EXACTLY where it landed, so the eval harness can grade
  // retrieval against ground truth without re-scanning the rendered
  // context. Depth comes from a Knuth-hash permille of the doc id
  // (uniform over [0,1000) — every depth band gets probes), the
  // insertion is at a TOKEN boundary (k tokens in), and the char
  // offset is derived arithmetically (prefix token mass + separators)
  // then PROVEN by substring round-trip in both engines (plant_ok).
  // Pure per-row projection: zero shuffles, scan speed at any corpus.
  private[graft] def needlePlant(d: DataFrame): DataFrame =
    d.withColumn("t", split(col("text"), " "))
      .withColumn("n_toks", expr("cast(size(t) as bigint)"))
      .withColumn("depth_permille", expr("(doc_id * 2654435761) % 1000"))
      .withColumn("k", expr("(depth_permille * n_toks) div 1000"))
      .withColumn("needle", expr("concat('NEEDLE-', doc_id)"))
      .withColumn("needle_off", expr("""
        CASE WHEN k = 0 THEN 0
             ELSE aggregate(slice(t, 1, cast(k as int)),
               cast(0 as bigint), (a, x) -> a + length(x)) + k END"""))
      .withColumn("rendered", expr("""
        array_join(concat(slice(t, 1, cast(k as int)), array(needle),
          slice(t, cast(k + 1 as int), cast(n_toks as int))), ' ')"""))
      .select(col("doc_id"), col("n_toks"), col("depth_permille"),
        col("k").as("insert_after_tok"), col("needle_off"),
        expr("cast(length(rendered) as bigint)").as("total_len"),
        expr("""cast(CASE WHEN substring(rendered,
          cast(needle_off + 1 as int), length(needle)) = needle
          THEN 1 ELSE 0 END as bigint)""").as("plant_ok"))

  private val opNeedlePlant = Op(
    "needle_plant",
    (s, dir) => needlePlant(Tables(s, dir, "documents")),
    Some("""
      WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS t,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
          (doc_id * 2654435761) % 1000 AS depth_permille,
          'NEEDLE-' || doc_id AS needle
        FROM documents),
      k AS (
        SELECT *, (depth_permille * n_toks) // 1000 AS k FROM t),
      pl AS (
        SELECT doc_id, n_toks, depth_permille, k, needle,
          CASE WHEN k = 0 THEN 0
               ELSE CAST(COALESCE(list_sum(list_transform(t[1:k],
                 x -> length(x))), 0) AS BIGINT) + k END AS needle_off,
          COALESCE(array_to_string(
            list_concat(list_concat(t[1:k], [needle]),
              t[k+1:len(t)]), ' '), '') AS rendered
        FROM k)
      SELECT doc_id, n_toks, depth_permille, k AS insert_after_tok,
        needle_off, CAST(length(rendered) AS BIGINT) AS total_len,
        CAST(CASE WHEN substring(rendered, CAST(needle_off + 1 AS INT),
          length(needle)) = needle THEN 1 ELSE 0 END AS BIGINT)
          AS plant_ok
      FROM pl"""))

  // ---- span_align: char-span → token-span label projection ----
  // The alignment every annotation pipeline needs the moment labels
  // meet a tokenizer: PII spans, NER tags, citation offsets and
  // needle positions are produced in CHARACTER coordinates, but
  // training consumes TOKEN coordinates — and a span that starts
  // mid-token must round OUT to the covering tokens (clipping loses
  // label mass; the covering hull is the standard projection). Over
  // the single-space whitespace tokenizer the identity is exact:
  // the token index containing 0-indexed char c is the number of
  // spaces in text[0, c) — one substring + one split per endpoint,
  // no per-token loop. The probe span is the needle_plant permille
  // contract (start at (doc_id·2654435761 % 1000)‰ of the doc,
  // SpanLen chars, clipped to the doc); at_boundary reports whether
  // the span starts exactly on a token start (label QC: a high
  // mid-token rate means the upstream annotator and this tokenizer
  // disagree about segmentation). Pure per-row projection — scan
  // speed at any corpus size; full oracle; the spec re-derives the
  // covering hull by scalar scan as a third engine.
  val SpanLen = 16L

  /** Alignment over (doc_id, text, n_chars) — factored for fixtures
    * with hand-placed spans (the Op wires the permille probe).
    */
  private[graft] def spanAlign(d: DataFrame): DataFrame =
    d.withColumn("char_start",
        expr("(((doc_id * 2654435761) % 1000) * n_chars) DIV 1000"))
      .withColumn("char_len",
        least(lit(SpanLen), col("n_chars") - col("char_start")))
      .withColumn("tok_start", expr(
        """CASE WHEN char_start = 0 THEN CAST(0 AS BIGINT)
           ELSE CAST(size(split(substring(text, 1,
             CAST(char_start AS INT)), ' ')) - 1 AS BIGINT) END"""))
      .withColumn("tok_end", expr(
        """CAST(size(split(substring(text, 1,
           CAST(char_start + char_len AS INT)), ' ')) - 1 AS BIGINT)"""))
      .select(col("doc_id"), col("char_start"), col("char_len"),
        col("tok_start"),
        (col("tok_end") - col("tok_start") + 1L).as("tok_len"),
        expr("""CAST(CASE WHEN char_start = 0 OR substring(text,
          CAST(char_start AS INT), 1) = ' ' THEN 1 ELSE 0 END
          AS BIGINT)""").as("at_boundary"))

  private val opSpanAlign = Op(
    "span_align",
    (s, dir) => spanAlign(Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("n_chars"))),
    Some(s"""
      WITH sp AS (
        SELECT doc_id, text,
          (((doc_id * 2654435761) % 1000) * n_chars) // 1000
            AS char_start,
          LEAST($SpanLen,
            n_chars - (((doc_id * 2654435761) % 1000) * n_chars) // 1000)
            AS char_len
        FROM documents),
      ix AS (
        SELECT doc_id, text, char_start, char_len,
          CASE WHEN char_start = 0 THEN 0
            ELSE CAST(len(string_split(substring(text, 1,
              CAST(char_start AS INT)), ' ')) - 1 AS BIGINT) END
            AS tok_start,
          CAST(len(string_split(substring(text, 1,
            CAST(char_start + char_len AS INT)), ' ')) - 1 AS BIGINT)
            AS tok_end
        FROM sp)
      SELECT doc_id,
        CAST(char_start AS BIGINT) AS char_start,
        CAST(char_len AS BIGINT) AS char_len,
        tok_start,
        CAST(tok_end - tok_start + 1 AS BIGINT) AS tok_len,
        CAST(CASE WHEN char_start = 0 OR substring(text,
          CAST(char_start AS INT), 1) = ' ' THEN 1 ELSE 0 END
          AS BIGINT) AS at_boundary
      FROM ix"""))

  // ---- shard_rebalance: the minimal-transfer balance plan ----
  // The op that runs when shard_manifest says the shards drifted
  // (hash sharding balances COUNTS, but char mass skews whenever doc
  // length correlates with id — and post-curation deletions make it
  // worse): compute exact integer targets (tot DIV Shards, the first
  // tot % Shards shards carrying one extra char — targets SUM to tot
  // exactly, no remainder limbo) and the WATER-FILLING transfer plan
  // over the shard line: flow_out_i = Σ_{j≤i} (mass_j − target_j) is
  // the signed char mass that must cross the boundary between shard
  // i and i+1, the classic line-balancing identity — ADJACENT
  // transfers only (shards are sequential files; an append/truncate
  // at the seam is the cheap move), total cost Σ|flow|, provably
  // minimal for adjacent moves, and the last flow is 0 by
  // conservation (the spec pins it). A bipartite matcher would trade
  // fewer hops for arbitrary pairings — swap one in when shards are
  // not line-adjacent.
  // Scale shape: rides the shard_manifest fold (one Shards-row
  // groupBy); the window runs over Shards rows — vanishing.
  /** The plan over a (doc_id, n_chars) frame — factored for fixtures. */
  def shardRebalance(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = shardManifest(docs)
      .select(col("shard_id"), col("n_docs"), col("sum_chars"))
    val tot = m.agg(sum(col("sum_chars")).as("tot"))
    val line = Window.orderBy(col("shard_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    m.crossJoin(broadcast(tot))
      .withColumn("target_chars", expr(
        s"tot DIV $Shards" +
          s" + CASE WHEN shard_id < tot % $Shards THEN 1 ELSE 0 END"))
      .withColumn("surplus", col("sum_chars") - col("target_chars"))
      .withColumn("flow_out", sum(col("surplus")).over(line))
      .select(col("shard_id"), col("n_docs"), col("sum_chars"),
        col("target_chars"), col("surplus"), col("flow_out"))
  }

  private val opShardRebalance = Op(
    "shard_rebalance",
    (s, dir) => shardRebalance(
      Tables(s, dir, "documents").select(col("doc_id"), col("n_chars"))),
    Some {
      val O = graft.plans.OracleSql
      s"""
      WITH d0 AS (SELECT doc_id, n_chars FROM documents),
      ${O.hashLongCte("d0", Seq("doc_id", "n_chars"), "doc_id",
        "42::HUGEINT", "hd", "sm1")},
      sh AS (
        SELECT doc_id, n_chars, CAST(h % $Shards AS BIGINT) AS shard_id
        FROM hd),
      m AS (
        SELECT shard_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM sh GROUP BY shard_id),
      t AS (SELECT CAST(SUM(sum_chars) AS BIGINT) AS tot FROM m),
      p AS (
        SELECT m.*, t.tot,
          tot // $Shards + CASE WHEN shard_id < tot % $Shards
            THEN 1 ELSE 0 END AS target_chars
        FROM m, t)
      SELECT shard_id, n_docs, sum_chars,
        CAST(target_chars AS BIGINT) AS target_chars,
        CAST(sum_chars - target_chars AS BIGINT) AS surplus,
        CAST(SUM(sum_chars - target_chars) OVER (ORDER BY shard_id
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS flow_out
      FROM p"""
    })

  val ops: Seq[Op] = Seq(opEpochShuffle, opDataContract, opJsonFields,
    opShardManifest, opLongctxStitch, opQualityFuse, opNeedlePlant,
    opShardRebalance, opSpanAlign)
}
