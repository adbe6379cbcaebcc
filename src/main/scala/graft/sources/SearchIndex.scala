package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sink_index — persistence for the retrieval tier, the last
  * derive-per-run artifact the store arc hadn't reached: search_bm25
  * re-tokenized the corpus and re-profiled df on every run, and
  * index_build's postings were never persisted as a servable store.
  * Same "derive once, probe forever" contract as sink_fingerprints /
  * sink_lm (reference behavior: the kv-store side of
  * /root/reference/kv_loading_interface.py derives its lookup
  * structure once and serves point probes): at 100 TB the corpus is
  * indexed ONCE and every later standing query scans the skinny
  * bundle — never the corpus text.
  *
  * Bundle layout (all range-sharded on `token`, so a probe for a
  * handful of query terms prunes to contiguous files):
  *   tf/       (token, doc_id, dl, tf) — frequency postings, the
  *             frame BM25 scoring consumes. One row per (token, doc);
  *             `dl` rides denormalized (functionally dependent on
  *             doc_id) exactly as in the inline plan, so scoring
  *             needs no doc-keyed join.
  *   df/       (token, df) — per-term doc frequencies, ADDITIVE.
  *             Redundant with a tf/ aggregation but load-bearing: the
  *             stream_search profile gate needs (df, n, t) WITHOUT
  *             touching the posting-sized tf/ frame.
  *   stats/    (n, t) — corpus size + total token count, ADDITIVE
  *             (one row per write; readers fold by sum).
  *   postings/ (token, n_postings_delta, n_docs_delta, posting_frag)
  *             — the POSITIONAL capped fragments in the stream_index
  *             delta schema, so [[graft.streaming.Streams.indexDeltas]]
  *             rows append VERBATIM ([[appendDeltas]]); the reader's
  *             fold ([[readPostings]]) is exactly the batch
  *             index_build (point/phrase lookups live here).
  *
  * Store MAINTENANCE: counts are additive and a document's tokens
  * land in ONE shard (the stream_index doc-atomicity contract), so
  * [[append]] writes a new shard's partial frames as new files —
  * history is never read or rewritten — and readers FOLD: df/stats
  * sum per key, postings merge bottom-cap fragments, tf/ is
  * consumed as-is (a double-appended shard's identical rows are
  * healed by [[compact]]'s DISTINCT, the Fingerprints contract).
  * The fragment fold buffers O(#appends × PostingCap) entries per
  * token; [[compact]] folds each frame back to one clean range-
  * sharded copy through the crash-safe [[StoreMaintenance]] staging.
  */
object SearchIndex {

  /** Bundle format version (`_graft_format` marker, shared
    * [[StoreMaintenance]] scheme). Version history:
    *
    *   - 1 — frames tokenized by [[graft.functions.TextFns.tokens]]
    *     and positional postings bottom-capped at
    *     [[graft.operators.TextAnalysis.PostingCap]] per fragment. A
    *     tokenizer change silently zeroes probe hits (query terms
    *     tokenize differently than the index); a cap change breaks
    *     the fold's "any surviving entry is within its own shard's
    *     cap" invariant — both are refusals, not drifts.
    */
  val FormatVersion = 1

  private val bundle = StoreMaintenance.Bundle("search index",
    FormatVersion, "TextFns.tokens tokenization + PostingCap fragments")

  private val tfKeys = Seq("token", "doc_id")
  private val tokenKey = Seq("token")

  /** Folded postings back in the delta schema `postings/` stores. */
  private def asDeltas(postings: DataFrame): DataFrame =
    postings.select(col("token"), col("n_postings").as("n_postings_delta"),
      col("n_docs").as("n_docs_delta"), col("posting").as("posting_frag"))

  private def writeFrames(docs: DataFrame, path: String, nShards: Int,
      mode: String): Unit = {
    val toks = docs.select(col("doc_id"),
      graft.functions.TextFns.tokens(col("text")).as("toks"))
    val tf = toks.select(col("doc_id"),
        size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("token"))
      .groupBy(col("token"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
    bundle.write(path, mode)(
      StoreMaintenance.Frame("tf", tf, tfKeys, nShards),
      StoreMaintenance.Frame("df",
        tf.groupBy(col("token")).agg(count(lit(1)).as("df")),
        tokenKey, nShards),
      StoreMaintenance.Frame("stats", toks.agg(count(lit(1)).as("n"),
        sum(size(col("toks")).cast("long")).as("t"))),
      StoreMaintenance.Frame("postings",
        asDeltas(graft.operators.TextAnalysis.indexBuild(docs)),
        tokenKey, nShards))
  }

  /** The expensive offline pass: index the corpus once. */
  def write(docs: DataFrame, path: String, nShards: Int = 2): Unit =
    writeFrames(docs, path, nShards, "overwrite")

  /** Append a new accepted shard's partial frames as new files
    * (history untouched); readers fold. Contract: a document lands in
    * exactly one appended shard. Refuses an old-format bundle —
    * mixing tokenizers in one fold is the silent failure the marker
    * exists to catch — and any frame a compaction moved aside. */
  def append(shard: DataFrame, path: String, nShards: Int = 1): Unit =
    writeFrames(shard, path, nShards, "append")

  /** Append stream_index delta rows verbatim — the streaming twin's
    * output IS the postings/ schema, so index maintenance from a
    * stream is a plain parquet append (positional tier only; a
    * stream that must also serve BM25 appends its shard through
    * [[append]]). Refuses an old-format bundle and a `postings/` that
    * a compaction moved aside. */
  def appendDeltas(frags: DataFrame, path: String): Unit =
    bundle.write(path, "append")(
      StoreMaintenance.Frame("postings", frags.select(col("token"),
        col("n_postings_delta"), col("n_docs_delta"), col("posting_frag")),
        tokenKey))

  /** Shared fragment fold: sum the deltas, merge the bottom-cap
    * fragments — exactly the batch index_build (any globally
    * surviving entry is within its own shard's bottom-cap, so no
    * fragment ever dropped it). */
  private def foldFrags(frags: DataFrame): DataFrame = {
    val cap = graft.operators.TextAnalysis.PostingCap
    frags.groupBy(col("token"))
      .agg(sum(col("n_postings_delta")).as("n_postings"),
        sum(col("n_docs_delta")).as("n_docs"),
        expr(s"""array_join(slice(array_sort(flatten(
            collect_list(split(posting_frag, ',')))), 1, $cap), ',')""")
          .as("posting"))
  }

  /** Folded positional postings == one-shot index_build (spec). */
  def readPostings(spark: SparkSession, path: String): DataFrame =
    foldFrags(bundle.read(spark, path, "postings"))

  /** Frequency postings as stored (see class doc for the dup-append
    * heal). */
  def readTf(spark: SparkSession, path: String): DataFrame =
    bundle.read(spark, path, "tf")

  private def foldDf(df: DataFrame): DataFrame =
    df.groupBy(col("token")).agg(sum(col("df")).as("df"))

  private def foldStats(stats: DataFrame): DataFrame =
    stats.agg(sum(col("n")).as("n"), sum(col("t")).as("t"))

  /** Folded per-term doc frequencies — append-safe. */
  def readDf(spark: SparkSession, path: String): DataFrame =
    foldDf(bundle.read(spark, path, "df"))

  /** Folded corpus stats as a one-row frame — append-safe. */
  def readStats(spark: SparkSession, path: String): DataFrame =
    foldStats(bundle.read(spark, path, "stats"))

  /** Store-fed BM25: rank the INDEXED corpus against an arriving
    * standing query, scanning only the skinny bundle (plan spec) —
    * bit-equal to the inline search_bm25 because both run
    * [[graft.operators.Search.scoreTf]] on the same integer frames. */
  def bm25From(spark: SparkSession, path: String,
      terms: Seq[String] = graft.operators.Search.QueryTerms): DataFrame =
    graft.operators.Search.topK(scoresFrom(spark, path, terms))

  /** Per-doc BM25 scores from the skinny bundle (no top-K) — the
    * frame the fused ranking consumes. */
  private def scoresFrom(spark: SparkSession, path: String,
      terms: Seq[String]): DataFrame = {
    val tf = readTf(spark, path).filter(col("token").isin(terms: _*))
    val df = readDf(spark, path).filter(col("token").isin(terms: _*))
    graft.operators.Search.scoreTf(tf, df, readStats(spark, path))
  }

  /** Store-fed hybrid retrieval: the LEXICAL ranking comes from the
    * persisted index (corpus text never scanned — the [[bm25From]]
    * plan contract), the vector ranking derives from the embeddings
    * frame, and the RRF fusion is the shared
    * [[graft.operators.Search.hybridRrfScores]] kernel — so the fused
    * top-K is bit-equal to the inline `hybrid_rrf` whenever the store
    * holds the same corpus (round-trip spec). At 100 TB this is the
    * serving shape: a standing query fuses two skinny rankings; the
    * posting probe prunes to the query terms' token-range shards. */
  def hybridRrfFrom(spark: SparkSession, path: String,
      embs: DataFrame,
      terms: Seq[String] = graft.operators.Search.QueryTerms): DataFrame =
    graft.operators.Search.hybridRrfScores(
      scoresFrom(spark, path, terms), embs)

  /** The stream_search gate profile — (df per term, N, T) — from the
    * skinny df/stats frames, replacing the corpus re-scan of
    * [[graft.operators.Search.bm25Profile]]. Bounded driver collect
    * (≤ |terms| + 1 rows). */
  def profileFrom(spark: SparkSession, path: String,
      terms: Seq[String] = graft.operators.Search.QueryTerms):
      (Map[String, Long], Long, Long) = {
    val dfMap = readDf(spark, path).filter(col("token").isin(terms: _*))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val st = readStats(spark, path).head
    (dfMap, st.getLong(0), st.getLong(1))
  }

  /** Fold each frame back to nShards clean files — crash-safe through
    * the shared [[StoreMaintenance]] staging; probe results identical
    * before and after. */
  def compact(spark: SparkSession, path: String, nShards: Int = 2): Unit = {
    bundle.compact(spark, path, "tf", tfKeys, nShards)(_.distinct())
    bundle.compact(spark, path, "df", tokenKey, nShards)(foldDf)
    bundle.compact(spark, path, "stats", Nil, 1)(foldStats)
    bundle.compact(spark, path, "postings", tokenKey, nShards)(
      d => asDeltas(foldFrags(d)))
  }
}
