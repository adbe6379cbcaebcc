package graft.operators

import graft.{Op, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** search_bm25 — the retrieval query the inverted index exists for:
  * rank the corpus against a standing query by Okapi BM25 and return
  * the global top-[[Bm25K]]. Completes the index_build → retrieval
  * story (index_build materializes postings; this operator runs the
  * classic ranked lookup end-to-end on the same tokenization).
  *
  * BM25(q,d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
  * with the standard k1 = 1.2, b = 0.75 — both exact rationals, so
  * with avgdl = T/N (T total tokens, N docs) the tf term multiplies
  * out to the integer-exact
  *
  *   44·T·tf / (20·T·tf + 6·T + 18·dl·N)
  *
  * and idf uses the Lucene shape ln(1 + (N−df+½)/(df+½)) as the same
  * bit-length surrogate ngram_lm/colloc_pmi use (no libm log
  * cross-engine): idf_bits = ilog2((2N+2)·2¹⁶ DIV (2df+1)) − 16.
  * Per-(doc,term) contributions are scaled by 1000 and integer-
  * divided in decimal(38,0) — idf_bits·44·T·tf·1000 reaches ~10²⁴ at
  * 100 TB corpus sizes (T ~ 10¹³, tf ~ 10⁴), far past int64, well
  * inside decimal(38,0) — then summed per doc as plain bigints.
  * Deterministic, hash-matchable, exact at any corpus size.
  *
  * Scale shape: the token explode is filtered to QUERY TERMS before
  * anything shuffles (a standing query is a handful of terms — the
  * surviving fraction is ~|q|/|V|); per-doc length is a narrow size();
  * df and the (N, T) stats are tiny broadcast aggregates; the global
  * top-K runs through TakeOrdered per-partition heaps with the rank
  * window over only the K retained rows (the colloc_pmi shape).
  */
object Search {

  val Bm25K = 20
  /** The standing query: one rare term + two common ones, so ranking
    * exercises the idf spread (df ≈ 5% vs ≈ 76% of docs).
    */
  val QueryTerms = Seq("dup", "vector", "hash")
  val IdfScale = 65536L
  val IdfScaleBits = 16

  /** The BM25 arithmetic over pre-derived frames — the kernel BOTH
    * the inline corpus path and the persisted-index path
    * ([[graft.sources.SearchIndex.bm25From]]) run, so store-fed
    * scores are bit-equal to inline by construction (all-integer):
    * `tf` is (token, doc_id, dl, tf), `df` (token, df), `stats` one
    * row (n, t).
    */
  /** Per-(doc, token) BM25 contributions — the arithmetic BEFORE any
    * grouping, exposed because the contribution depends only on the
    * (doc, token) pair and the corpus globals: a multi-query consumer
    * (mine_hardneg) computes it ONCE and fans it out to queries by a
    * token join, instead of re-scoring per query. `dfSide` arrives
    * PRE-WRAPPED by the caller — `broadcast(df)` when the term set is
    * bounded by a standing query ([[scoreTf]]), the counted broadcast
    * guard when it grows with the corpus ([[hardNegatives]]) — so the
    * join strategy decision lives where the cardinality is known. */
  private[graft] def contribs(tf: DataFrame, dfSide: DataFrame,
      stats: DataFrame): DataFrame =
    tf.join(dfSide, Seq("token"))
      .crossJoin(broadcast(stats))
      .withColumn("idf_bits",
        (length(bin(expr(s"((2*n + 2) * $IdfScale) DIV (2*df + 1)")))
          - 1 - IdfScaleBits).cast("long"))
      .withColumn("contrib", expr(
        "CAST((CAST(idf_bits AS DECIMAL(38,0)) * 44 * CAST(t AS DECIMAL(38,0))" +
          " * tf * 1000) DIV (CAST(20 AS DECIMAL(38,0)) * t * tf" +
          " + CAST(6 AS DECIMAL(38,0)) * t" +
          " + CAST(18 AS DECIMAL(38,0)) * dl * n) AS BIGINT)"))

  private[graft] def scoreTf(tf: DataFrame, df: DataFrame,
      stats: DataFrame): DataFrame =
    contribs(tf, broadcast(df), stats) // df ≤ |standing query| rows
      .groupBy(col("doc_id"))
      .agg(sum(col("contrib")).as("score"), count(lit(1)).as("n_terms"))

  /** Per-doc BM25 scores for every doc matching ≥1 query term — the
    * shared kernel of the batch top-K and the stream_search gate's
    * exactness spec.
    */
  private[graft] def bm25Scores(d: DataFrame): DataFrame = {
    val toks = d.select(col("doc_id"),
      graft.functions.TextFns.tokens(col("text")).as("toks"))
    val stats = toks.agg(count(lit(1)).as("n"),
      sum(size(col("toks")).cast("long")).as("t"))
    // only query-term tokens survive past the explode — the one
    // corpus-sized operation stays narrow and the (doc, term) shuffle
    // carries ~|q| rows per matching doc. The doc length rides the
    // explode as a grouping column (functionally dependent on doc_id),
    // so no separate dl scan or doc-keyed join exists in the plan.
    val tf = toks.select(col("doc_id"),
        size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("token"))
      .filter(col("token").isin(QueryTerms: _*))
      .groupBy(col("doc_id"), col("dl"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    scoreTf(tf, df, stats)
  }

  /** Global top-[[Bm25K]] with a dense rank — the rank window runs
    * over only the K retained rows. */
  private[graft] def topK(scores: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    scores
      .orderBy(col("score").desc, col("doc_id"))
      .limit(Bm25K)
      .select(col("doc_id"), col("score"), col("n_terms"),
        row_number().over(Window.orderBy(col("score").desc, col("doc_id")))
          .cast("long").as("rk"))
  }

  private[graft] def bm25TopK(d: DataFrame): DataFrame = topK(bm25Scores(d))

  /** Offline corpus profile for the stream_search gate: per-term doc
    * frequencies plus (N, T) — a bounded driver collect (≤ |q| + 1
    * rows), the stream_mix "previous corpus snapshot" pattern.
    */
  private[graft] def bm25Profile(d: DataFrame): (Map[String, Long], Long, Long) = {
    val toks = d.select(graft.functions.TextFns.tokens(col("text")).as("toks"),
      col("doc_id"))
    val Array(n, t) = toks
      .agg(count(lit(1)), sum(size(col("toks")).cast("long")))
      .head.toSeq.map(_.asInstanceOf[Long]).toArray
    val dfMap = toks.select(col("doc_id"), explode(col("toks")).as("token"))
      .filter(col("token").isin(QueryTerms: _*))
      .select(col("doc_id"), col("token")).distinct()
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    (dfMap, n, t)
  }

  private val opBm25 = Op(
    "search_bm25",
    (s, dir) => bm25TopK(Tables(s, dir, "documents")),
    Some {
      val terms = QueryTerms.map(t => s"'$t'").mkString(", ")
      s"""
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents),
      dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
      stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                       CAST(SUM(dl) AS BIGINT) AS t FROM dl),
      tok AS (
        SELECT doc_id, u.tok AS token
        FROM d, UNNEST(toks) AS u(tok)
        WHERE u.tok IN ($terms)),
      tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
             FROM tok GROUP BY 1, 2),
      df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      sc0 AS (
        SELECT tf.doc_id, tf.tf, df.df, dl.dl, stats.n, stats.t,
          CAST(length(bin(((2*n + 2) * $IdfScale) // (2*df + 1)))
            - 1 - $IdfScaleBits AS BIGINT) AS idf_bits
        FROM tf JOIN df USING (token)
          JOIN dl ON tf.doc_id = dl.doc_id
          CROSS JOIN stats),
      sc AS (
        SELECT doc_id,
          CAST((CAST(idf_bits AS HUGEINT) * 44 * t * tf * 1000)
            // (CAST(20 AS HUGEINT) * t * tf + CAST(6 AS HUGEINT) * t
               + CAST(18 AS HUGEINT) * dl * n) AS BIGINT) AS contrib
        FROM sc0),
      agg AS (SELECT doc_id, CAST(SUM(contrib) AS BIGINT) AS score,
                CAST(COUNT(*) AS BIGINT) AS n_terms
              FROM sc GROUP BY 1),
      r AS (SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
              AS BIGINT) AS rk FROM agg)
      SELECT doc_id, score, n_terms, rk FROM r WHERE rk <= $Bm25K"""
    })

  // ---- search_phrase: exact phrase matching ----
  // The OTHER classic retrieval primitive. A positional INDEX answers
  // point lookups (index_build materializes doc:pos postings for
  // that); batch phrase SCORING over a corpus is per-doc work and the
  // Spark-first shape is therefore fully NARROW — adjacency checked
  // inside each row's token array via a position comprehension, ZERO
  // shuffles, no explode, no join (the positional self-join shape
  // shuffles one row per term occurrence — O(corpus·df) — to compute
  // something each row already knows). Matching docs emit their hit
  // count and first 0-based position; plan spec pins the no-exchange
  // claim.
  val PhraseTerms = Seq("hash", "join")

  private[graft] def phraseHits(d: DataFrame): DataFrame = {
    // one codegen Java loop per row (plans.PhraseHits) — the
    // filter(sequence…) column-expression equivalent runs its lambda
    // interpreted per position: 1.7 s vs 0.3 s at sf0.1
    val phraseLit = PhraseTerms.map(w => s"'$w'").mkString(", ")
    d.select(col("doc_id"),
        graft.functions.TextFns.tokens(col("text")).as("toks"))
      .withColumn("hits",
        expr(s"graft_phrase_hits(toks, array($phraseLit))"))
      .filter(size(col("hits")) > 0)
      .select(col("doc_id"),
        size(col("hits")).cast("long").as("n_hits"),
        element_at(col("hits"), 1).cast("long").as("first_pos"))
  }

  private val opPhrase = Op(
    "search_phrase",
    (s, dir) => phraseHits(Tables(s, dir, "documents")),
    Some {
      val adjacency = PhraseTerms.zipWithIndex.map { case (w, j) =>
        s"toks[i + $j] = '$w'"
      }.mkString(" AND ")
      s"""
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents),
      h AS (
        SELECT doc_id,
          [i for i in generate_series(1, len(toks) - ${PhraseTerms.size - 1})
           if $adjacency] AS hits
        FROM d)
      SELECT doc_id, CAST(len(hits) AS BIGINT) AS n_hits,
        CAST(hits[1] - 1 AS BIGINT) AS first_pos
      FROM h WHERE len(hits) > 0"""
    })

  // ---- hybrid_rrf: hybrid retrieval via reciprocal-rank fusion ----
  // The fusion step every modern retrieval stack runs (Cormack et al.
  // 2009, the RAG-pipeline default): combine a lexical ranking
  // (search_bm25 over `documents`) with a vector ranking (cosine over
  // the aligned `embeddings` table) by RRF(id) = Σ 1/(C + rank_side),
  // C = 60. Integer-exact as Σ 10⁶ DIV (60 + rank) — no floats, so
  // the fused order is deterministic and hash-matchable cross-engine.
  //
  // Scale shape: each side reduces to a BOUNDED top-[[RrfPoolK]] pool
  // first (TakeOrdered per-partition heaps — rank windows only ever
  // see PoolK rows), so the fusion join is a 50×50-row full outer —
  // free at any corpus size; a side's missing rank contributes 0 via
  // null arithmetic. The sides reuse the proven kernels: bm25Scores
  // and graft_cosine.
  val RrfK = 20
  val RrfPoolK = 50
  val RrfQueryVec = 7L
  val RrfC = 60L
  val RrfScale = 1000000L

  private[graft] def hybridRrf(docs: DataFrame, embs: DataFrame): DataFrame =
    hybridRrfScores(bm25Scores(docs), embs)

  /** The RRF fusion over a PRE-DERIVED per-doc BM25 scores frame —
    * the kernel both the inline corpus path ([[hybridRrf]]) and the
    * persisted-index serving path
    * ([[graft.sources.SearchIndex.hybridRrfFrom]]) run, so store-fed
    * fusion is bit-equal to inline by construction (the scoreTf /
    * bm25From precedent, extended to the fused ranking). */
  private[graft] def hybridRrfScores(textScores: DataFrame,
      embs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val text = textScores
      .orderBy(col("score").desc, col("doc_id")).limit(RrfPoolK)
      .select(col("doc_id").as("id"),
        row_number().over(Window.orderBy(col("score").desc, col("doc_id")))
          .cast("long").as("rank_text"))
    val q = embs.filter(col("vec_id") === RrfQueryVec)
      .select(col("embedding").as("q_emb"))
    val vec = embs.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= RrfQueryVec)
      .withColumn("cos", round(expr("graft_cosine(q_emb, embedding)"), 6))
      .orderBy(col("cos").desc, col("vec_id")).limit(RrfPoolK)
      .select(col("vec_id").as("id"),
        row_number().over(Window.orderBy(col("cos").desc, col("vec_id")))
          .cast("long").as("rank_vec"))
    text.join(vec, Seq("id"), "full_outer")
      .withColumn("rrf", expr(
        s"coalesce($RrfScale DIV ($RrfC + rank_text), 0) + " +
          s"coalesce($RrfScale DIV ($RrfC + rank_vec), 0)"))
      .orderBy(col("rrf").desc, col("id")).limit(RrfK)
      .select(col("id"),
        coalesce(col("rank_text"), lit(-1L)).as("rank_text"),
        coalesce(col("rank_vec"), lit(-1L)).as("rank_vec"),
        col("rrf"),
        row_number().over(Window.orderBy(col("rrf").desc, col("id")))
          .cast("long").as("rk"))
  }

  private val opRrf = Op(
    "hybrid_rrf",
    (s, dir) =>
      hybridRrf(Tables(s, dir, "documents"), Tables(s, dir, "embeddings")),
    Some {
      val terms = QueryTerms.map(t => s"'$t'").mkString(", ")
      s"""
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents),
      dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
      stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                       CAST(SUM(dl) AS BIGINT) AS t FROM dl),
      tok AS (
        SELECT doc_id, u.tok AS token
        FROM d, UNNEST(toks) AS u(tok)
        WHERE u.tok IN ($terms)),
      tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
             FROM tok GROUP BY 1, 2),
      tdf AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      sc0 AS (
        SELECT tf.doc_id, tf.tf, tdf.df, dl.dl, stats.n, stats.t,
          CAST(length(bin(((2*n + 2) * $IdfScale) // (2*df + 1)))
            - 1 - $IdfScaleBits AS BIGINT) AS idf_bits
        FROM tf JOIN tdf USING (token)
          JOIN dl ON tf.doc_id = dl.doc_id
          CROSS JOIN stats),
      agg AS (
        SELECT doc_id, CAST(SUM(
          CAST((CAST(idf_bits AS HUGEINT) * 44 * t * tf * 1000)
            // (CAST(20 AS HUGEINT) * t * tf + CAST(6 AS HUGEINT) * t
               + CAST(18 AS HUGEINT) * dl * n) AS BIGINT)) AS BIGINT) AS score
        FROM sc0 GROUP BY 1),
      tr0 AS (SELECT doc_id AS id, CAST(ROW_NUMBER() OVER
                (ORDER BY score DESC, doc_id) AS BIGINT) AS rank_text
              FROM agg),
      tr AS (SELECT * FROM tr0 WHERE rank_text <= $RrfPoolK),
      e AS (
        SELECT vec_id, embedding,
          sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                         for x in embedding])) AS norm
        FROM embeddings),
      qv AS (SELECT embedding AS q_emb, norm AS q_norm
             FROM e WHERE vec_id = $RrfQueryVec),
      vr0 AS (
        SELECT vec_id,
          ROUND(list_sum([CAST(q_emb[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)
                          for i in generate_series(1, len(q_emb))])
                / (q_norm * e.norm), 6) AS cos
        FROM e, qv WHERE e.vec_id <> $RrfQueryVec),
      vr1 AS (SELECT vec_id AS id, CAST(ROW_NUMBER() OVER
                (ORDER BY cos DESC, vec_id) AS BIGINT) AS rank_vec
              FROM vr0),
      vr AS (SELECT * FROM vr1 WHERE rank_vec <= $RrfPoolK),
      f AS (
        SELECT COALESCE(tr.id, vr.id) AS id, rank_text, rank_vec,
          CAST(COALESCE($RrfScale // ($RrfC + rank_text), 0)
            + COALESCE($RrfScale // ($RrfC + rank_vec), 0) AS BIGINT) AS rrf
        FROM tr FULL OUTER JOIN vr ON tr.id = vr.id),
      r AS (
        SELECT id, CAST(COALESCE(rank_text, -1) AS BIGINT) AS rank_text,
          CAST(COALESCE(rank_vec, -1) AS BIGINT) AS rank_vec, rrf,
          CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, id) AS BIGINT) AS rk
        FROM f)
      SELECT id, rank_text, rank_vec, rrf, rk FROM r WHERE rk <= $RrfK"""
    })

  // ---- mine_hardneg: BM25 hard-negative mining for retrieval training ----

  /** Negatives kept per query (the DPR-style recipe trains with a
    * handful of hard negatives per positive). */
  val HnK = 5

  /** Query terms per query doc: its 4 RAREST distinct tokens (by
    * corpus df, ties lexicographic) — the classic distinctive-term
    * query derivation, and the fan-out bound: a rare term appears in
    * few docs AND few other queries, so the contribution→query join
    * stays skinny. The first cut of this op took the 4
    * lexicographically-first tokens instead; on a Zipfian vocabulary
    * those are exactly the HOT terms, every query shared them, and the
    * fan-out join blew up ~18× at sf1 — rare-term selection is the
    * same impact-pruning insight WAND-style engines apply at serving
    * time, moved to query derivation. */
  val HnQueryTerms = 4

  /** Bound on the derived pseudo-benchmark (r18). A benchmark's query
    * set is FIXED and small by nature; deriving it from the corpus's
    * %97 slice made it grow with the corpus, and the query x doc
    * contribution volume with it — the quadratic class the r18 sf10
    * sweep caught in contam_embed, and the root of this op's former
    * sf10 shuffle wall. The slice's ids are 0, 97, 194, ..., so
    * doc_id div 97 < cap selects exactly its first [[HnQueryCap]]
    * members — deterministic and replayed verbatim in the oracle.
    * Binds only at sf1+ (slice sizes: sf0.01 -> 5, sf0.1 -> 51,
    * sf1 -> 515), so driver-scale results are unchanged. Applied in
    * BOTH the inline framing and deriveQueryTerms, keeping the
    * store-fed == inline row-identity intact. */
  val HnQueryCap = 64L

  /** Hard-negative mining — the retrieval-training data step (the DPR
    * / contrastive-encoder recipe): for each (query, positive-doc)
    * pair, the top BM25-ranked documents that are NOT the positive are
    * exactly the "hard" negatives a trained retriever must learn to
    * push below it (random negatives are trivially separable; BM25's
    * lexical confusables are not). Queries derive from the doc_id%97
    * slice (each query doc is its own positive).
    *
    * This is the MULTI-QUERY extension of search_bm25, and the scale
    * shape is what justifies the row: the per-(doc, token) BM25
    * contribution depends only on the doc and the corpus globals, so
    * it is computed ONCE over the union of all query terms ([[
    * contribs]], the single corpus-sized pass — the explode is
    * term-filtered by a semi-join before anything shuffles)
    * and then FANNED OUT to queries by one token join —
    * scoring Q queries costs one corpus pass + skinny fan-out, not Q
    * passes. Per-query top-k runs through the TopKPerKey bounded heap;
    * no global sort, no per-query window over the corpus. All-integer
    * scoring (search_bm25's decimal(38) kernel) → full DuckDB oracle.
    *
    * Unlike search_bm25's standing-query frames, the three mining-side
    * frames all GROW with the corpus — `needed` (the query slice's
    * distinct vocabulary), `df` (per-term doc frequencies over that
    * vocabulary) and `qterms` ([[HnQueryTerms]] × n/97 query rows) —
    * so each rides the COUNTED broadcast guard (the dedup_span /
    * contam_minhash discipline): materialized once via lazy
    * localCheckpoint, broadcast only while the MEASURED count fits
    * `broadcastMaxRows`, forced to a shuffled hash join above it.
    * Semantics and hashes are identical on either branch; at the
    * brief's 100 TB the slice's vocabulary is ~10⁸ tokens and qterms
    * ~10⁹ rows — an unconditional broadcast would be a
    * driver/executor OOM.
    *
    * The op splits into DERIVATION ([[deriveQueryTerms]] — the
    * rarest-first query-term table) and SCORING ([[hardNegativesWith]]
    * — one corpus pass against a GIVEN query-term table), because the
    * production contract is exactly that split: queries are a FIXED
    * set derived once (and persisted via [[graft.sources
    * .BenchmarkStore]]), while mining re-runs per corpus snapshot and
    * is LINEAR in pool rows. The split also shrinks the scoring
    * shuffle: tf rows carry only the ≤ [[HnQueryTerms]]·Q final terms
    * instead of the query slice's entire vocabulary.
    *
    * The INLINE framing below (derive-and-score in one run — the
    * driver query) does NOT simply compose the two halves: each half
    * owns a corpus-sized token explode, so the composition executes
    * that explode twice (measured 2× wall at sf1). Instead it builds
    * the candidate-vocabulary tf frame ONCE, materialized
    * (localCheckpoint — the same row volume the scoring shuffle
    * writes anyway), and derives BOTH the df ranking and the
    * final-term tf from those blocks — restoring the one-pass shape
    * the pre-split op had via exchange reuse, which the guard's count
    * actions would otherwise break. Store-fed production mining
    * ([[graft.sources.BenchmarkStore.hardNegativesFrom]]) never
    * builds the candidate-vocab frame at all: its single pass
    * term-filters straight to the persisted query terms.
    */
  private[graft] def hardNegatives(d: DataFrame,
      broadcastMaxRows: Long = Dedup.SpanBroadcastMaxRows): DataFrame = {
    val toks = d.select(col("doc_id"),
      graft.functions.TextFns.tokens(col("text")).as("toks"))
    val stats = toks.agg(count(lit(1)).as("n"),
      sum(size(col("toks")).cast("long")).as("t"))
    val qcand = toks.filter(col("doc_id") % 97 === 0 &&
        expr("doc_id div 97") < HnQueryCap)
      .select(col("doc_id").as("q_id"),
        explode(array_distinct(col("toks"))).as("token"))
      .filter(length(col("token")) > 0)
    val (_, needed) =
      guarded(qcand.select(col("token")).distinct(), broadcastMaxRows)
    // the ONE corpus explode, over the candidate vocabulary; df
    // ranking and final-term tf both read these blocks
    val tfAll = toks.select(col("doc_id"),
        size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("token"))
      .join(needed, Seq("token"))
      .groupBy(col("doc_id"), col("dl"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = false)
    val (_, df) =
      guarded(tfAll.groupBy(col("token")).agg(count(lit(1)).as("df")),
        broadcastMaxRows)
    val (qtM, qterms) = guarded(
      graft.plans.TopK.perKey(
          qcand.join(df, Seq("token")),
          Seq("q_id"),
          Seq("df" -> graft.plans.TopK.Asc,
            "token" -> graft.plans.TopK.Asc), HnQueryTerms)
        .select(col("q_id"), col("token")),
      broadcastMaxRows)
    val (_, finalTerms) =
      guarded(qtM.select(col("token")).distinct(), broadcastMaxRows)
    val perQuery =
      contribs(tfAll.join(finalTerms, Seq("token")), df, stats)
        .join(qterms, Seq("token"))
        .groupBy(col("q_id"), col("doc_id"))
        .agg(sum(col("contrib")).as("score"), count(lit(1)).as("n_terms"))
        .filter(col("doc_id") =!= col("q_id")) // the positive is not a negative
    graft.plans.TopK.perKey(perQuery, Seq("q_id"),
        Seq("score" -> graft.plans.TopK.Desc,
          "doc_id" -> graft.plans.TopK.Asc), HnK)
      .select(col("q_id"), col("doc_id").as("neg_id"), col("score"),
        col("n_terms"), col("rk"))
  }

  /** Counted broadcast guard (see [[hardNegatives]] scaladoc): small →
    * broadcast, measured-large → shuffled hash; the count reads the
    * checkpointed blocks the join then reuses, so no stage runs
    * twice. Returns (materialized frame, guarded join side) so a
    * caller can derive further frames from the SAME blocks. Shared
    * with the streaming frozen-model reads (stream_doremi's LM side)
    * so the broadcast discipline is uniform across batch and stream:
    * any join side whose row count grows with the corpus rides this
    * guard, never a bare broadcast(). */
  private[graft] def guarded(f: DataFrame,
      broadcastMaxRows: Long): (DataFrame, DataFrame) = {
    val m = f.localCheckpoint(eager = false)
    (m, Tables.broadcastIfSmall(m, m.count(), broadcastMaxRows))
  }

  /** Rarest-first query-term derivation — (q_id, token), ≤
    * [[HnQueryTerms]] rows per query from the doc_id%97 slice, each
    * candidate ranked by corpus doc frequency through the bounded
    * per-query heap. This is the once-per-benchmark offline half;
    * [[graft.sources.BenchmarkStore.writeQueryTerms]] persists its
    * output so production mining never re-derives it. */
  private[graft] def deriveQueryTerms(d: DataFrame,
      broadcastMaxRows: Long = Dedup.SpanBroadcastMaxRows): DataFrame = {
    val toks = d.select(col("doc_id"),
      graft.functions.TextFns.tokens(col("text")).as("toks"))
    val qcand = toks.filter(col("doc_id") % 97 === 0 &&
        expr("doc_id div 97") < HnQueryCap)
      .select(col("doc_id").as("q_id"),
        explode(array_distinct(col("toks"))).as("token"))
      .filter(length(col("token")) > 0)
    val (_, needed) =
      guarded(qcand.select(col("token")).distinct(), broadcastMaxRows)
    // corpus doc frequencies over the candidate vocabulary — ONE
    // term-filtered distinct-token pass (df = docs containing token)
    val (_, df) = guarded(
      toks.select(col("doc_id"),
          explode(array_distinct(col("toks"))).as("token"))
        .join(needed, Seq("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("df")),
      broadcastMaxRows)
    graft.plans.TopK.perKey(
        qcand.join(df, Seq("token")),
        Seq("q_id"),
        Seq("df" -> graft.plans.TopK.Asc,
          "token" -> graft.plans.TopK.Asc), HnQueryTerms)
      .select(col("q_id"), col("token"))
  }

  /** SCORING against a given query-term table: one corpus pass,
    * term-filtered to the table's tokens before anything shuffles,
    * contributions fanned out to queries by one guarded token join.
    * This is the store-fed production half ([[graft.sources
    * .BenchmarkStore.hardNegativesFrom]]); the inline driver framing
    * instead shares its candidate-vocab pass with derivation (see
    * [[hardNegatives]]), and the store-fed == inline row-for-row spec
    * holds across the two shapes (same integer kernel, same
    * deterministic tie orders). */
  private[graft] def hardNegativesWith(d: DataFrame, qtermsIn: DataFrame,
      broadcastMaxRows: Long = Dedup.SpanBroadcastMaxRows): DataFrame = {
    val (qtM, qterms) = guarded(qtermsIn, broadcastMaxRows)
    val (_, needed) =
      guarded(qtM.select(col("token")).distinct(), broadcastMaxRows)
    val toks = d.select(col("doc_id"),
      graft.functions.TextFns.tokens(col("text")).as("toks"))
    val stats = toks.agg(count(lit(1)).as("n"),
      sum(size(col("toks")).cast("long")).as("t"))
    val tf = toks.select(col("doc_id"),
        size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("token"))
      .join(needed, Seq("token"))
      .groupBy(col("doc_id"), col("dl"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val (_, df) =
      guarded(tf.groupBy(col("token")).agg(count(lit(1)).as("df")),
        broadcastMaxRows)
    val perQuery = contribs(tf, df, stats)
      .join(qterms, Seq("token"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("contrib")).as("score"), count(lit(1)).as("n_terms"))
      .filter(col("doc_id") =!= col("q_id")) // the positive is not a negative
    graft.plans.TopK.perKey(perQuery, Seq("q_id"),
        Seq("score" -> graft.plans.TopK.Desc,
          "doc_id" -> graft.plans.TopK.Asc), HnK)
      .select(col("q_id"), col("doc_id").as("neg_id"), col("score"),
        col("n_terms"), col("rk"))
  }

  private val opHardneg = Op(
    "mine_hardneg",
    (s, dir) => {
      hardNegatives(Tables(s, dir, "documents"))
    },
    Some(s"""
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents),
      dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
      stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                       CAST(SUM(dl) AS BIGINT) AS t FROM dl),
      qc AS (
        SELECT doc_id AS q_id, u.tok AS token
        FROM (SELECT doc_id, list_distinct(toks) AS dt
              FROM d WHERE doc_id % 97 = 0 AND doc_id // 97 < $HnQueryCap), UNNEST(dt) AS u(tok)
        WHERE length(u.tok) > 0),
      tok AS (
        SELECT doc_id, u.tok AS token
        FROM d, UNNEST(toks) AS u(tok)
        WHERE u.tok IN (SELECT DISTINCT token FROM qc)),
      tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
             FROM tok GROUP BY 1, 2),
      df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      q AS (
        SELECT q_id, token FROM (
          SELECT qc.q_id, qc.token,
            ROW_NUMBER() OVER (PARTITION BY qc.q_id
              ORDER BY df.df, qc.token) AS trk
          FROM qc JOIN df USING (token))
        WHERE trk <= $HnQueryTerms),
      sc AS (
        SELECT tf.doc_id, tf.token,
          CAST((CAST(CAST(length(bin(((2*n + 2) * $IdfScale) // (2*df + 1)))
                - 1 - $IdfScaleBits AS BIGINT) AS HUGEINT)
              * 44 * t * tf * 1000)
            // (CAST(20 AS HUGEINT) * t * tf + CAST(6 AS HUGEINT) * t
               + CAST(18 AS HUGEINT) * dl * n) AS BIGINT) AS contrib
        FROM tf JOIN df USING (token)
          JOIN dl ON tf.doc_id = dl.doc_id
          CROSS JOIN stats),
      perq AS (
        SELECT q.q_id, sc.doc_id,
          CAST(SUM(contrib) AS BIGINT) AS score,
          CAST(COUNT(*) AS BIGINT) AS n_terms
        FROM sc JOIN q USING (token)
        WHERE sc.doc_id <> q.q_id
        GROUP BY 1, 2),
      r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
              ORDER BY score DESC, doc_id) AS BIGINT) AS rk FROM perq)
      SELECT q_id, doc_id AS neg_id, score, n_terms, rk
      FROM r WHERE rk <= $HnK"""))

  val ops: Seq[Op] = Seq(opBm25, opPhrase, opRrf, opHardneg)
}
