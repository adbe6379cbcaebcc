package graft.operators

import graft.{Op, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (64-dim float
  * vectors). Two paths per SURVEY.md §2:
  *
  *  - ann_cosine_topk: brute-force baseline. Queries are broadcast, the
  *    candidate scan stays narrow; per-query top-k via the two-phase
  *    TopKPerKey heap. Dot products cast every float to double BEFORE
  *    multiplying and accumulate left-to-right, matching the oracle
  *    bit-for-bit.
  *  - ann_ivf: IVF pruning over real Lloyd k-means centroids
  *    (k ∝ √n, MLlib-style broadcast-assign + groupBy-mean iterations),
  *    with boundary replication (each point lives in its `Rep` nearest
  *    cells) and multi-probe queries (nprobeFor(k) cells — the probe
  *    count SCALES with the cell count so the probed fraction, and
  *    with it worst-case recall, stays constant as the corpus grows).
  */
object Similarity {

  private val dotExpr =
    "aggregate(zip_with(q_emb, c_emb, (x, y) -> cast(x AS double) * cast(y AS double)), 0D, (acc, x) -> acc + x)"
  private val normExpr =
    "sqrt(aggregate(embedding, 0D, (acc, x) -> acc + cast(x AS double) * cast(x AS double)))"

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings").withColumn("norm", expr(normExpr))

  // ---- ann_cosine_topk ----
  private val opBrute = Op(
    "ann_cosine_topk",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val c = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
      val scored = c.join(broadcast(q), col("q_id") =!= col("c_id"))
        // native codegen expression — one fused pass (plans.CosineSimilarity)
        .withColumn("cos", round(expr("graft_cosine(q_emb, c_emb)"), 6))
      // custom two-phase heap operator (plans.TopKPerKey): only k rows
      // per (partition, query) reach the shuffle — the 100 TB top-k path
      graft.plans.TopK.perKey(scored, Seq("q_id"),
          Seq("cos" -> graft.plans.TopK.Desc, "c_id" -> graft.plans.TopK.Asc), 5)
        .select(col("q_id"), col("c_id"), col("cos"), col("rk"))
    },
    Some("""
      WITH e AS (
        SELECT vec_id, embedding,
          sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in embedding])) AS norm
        FROM embeddings),
      q AS (SELECT vec_id AS q_id, embedding AS q_emb, norm AS q_norm
            FROM e WHERE vec_id < 10),
      s AS (
        SELECT q_id, e.vec_id AS c_id,
          ROUND(list_sum([CAST(q_emb[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)
                          for i in generate_series(1, len(q_emb))])
                / (q_norm * e.norm), 6) AS cos
        FROM q, e WHERE e.vec_id <> q_id),
      r AS (SELECT q_id, c_id, cos,
              CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS BIGINT) AS rk
            FROM s)
      SELECT q_id, c_id, cos, rk FROM r WHERE rk <= 5"""))

  // ---- ann_ivf ----
  /** IVF knobs. Queries probe [[nprobeFor]](k) cells; candidates live
    * in their Rep=2 nearest cells (boundary replication), so the
    * probed fraction of the corpus is ~Rep·nprobe/k. On the
    * structure-less synthetic embeddings (within-label mean cosine
    * ≈ 0.003 — no clusters to exploit) this measures recall@3 ≈ 0.83
    * vs brute force at k=16, comfortably above the 0.6 spec bound.
    * Real corpora with cluster structure prune far harder at the same
    * recall.
    */
  val Rep = 2
  val KmeansIters = 3

  /** SCALE-SAFE default probe policy (VERDICT r12 #1): the probe
    * count is derived from the cell count k, not fixed —
    *
    *   nprobe(k) = max([[NProbeMin]], ceil(k · [[ProbeFrac]]))
    *
    * A FIXED nprobe with k ∝ √n probes a fraction Rep·nprobe/k of the
    * corpus that goes to ZERO as the corpus grows, so on
    * structure-less data recall silently decays with n (measured
    * 0.83 @ sf0.01 → 0.27 @ sf1 under the old fixed nprobe=3).
    * Holding the probed FRACTION constant holds worst-case recall
    * roughly constant instead: ProbeFrac = 1/6 with Rep = 2 bounds
    * the structure-less worst case at ~⅓ of the corpus scanned —
    * still a 3× prune when the data gives the index nothing, and on
    * clustered real corpora (the published-IVF operating point) the
    * same fraction buys recall ≈ 1. Callers wanting the classic
    * aggressive prune on clustered data lower ProbeFrac via
    * `probeBoost`'s inverse — the dial RecallAudit's measured
    * probe-boost curve (BENCH_sf1.json) prices. At the fixture/oracle
    * scale (k = 16) the formula yields nprobe = 3 — identical plans
    * and results to the old default, spec-pinned.
    */
  val NProbeMin = 3
  val ProbeFrac = 1.0 / 6.0

  /** Probed cells per query for a k-cell index: max(3, ceil(k/6)). */
  private[graft] def nprobeFor(k: Int): Int =
    math.max(NProbeMin, math.ceil(k * ProbeFrac).toInt)

  /** Hard cap on the centroid count. k grows ∝ √n (standard IVF
    * sizing) UP TO this bound, then stays flat: driver-side training
    * cost is O(sample · k · dim · iters) ≤ 65536·4096·64·3 ≈ 5×10¹²
    * fused mult-adds — a bounded one-off (minutes on one JIT-vectorized
    * core, amortized over the whole job) instead of the unbounded
    * k ∝ √n growth that made training itself the 100 TB bottleneck.
    * The trade: past n ≈ 3.4×10⁷ (where √n·0.7 crosses 4096) cells
    * grow ∝ n/k instead of √n. Under the [[nprobeFor]] policy the
    * probed FRACTION is held ≈ Rep·ProbeFrac regardless of where k
    * sits relative to the cap, so worst-case (structure-less) recall
    * no longer decays with n — the r12 fixed-nprobe decay
    * (0.83 @ sf0.01 → 0.27 @ sf1) is what this formula retired; the
    * RecallAudit main records the measured recall + probe-boost curve
    * next to the timings in BENCH_sf1.json. `probeBoost` remains the
    * per-caller over/under-probe dial on top of the formula.
    */
  val KmeansMaxK = 4096

  /** Centroid count for a corpus of n vectors: k ∝ √n, capped. */
  private[graft] def ivfK(n: Long): Int =
    math.max(4, math.min(KmeansMaxK,
      math.ceil(math.sqrt(n.toDouble) * 0.7).toInt))

  /** Rows used to train centroids driver-side. FAISS-style sampled
    * training: quality needs only O(points-per-centroid) samples, so
    * the collect is bounded regardless of n (at 500-row test scale the
    * sample IS the dataset). One Spark job total — the previous
    * distributed-Lloyd variant paid 2 jobs per iteration for identical
    * centroids at any realistic sample bound.
    */
  val KmeansSampleCap = 65536

  /** Spherical Lloyd k-means trained on a deterministic hash-ordered
    * sample (the first [[KmeansSampleCap]] rows by xxhash64(vec_id);
    * its k-prefix doubles as the init seeds). Assignment by cosine with
    * ties to the smaller cell id; means over unit vectors; empty cells
    * keep their previous centroid.
    */
  private[graft] def kmeansCentroids(
      e: DataFrame, k: Int, iters: Int): Array[(Int, Array[Float])] = {
    val sample = e.withColumn("h", xxhash64(col("vec_id")))
      .orderBy(col("h")).limit(KmeansSampleCap)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    val unit = sample.map { v =>
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    val dim = unit.headOption.map(_.length).getOrElse(0)
    var cents = unit.take(k).map(_.clone())
    for (_ <- 1 to iters) {
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val counts = new Array[Long](cents.length)
      val norms = cents.map(c => math.sqrt(c.map(x => x * x).sum))
      // assignment (the O(n·k·dim) term) fans out across driver
      // cores — each sample's argmin is independent; the ACCUMULATION
      // stays sequential in sample order, so centroids are
      // bit-identical to the single-threaded build
      val snap = cents
      val best = new Array[Int](unit.length)
      java.util.stream.IntStream.range(0, unit.length).parallel()
        .forEach { s =>
          val u = unit(s)
          var b = 0
          var bestCos = -2.0
          var c = 0
          while (c < snap.length) {
            var dot = 0.0
            var i = 0
            while (i < dim) { dot += u(i) * snap(c)(i); i += 1 }
            val cos = if (norms(c) == 0) -2.0 else dot / norms(c)
            if (cos > bestCos) { bestCos = cos; b = c }
            c += 1
          }
          best(s) = b
        }
      var s2 = 0
      while (s2 < unit.length) {
        val u = unit(s2)
        val b = best(s2)
        var i = 0
        while (i < dim) { sums(b)(i) += u(i); i += 1 }
        counts(b) += 1
        s2 += 1
      }
      cents = cents.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0) old
        else sums(c).map(_ / counts(c))
      }
    }
    cents.zipWithIndex.map { case (v, i) => (i, v.map(_.toFloat)) }
  }

  /** The IVF probe machinery, shared by the float / int8 / PQ serving
    * paths: identical centroid training, assignment, probing, and pair
    * dedup — only the FINAL scoring side differs (float embeddings,
    * int8 codes through graft_cosine_i8, or PQ codes through the ADC
    * graft_pq_cos kernel). At 100 TB the quantized variants are the
    * ones that fit candidate vectors in executor memory; "pq" is the
    * full IVFADC architecture of Jégou et al. (TPAMI 2011): coarse
    * cells prune the scan to ~Rep·nprobe/k of the corpus AND each
    * candidate costs [[PqM]] bytes, the combination the paper built
    * for 10¹²-vector serving.
    */
  private[graft] def ivfRank(s: SparkSession, dir: String, mode: String,
      candPred: Option[org.apache.spark.sql.Column] = None,
      probeBoost: Int = 1, rerankK: Int = RerankK): DataFrame = {
      val e = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      // k ∝ √n capped at KmeansMaxK (see its doc for the bounded
      // training-cost formula): cells stay O(√n) wide until the cap,
      // so cells stay O(√n) wide as the corpus grows
      val n = e.count()
      val k = ivfK(n)
      val nprobe = nprobeFor(k) * probeBoost
      val cents = kmeansCentroids(e, k, KmeansIters)
      val centDf = broadcast(s.createDataFrame(cents.toSeq).toDF("cent_id", "cent_emb"))
      val cells = e.join(centDf)
        .withColumn("ccos", expr("graft_cosine(embedding, cent_emb)"))
        .select(col("vec_id"), col("cent_id"), col("ccos"))
      // TWO heap passes, split by role (r13): the r12 one-pass shape
      // (one heap of max(Rep, nprobe) per point) was free while
      // nprobe ≈ Rep, but with nprobe ∝ k it would carry nprobe
      // skinny rows per CANDIDATE through the shuffle when candidates
      // only ever need their Rep home cells. Assignment ranks Rep
      // cells over all n points; the probe side re-scores ONLY the
      // query rows (vec_id < 10 — the filter pushes into the scan)
      // against the broadcast centroids: ~10·k extra cosine
      // evaluations buy an n·(nprobe − Rep)-row shuffle saving.
      val ranked = graft.plans.TopK.perKey(cells, Seq("vec_id"),
        Seq("ccos" -> graft.plans.TopK.Desc, "cent_id" -> graft.plans.TopK.Asc),
        Rep, "crk")
      val assignedAll = ranked
        .select(col("vec_id").as("c_id"), col("cent_id").as("bucket"))
      // filtered serving (ann_filtered): the metadata predicate prunes
      // the CANDIDATE side here — BELOW the probe join, the ADC scoring
      // and the top-k heap — via a semi-join against a skinny id frame
      // whose comparison predicate pushes into the parquet scan.
      // Post-filtering the final top-k instead would return < k rows
      // and waste ADC work on candidates the caller can never see.
      val assigned = candPred match {
        case Some(p) =>
          val allowed = Tables(s, dir, "embeddings")
            .filter(p).select(col("vec_id").as("c_id"))
          assignedAll.join(allowed, Seq("c_id"), "left_semi")
        case None => assignedAll
      }
      val probed = graft.plans.TopK.perKey(
          cells.filter(col("vec_id") < 10), Seq("vec_id"),
          Seq("ccos" -> graft.plans.TopK.Desc,
            "cent_id" -> graft.plans.TopK.Asc),
          nprobe, "crk")
        .select(col("vec_id").as("q_id"), col("cent_id").as("bucket"))
      // candidate ids from the probed cells only; a pair can meet in up
      // to Rep·nprobe cells → dedup on ids BEFORE gathering embeddings
      val pairs = probed.join(assigned, Seq("bucket"))
        .filter(col("q_id") =!= col("c_id"))
        .groupBy(col("q_id"), col("c_id"))
        .agg(min(col("bucket")).as("bucket"))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val (c, cosCol, qx) = mode match {
        case "float" =>
          (e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb")),
            expr("graft_cosine(q_emb, c_emb)"), q)
        case "int8" =>
          (int8Codes(e), expr("graft_cosine_i8(q_emb, c_q)"), q)
        case "pq" =>
          // second bounded driver one-off beside the coarse centroids:
          // the per-subspace codebook (cost doc'd at pqCodebook)
          val (cb, kEff) = pqCodebook(e, PqM, PqK, KmeansIters)
          val cbLit = lit(cb)
          // classic ADC: the per-query lookup table rides the
          // BROADCAST side (materialized once per query in the hash
          // relation), so scoring a candidate is m table adds, not
          // m*dsub multiply-adds
          // the code frame is MATERIALIZED once — c_code is referenced
          // exactly once downstream, so CollapseProject would otherwise
          // inline the encode kernel into the pair projection and
          // re-encode every candidate once PER MATCHING QUERY (the
          // minhash-bands lesson); materializing is also the honest
          // semantics — this frame IS the serving index sink_ann_index
          // persists
          (e.select(col("vec_id").as("c_id"),
            call_function("graft_pq_encode",
              col("embedding"), cbLit, lit(PqM), lit(kEff)).as("c_code"))
            .localCheckpoint(),
            call_function("graft_pq_cos_t",
              col("qt"), col("c_code"), cbLit, lit(PqM), lit(kEff)),
            q.withColumn("qt", call_function("graft_pq_table",
              col("q_emb"), cbLit, lit(PqM), lit(kEff))))
      }
      val scored = pairs.join(broadcast(qx), Seq("q_id")).join(c, Seq("c_id"))
        .withColumn("cos", round(cosCol, 6))
      // PQ paths re-rank: ADC distances are approximations whose
      // recall CEILING on structure-less data is well under the serve
      // bound (measured 0.22 @ sf1 for brute-force ADC), so the ADC
      // pass only SHORTLISTS [[RerankK]] candidates per query and the
      // exact float kernel re-scores the shortlist — the published
      // refine/IVFADC+R architecture (Jégou et al. 2011 §V; FAISS
      // IndexRefineFlat). Cost: the shortlist is ≤ queries·RerankK
      // SKINNY rows, broadcast against one more embedding scan — the
      // corpus-sized side still only ever carries PQ codes.
      val finalScored = mode match {
        case "pq" =>
          val shortlist = graft.plans.TopK.perKey(scored, Seq("q_id"),
              Seq("cos" -> graft.plans.TopK.Desc,
                "c_id" -> graft.plans.TopK.Asc), rerankK, "adc_rk")
            .select(col("q_id"), col("c_id"), col("bucket"))
          val cf = e.select(col("vec_id").as("c_id"),
            col("embedding").as("c_emb"))
          cf.join(broadcast(shortlist.join(broadcast(q), Seq("q_id"))),
              Seq("c_id"))
            .withColumn("cos", round(expr("graft_cosine(q_emb, c_emb)"), 6))
        case _ => scored
      }
      // final ranking via the two-phase TopKPerKey heap operator (k rows
      // per key reach the shuffle), same path ann_cosine_topk uses
      graft.plans.TopK.perKey(finalScored, Seq("q_id"),
          Seq("cos" -> graft.plans.TopK.Desc, "c_id" -> graft.plans.TopK.Asc), 3)
        .select(col("q_id"), col("bucket").cast("long").as("bucket"),
          col("c_id"), col("cos"), col("rk"))
  }

  /** ADC shortlist width for the exact re-rank stage of the PQ
    * serving paths (ann_pq / ann_ivf_pq / ann_filtered): the ADC pass
    * keeps the top RerankK candidates per query, the float kernel
    * re-scores exactly those (the shortlist only needs to CONTAIN the
    * true top-k, not rank it). Sized from the measured rerank_curve
    * at sf1 on the structure-less worst case (BENCH_sf1.json): IVFADC
    * recall@3 climbs 0.53 → 0.60 → 0.70 → 0.73 at rk ∈ {32, 64, 128,
    * 256} and 0.73 IS the probe ceiling (ann_ivf's own recall — the
    * remaining misses are cells never probed, which no rerank width
    * recovers), so 256 sits exactly at the knee. Cost stays bounded
    * by queries·RerankK skinny float rows. Priced by a one-off sweep
    * main whose source git history keeps (one session, all three PQ
    * paths, rk ∈ {64,128,256}, medians of 3): the width's marginal
    * cost is WITHIN NOISE at both sf0.1 and sf1 (sf1 medians rk64 →
    * rk256: ann_pq 2.01 → 1.78 s, ann_ivf_pq 3.17 → 3.11 s,
    * ann_filtered 3.04 → 3.25 s) while recall climbs
    * 0.78 → 0.96 / 0.60 → 0.733 / 0.80 → 0.933 — the r14 prev-jar
    * bench deltas attributed to this dial were box noise, not rerank
    * cost (BENCH_sf1.json carries the sweep).
    */
  val RerankK = 256

  private val opIvf = Op("ann_ivf", (s, dir) => ivfRank(s, dir, "float"), None)

  // the full 100 TB serving story: IVF pruning AND an int8 candidate
  // store — probes identical to ann_ivf, final scoring asymmetric
  private val opIvfQuant = Op(
    "ann_ivf_quantized",
    (s, dir) => ivfRank(s, dir, "int8"),
    None)

  // IVFADC (Jégou 2011): IVF pruning AND PQ codes — the repo's serving
  // ladder completed. ann_pq brute-forces all codes per query; this
  // variant scores ONLY probed-cell candidates through the same ADC
  // kernel, so per-query cost is ~Rep·nprobe/k of the corpus at
  // PqM bytes per candidate. Rows-only (Lloyd isn't portable SQL);
  // the recall spec vs float IVF is the correctness bound.
  private val opIvfPq = Op(
    "ann_ivf_pq",
    (s, dir) => ivfRank(s, dir, "pq"),
    None)

  /** The metadata predicate ann_filtered serves under (every real
    * RAG/serving stack filters by source/date/language WHILE ranking);
    * a plain comparison so it reaches the parquet scan as a pushed
    * filter.
    */
  val FilteredPred: org.apache.spark.sql.Column = col("label") <= 4

  /** Filtered serving probes nprobeFor(k) x this: with predicate selectivity
    * s the probed cells hold ~s x the usual candidates, so ~1/s more
    * cells restore the candidate volume (the standard over-probe move
    * of filtered vector search). FilteredPred keeps ~half the corpus
    * -> boost 2.
    */
  val FilterProbeBoost = 2

  // filtered ANN serving: IVFADC probing composed with a metadata
  // predicate that prunes candidates BEFORE ADC scoring (see the
  // candPred branch in ivfRank — semi-join below the heap, predicate
  // pushed into the candidate scan). Rows-only; specs assert every
  // result satisfies the predicate, recall vs exact FILTERED
  // brute-force, and the filter's position below the heap in the plan.
  private val opFiltered = Op(
    "ann_filtered",
    (s, dir) => ivfRank(s, dir, "pq", Some(FilteredPred), FilterProbeBoost),
    None)

  // ---- dedup_embed: embedding-cosine near-duplicate detection ----
  // SCALE-FREE random-hyperplane LSH bucketing: EmbBands bands of
  // `bits` sign bits each, where bits = len(bin(n / EmbTargetBucket))
  // — the bucket count grows ∝ n so the expected bucket stays
  // ~EmbTargetBucket vectors wide and pair volume stays LINEAR in n
  // (the old fixed-10 `label` buckets made Σ bucket² ≈ n²/10).
  // Hyperplane components come from a deterministic integer formula
  // evaluated identically in the Spark plan (explicit codegen columns)
  // and the DuckDB oracle, so the sign bits — and the hash — agree
  // bit-for-bit. A cos≥0.8 pair collides with a band w.p.
  // (1-θ/π)^bits ≈ 0.32 at bits=5; 4 bands put LSH recall ≈ 0.79,
  // and near-identical pairs (the dedup target, θ≈0) collide w.p. ≈ 1.
  val EmbBands = 4
  val EmbMaxBits = 24
  val EmbTargetBucket = 16L
  val EmbDim = 64

  private[graft] def embBits(n: Long): Int =
    math.min(EmbMaxBits,
      java.lang.Long.toBinaryString(math.max(n / EmbTargetBucket, 1L)).length)

  /** LSH candidate pairs (va < vb), deduped across bands. Band keys
    * come from the native graft_lsh_keys kernel (plans.LshBandKeys):
    * hyperplane components are the deterministic integer formula the
    * oracle evaluates inline, the whole key build is one codegen'd
    * Java loop per row.
    */
  private[graft] def lshCandidatePairs(e: DataFrame, bits: Int): DataFrame = {
    val bandRows = e
      .withColumn("keys",
        expr(s"graft_lsh_keys(embedding, $EmbBands, $EmbMaxBits, $bits)"))
      .select(col("vec_id"),
        posexplode(col("keys")).as(Seq("j", "band_key")))
    bandRows.as("x")
      .join(bandRows.as("y"),
        col("x.j") === col("y.j") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("va"), col("y.vec_id").as("vb"))
      .distinct()
  }

  private[graft] def nearDupCounts(e: DataFrame, threshold: Double,
      bits: Int): DataFrame = {
    val cand = lshCandidatePairs(e, bits)
    val a = e.select(col("vec_id").as("va"), col("embedding").as("q_emb"))
    val b = e.select(col("vec_id").as("vb"), col("embedding").as("c_emb"))
    val half = cand.join(a, Seq("va")).join(b, Seq("vb"))
      .withColumn("cos", round(expr("graft_cosine(q_emb, c_emb)"), 6))
    val both = half.select(col("va").as("vec_id"), col("cos"))
      .union(half.select(col("vb").as("vec_id"), col("cos")))
    val counts = both.groupBy(col("vec_id"))
      .agg(sum(when(col("cos") >= threshold, 1L).otherwise(0L)).as("n_near"),
        max(col("cos")).as("max_cos"))
    // vectors with no candidate pairs keep the -1.0 sentinel instead of
    // silently dropping from the output
    e.select(col("vec_id"))
      .join(counts, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        coalesce(col("max_cos"), lit(-1.0)).as("max_cos"))
  }

  private val opEmbedDedup = Op(
    "dedup_embed",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      nearDupCounts(e, 0.8, embBits(e.count()))
    },
    Some(s"""
      WITH params AS (
        SELECT LEAST(length(bin(GREATEST(COUNT(*) // $EmbTargetBucket, 1))), $EmbMaxBits) AS bits
        FROM embeddings),
      e AS (
        SELECT vec_id, embedding,
          sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in embedding])) AS norm
        FROM embeddings),
      dots AS (
        SELECT vec_id, j, l,
          list_sum([CAST(embedding[i] AS DOUBLE)
                    * CAST((((((j*$EmbMaxBits + l)*127 + i)*48271 % 2147483647)
                             * (((j*$EmbMaxBits + l)*127 + i)*48271 % 2147483647))
                            % 2147483647) % 1001 - 500 AS DOUBLE)
                    for i in generate_series(1, $EmbDim)]) AS dot
        FROM e, UNNEST(generate_series(0, ${EmbBands - 1})) AS jj(j),
             params, UNNEST(generate_series(0, bits - 1)) AS ll(l)),
      keys AS (
        SELECT vec_id, j,
          SUM(CASE WHEN dot >= 0 THEN CAST(1 AS BIGINT) << l ELSE 0 END) AS band_key
        FROM dots GROUP BY 1, 2),
      cand AS (
        SELECT DISTINCT x.vec_id AS va, y.vec_id AS vb
        FROM keys x JOIN keys y
          ON x.j = y.j AND x.band_key = y.band_key AND x.vec_id < y.vec_id),
      scored AS (
        SELECT va, vb,
          ROUND(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
                          for i in generate_series(1, len(a.embedding))])
                / (a.norm * b.norm), 6) AS cos
        FROM cand JOIN e a ON a.vec_id = va JOIN e b ON b.vec_id = vb),
      mirrored AS (
        SELECT va AS vec_id, cos FROM scored
        UNION ALL SELECT vb AS vec_id, cos FROM scored),
      counts AS (
        SELECT vec_id,
          CAST(SUM(CASE WHEN cos >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_near,
          MAX(cos) AS max_cos
        FROM mirrored GROUP BY vec_id)
      SELECT e.vec_id,
        COALESCE(c.n_near, 0) AS n_near,
        COALESCE(c.max_cos, -1.0) AS max_cos
      FROM e LEFT JOIN counts c ON e.vec_id = c.vec_id"""))

  // ---- embed_quantize: int8 vector quantization + error audit ----
  // The ANN serving-memory lever at 100 TB: float32 64-dim vectors are
  // 256 B each; symmetric per-vector int8 (max-abs scale) is 64 B + 8.
  // Entirely narrow — per-row HOFs over 64-element arrays, no shuffle
  // at all (the lambda bodies are cheap column refs, not the inlined-
  // subtree blowup case). Output audits the quantization: scale,
  // quantized range, and reconstruction MSE.
  private val opQuantize = Op(
    "embed_quantize",
    (s, dir) => {
      Tables(s, dir, "embeddings")
        .withColumn("maxabs", expr(
          "aggregate(embedding, 0D, (a, x) -> greatest(a, abs(cast(x AS double))))"))
        .withColumn("scale", col("maxabs") / 127.0)
        .withColumn("q", expr(
          "CASE WHEN maxabs = 0D THEN transform(embedding, x -> 0) " +
            "ELSE transform(embedding, x -> cast(round(cast(x AS double) / scale, 0) AS int)) END"))
        .select(col("vec_id"), round(col("scale"), 6).as("scale"),
          expr("cast(aggregate(q, 2147483647, (a, x) -> least(a, x)) AS bigint)").as("q_min"),
          expr("cast(aggregate(q, -2147483648, (a, x) -> greatest(a, x)) AS bigint)").as("q_max"),
          round(expr(
            "aggregate(zip_with(embedding, q, (x, v) -> " +
              "(cast(x AS double) - v * scale) * (cast(x AS double) - v * scale)), " +
              "0D, (a, x) -> a + x)") / size(col("embedding")), 9).as("mse"))
    },
    Some("""
      WITH e AS (
        SELECT vec_id, embedding,
          list_max([abs(CAST(x AS DOUBLE)) for x in embedding]) AS maxabs
        FROM embeddings),
      q AS (
        SELECT vec_id, embedding, maxabs, maxabs / 127.0 AS scale,
          CASE WHEN maxabs = 0 THEN [0 for x in embedding]
            ELSE [CAST(ROUND(CAST(x AS DOUBLE) / (maxabs / 127.0)) AS INT)
                  for x in embedding] END AS qv
        FROM e)
      SELECT vec_id, ROUND(scale, 6) AS scale,
        CAST(list_min(qv) AS BIGINT) AS q_min,
        CAST(list_max(qv) AS BIGINT) AS q_max,
        ROUND(list_sum([(CAST(embedding[i] AS DOUBLE) - qv[i] * scale)
                        * (CAST(embedding[i] AS DOUBLE) - qv[i] * scale)
                        for i in generate_series(1, len(embedding))])
              / len(embedding), 9) AS mse
      FROM q"""))

  // ---- ann_quantized: int8 serving path for ANN ----
  // The memory story embed_quantize exists for, closed end-to-end: the
  // candidate side is stored as int8 codes (4× smaller — the difference
  // between an in-memory and a spilling ANN index at 100 TB), queries
  // stay float, and ranking runs ASYMMETRIC cosine via the native
  // graft_cosine_i8 kernel. A per-vector symmetric scale cancels in
  // cosine, so the serving index never materializes scales or
  // reconstructed floats — codes in, ranks out. Same broadcast-queries
  // + two-phase TopKPerKey shape as ann_cosine_topk; the only loss is
  // int8 rounding, bounded by the recall spec (≥ 0.9 vs the float path).
  /** int8 code store: the symmetric max-abs quantization embed_quantize
    * audits, materialized as (c_id, c_q) for serving.
    */
  private[graft] def int8Codes(e: DataFrame): DataFrame =
    e.withColumn("maxabs", expr(
        "aggregate(embedding, 0D, (a, x) -> greatest(a, abs(cast(x AS double))))"))
      .select(col("vec_id").as("c_id"), expr(
        "CASE WHEN maxabs = 0D THEN transform(embedding, x -> 0) " +
          "ELSE transform(embedding, x -> " +
          "cast(round(cast(x AS double) / (maxabs / 127.0), 0) AS int)) END")
        .as("c_q"))

  private val opQuantAnn = Op(
    "ann_quantized",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      // code frame materialized once: c_q is referenced once, so the
      // int8 quantization (interpreted HOF transform) would otherwise
      // inline into the pair projection and re-run per matching query
      val scored = int8Codes(e).localCheckpoint()
        .join(broadcast(q), col("q_id") =!= col("c_id"))
        .withColumn("cos", round(expr("graft_cosine_i8(q_emb, c_q)"), 6))
      graft.plans.TopK.perKey(scored, Seq("q_id"),
          Seq("cos" -> graft.plans.TopK.Desc, "c_id" -> graft.plans.TopK.Asc), 5)
        .select(col("q_id"), col("c_id"), col("cos"), col("rk"))
    },
    // SQL-oracle-able because the whole serving path is: the int8
    // codes are the embed_quantize formula, and the asymmetric cosine
    // is a plain dot product over them (scale cancelled)
    Some("""
      WITH e AS (
        SELECT vec_id, embedding,
          list_max([abs(CAST(x AS DOUBLE)) for x in embedding]) AS maxabs
        FROM embeddings),
      c AS (
        SELECT vec_id AS c_id,
          CASE WHEN maxabs = 0 THEN [0 for x in embedding]
            ELSE [CAST(ROUND(CAST(x AS DOUBLE) / (maxabs / 127.0)) AS INT)
                  for x in embedding] END AS cq
        FROM e),
      q AS (SELECT vec_id AS q_id, embedding AS q_emb
            FROM embeddings WHERE vec_id < 10),
      s AS (
        SELECT q_id, c_id,
          ROUND(list_sum([CAST(q_emb[i] AS DOUBLE) * CAST(cq[i] AS DOUBLE)
                          for i in generate_series(1, len(q_emb))])
            / (sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in q_emb]))
               * sqrt(list_sum([CAST(y AS DOUBLE) * CAST(y AS DOUBLE) for y in cq]))),
            6) AS cos
        FROM q, c WHERE c_id <> q_id),
      r AS (SELECT q_id, c_id, cos,
              CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS BIGINT) AS rk
            FROM s)
      SELECT q_id, c_id, cos, rk FROM r WHERE rk <= 5"""))

  // ---- ann_pq: product-quantized serving path ----
  // The deepest rung of the serving-memory ladder (float 256 B → int8
  // 64 B → PQ [[PqM]] B per vector: 32×): each vector is replaced by
  // m nearest-subspace-centroid ids and queries rank candidates by ADC
  // cosine straight from the codebook (Jégou et al., TPAMI 2011). At
  // 100 TB this is what makes a RAM-resident index possible at all —
  // 10^12 vectors × 8 B = 8 TB across a 1000-executor fleet.
  //
  // Scale shape: codebook training is a bounded driver one-off on the
  // SAME deterministic hash-ordered sample the IVF trainer uses
  // (cost ≤ sample·k·dim·iters = 65536·256·64·3 ≈ 3×10⁹ mult-adds —
  // ~40× cheaper than ann_ivf's documented bound); encoding is one
  // NARROW kernel pass; serving is the ann_quantized plan with codes
  // in place of int8 vectors (broadcast queries → codegen ADC →
  // two-phase TopKPerKey). Rows-only: Lloyd iterations are not
  // portable SQL — the recall-vs-exact spec is the correctness bound.
  val PqM = 8
  val PqK = 256

  /** Flat subspace-major codebook from plain-L2 Lloyd per subspace on
    * the bounded sample; returns (codebook, effective k) — k shrinks
    * to the sample size on tiny inputs so centroids stay distinct.
    */
  private[graft] def pqCodebook(
      e: DataFrame, m: Int, k: Int, iters: Int): (Array[Float], Int) = {
    val sample = e.withColumn("h", xxhash64(col("vec_id")))
      .orderBy(col("h")).limit(KmeansSampleCap)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    val dim = sample.headOption.map(_.length).getOrElse(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    val kEff = math.max(1, math.min(k, sample.length))
    val cb = new Array[Float](m * kEff * dsub)
    // subspaces are INDEPENDENT Lloyd problems writing disjoint cb
    // slices — train them in parallel on the driver (the m-way split
    // is the natural axis; per-subspace work stays sequential, so the
    // codebook is bit-identical to the sequential build). This is the
    // op's dominant cost once ADC scoring uses the per-query table:
    // iters·n·k·dsub ≈ 10⁹ double ops at the sample cap, single-
    // threaded before.
    java.util.stream.IntStream.range(0, m).parallel().forEach { j =>
      trainSubspace(sample, cb, j, dsub, kEff, iters)
    }
    (cb, kEff)
  }

  private def trainSubspace(sample: Array[Array[Double]],
      cb: Array[Float], j: Int, dsub: Int, kEff: Int, iters: Int): Unit = {
    {
      val subs = sample.map(v => v.slice(j * dsub, (j + 1) * dsub))
      var cents = subs.take(kEff).map(_.clone())
      for (_ <- 1 to iters) {
        val sums = Array.fill(cents.length)(new Array[Double](dsub))
        val counts = new Array[Long](cents.length)
        subs.foreach { u =>
          var best = 0
          var bestD = Double.MaxValue
          var c = 0
          while (c < cents.length) {
            var d = 0.0
            var i = 0
            while (i < dsub) {
              val diff = u(i) - cents(c)(i); d += diff * diff; i += 1
            }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          var i = 0
          while (i < dsub) { sums(best)(i) += u(i); i += 1 }
          counts(best) += 1
        }
        cents = cents.zipWithIndex.map { case (old, c) =>
          if (counts(c) == 0) old else sums(c).map(_ / counts(c))
        }
      }
      for (c <- 0 until kEff; i <- 0 until dsub)
        cb((j * kEff + c) * dsub + i) = cents(c)(i).toFloat
    }
  }

  /** ann_pq's body: PQ-coded brute-force ADC, then an exact float
    * re-rank of each query's [[RerankK]] shortlist. */
  private[graft] def pqRank(s: SparkSession, dir: String): DataFrame = {
      val e = Tables(s, dir, "embeddings")
      val (cb, kEff) = pqCodebook(e, PqM, PqK, KmeansIters)
      val cbLit = lit(cb)
      // materialized once: c_code is referenced once downstream, and
      // CollapseProject would otherwise inline the encode kernel into
      // the scoring projection — re-encoding every candidate once per
      // query (10x) through the broadcast join
      val codes = e.select(col("vec_id").as("c_id"),
        call_function("graft_pq_encode",
          col("embedding"), cbLit, lit(PqM), lit(kEff)).as("c_code"))
        .localCheckpoint()
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        // ADC table on the broadcast side: m adds per candidate
        .withColumn("qt", call_function("graft_pq_table",
          col("q_emb"), cbLit, lit(PqM), lit(kEff)))
      val scored = codes.join(broadcast(q), col("q_id") =!= col("c_id"))
        .withColumn("cos", round(call_function("graft_pq_cos_t",
          col("qt"), col("c_code"), cbLit, lit(PqM), lit(kEff)), 6))
      // ADC shortlist → exact float re-rank (the refine stage — see
      // ivfRank's pq branch for the architecture note): the full-corpus
      // scan still touches only PQ codes; float embeddings are read
      // once more for the ≤ queries·RerankK shortlist rows only
      val shortlist = graft.plans.TopK.perKey(scored, Seq("q_id"),
          Seq("cos" -> graft.plans.TopK.Desc,
            "c_id" -> graft.plans.TopK.Asc), RerankK, "adc_rk")
        .select(col("q_id"), col("c_id"))
      val cf = e.select(col("vec_id").as("c_id"),
        col("embedding").as("c_emb"))
      val reranked = cf.join(broadcast(
          shortlist.join(broadcast(q.select(col("q_id"), col("q_emb"))),
            Seq("q_id"))), Seq("c_id"))
        .withColumn("cos", round(expr("graft_cosine(q_emb, c_emb)"), 6))
      graft.plans.TopK.perKey(reranked, Seq("q_id"),
          Seq("cos" -> graft.plans.TopK.Desc, "c_id" -> graft.plans.TopK.Asc), 5)
        .select(col("q_id"), col("c_id"), col("cos"), col("rk"))
  }

  private val opPq = Op("ann_pq", (s, dir) => pqRank(s, dir), None)

  // ---- dedup_semantic: SemDeDup cluster-then-prune embedding dedup ----
  // The published semantic-dedup recipe (Abbas et al. 2023, SemDeDup):
  // k-means the embedding space, then compare pairs ONLY within a
  // cluster and drop all but one of each cosine-similar group. Differs
  // from dedup_embed in WHAT it finds: hyperplane LSH catches
  // near-identical vectors (θ ≈ 0); cluster-scoped comparison catches
  // semantic duplicates well below LSH collision range, because cluster
  // membership — not a hash collision — is the candidate generator.
  //
  // Scale shape: centroids are the bounded driver one-off shared with
  // ann_ivf (k ∝ √n capped, sampled Lloyd); assignment is the shared
  // narrow argmax fold (Cluster.assignFold — no join, no ×k row
  // materialization); embeddings are gathered back once (the one
  // embedding-carrying exchange); the within-cluster self-join is
  // bounded by sub-splitting oversized clusters on xxhash64(vec_id)
  // (the simhash adaptive-salt move) — expected cluster width is
  // n/k ∝ √n, but a degenerate corpus (all vectors alike) would
  // otherwise make one cluster O(n) and the join O(n²). Keeper rule:
  // a vector is dropped iff a SMALLER-id vector in its (cluster,
  // sub-bucket) is cosine-similar at ≥ [[SemTau]] — greedy
  // lowest-id-wins, deterministic, no iterative components needed
  // (transitive chains are dedup_cluster's job).
  val SemTau = 0.8
  val SemMaxCluster = 256L

  private[graft] def semanticDedup(e: DataFrame, k: Int): DataFrame = {
    val cents = kmeansCentroids(e, k, KmeansIters)
    // skinny (vec_id, cluster) rows, consumed by BOTH the pair path and
    // the final output join — checkpointed so the assignment scan above
    // it runs once, not once per consumer (the dedup_minhash
    // shared-frame lesson: repartition would also re-run it, and carry
    // whatever columns pruning can't push below the exchange).
    // Assignment itself is the shared narrow argmax fold
    // (Cluster.assignFold) — no join, no ×k row materialization.
    val assigned = Cluster.assign(e, cents)
      .select(col("vec_id"), col("cluster"))
      .localCheckpoint()
    // sub-split oversized clusters so the self-join never goes O(n²):
    // populations via a SKINNY groupBy aggregate (map-side partial
    // combine, parallel across tasks) broadcast back onto the
    // assignment frame — NOT count().over(partitionBy(cluster)), which
    // buffers an entire cluster's rows in one window task: on the
    // degenerate corpus this path exists for (all vectors alike), the
    // largest cluster is O(n) rows and that single task spills before
    // the sub-split salt it feeds can even be computed. The aggregate
    // output is ≤ k ≤ KmeansMaxK = 4096 rows — statically broadcast-safe.
    val clusterSizes =
      assigned.groupBy(col("cluster")).agg(count(lit(1)).as("cn"))
    val sized = assigned.join(broadcast(clusterSizes), Seq("cluster"))
      .withColumn("salt",
        when(col("cn") > SemMaxCluster,
          pmod(xxhash64(col("vec_id")),
            ceil(col("cn") / SemMaxCluster).cast("long")))
          .otherwise(lit(0L)))
      .select(col("vec_id"), col("cluster"), col("salt"))
    val withEmb = sized.join(e, Seq("vec_id"))
    val pairs = withEmb.as("x")
      .join(withEmb.as("y"),
        col("x.cluster") === col("y.cluster") &&
          col("x.salt") === col("y.salt") &&
          col("x.vec_id") < col("y.vec_id"))
      .withColumn("cos",
        round(expr("graft_cosine(x.embedding, y.embedding)"), 6))
      .filter(col("cos") >= SemTau)
      .select(col("x.vec_id").as("va"), col("y.vec_id").as("vb"), col("cos"))
    // per-vector fold: n_sim over both pair ends; dropped iff similar
    // to a smaller id (the y side of any surviving pair)
    val ends = pairs
      .select(col("vb").as("vec_id"), lit(1L).as("smaller"), col("cos"))
      .union(pairs.select(col("va").as("vec_id"), lit(0L).as("smaller"),
        col("cos")))
    val per = ends.groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_sim"), max(col("cos")).as("max_cos"),
        max(col("smaller")).as("dropped"))
    assigned.join(per, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"),
        coalesce(col("n_sim"), lit(0L)).as("n_sim"),
        coalesce(col("max_cos"), lit(-1.0)).as("max_cos"),
        (lit(1L) - coalesce(col("dropped"), lit(0L))).as("keep"))
  }

  private val opSemDedup = Op(
    "dedup_semantic",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      semanticDedup(e, ivfK(e.count()))
    },
    None)

  // ---- mine_bitext: margin-based parallel-pair mining ----
  // The CCMatrix/LASER bitext-mining step over the reference's own
  // data shape (reference datasets/parse.py:20-31 — en-zh / en-fr
  // aligned corpora; opus_short_outputs_*): candidate translation
  // pairs between a SOURCE and a TARGET embedding side, scored by the
  // RATIO margin of Artetxe & Schwenk 2019 ("Margin-based Parallel
  // Corpus Mining with Multilingual Sentence Embeddings"):
  //
  //   margin(x, y) = cos(x, y) / (avgTopK(x) / 2 + avgTopK(y) / 2)
  //
  // — a hub sentence y that is moderately close to EVERYTHING carries
  // a large avgTopK(y) denominator and loses to the genuine pair even
  // at equal raw cosine (the hubness failure cosine thresholds have).

  /** Neighbor-pool size for the margin denominators (the k of
    * mean-of-top-k; Artetxe & Schwenk use 4). */
  val MineK = 4

  /** Accept threshold on the ratio margin. Structure-less pairs score
    * ≈ 1 (best cosine ≈ pool mean); genuine translations score well
    * above (their cosine dominates both pools). 1.2 is in the range
    * the paper's BUCC tuning lands on. */
  val MineThreshold = 1.2

  /** Margin scoring + forward best-match over a PRE-BUILT candidate
    * frame (s_id, t_id, cos). Pools are the top-[[MineK]] cosines per
    * side OF THE CANDIDATE FRAME — the standard index-retrieved
    * approximation of the true k-NN pool (CCMatrix mines margins over
    * FAISS candidates, not exact neighborhoods). Both pool builds and
    * the final best-match run through the bounded TopKPerKey heap, so
    * only k rows per key reach any shuffle.
    */
  /** Backward pool means (mean of top-[[MineK]] cosines per TARGET)
    * — the hub-correction denominators; persisted by
    * sources.BitextIndex so a stream miner never re-pools history. */
  private[graft] def bwdPool(scored: DataFrame): DataFrame = {
    import graft.plans.TopK
    TopK.perKey(scored, Seq("t_id"),
        Seq("cos" -> TopK.Desc, "s_id" -> TopK.Asc), MineK)
      .groupBy(col("t_id")).agg(avg(col("cos")).as("t_avg"))
  }

  private[graft] def mineBitextScored(scored: DataFrame): DataFrame = {
    import graft.plans.TopK
    val fwd = TopK.perKey(scored, Seq("s_id"),
        Seq("cos" -> TopK.Desc, "t_id" -> TopK.Asc), MineK)
      .groupBy(col("s_id")).agg(avg(col("cos")).as("s_avg"))
    val bwd = bwdPool(scored)
    val margins = scored.join(fwd, Seq("s_id")).join(bwd, Seq("t_id"))
      .withColumn("margin",
        when(col("s_avg") + col("t_avg") > 0,
          round(col("cos") * 2.0 / (col("s_avg") + col("t_avg")), 6))
          .otherwise(lit(0.0)))
    TopK.perKey(margins, Seq("s_id"),
        Seq("margin" -> TopK.Desc, "t_id" -> TopK.Asc), 1)
      .select(col("s_id"), col("t_id"), col("cos"), col("margin"),
        when(col("margin") > MineThreshold, 1L).otherwise(0L).as("accepted"))
  }

  /** End-to-end mining: cross-side LSH banding generates the candidate
    * pairs (the dedup_embed hyperplane kernel on BOTH sides, joined on
    * (band, key) — pair volume stays linear in n via the adaptive bit
    * count, never all-pairs), cosine-scored once, then margin-ranked.
    * Sources with no candidate in any shared bucket still emit a row
    * (t_id −1, margin 0) so the output is one decision per source
    * sentence. At 100 TB the candidate stage swaps LSH for the
    * persisted IVF index (sink_ann_index) unchanged above the
    * (s_id, t_id, cos) seam.
    */
  /** LSH band rows of one embedding side — shared by the in-line
    * miner and the persisted bitext index (sources.BitextIndex). */
  private[graft] def mineBandRows(e: DataFrame, idName: String,
      bits: Int): DataFrame = {
    e.withColumn("keys",
        expr(s"graft_lsh_keys(embedding, $EmbBands, $EmbMaxBits, $bits)"))
      .select(col("vec_id").as(idName),
        posexplode(col("keys")).as(Seq("j", "band_key")))
  }

  /** Candidate generation + cosine scoring (the seam the 100 TB path
    * swaps for the persisted IVF index): LSH-banded pairs, distinct,
    * scored once. */
  private[graft] def mineScored(src: DataFrame, tgt: DataFrame,
      bits: Int): DataFrame = {
    val cand = mineBandRows(src, "s_id", bits)
      .join(mineBandRows(tgt, "t_id", bits), Seq("j", "band_key"))
      .select(col("s_id"), col("t_id")).distinct()
    cand
      .join(src.select(col("vec_id").as("s_id"), col("embedding").as("q_emb")),
        Seq("s_id"))
      .join(tgt.select(col("vec_id").as("t_id"), col("embedding").as("c_emb")),
        Seq("t_id"))
      .withColumn("cos", round(expr("graft_cosine(q_emb, c_emb)"), 6))
      .select(col("s_id"), col("t_id"), col("cos"))
  }

  private[graft] def mineBitext(src: DataFrame, tgt: DataFrame,
      bits: Int): DataFrame = {
    // scored once, consumed three times (fwd pool, bwd pool, margin
    // join) — pin the skinny frame (same single-box note as
    // simhashPairs; a cluster run persists instead). LAZY (r19): the
    // plan truncates at construction and the blocks materialize inside
    // the final query's own job — the first consumer computes and
    // persists each partition, the other two read the blocks, and the
    // stand-alone materialization job is gone (guide §5).
    val scored = mineScored(src, tgt, bits).localCheckpoint(eager = false)
    src.select(col("vec_id").as("s_id"))
      .join(mineBitextScored(scored), Seq("s_id"), "left")
      .select(col("s_id"),
        coalesce(col("t_id"), lit(-1L)).as("t_id"),
        coalesce(col("cos"), lit(-1.0)).as("cos"),
        coalesce(col("margin"), lit(0.0)).as("margin"),
        coalesce(col("accepted"), lit(0L)).as("accepted"))
  }

  // even vec_ids play the source language, odd the target — the
  // deterministic stand-in for parse.py's two aligned files. Full
  // oracle since r17: the r16 LSH-formula precedent (dedup_embed's
  // oracle evaluates the graft_lsh_keys integer formula inline) makes
  // the candidate stage portable SQL, and the margin pools are plain
  // ROW_NUMBER windows over it — TopK.perKey is row_number-style
  // (strict 1..k with the (cos desc, id asc) tie-break), which is
  // exactly what the oracle's windows replay. The hand fixture still
  // pins planted pairs + hub demotion; the plan spec bounded pools.
  private val opMineBitext = Op(
    "mine_bitext",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      mineBitext(
        e.filter(col("vec_id") % 2 === 0),
        e.filter(col("vec_id") % 2 === 1),
        embBits(e.count() / 2))
    },
    Some(s"""
      WITH params AS (
        SELECT LEAST(length(bin(GREATEST((COUNT(*) // 2) // $EmbTargetBucket,
          1))), $EmbMaxBits) AS bits
        FROM embeddings),
      e AS (
        SELECT vec_id, embedding,
          sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                         for x in embedding])) AS norm
        FROM embeddings),
      dots AS (
        SELECT vec_id, j, l,
          list_sum([CAST(embedding[i] AS DOUBLE)
                    * CAST((((((j*$EmbMaxBits + l)*127 + i)*48271 % 2147483647)
                             * (((j*$EmbMaxBits + l)*127 + i)*48271 % 2147483647))
                            % 2147483647) % 1001 - 500 AS DOUBLE)
                    for i in generate_series(1, $EmbDim)]) AS dot
        FROM e, UNNEST(generate_series(0, ${EmbBands - 1})) AS jj(j),
             params, UNNEST(generate_series(0, bits - 1)) AS ll(l)),
      keys AS (
        SELECT vec_id, j,
          SUM(CASE WHEN dot >= 0 THEN CAST(1 AS BIGINT) << l ELSE 0 END)
            AS band_key
        FROM dots GROUP BY 1, 2),
      cand AS (
        SELECT DISTINCT x.vec_id AS s_id, y.vec_id AS t_id
        FROM keys x JOIN keys y ON x.j = y.j AND x.band_key = y.band_key
        WHERE x.vec_id % 2 = 0 AND y.vec_id % 2 = 1),
      scored AS (
        SELECT s_id, t_id,
          ROUND(list_sum([CAST(a.embedding[i] AS DOUBLE)
                          * CAST(b.embedding[i] AS DOUBLE)
                          for i in generate_series(1, len(a.embedding))])
                / (a.norm * b.norm), 6) AS cos
        FROM cand JOIN e a ON a.vec_id = s_id JOIN e b ON b.vec_id = t_id),
      fwd AS (
        SELECT s_id, AVG(cos) AS s_avg FROM (
          SELECT s_id, cos, ROW_NUMBER() OVER
            (PARTITION BY s_id ORDER BY cos DESC, t_id) AS rn
          FROM scored) WHERE rn <= $MineK GROUP BY s_id),
      bwd AS (
        SELECT t_id, AVG(cos) AS t_avg FROM (
          SELECT t_id, cos, ROW_NUMBER() OVER
            (PARTITION BY t_id ORDER BY cos DESC, s_id) AS rn
          FROM scored) WHERE rn <= $MineK GROUP BY t_id),
      margins AS (
        SELECT s.s_id, s.t_id, s.cos,
          CASE WHEN f.s_avg + b.t_avg > 0
            THEN ROUND(s.cos * 2.0 / (f.s_avg + b.t_avg), 6)
            ELSE 0.0 END AS margin
        FROM scored s JOIN fwd f USING (s_id) JOIN bwd b USING (t_id)),
      best AS (
        SELECT s_id, t_id, cos, margin FROM (
          SELECT s_id, t_id, cos, margin, ROW_NUMBER() OVER
            (PARTITION BY s_id ORDER BY margin DESC, t_id) AS rn
          FROM margins) WHERE rn = 1)
      SELECT src.vec_id AS s_id,
        COALESCE(b.t_id, -1) AS t_id,
        COALESCE(b.cos, -1.0) AS cos,
        COALESCE(b.margin, 0.0) AS margin,
        CAST(COALESCE(b.margin > $MineThreshold, FALSE) AS BIGINT)
          AS accepted
      FROM (SELECT vec_id FROM embeddings WHERE vec_id % 2 = 0) src
      LEFT JOIN best b ON b.s_id = src.vec_id"""))

  // ---- ann_range_search: radius query (all neighbors within cos ≥ τ) ----
  // The retrieval primitive top-k can't express: SemDeDup-style "give
  // me EVERYTHING closer than τ" — result size is data-dependent, so
  // no heap bounds it. Exact path mirrors ann_cosine_topk (bounded
  // broadcast query set × one candidate scan, fused codegen cosine)
  // with the FILTER replacing the heap; the predicate tests the
  // UNROUNDED cosine (IEEE-identical cross-engine) so the boundary
  // can't flap against the rounded output column. At an open-ended
  // query set the scan side routes through the LSH band machinery
  // (dedup_embed: pairs within radius collide w.h.p.) or the IVF
  // cells (ann_filtered precedent) — radius pruning composes with
  // both; the exact form here is the oracle-checkable contract.
  val RangeTau = 0.10

  private val opRange = Op(
    "ann_range_search",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val c = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
      c.join(broadcast(q), col("q_id") =!= col("c_id"))
        .withColumn("cos_raw", expr("graft_cosine(q_emb, c_emb)"))
        .filter(col("cos_raw") >= RangeTau)
        .select(col("q_id"), col("c_id"), round(col("cos_raw"), 6).as("cos"))
    },
    Some(s"""
      WITH e AS (
        SELECT vec_id, embedding,
          sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in embedding])) AS norm
        FROM embeddings),
      q AS (SELECT vec_id AS q_id, embedding AS q_emb, norm AS q_norm
            FROM e WHERE vec_id < 10),
      s AS (
        SELECT q_id, e.vec_id AS c_id,
          list_sum([CAST(q_emb[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)
                    for i in generate_series(1, len(q_emb))])
            / (q_norm * e.norm) AS cos_raw
        FROM q, e WHERE e.vec_id <> q_id)
      SELECT q_id, c_id, ROUND(cos_raw, 6) AS cos
      FROM s WHERE cos_raw >= $RangeTau"""))

  // ---- embed_hash: signed feature-hashing text vectors ----
  // The text→vector BRIDGE (plans/HashEmbed.scala — the Weinberger
  // 2009 hashing trick): every embedding-space operator here takes an
  // `embedding` column, and this kernel produces one from raw tokens
  // with no training, no vocabulary, no model store — one narrow
  // codegen'd pass, zero state, the right first rung before a learned
  // encoder and the standard one at 100 TB. Width matches the
  // embeddings table's 64 dims, so hashed text drops into dedup_embed /
  // embed_cluster / ann_* unchanged (the spec proves the composition
  // end-to-end on planted copies). Output follows the mm_embed digest
  // convention — scalar audits + an md5 of the vector's canonical
  // string, never a raw array (the embed_pca driver-compare lesson).
  private val opHashEmbed = Op(
    "embed_hash",
    (s, dir) => {
      graft.Tables(s, dir, "documents")
        .withColumn("embedding",
          expr("graft_hash_embed(split(text, ' '))"))
        .select(col("doc_id").as("vec_id"),
          lit(graft.plans.HashEmbed.Dim.toLong).as("dim"),
          expr("size(filter(embedding, x -> x != 0F))").cast("long")
            .as("nnz"),
          round(expr("aggregate(embedding, 0D, " +
            "(a, x) -> a + cast(x AS double) * cast(x AS double))"), 6)
            .as("norm_sq"),
          md5(concat_ws(",",
            expr("transform(embedding, x -> cast(x AS string))")))
            .as("emb_digest"))
    },
    Some(hashEmbedOracleSql))

  /** embed_hash full oracle (r17): DuckDB replays the hashing trick
    * end-to-end — per-token xxHash64 (the [[graft.plans.OracleSql]]
    * small-input replay; empty tokens skipped exactly as the kernel
    * skips zero-byte strings), bucket = bits 1..6 of the unsigned
    * hash, sign from bit 0, bucket accumulation, L2 normalization
    * THROUGH FLOAT32 (both engines cast the double quotient to float,
    * and both print the float as its shortest round-trip decimal — the
    * digest matches byte-for-byte, verified at sf0.01), nnz/norm_sq
    * audits over the float vector in index order.
    */
  private def hashEmbedOracleSql: String = {
    import graft.plans.{OracleSql => O}
    val dim = graft.plans.HashEmbed.Dim
    s"""
      WITH toks AS (
        SELECT doc_id, t FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS t
          FROM documents)
        WHERE t <> ''
      ), ${O.xxh64Cte("toks", Seq("doc_id"), "t", "hashed", "h", "x")},
      acc AS (
        SELECT doc_id,
          CAST((${O.toUnsigned("h")} // 2) % $dim AS BIGINT) AS b,
          SUM(CASE WHEN h & 1 = 0 THEN 1 ELSE -1 END) AS a
        FROM hashed
        GROUP BY 1, 2
      ), vecs AS (
        SELECT g.doc_id, list(COALESCE(a.a, 0) ORDER BY bb.b) AS v
        FROM (SELECT doc_id FROM documents) g
        CROSS JOIN (SELECT unnest(range($dim)) AS b) bb
        LEFT JOIN acc a ON a.doc_id = g.doc_id AND a.b = bb.b
        GROUP BY g.doc_id
      ), fl AS (
        SELECT doc_id,
          CASE WHEN norm > 0
            THEN [CAST(CAST(x AS DOUBLE) / norm AS FLOAT) for x in v]
            ELSE [CAST(0 AS FLOAT) for x in v] END AS f
        FROM (
          SELECT doc_id, v,
            sqrt(list_sum([CAST(x*x AS DOUBLE) for x in v])) AS norm
          FROM vecs)
      )
      SELECT doc_id AS vec_id, CAST($dim AS BIGINT) AS dim,
        CAST(len(list_filter(f, x -> x != 0)) AS BIGINT) AS nnz,
        ROUND(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in f]),
          6) AS norm_sq,
        md5(array_to_string([CAST(x AS VARCHAR) for x in f], ','))
          AS emb_digest
      FROM fl"""
  }

  // ---- embed_audit: embedding-table QC before any index build ----
  // The gate an embedding table passes BEFORE ann_*/embed_cluster ever
  // see it: a single NaN poisons every cosine it touches (NaN
  // comparisons silently drop rows from top-k heaps), a zero-norm
  // vector divides by zero, and a ragged dimension breaks every dot
  // product — all three are produced by real encoder fleets (OOM-
  // truncated batches, fp16 overflow, version-skewed encoders) and
  // none is detectable downstream where the damage is a silently
  // wrong neighbor list. Per label: vector count, dimension min/max
  // (ragged ⟺ min ≠ max), non-finite count, zero-norm count, and
  // norm² min/max/avg in exact micro-units — the per-row float work
  // is ONE aggregate fold + ONE round (the Fns.cents discipline:
  // cross-row sums are BIGINT, order-free), non-finite rows excluded
  // from the norm stats (their norm is meaningless), -1 when a label
  // has no finite rows. One narrow projection + one skinny groupBy.
  /** The audit over a (label, embedding) frame — factored for fixture
    * specs (the corpus is all-finite; NaN/Inf/zero/ragged paths are
    * exercised by planted vectors).
    */
  private[graft] def embedAudit(e: DataFrame): DataFrame =
    e.select(col("label").cast("long").as("label"),
        size(col("embedding")).cast("long").as("dim"),
        expr("""CASE WHEN exists(embedding, x ->
            isnan(CAST(x AS DOUBLE)) OR
            abs(CAST(x AS DOUBLE)) = CAST('Infinity' AS DOUBLE))
          THEN CAST(NULL AS BIGINT)
          ELSE CAST(ROUND(aggregate(embedding, CAST(0 AS DOUBLE),
            (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
            * 1000000) AS BIGINT) END""").as("n2u"))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        min(col("dim")).as("dim_min"),
        max(col("dim")).as("dim_max"),
        sum(when(col("n2u").isNull, 1L).otherwise(0L)).as("n_nonfinite"),
        sum(when(col("n2u") === 0L, 1L).otherwise(0L)).as("n_zero_norm"),
        min(col("n2u")).as("mn"), max(col("n2u")).as("mx"),
        sum(col("n2u")).as("sm"), count(col("n2u")).as("nf"))
      .select(col("label"), col("n_vecs"), col("dim_min"), col("dim_max"),
        col("n_nonfinite"), col("n_zero_norm"),
        coalesce(col("mn"), lit(-1L)).as("min_norm2_u"),
        coalesce(col("mx"), lit(-1L)).as("max_norm2_u"),
        coalesce(expr("CASE WHEN nf = 0 THEN NULL ELSE sm DIV nf END"),
          lit(-1L)).as("avg_norm2_u"))

  private val opEmbedAudit = Op(
    "embed_audit",
    (s, dir) => embedAudit(Tables(s, dir, "embeddings")),
    Some("""
      WITH a AS (
        SELECT CAST(label AS BIGINT) AS label,
          CAST(len(embedding) AS BIGINT) AS dim,
          CASE WHEN len(list_filter(embedding, x ->
              isnan(CAST(x AS DOUBLE)) OR isinf(CAST(x AS DOUBLE)))) > 0
            THEN NULL
            ELSE CAST(ROUND(COALESCE(list_sum([CAST(x AS DOUBLE)
              * CAST(x AS DOUBLE) for x in embedding]), 0)
              * 1000000) AS BIGINT) END AS n2u
        FROM embeddings),
      g AS (
        SELECT label, COUNT(*) AS n_vecs,
          MIN(dim) AS dim_min, MAX(dim) AS dim_max,
          SUM(CASE WHEN n2u IS NULL THEN 1 ELSE 0 END) AS n_nonfinite,
          SUM(CASE WHEN n2u = 0 THEN 1 ELSE 0 END) AS n_zero_norm,
          MIN(n2u) AS mn, MAX(n2u) AS mx, SUM(n2u) AS sm,
          COUNT(n2u) AS nf
        FROM a GROUP BY label)
      SELECT label, CAST(n_vecs AS BIGINT) AS n_vecs,
        dim_min, dim_max,
        CAST(n_nonfinite AS BIGINT) AS n_nonfinite,
        CAST(COALESCE(n_zero_norm, 0) AS BIGINT) AS n_zero_norm,
        CAST(COALESCE(mn, -1) AS BIGINT) AS min_norm2_u,
        CAST(COALESCE(mx, -1) AS BIGINT) AS max_norm2_u,
        CAST(COALESCE(CASE WHEN nf = 0 THEN NULL ELSE sm // nf END, -1)
          AS BIGINT) AS avg_norm2_u
      FROM g"""))

  val ops: Seq[Op] =
    Seq(opBrute, opIvf, opIvfQuant, opIvfPq, opFiltered, opEmbedDedup,
      opQuantize, opQuantAnn, opPq, opSemDedup, opMineBitext, opRange,
      opHashEmbed, opEmbedAudit)
}
