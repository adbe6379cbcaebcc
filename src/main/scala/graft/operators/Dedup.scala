package graft.operators

import graft.{Op, Tables}
import graft.functions.TextFns
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM training-data curation
  * (SURVEY.md §2).
  *
  * Scale design: signatures (simhash, minhash) are pure per-doc
  * functions computed NARROW by native codegen kernels
  * (plans.SignatureKernels) — zero shuffles until the band self-join.
  * (Interpreted HOF lambdas re-evaluate inlined subtrees per element —
  * an O(seeds × shingles) split() blowup observed at bench time — and
  * the explode + wide-agg workaround paid a full shuffle for what was
  * never an aggregation; the kernels are the right rung on the
  * custom-op ladder.) The shuffles that remain carry a small constant
  * × doc count (8 band rows per doc), and the in-bucket self-join
  * never degenerates into a cross product because band keys partition
  * the space — with oversized buckets adaptively sub-split.
  */
object Dedup {

  private def docs(s: SparkSession, dir: String) = Tables(s, dir, "documents")

  /** (doc_id, pos, shingle) rows: 3-token shingles built NARROW — the
    * token array is zipped with its two shifted copies (all codegen'd
    * native array ops) and exploded, so there is no window shuffle and
    * no per-element lambda. Docs shorter than 3 tokens contribute one
    * whole-text shingle (concat_ws skips the null pads).
    */
  private[graft] def shingleRows(d: DataFrame): DataFrame = {
    val n = size(col("toks"))
    d.withColumn("toks", TextFns.tokens(col("text")))
      .withColumn("t1", slice(col("toks"), lit(2), greatest(n - 1, lit(0))))
      .withColumn("t2", slice(col("toks"), lit(3), greatest(n - 2, lit(0))))
      .select(col("doc_id"),
        posexplode(arrays_zip(col("toks"), col("t1"), col("t2")))
          .as(Seq("pos", "z")))
      .filter(col("z.t2").isNotNull || col("pos") === 0)
      .select(col("doc_id"), col("pos"),
        concat_ws(" ", col("z.toks"), col("z.t1"), col("z.t2")).as("shingle"))
  }

  /** Per-doc DISTINCT shingle sets as a NARROW projection
    * (plans.ShingleSetExpr): the old explode → groupBy → collect_set
    * shape reassembled a pure per-row function through a
    * corpus-token-sized exchange. Used by every consumer that wants
    * SETS; [[shingleRows]] stays for per-occurrence multiplicity
    * (contam_ngram) and position carry (dedup_span).
    */
  private[graft] def shingleSets(d: DataFrame): DataFrame = {
    d.withColumn("toks", TextFns.tokens(col("text")))
      .select(col("doc_id"), expr("graft_shingle_set(toks)").as("sset"))
  }

  // ---- dedup_exact: content-hash groupBy (one shuffle) ----
  private val opExact = Op(
    "dedup_exact",
    (s, dir) =>
      docs(s, dir)
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper_id")),
    Some("""
      SELECT md5(text) AS content_hash, COUNT(*) AS n_copies,
        MIN(doc_id) AS keeper_id
      FROM documents GROUP BY 1"""))

  // ---- dedup_soft: down-weighting instead of dropping ----
  // The SoftDeDup move (Anagnostidis et al. 2024 "SoftDedup"; also the
  // D4/RedPajama-v2 practice of carrying duplicate counts as metadata):
  // instead of deleting near/exact copies, keep EVERY row and reweight
  // its sampling mass by 1/n_copies so the training distribution
  // matches the deduplicated one while the loader keeps its choice of
  // which copy to read (locality, shard balance). Exact-hash grouping
  // here (the dedup_exact basis); the weight rides per row, so the op
  // composes under mix_sample's weighted draw. ONE skinny shuffle:
  // only (doc_id, content_hash) reaches the window — text never moves.
  // `eff_mass` sanity: the corpus's total weight equals its distinct
  // content count (Σ_groups n·(1/n) = #groups), which the spec pins.
  private[graft] def softWeights(d: DataFrame): DataFrame = {
    val byHash = org.apache.spark.sql.expressions.Window
      .partitionBy(col("content_hash"))
    d.select(col("doc_id"), md5(col("text")).as("content_hash"))
      .withColumn("n_copies", count(lit(1)).over(byHash))
      .select(col("doc_id"), col("content_hash"), col("n_copies"),
        round(lit(1.0) / col("n_copies"), 6).as("weight"),
        (col("doc_id") === min(col("doc_id")).over(byHash))
          .cast("long").as("is_canonical"))
  }

  private val opSoft = Op(
    "dedup_soft",
    (s, dir) => softWeights(docs(s, dir)),
    Some("""
      SELECT doc_id, content_hash, n_copies,
        ROUND(1.0 / n_copies, 6) AS weight,
        CAST(doc_id = min_id AS BIGINT) AS is_canonical
      FROM (
        SELECT doc_id, md5(text) AS content_hash,
          COUNT(*) OVER (PARTITION BY md5(text)) AS n_copies,
          MIN(doc_id) OVER (PARTITION BY md5(text)) AS min_id
        FROM documents)"""))

  // ---- dedup_minhash: MinHash signatures + LSH banding ----
  // 32 seeded hash functions (xor constants in plans.SignatureKernels),
  // 8 bands × 4 rows. Per-doc output (signature digest + candidate
  // count) so the result is defined even on a duplicate-free corpus.
  /** (doc_id, sig, bands, sig_digest): 32 rotate/xor hash-family minima
    * over 3-token shingles, 8×4 LSH bands. The signature is a pure
    * per-doc function, computed NARROW by the native graft_minhash_sig
    * kernel (plans.SignatureKernels) — no shingle explode, no 32-column
    * aggregate, no shuffle at all in the signature build. (History: a
    * transform(sequence(...)) lambda ran interpreted per element; the
    * explode + wide-agg replacement fixed that but paid a full shuffle
    * for what was never an aggregation problem.)
    */
  private[graft] def minhashSigs(d: DataFrame): DataFrame = {
    // ONE fused kernel computes signature + bands; sig and bands are
    // cheap slices of its 40-long output. The old shape derived bands
    // from the sig COLUMN via an 8-element transform lambda — a
    // consumer pruned to bands alone had the sig expression
    // CollapseProject-inlined INTO the lambda (textually one
    // reference, but a lambda body runs per element), re-running the
    // full 32-min signature kernel 8x per row on every probe path
    // (measured 6x wall at sf1 on dedup_incr_minhash). With slices, a
    // bands-only consumer inlines the kernel into one slice (1 eval);
    // a sig+bands consumer references it twice, which blocks inlining
    // of a non-cheap expression (still 1 eval behind the barrier).
    d.withColumn("toks", TextFns.tokens(col("text")))
      .withColumn("_mh", expr("graft_minhash_all(toks)"))
      .withColumn("sig", expr("slice(_mh, 1, 32)"))
      .withColumn("bands", expr("slice(_mh, 33, 8)"))
      .withColumn("sig_digest",
        md5(concat_ws(",", expr("transform(sig, x -> cast(x AS string))"))))
      .drop("toks", "text", "_mh") // keeps caller-carried columns (e.g. m)
  }

  /** LSH candidate pairs (a < b, with both sides' copy counts) from the
    * 8-band self-join over a signature frame carrying (doc_id, m,
    * bands). The band keys partition the space, so the join never goes
    * all-pairs; `distinct` collapses multi-band collisions of the same
    * pair before anything downstream touches them.
    */
  private[graft] def minhashBandPairs(sig: DataFrame): DataFrame = {
    val bandRows = sig.select(col("doc_id"), col("m"),
      explode(col("bands")).as("band_val"))
    bandRows.as("x")
      .join(bandRows.as("y"),
        col("x.band_val") === col("y.band_val") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.m").as("ma"), col("y.m").as("mb"))
      .distinct()
  }

  /** dedup_minhash with an EXACT-DEDUP PRE-PASS: identical texts are
    * collapsed to one representative (md5 groupBy) BEFORE the shingle
    * explode and signature build, and candidate counts are re-expanded
    * afterwards: a doc in a group of m identical copies has
    * (m-1) + Σ m' candidates, where m' ranges over the sizes of its
    * representative's band-partner groups — exactly what the
    * all-docs band join would produce, without it. At 100 TB this is
    * the difference between boilerplate-heavy corpora (the norm)
    * flooding a band bucket with thousands of identical docs and the
    * O(bucket²) self-join seeing ONE row per distinct text.
    */
  private[graft] def minhashDedup(docsDf: DataFrame): DataFrame = {
    val d = docsDf.withColumn("chash", md5(col("text")))
    // group on ids only — full text never rides the exact-dedup shuffle;
    // representative texts come back via a doc_id join
    val groups = d.select(col("chash"), col("doc_id"))
      .groupBy(col("chash"))
      .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("m"))
    // the rep frame carries chash and m through the signature build, so
    // neither the band pipeline nor the final assembly joins back to
    // `groups`
    // materialized ONCE (localCheckpoint): every downstream reference
    // (both self-join sides, the final assembly) reads the narrow
    // signature blocks. (History: this was repartition(doc_id) to share
    // an Exchange — but column pruning pushes only ATTRIBUTES below a
    // repartition, so the exchange carried the raw TEXT and the kernel
    // re-ran per consumer above it. The checkpoint keeps the signature
    // build truly narrow: scan → kernel → blocks, no exchange.)
    val sig = minhashSigs(
      d.select(col("doc_id"), col("text"))
        .join(groups, col("doc_id") === col("rep_id"))
        .select(col("doc_id"), col("chash"), col("m"), col("text")))
      .localCheckpoint()
    val pairs = minhashBandPairs(sig)
    // re-expand: each partner GROUP contributes its full copy count
    val partners = pairs.select(col("a").as("rep_id"), col("mb").as("pm"))
      .union(pairs.select(col("b").as("rep_id"), col("ma").as("pm")))
    val cross = partners
      .groupBy(col("rep_id")).agg(sum(col("pm")).as("cross_cands"))
    val repInfo = sig
      .select(col("doc_id").as("rep_id"), col("chash"), col("m"), col("sig_digest"))
      .join(cross, Seq("rep_id"), "left")
    d.select(col("doc_id"), col("chash"),
        greatest(size(TextFns.tokens(col("text"))) - 2, lit(1)).cast("long")
          .as("n_shingles"))
      .join(repInfo, Seq("chash"))
      .select(col("doc_id"), col("n_shingles"), col("sig_digest"),
        (col("m") - 1 + coalesce(col("cross_cands"), lit(0L)))
          .as("n_dup_candidates"))
  }

  private val opMinhash = Op(
    "dedup_minhash",
    (s, dir) => minhashDedup(docs(s, dir)),
    Some(minhashOracleSql))

  /** dedup_minhash full oracle (r17): the whole chain replays in
    * DuckDB — md5 exact-dedup pre-pass with min-doc_id reps, 3-token
    * shingles by exact byte concatenation (a < 3-token doc's single
    * whole-text shingle equals its text, spaces and all), per-shingle
    * xxHash64 via [[graft.plans.OracleSql]], the 32 rotate/xor family
    * minima under SIGNED long comparison (the kernel's Long.MaxValue
    * fold), sig_digest over signed decimal strings, the 8 band values
    * as the kernel's exact left fold xxh64(str(band)) then four
    * chained XXH64.hashLong rounds, the value-only band self-join with
    * rep order, and the multiplicity re-expansion (m − 1 + Σ partner
    * group sizes). Family constants ride inline from
    * [[graft.plans.SignatureKernels.seedConsts]] — algorithm
    * constants, the LSH-oracle convention.
    */
  private def minhashOracleSql: String = {
    import graft.plans.{OracleSql => O}
    s"""
      WITH d AS (
        SELECT doc_id, text, md5(text) AS chash FROM documents
      ), groups AS (
        SELECT chash, MIN(doc_id) AS rep_id, COUNT(*) AS m
        FROM d GROUP BY chash
      ), reps AS (
        SELECT g.rep_id, dd.text
        FROM groups g JOIN d dd ON dd.doc_id = g.rep_id
      ), ${O.sigCtes("reps", "rep_id", "sg", withDigest = true)},
      pairs AS (
        SELECT DISTINCT x.rep_id AS a, y.rep_id AS b, xm.m AS ma, ym.m AS mb
        FROM sg_bandvals x JOIN sg_bandvals y
          ON x.band_val = y.band_val AND x.rep_id < y.rep_id
        JOIN groups xm ON xm.rep_id = x.rep_id
        JOIN groups ym ON ym.rep_id = y.rep_id
      ), cross_c AS (
        SELECT rep_id, SUM(pm) AS cross_cands FROM (
          SELECT a AS rep_id, mb AS pm FROM pairs
          UNION ALL SELECT b AS rep_id, ma AS pm FROM pairs)
        GROUP BY rep_id
      )
      SELECT d.doc_id,
        CAST(greatest(len(string_split(d.text, ' ')) - 2, 1) AS BIGINT)
          AS n_shingles,
        s.sig_digest,
        CAST(g.m - 1 + COALESCE(c.cross_cands, 0) AS BIGINT)
          AS n_dup_candidates
      FROM d
      JOIN groups g ON g.chash = d.chash
      JOIN sg_sigd s ON s.rep_id = g.rep_id
      LEFT JOIN cross_c c ON c.rep_id = g.rep_id"""
  }

  // ---- dedup_simhash: 64-bit SimHash + 16-bit-band hamming dedup ----
  /** (doc_id, simhash): per-bit ±1 majority over xxhash64(token),
    * computed NARROW by the native graft_simhash kernel
    * (plans.SignatureKernels) — the signature is a per-doc function, so
    * the former explode + 64-wide-agg shuffle bought nothing. Values
    * are bit-identical (same token hash, same majority rule).
    */
  private[graft] def simhashOf(d: DataFrame): DataFrame = {
    d.withColumn("toks", TextFns.tokens(col("text")))
      .select(col("doc_id"), expr("graft_simhash(toks)").as("simhash"))
  }

  /** Band buckets a simhash bucket-join must never let grow O(n): above
    * this population a band bucket is sub-split by the NEXT band's 16
    * bits (adaptive salt). Normal buckets keep full 16-bit-band recall;
    * a boilerplate flood (the 100 TB norm: at 1 B docs every 2^16
    * bucket holds ~15 k docs) degrades gracefully to 32-bit keys
    * instead of an O(bucket²) join.
    */
  val SimhashMaxBucket = 256L

  /** Candidate pairs (a < b, with hamming) from adaptive 4×16-bit LSH
    * banding over precomputed (doc_id, simhash) rows. Callers filter
    * `hamming` for verification; the SIZE of this frame is the join
    * cost the adaptive salt bounds.
    */
  private[graft] def simhashPairs(sim: DataFrame, maxBucket: Long,
      maxHamming: Long = 64L): DataFrame = {
    // localCheckpoint: the skinny (doc_id, simhash, band_id, band_key)
    // frame is consumed twice (bucket sizing + both join sides); pinning
    // it keeps the upstream signature kernel single-evaluation.
    // Single-box scope: localCheckpoint blocks are NOT fault-tolerant —
    // an executor loss (or dynamic-allocation decommission) on a real
    // cluster loses partitions permanently. Beyond one box, swap for
    // persist(MEMORY_AND_DISK) + explicit unpersist (recomputable
    // lineage) or reliable checkpoint() to a cluster-visible dir.
    val bands = sim.withColumn("band_id", explode(sequence(lit(0), lit(3))))
      .withColumn("band_key",
        expr("(shiftright(simhash, band_id * 16) & 65535)"))
      .localCheckpoint()
    // bucket population via a SKINNY groupBy aggregate (map-side partial
    // combine, parallel across tasks) broadcast back — NOT
    // count().over(partitionBy(band_id, band_key)), which buffers an
    // entire bucket's rows in ONE window task: on a boilerplate flood
    // (the path this salt exists for) one band bucket is O(n) rows and
    // that single task spills, serializing the very stage the adaptive
    // salt protects. The aggregate output is ≤ 4 bands × 2^16 keys of
    // (long, long, long) rows — a few MB, statically broadcast-safe at
    // any corpus size.
    val bucketSizes = bands.groupBy(col("band_id"), col("band_key"))
      .agg(count(lit(1)).as("bn"))
    val salted = bands.join(broadcast(bucketSizes), Seq("band_id", "band_key"))
      .withColumn("salt",
        when(col("bn") > maxBucket,
          expr("(shiftright(simhash, ((band_id + 1) % 4) * 16) & 65535)"))
          .otherwise(lit(0L)))
    salted.as("x")
      .join(salted.as("y"),
        col("x.band_id") === col("y.band_id") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.salt") === col("y.salt") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        expr("bit_count(x.simhash ^ y.simhash)").as("hamming"))
      // hamming-verify BEFORE the multi-band dedup, not after: the
      // candidate enumeration stays pipelined inside the join stage,
      // but a post-distinct filter would first SHUFFLE every candidate
      // pair — and candidates grow quadratically with bucket density
      // (fixed 2^16 key space, linearly growing corpus) long before
      // the salt threshold bites. The r16 sf10 checkpoint measured
      // exactly that: mm_phash 380 s at sf10 (≈480M candidate rows
      // through the distinct) vs linear after this reorder. The
      // distinct still runs — a pair matching in several bands must
      // count once — but over verified near-dups only.
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Per-doc near-dup statistics over a signature frame (doc_id,
    * simhash) — n_near_dups (docs within [[maxHamming]]) and
    * min_hamming (0 when an identical-hash copy exists; −1 when
    * nothing is near) — computed WITHOUT ever pairing documents:
    * identical hashes collapse to one node first (the dedup_exact
    * lesson applied to signatures), [[simhashPairs]] runs over
    * DISTINCT hash values only, and per-doc counts recombine through
    * the multiplicities: for doc d with hash h of multiplicity m_h,
    * n_near_dups = (m_h − 1) + Σ_{h' near h} m_{h'}.
    *
    * This is the r16 sf10 lesson made structural. A doc-level pair
    * search is quadratic in FLOOD SIZE even with perfect banding,
    * because the flood's pairs are real outputs of the pair frame:
    * the sf10 corpus plants ~21k flat images whose dHash (and
    * therefore every band AND the sub-split salt) is identical —
    * 9.3×10⁸ candidate pairs, 380 s wall, and no banding parameter
    * can help because the pairs genuinely satisfy hamming ≤ 8. In the
    * hash domain the same flood is ONE node with m = 21k: the pair
    * search touches it once, and the roll-up multiplies counts back.
    * Distinct-hash volume is bounded by corpus entropy, not corpus
    * size — the quantity banding was designed for. (Side effect: the
    * adaptive salt now triggers on distinct-hash density only, so
    * floods no longer push true near-dup pairs into salt-conditional
    * recall.)
    */
  private[graft] def neighborStats(hashes: DataFrame, maxBucket: Long,
      maxHamming: Long): DataFrame = {
    // (simhash, multiplicity): the node set of the search. LAZY
    // checkpoint (r19): the plan truncates at construction, and the
    // blocks materialize inside simhashPairs' eager band-frame
    // checkpoint job — one job pins the whole hash→mult→bands chain
    // instead of paying one job per frame (guide §5, fewer driver
    // actions).
    val mult = hashes.groupBy(col("simhash"))
      .agg(count(lit(1)).as("m"))
      .localCheckpoint(eager = false)
    val pairs = simhashPairs(
      mult.select(col("simhash").as("doc_id"), col("simhash")),
      maxBucket, maxHamming)
    // per-hash neighbor mass and closest distinct neighbor
    val neigh = pairs
      .select(col("a").as("simhash"), col("b").as("other"), col("hamming"))
      .union(pairs
        .select(col("b").as("simhash"), col("a").as("other"), col("hamming")))
      .join(mult.select(col("simhash").as("other"), col("m").as("om")),
        Seq("other"))
      .groupBy(col("simhash"))
      .agg(sum(col("om")).as("neigh_sum"), min(col("hamming")).as("neigh_min"))
    hashes.join(mult, Seq("simhash"))
      .join(neigh, Seq("simhash"), "left")
      .select(col("doc_id"), col("simhash"),
        (col("m") - 1 + coalesce(col("neigh_sum"), lit(0L)))
          .as("n_near_dups"),
        when(col("m") > 1, lit(0L))
          .otherwise(coalesce(col("neigh_min"), lit(-1L)))
          .as("min_hamming"))
  }

  private val opSimhash = Op(
    "dedup_simhash",
    (s, dir) => {
      val base = simhashOf(docs(s, dir))
      // 4 bands of 16 bits: near-dups (hamming <= 8) agree on >= 1 band
      // with high probability; only same-band (and, in oversized
      // buckets, same-salt) DISTINCT hash values are compared, then
      // hamming-verified; per-doc counts recombine via multiplicities
      // (neighborStats — flood-proof by construction)
      neighborStats(base, SimhashMaxBucket, maxHamming = 8)
    },
    Some(simhashOracleSql))

  /** dedup_simhash full oracle (r17): DuckDB replays the ENTIRE op —
    * per-token xxHash64 via the [[graft.plans.OracleSql]] small-input
    * replay (tokens are split(text, ' ') INCLUDING empties, exactly
    * what the kernel hashes), the per-bit ±1 majority packed through
    * HUGEINT (bit 63 rides the signed reinterpretation both engines
    * share), then [[neighborStats]] at its exact semantics: DISTINCT
    * hash nodes, 4×16-bit banding with the adaptive sub-split salt
    * sized on NODE bucket populations, signed-compare pair order,
    * hamming-verified ≤ 8, and the multiplicity recombination
    * m − 1 + Σ m′ with min_hamming 0 for any multi-copy hash.
    */
  private def simhashOracleSql: String = {
    import graft.plans.{OracleSql => O}
    s"""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
      ), ${O.xxh64Cte("toks", Seq("doc_id"), "t", "hashed", "h", "x")},
      sums AS (
        SELECT doc_id, b.b,
          SUM(CASE WHEN (h >> CAST(b.b AS INTEGER)) & 1 = 1
            THEN 1 ELSE -1 END) AS s
        FROM hashed CROSS JOIN (SELECT unnest(range(64)) AS b) b
        GROUP BY doc_id, b.b
      ), sh AS (
        SELECT doc_id, ${O.toSigned("u")} AS simhash
        FROM (
          SELECT doc_id,
            COALESCE(SUM(CASE WHEN s > 0
              THEN CAST(1 AS HUGEINT) << CAST(b AS INTEGER)
              ELSE 0::HUGEINT END), 0::HUGEINT) AS u
          FROM sums GROUP BY doc_id)
      ), mult AS (
        SELECT simhash, COUNT(*) AS m FROM sh GROUP BY simhash
      ), bands AS (
        SELECT simhash, bi.band_id,
          (simhash >> CAST(bi.band_id * 16 AS INTEGER)) & 65535 AS band_key
        FROM mult CROSS JOIN (SELECT unnest(range(4)) AS band_id) bi
      ), sized AS (
        SELECT band_id, band_key, COUNT(*) AS bn
        FROM bands GROUP BY band_id, band_key
      ), salted AS (
        SELECT b.simhash, b.band_id, b.band_key,
          CASE WHEN s.bn > $SimhashMaxBucket
            THEN (b.simhash >> CAST(((b.band_id + 1) % 4) * 16 AS INTEGER))
              & 65535
            ELSE 0 END AS salt
        FROM bands b JOIN sized s
          ON b.band_id = s.band_id AND b.band_key = s.band_key
      ), pairs AS (
        SELECT DISTINCT x.simhash AS a, y.simhash AS b,
          bit_count(xor(x.simhash, y.simhash)) AS hamming
        FROM salted x JOIN salted y
          ON x.band_id = y.band_id AND x.band_key = y.band_key
         AND x.salt = y.salt AND x.simhash < y.simhash
        WHERE bit_count(xor(x.simhash, y.simhash)) <= 8
      ), neigh AS (
        SELECT simhash, SUM(om) AS neigh_sum, MIN(hamming) AS neigh_min
        FROM (
          SELECT p.a AS simhash, m.m AS om, p.hamming
          FROM pairs p JOIN mult m ON m.simhash = p.b
          UNION ALL
          SELECT p.b AS simhash, m.m AS om, p.hamming
          FROM pairs p JOIN mult m ON m.simhash = p.a)
        GROUP BY simhash
      )
      SELECT sh.doc_id, sh.simhash,
        CAST(mu.m - 1 + COALESCE(n.neigh_sum, 0) AS BIGINT) AS n_near_dups,
        CAST(CASE WHEN mu.m > 1 THEN 0
          ELSE COALESCE(n.neigh_min, -1) END AS BIGINT) AS min_hamming
      FROM sh JOIN mult mu ON mu.simhash = sh.simhash
      LEFT JOIN neigh n ON n.simhash = sh.simhash"""
  }

  // ---- ngram_jaccard: exact 3-gram set Jaccard on candidate pairs ----
  // (deterministic consecutive-doc pairing so the oracle is ANSI SQL).
  private val opJaccard = Op(
    "ngram_jaccard",
    (s, dir) => {
      val sh = shingleSets(docs(s, dir))
      val a = sh.select(col("doc_id"), col("sset").as("sa"))
      val b = sh.select((col("doc_id") - 1).as("doc_id"), col("sset").as("sb"))
      a.join(b, "doc_id")
        .withColumn("n_inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
        .withColumn("n_union",
          (size(col("sa")) + size(col("sb"))).cast("long") - col("n_inter"))
        .select(col("doc_id"), col("n_inter"), col("n_union"),
          round(col("n_inter") / col("n_union"), 6).as("jaccard"))
    },
    Some("""
      WITH sh AS (
        SELECT doc_id,
          list_distinct(CASE WHEN len(string_split(text, ' ')) >= 3
            THEN [array_to_string(list_slice(string_split(text, ' '), i+1, i+3), ' ')
                  for i in generate_series(0, len(string_split(text, ' ')) - 3)]
            ELSE [text] END) AS sset
        FROM documents)
      SELECT a.doc_id AS doc_id,
        CAST(len(list_intersect(a.sset, b.sset)) AS BIGINT) AS n_inter,
        CAST(len(a.sset) + len(b.sset) - len(list_intersect(a.sset, b.sset)) AS BIGINT) AS n_union,
        ROUND(len(list_intersect(a.sset, b.sset))
          / (len(a.sset) + len(b.sset) - len(list_intersect(a.sset, b.sset))), 6) AS jaccard
      FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1"""))

  // ---- contam_ngram: benchmark-decontamination check ----
  // The standard pre-training hygiene pass: flag training docs whose
  // 3-token shingles overlap a held-out eval set (here the
  // deterministic 1%-ish subset doc_id % 97 == 0 stands in for the
  // benchmark corpus). Eval shingles are DISTINCT and broadcast — at
  // 100 TB the eval side is a fixed benchmark suite, small by
  // construction, so the check is one narrow scan + broadcast semi
  // structure, never a shuffle of the corpus.
  /** Shingle occurrences (with multiplicity) vs a broadcast eval-set
    * shingle vocabulary → per-doc contamination counts.
    */
  private[graft] def contamCheck(d: DataFrame): DataFrame = {
    val sh = shingleRows(d).select(col("doc_id"), col("shingle"))
    val evalSet = sh.filter(col("doc_id") % 97 === 0)
      .select(col("shingle")).distinct()
      .withColumn("hit", lit(1L))
    sh.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(evalSet), Seq("shingle"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_contam"))
      .select(col("doc_id"), col("n_shingles"), col("n_contam"),
        round(col("n_contam") / col("n_shingles"), 6).as("contam_ratio"))
  }

  private val opContam = Op(
    "contam_ngram",
    (s, dir) => contamCheck(docs(s, dir)),
    Some("""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      sh AS (
        SELECT doc_id, u.s AS shingle
        FROM t, UNNEST(CASE WHEN len(toks) >= 3
          THEN [array_to_string(list_slice(toks, i+1, i+3), ' ')
                for i in generate_series(0, len(toks) - 3)]
          ELSE [array_to_string(toks, ' ')] END) AS u(s)),
      ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0)
      SELECT sh.doc_id,
        COUNT(*) AS n_shingles,
        CAST(SUM(CASE WHEN ev.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contam,
        ROUND(SUM(CASE WHEN ev.shingle IS NOT NULL THEN 1 ELSE 0 END)
              / COUNT(*), 6) AS contam_ratio
      FROM sh LEFT JOIN ev ON sh.shingle = ev.shingle
      WHERE sh.doc_id % 97 <> 0
      GROUP BY sh.doc_id"""))

  // ---- dedup_span: cross-corpus boilerplate span removal ----
  // The RefinedWeb/C4 "repeated substring" scrub: exact token spans
  // that recur across MANY documents (headers, footers, license
  // blurbs, nav text) are cut from every doc, and the corpus is
  // rewritten from the surviving spans. Distinct from text_repetition
  // (within-doc signals) and dedup_minhash (whole-doc near-dups): the
  // unit here is a span, and the signal is corpus-wide document
  // frequency.
  //
  // Scale: docs split into NON-OVERLAPPING SpanLen-token spans
  // (narrow); doc frequency per span is one shuffle of the span rows.
  // The boilerplate set is usually small (≤ span_rows/SpanBoilerDocs,
  // and real thresholds in the thousands make it tiny) — but that bound
  // is only n_spans/6 at the default threshold, NOT a broadcast
  // guarantee: a boilerplate-heavy web corpus can push the set to GBs.
  // So the flag join broadcasts ONLY behind a counted size guard
  // (the set is materialized for the join anyway, so the count is
  // free); above the bound it falls back to a shuffle join, which AQE
  // can still convert at runtime if the bytes turn out small.
  // Reassembly is the one remaining corpus shuffle (groupBy doc_id,
  // order restored by span index) — a corpus-rewrite op cannot avoid
  // moving the corpus once.
  val SpanLen = 3
  val SpanBoilerDocs = 5L

  /** Max boilerplate-set rows the flag join will broadcast: ~16 B/span
    * row → ≈64 MB in the driver/executor, comfortably under default
    * broadcast memory but far above any sane threshold's real output.
    */
  val SpanBroadcastMaxRows = 4000000L

  private[graft] def spanRows(d: DataFrame): DataFrame =
    d.withColumn("toks", TextFns.tokens(col("text")))
      .select(col("doc_id"), col("toks"),
        explode(expr(s"sequence(0, (size(toks) - 1) DIV $SpanLen)")).as("j"))
      .select(col("doc_id"), col("j"),
        array_join(slice(col("toks"), (col("j") * SpanLen + 1).cast("int"),
          lit(SpanLen)), " ").as("span"))

  private[graft] def spanDedup(d: DataFrame,
      broadcastMaxRows: Long = SpanBroadcastMaxRows): DataFrame = {
    val spans = spanRows(d)
    // materialized once (the count below and the join both read the
    // checkpointed blocks — no second span agg), lineage kept flat
    val boiler = spans.groupBy(col("span"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") > SpanBoilerDocs)
      .select(col("span"))
      .withColumn("is_boiler", lit(true))
      .localCheckpoint()
    val boilerSide =
      Tables.broadcastIfSmall(boiler, boiler.count(), broadcastMaxRows)
    val flagged = spans.join(boilerSide, Seq("span"), "left")
      .withColumn("keep", col("is_boiler").isNull)
    flagged.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_boiler"),
        collect_list(when(col("keep"), struct(col("j"), col("span"))))
          .as("kept"))
      .select(col("doc_id"), col("n_spans"), col("n_boiler"),
        expr("array_join(transform(array_sort(kept), x -> x.span), ' ')")
          .as("clean_text"),
        round(lit(1.0) - col("n_boiler") / col("n_spans"), 6).as("clean_ratio"))
  }

  private val opSpan = Op(
    "dedup_span",
    (s, dir) => spanDedup(docs(s, dir)),
    Some(s"""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      sp AS (
        SELECT doc_id, j,
          array_to_string(list_slice(toks, j*$SpanLen + 1, (j+1)*$SpanLen), ' ') AS span
        FROM t, UNNEST(generate_series(0, (len(toks) - 1) // $SpanLen)) AS u(j)),
      boiler AS (
        SELECT span FROM sp GROUP BY span
        HAVING COUNT(DISTINCT doc_id) > $SpanBoilerDocs)
      SELECT sp.doc_id,
        COUNT(*) AS n_spans,
        CAST(SUM(CASE WHEN b.span IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_boiler,
        COALESCE(string_agg(CASE WHEN b.span IS NULL THEN sp.span END,
          ' ' ORDER BY sp.j), '') AS clean_text,
        ROUND(1.0 - SUM(CASE WHEN b.span IS NOT NULL THEN 1 ELSE 0 END)
          / COUNT(*), 6) AS clean_ratio
      FROM sp LEFT JOIN boiler b ON sp.span = b.span
      GROUP BY sp.doc_id"""))

  // ---- dedup_cluster: candidate pairs → connected components ----
  // The DECISION step of a dedup pipeline: pairs only say "these two
  // look alike"; the actual keep/drop choice needs transitive CLUSTERS
  // (a~b, b~c ⇒ {a,b,c} keep one). Components come from iterative
  // min-label propagation — each round every node takes the min label
  // among itself and its neighbors, a pure join+groupBy step, repeated
  // to fixpoint (monotone: the label sum strictly decreases until
  // convergence, which doubles as the cheap stop test). Per-iteration
  // frames are persisted and the previous one dropped, so lineage stays
  // flat. O(component diameter) rounds; the 100 TB upgrade is the
  // standard alternating large-star/small-star (O(log n) rounds) on
  // exactly this join shape.
  /** Min-label connected components over undirected edges (a, b),
    * labels seeded with each node's own id. Three scale levers beyond
    * naive propagation: only EDGE-TOUCHED nodes iterate (isolated docs
    * — the overwhelming majority of a real corpus — rejoin with their
    * own id at the end); every round also propagates through the
    * current label relation (pointer jumping), so rounds are
    * O(log diameter) rather than O(diameter); and each round's frame is
    * a LAZY localCheckpoint — the pointer-jump plan references the
    * previous labels three times, so without lineage truncation the
    * logical plan (and Catalyst's analysis time) grows 3^k with the
    * round count, which dominated wall time long before the data did;
    * the lazy checkpoint truncates the logical plan at construction
    * while the round's ONE convergence-sum action materializes the
    * blocks. Convergence is checked EVERY round: a 2-round stride
    * (half the sum actions) was tried in r19 and measured SLOWER —
    * pointer jumping converges in k = O(log diameter) rounds (2–4 on
    * every graph here), so the stride pays 1–2 extra full rounds
    * (each two shuffled joins) past the fixpoint to save ~k/2 skinny
    * sum reductions that ride the materialization jobs anyway; a bad
    * trade at every scale. (On a real cluster, swap localCheckpoint
    * for a reliable checkpoint dir; the algorithm is unchanged.)
    */
  private[graft] def connectedComponents(
      nodes: DataFrame, edges: DataFrame): DataFrame = {
    // materialize the edge pipeline ONCE — the undirected view and every
    // iteration read the checkpointed blocks, not the candidate-pair plan
    val e = edges.localCheckpoint()
    val und = e.select(col("a").as("x"), col("b").as("y"))
      .union(e.select(col("b").as("x"), col("a").as("y")))
    // ONE job materializes the lazy checkpoint AND measures (sum, n):
    // the old shape paid an eager-checkpoint job, then a sum job, then
    // an isEmpty job (r18 optimization round — the curate_e2e
    // qf-guard pattern applied to the loop)
    var labels = und.select(col("x").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("lbl"))
      .localCheckpoint(eager = false)
    // coalesce: an empty edge set (every doc a singleton) sums to null
    val seed = labels
      .agg(coalesce(sum(col("lbl")), lit(0L)), count(lit(1))).head()
    var prevSum = seed.getLong(0)
    // the edge-touched node count is loop-invariant: it is both the
    // emptiness test and the broadcast guard for every round's joins
    // (measured count, not a statistics guess — the dedup_span rule;
    // above the bound the joins degrade to the unavoidable shuffles)
    val n = seed.getLong(1)
    var converged = n == 0L
    var iter = 0
    // one propagation round: pointer jumping (label assignments act as
    // extra edges, halving the remaining propagation distance each
    // round) + the neighbor-min join. The lazy localCheckpoint
    // truncates the CATALYST plan immediately (the frame comes back as
    // a LogicalRDD), so materialization can ride a LATER action: plan
    // size stays constant per round while the un-run rounds share one
    // RDD DAG (not the 3^k logical-plan tree eager rounds prevented).
    def round(lbls: DataFrame): DataFrame = {
      val lblEdges = lbls.filter(col("doc_id") =!= col("lbl"))
      val prop = und
        .union(lblEdges.select(col("lbl").as("x"), col("doc_id").as("y")))
        .union(lblEdges.select(col("doc_id").as("x"), col("lbl").as("y")))
      val lblSide = lbls.select(col("doc_id").as("y"), col("lbl"))
      val nbrMin = prop
        .join(Tables.broadcastIfSmall(lblSide, n, SpanBroadcastMaxRows),
          Seq("y"))
        .groupBy(col("x")).agg(min(col("lbl")).as("nlbl"))
        .withColumnRenamed("x", "doc_id")
      // nbrMin has at most one row per edge-touched node — the same n
      // bounds it, so one guard serves both joins
      lbls
        .join(Tables.broadcastIfSmall(nbrMin, n, SpanBroadcastMaxRows),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
        .localCheckpoint(eager = false)
    }
    while (!converged && iter < 20) {
      // one action per round: the convergence sum materializes the
      // round's checkpoint blocks AND detects the fixpoint (labels are
      // monotone non-increasing, so sum equality ⇔ no label changed)
      val next = round(labels)
      val s = next.agg(sum(col("lbl"))).head().getLong(0)
      labels = next
      converged = s == prevSum
      prevSum = s
      iter += 1
    }
    nodes.select(col("doc_id"))
      .join(Tables.broadcastIfSmall(labels, n, SpanBroadcastMaxRows),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("lbl"))
  }

  /** The components of the toy consecutive-doc edge set that
    * dedup_cluster and dedup_keep_best share: doc i links doc i + 1
    * when their shingle sets share ≥ 1 shingle. Returns (doc_id, lbl),
    * lbl the component's min doc_id; [[consecutiveCompCtes]] replays
    * it in DuckDB. */
  private def consecutiveComponents(d: DataFrame): DataFrame = {
    // materialized once: the a-side and the shifted b-side would each
    // re-run the narrow shingle-set kernel otherwise. Lazy (r19): the
    // blocks land inside connectedComponents' eager edge-checkpoint
    // job — persist-backed, so the kernel still runs once — with no
    // stand-alone materialization job (guide §5)
    val sh = shingleSets(d).localCheckpoint(eager = false)
    val a = sh.select(col("doc_id"), col("sset").as("sa"))
    val b = sh.select((col("doc_id") - 1).as("doc_id"), col("sset").as("sb"))
    // verified near-dup edges: consecutive pairs sharing >= 1 shingle
    val edges = a.join(b, Seq("doc_id"))
      .filter(size(array_intersect(col("sa"), col("sb"))) >= 1)
      .select(col("doc_id").as("a"), (col("doc_id") + 1).as("b"))
    connectedComponents(d.select(col("doc_id")), edges)
  }

  /** DuckDB CTEs `sh, e, und, reach, comp` replaying
    * [[consecutiveComponents]]; `comp(doc_id, cluster_id)`. Callers
    * must prepend `WITH RECURSIVE `. */
  private val consecutiveCompCtes = """sh AS (
        SELECT doc_id,
          list_distinct(CASE WHEN len(string_split(text, ' ')) >= 3
            THEN [array_to_string(list_slice(string_split(text, ' '), i+1, i+3), ' ')
                  for i in generate_series(0, len(string_split(text, ' ')) - 3)]
            ELSE [text] END) AS sset
        FROM documents),
      e AS (
        SELECT a.doc_id AS x, a.doc_id + 1 AS y
        FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
        WHERE len(list_intersect(a.sset, b.sset)) >= 1),
      und AS (SELECT x, y FROM e UNION ALL SELECT y AS x, x AS y FROM e),
      reach(node, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT u.y, r.lbl FROM reach r JOIN und u ON u.x = r.node),
      comp AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id
               FROM reach GROUP BY node)"""

  private val opCluster = Op(
    "dedup_cluster",
    (s, dir) =>
      consecutiveComponents(docs(s, dir))
        .select(col("doc_id"), col("lbl").as("cluster_id"),
          when(col("doc_id") === col("lbl"), 1L).otherwise(0L).as("is_keeper")),
    Some(s"""
      WITH RECURSIVE $consecutiveCompCtes
      SELECT doc_id, CAST(cluster_id AS BIGINT) AS cluster_id,
        CAST(CASE WHEN cluster_id = doc_id THEN 1 ELSE 0 END AS BIGINT) AS is_keeper
      FROM comp"""))

  // ---- dedup_pipeline: the end-to-end dedup DECISION ----
  // The full near-dup pipeline wired together — the decision the whole
  // minhash machinery exists to make: exact pre-pass collapses copy
  // groups, MinHash LSH banding proposes candidate rep pairs, exact
  // shingle Jaccard verifies them (killing LSH false positives), and
  // connected components turns verified pairs into transitive clusters
  // with one keeper each. Unlike dedup_cluster (which keeps the toy
  // consecutive-doc edge set so its oracle stays ANSI SQL), the edges
  // here ARE the LSH candidates.
  //
  // Scale: every stage reuses the bounded shapes proven elsewhere —
  // ids-only exact-dedup shuffle, narrow native signatures, banded
  // (never all-pairs) candidate join, Jaccard shingle sets gathered
  // ONLY for docs that appear in a candidate pair (a vanishing fraction
  // of a real corpus), pointer-jumping components over the verified
  // edges only. Cluster ids propagate back to exact copies via the
  // skinny (chash, rep_id) frame, so full texts move zero times.
  /** Verified-pair Jaccard threshold: candidates below this are LSH
    * false positives and must not merge clusters.
    */
  val PipelineJaccard = 0.5

  private[graft] def dedupPipeline(docsDf: DataFrame): DataFrame = {
    val d = docsDf.withColumn("chash", md5(col("text")))
    // skinny (chash, rep_id, m): materialized once — read by the rep
    // join, the final copy-group assembly, and nothing recomputes the
    // corpus-wide hash agg per reference
    val groups = d.select(col("chash"), col("doc_id"))
      .groupBy(col("chash"))
      .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("m"))
      .localCheckpoint(eager = false)
    // counted broadcast guard (the dedup_span pattern) on BOTH joins
    // that touch rep texts: the skinny side is LAZILY checkpointed, so
    // the guard count's ONE job both materializes the checkpoint and
    // returns the MEASURED size — not a statistics guess — that
    // decides broadcast vs shuffled-hash (an EAGER checkpoint pays its
    // own materialization job and then the count is a second one).
    // Under the bound the corpus text crosses no exchange; above it
    // the gather degrades to the unavoidable shuffle of exactly the
    // touched texts.
    def counted(f: DataFrame): DataFrame =
      Tables.broadcastIfSmall(f, f.count(), SpanBroadcastMaxRows)
    val reps = d.select(col("doc_id"), col("text"))
      .join(counted(groups), col("doc_id") === col("rep_id"))
      .select(col("doc_id"), col("m"), col("text"))
    // narrow signature frame materialized once (no repartition: an
    // exchange here would carry raw text — see minhashDedup's note).
    // Lazy (r19): sig and cand both land inside the candDocs guard
    // count below — ONE job materializes the sig → band-pair → cand
    // chain instead of two stand-alone checkpoint jobs (guide §5)
    val sig = minhashSigs(reps).localCheckpoint(eager = false)
    // candidate pairs feed three consumers (both verify sides + the
    // touched-doc set) — materialize the band join once
    val cand = minhashBandPairs(sig).select(col("a"), col("b"))
      .localCheckpoint(eager = false)
    // exact verification: shingle sets only for candidate-touched reps.
    // Lazily checkpointed (the guard's count materializes it in its
    // own job) so the join sees its REAL size: the vanishing-fraction
    // candidate set broadcasts, and only if candidates genuinely
    // outgrow the broadcast threshold does the gather fall back to a
    // shuffle.
    val candDocs = cand.select(col("a").as("doc_id"))
      .union(cand.select(col("b").as("doc_id"))).distinct()
      .localCheckpoint(eager = false)
    val ssets = shingleSets(
      reps.join(counted(candDocs), Seq("doc_id"))
        .select(col("doc_id"), col("text")))
    val verified = cand
      .join(ssets.select(col("doc_id").as("a"), col("sset").as("sa")), Seq("a"))
      .join(ssets.select(col("doc_id").as("b"), col("sset").as("sb")), Seq("b"))
      .withColumn("ni", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("nu",
        (size(col("sa")) + size(col("sb"))).cast("long") - col("ni"))
      // integer cross-multiplication at t = 1/2: no double rounding
      .filter(col("ni") * 2 >= col("nu"))
      .select(col("a"), col("b"))
    // components over verified rep edges; reps are copy-group minima,
    // so the component min label IS the cluster-wide min doc_id
    val comp = connectedComponents(
      groups.select(col("rep_id").as("doc_id")), verified)
    d.select(col("doc_id"), col("chash"))
      .join(groups.select(col("chash"), col("rep_id")), Seq("chash"))
      .join(comp.select(col("doc_id").as("rep_id"), col("lbl")), Seq("rep_id"))
      .select(col("doc_id"), col("lbl").as("cluster_id"),
        when(col("doc_id") === col("lbl"), 1L).otherwise(0L).as("is_keeper"))
  }

  /** Shared oracle CTE prefix replaying [[dedupPipeline]] end-to-end
    * (r17): md5 pre-pass groups, rep signatures via
    * [[graft.plans.OracleSql.sigCtes]], the value-only band candidate
    * join, exact shingle-set Jaccard verification at the integer
    * cross-multiplied 1/2 threshold, and connected components as a
    * recursive min-label closure (the dedup_cluster oracle's reach
    * CTE over the VERIFIED edges — sparse by construction, so the
    * transitive closure is small even though the engine side uses
    * pointer jumping). Ends with `pipe(doc_id, cluster_id,
    * is_keeper)`; dedup_pipeline selects it directly and
    * split_leakage layers sizes + the Lehmer split on top. Callers
    * must prepend `WITH RECURSIVE `.
    */
  private[graft] def pipelineOracleCtes: String = s"""d AS (
        SELECT doc_id, text, md5(text) AS chash FROM documents
      ), groups AS (
        SELECT chash, MIN(doc_id) AS rep_id, COUNT(*) AS m
        FROM d GROUP BY chash
      ), reps AS (
        SELECT g.rep_id AS doc_id, dd.text
        FROM groups g JOIN d dd ON dd.doc_id = g.rep_id
      ), ${graft.plans.OracleSql.sigCtes("reps", "doc_id", "rp")},
      cand AS (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM rp_bandvals x JOIN rp_bandvals y
          ON x.band_val = y.band_val AND x.doc_id < y.doc_id
      ), ssets AS (
        SELECT doc_id,
          list_distinct(CASE WHEN len(string_split(text, ' ')) >= 3
            THEN [array_to_string(
                    list_slice(string_split(text, ' '), i+1, i+3), ' ')
                  for i in generate_series(0,
                    len(string_split(text, ' ')) - 3)]
            ELSE [text] END) AS sset
        FROM reps
        WHERE doc_id IN (SELECT a FROM cand UNION SELECT b FROM cand)
      ), verified AS (
        SELECT c.a, c.b FROM cand c
        JOIN ssets sa ON sa.doc_id = c.a
        JOIN ssets sb ON sb.doc_id = c.b
        WHERE len(list_intersect(sa.sset, sb.sset)) * 2
          >= len(sa.sset) + len(sb.sset)
            - len(list_intersect(sa.sset, sb.sset))
      ), und AS (
        SELECT a AS x, b AS y FROM verified
        UNION ALL SELECT b AS x, a AS y FROM verified
      ), reach(node, lbl) AS (
        SELECT rep_id, rep_id FROM groups
        UNION
        SELECT u.y, r.lbl FROM reach r JOIN und u ON u.x = r.node
      ), comp AS (
        SELECT node AS rep_id, MIN(lbl) AS lbl FROM reach GROUP BY node
      ), pipe AS (
        SELECT dd.doc_id, CAST(c.lbl AS BIGINT) AS cluster_id,
          CAST(CASE WHEN dd.doc_id = c.lbl THEN 1 ELSE 0 END AS BIGINT)
            AS is_keeper
        FROM d dd
        JOIN groups g ON g.chash = dd.chash
        JOIN comp c ON c.rep_id = g.rep_id
      )"""

  private val opPipeline = Op(
    "dedup_pipeline",
    (s, dir) => dedupPipeline(docs(s, dir)),
    Some(s"""
      WITH RECURSIVE $pipelineOracleCtes
      SELECT doc_id, cluster_id, is_keeper FROM pipe"""))

  // ---- dedup_substring: exact duplicated-substring coverage ----
  // The Lee et al. 2022 ("Deduplicating Training Data Makes Language
  // Models Better") shape at fixed window granularity: any
  // [[SubstrW]]-token span occurring ≥ 2 times ANYWHERE in the corpus
  // — across docs or repeated within one — marks its tokens
  // duplicated; overlapping duplicated windows merge into maximal
  // regions. Differs from dedup_span (boilerplate by doc-frequency
  // > 5 DISTINCT docs) in counting total occurrences incl. self-
  // repeats, and from text_repetition (per-doc signals only) in being
  // corpus-global. The suffix-array original finds variable-length
  // maximal matches; fixed-window fingerprints are the standard
  // shuffle-friendly approximation (every duplicated run ≥ W tokens
  // is found exactly; shorter ones are missed by design).
  //
  // Scale shape: the span fingerprints are PER-DOCUMENT-LOCAL, so
  // they come from one array fold per row ([[spanSpans]] — the
  // r18/r19 ladder restructuring; the old posexplode → W−1 lead()
  // Window pipeline exchanged EVERY token row for work a per-row
  // slice computes in place) and immediately reduce to skinny
  // (md5, doc, pos) rows; the global count shuffles one row per
  // DISTINCT span hash (map-side combine) with the hash as 16-byte
  // unhex(md5) binary — half the hex string's key bytes (§2.3); only
  // DUPLICATED starts (a vanishing fraction of a real corpus) flow
  // back, and coverage/regions fold per doc over the sorted start
  // array in one pass — no position explode.
  val SubstrW = 8
  val SubstrMinOccur = 2

  /** (doc_id, pos, h) span fingerprints as ONE per-row fold — zero
    * exchanges, zero windows: each document's [[SubstrW]]-token
    * sliding windows hashed via slice+concat_ws (identical bytes to
    * the old lead()-chain concat: full windows only, so no nulls ever
    * reach the concat). `binary = true` emits h as 16-byte
    * unhex(md5) for shuffle-key narrowness where the consumer keeps
    * h internal (dedup_substring); the hex-string form is the
    * PERSISTED `sink_fingerprints` schema and stays for [[spanHashes]].
    *
    * Input rides [[graft.Tables.rebalance]] (r19): the r18 fold removed
    * the token exchange and with it the ACCIDENTAL parallelism the old
    * Window pipeline's shuffle provided — on a narrow scan (fewer input
    * splits than cores: sf1's one-row-group documents.parquet, or any
    * small filtered subset at production) the whole md5 fold serialized
    * onto one task (measured at sf1: fold 16 s wall/1-task-bound vs the
    * old pipeline's 3 s on 32 reducers, despite the fold's lower CPU
    * AND half the shuffle). The conditional round-robin rebalance is
    * the repo's standing idiom for CPU-heavy kernels (gopherSignals,
    * mm frames/scenes) and is structurally a NO-OP whenever the scan
    * already has >= defaultParallelism splits — i.e. at 100 TB.
    */
  private def spanSpans(d: DataFrame, binary: Boolean): DataFrame = {
    val W = SubstrW
    val h = if (binary) s"unhex(md5(concat_ws(' ', slice(toks, i, $W))))"
            else s"md5(concat_ws(' ', slice(toks, i, $W)))"
    val t = if (binary) "BINARY" else "STRING"
    val spansCol = expr(s"""
      CASE WHEN size(toks) < $W THEN
        CAST(array() AS ARRAY<STRUCT<pos: INT, h: $t>>)
      ELSE transform(sequence(1, size(toks) - ${W - 1}),
        i -> named_struct('pos', i - 1, 'h', $h))
      END""")
    graft.Tables.rebalance(d).select(col("doc_id"),
        graft.functions.TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(spansCol).as("s"))
      .select(col("doc_id"), col("s.pos").as("pos"), col("s.h").as("h"))
  }

  private[graft] def substringDedup(d: DataFrame): DataFrame = {
    val W = SubstrW
    val spans = spanSpans(d, binary = true)
    val dup = spans.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= SubstrMinOccur).select(col("h"))
    val starts = spans.join(dup, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("starts"))
      // one fold computes merged-interval coverage AND region count:
      // for ascending starts s, new tokens = (s+W-1) - max(end, s-1),
      // a new region opens iff s > end + 1
      .withColumn("a", expr(
        s"""aggregate(starts,
           named_struct('cov', 0L, 'reg', 0L, 'e', CAST(-2 AS BIGINT)),
           (a, s) -> named_struct(
             'cov', a.cov + CAST(s + $W - 1 AS BIGINT)
               - greatest(a.e, CAST(s - 1 AS BIGINT)),
             'reg', a.reg + IF(CAST(s AS BIGINT) > a.e + 1, 1L, 0L),
             'e', CAST(s + $W - 1 AS BIGINT)))"""))
      .select(col("doc_id"), col("a.cov").as("n_dup_tokens"),
        col("a.reg").as("n_regions"))
    // same conditional rebalance as the spans side (ReuseExchange
    // dedups the identical round-robin subtree), so the n_toks
    // tokenization parallelizes with it on narrow scans
    graft.Tables.rebalance(d).select(col("doc_id"),
        size(graft.functions.TextFns.tokens(col("text"))).cast("long")
          .as("n_toks"))
      .join(starts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"),
        coalesce(col("n_regions"), lit(0L)).as("n_regions"),
        round(coalesce(col("n_dup_tokens"), lit(0L)).cast("double")
          / col("n_toks"), 6).as("dup_ratio"))
  }

  private val opSubstr = Op(
    "dedup_substring",
    (s, dir) => substringDedup(docs(s, dir)),
    Some(s"""
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents),
      n AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks FROM d),
      sp AS (
        SELECT doc_id, i - 1 AS pos,
          md5(array_to_string(list_slice(toks, i, i + $SubstrW - 1), ' ')) AS h
        FROM d, UNNEST(generate_series(1, len(toks) - $SubstrW + 1)) AS u(i)),
      dup AS (SELECT h FROM sp GROUP BY h HAVING COUNT(*) >= $SubstrMinOccur),
      st AS (SELECT doc_id, pos FROM sp JOIN dup USING (h)),
      cov AS (
        SELECT doc_id, CAST(COUNT(DISTINCT p) AS BIGINT) AS n_dup
        FROM st, UNNEST(generate_series(pos, pos + $SubstrW - 1)) AS t(p)
        GROUP BY doc_id),
      lagged AS (
        SELECT doc_id, pos,
          lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM st),
      reg AS (
        SELECT doc_id, CAST(SUM(CASE WHEN prev IS NULL
            OR pos > prev + $SubstrW THEN 1 ELSE 0 END) AS BIGINT) AS n_regions
        FROM lagged GROUP BY doc_id)
      SELECT n.doc_id,
        COALESCE(cov.n_dup, 0) AS n_dup_tokens,
        COALESCE(reg.n_regions, 0) AS n_regions,
        ROUND(CAST(COALESCE(cov.n_dup, 0) AS DOUBLE) / n_toks, 6) AS dup_ratio
      FROM n LEFT JOIN cov ON n.doc_id = cov.doc_id
        LEFT JOIN reg ON n.doc_id = reg.doc_id"""))

  // ---- dedup_substr_ladder: multi-granularity substring coverage ----
  // Fixed W=8 finds every duplicated run ≥ 8 tokens but reports its
  // extent at 8-token granularity; the W-ladder {8, 16, 32} closes
  // toward Lee 2022's variable-length matches by reporting coverage
  // at three granularities FROM ONE PASS: a single 31-lead frame (one
  // doc_id shuffle — the W=32 leads subsume the smaller windows), all
  // three span hashes computed in one projection and unpivoted with
  // stack, so the global duplicate count is ONE combined skinny
  // (w, h) shuffle with map-side combine instead of three scans. Per
  // (doc, w) coverage/regions reuse the one-pass interval fold.
  val SubstrWs: Seq[Int] = Seq(8, 16, 32)

  private[graft] def substringLadder(d: DataFrame): DataFrame = {
    // COMPOSED hashing keeps the work W=8-wide instead of 32:
    // h16(p) = md5(h8(p) ‖ h8(p+8)), h32(p) = md5(h16(p) ‖ h16(p+16))
    // — equality of a composed hash ⇔ equality of both halves ⇔
    // equality of the full window (same duplicate semantics; both
    // engines compose identically so the oracle still hash-matches).
    //
    // r18 optimization round: the whole ladder is PER-DOCUMENT-LOCAL,
    // so the old posexplode → Window(partitionBy doc_id) pipeline paid
    // one full exchange+sort of every token row (the dominant shuffle
    // of this query — ~20 of its 27 shuffled MB at sf0.1) for what a
    // per-row array fold computes in place. The arrays are bound ONCE
    // per document via the single-element-array transform trick
    // (transform(array(e), a -> body) evaluates e once and binds it as
    // a — the let-binding Catalyst lacks), which is what stops
    // CollapseProject from inlining the md5 ladder into every lambda
    // element (the recurring per-element-recompute bug class; see the
    // verify skill). Hashes leave the row as unhex(md5) — 16-byte
    // binary, not the 32-char hex string — halving the hash bytes in
    // the two shuffles that remain (the skinny (w,h) duplicate count
    // and the per-(doc,w) start-list fold), which are the only
    // exchanges left: guide §2.4 (remove shuffles outright) + §2.3
    // (shuffle fewer bytes). Zero exchanges before the duplicate
    // count; the fold emits (w, pos, h) structs straight off the scan.
    //
    // r19: the scan rides Tables.rebalance — the fold inherited the
    // old Window pipeline's work but NOT its exchange's accidental
    // parallelism, so on a narrow scan (input splits < cores) the
    // whole ladder serialized onto one task (sf1 A/B: fold 29 s wall
    // 1-task-bound vs the old pipeline's 5.5 s across 32 reducers,
    // despite the fold's lower CPU, 34 vs 49 s, and half the shuffle,
    // 141 vs 279 MB). The conditional round-robin rebalance is a
    // structural no-op once the scan has >= defaultParallelism splits
    // — i.e. always at 100 TB; it only fires where it is needed.
    val db = graft.Tables.rebalance(d)
    val spansCol = expr(s"""
      CASE WHEN size(toks) < 8 THEN
        CAST(array() AS ARRAY<STRUCT<w: BIGINT, pos: INT, h: BINARY>>)
      ELSE flatten(transform(
        array(transform(sequence(1, size(toks) - 7),
          i -> md5(concat_ws(' ', slice(toks, i, 8))))),
        a8 -> flatten(transform(
          array(CASE WHEN size(a8) >= 9
            THEN transform(sequence(1, size(a8) - 8),
              i -> md5(concat(element_at(a8, i), element_at(a8, i + 8))))
            ELSE CAST(array() AS ARRAY<STRING>) END),
          a16 -> concat(
            transform(sequence(1, size(a8)), i -> named_struct(
              'w', 8L, 'pos', i - 1, 'h', unhex(element_at(a8, i)))),
            CASE WHEN size(a16) >= 1
              THEN transform(sequence(1, size(a16)), i -> named_struct(
                'w', 16L, 'pos', i - 1, 'h', unhex(element_at(a16, i))))
              ELSE CAST(array() AS ARRAY<STRUCT<w: BIGINT, pos: INT, h: BINARY>>)
            END,
            CASE WHEN size(a16) >= 17
              THEN transform(sequence(1, size(a16) - 16),
                i -> named_struct('w', 32L, 'pos', i - 1,
                  'h', unhex(md5(concat(element_at(a16, i),
                    element_at(a16, i + 16))))))
              ELSE CAST(array() AS ARRAY<STRUCT<w: BIGINT, pos: INT, h: BINARY>>)
            END)))))
      END""")
    val spans = db
      .select(col("doc_id"),
        graft.functions.TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(spansCol).as("s"))
      .select(col("doc_id"), col("s.pos").as("pos"), col("s.w").as("w"),
        col("s.h").as("h"))
    val dup = spans.groupBy(col("w"), col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= SubstrMinOccur).select(col("w"), col("h"))
    val starts = spans.join(dup, Seq("w", "h"))
      .groupBy(col("doc_id"), col("w"))
      .agg(sort_array(collect_list(col("pos"))).as("starts"))
      .withColumn("a", expr(
        """aggregate(starts,
           named_struct('cov', 0L, 'reg', 0L, 'e', CAST(-2 AS BIGINT)),
           (a, s) -> named_struct(
             'cov', a.cov + CAST(s AS BIGINT) + w - 1
               - greatest(a.e, CAST(s - 1 AS BIGINT)),
             'reg', a.reg + IF(CAST(s AS BIGINT) > a.e + 1, 1L, 0L),
             'e', CAST(s AS BIGINT) + w - 1))"""))
      .select(col("doc_id"), col("w"), col("a.cov").as("n_dup_tokens"),
        col("a.reg").as("n_regions"))
    db.select(col("doc_id"),
        size(graft.functions.TextFns.tokens(col("text"))).cast("long")
          .as("n_toks"))
      .withColumn("w", explode(array(SubstrWs.map(w => lit(w.toLong)): _*)))
      .join(starts, Seq("doc_id", "w"), "left")
      .select(col("doc_id"), col("w"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"),
        coalesce(col("n_regions"), lit(0L)).as("n_regions"),
        round(coalesce(col("n_dup_tokens"), lit(0L)).cast("double")
          / col("n_toks"), 6).as("dup_ratio"))
  }

  private val opSubstrLadder = Op(
    "dedup_substr_ladder",
    (s, dir) => substringLadder(docs(s, dir)),
    Some(s"""
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents),
      n AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks FROM d),
      ws AS (SELECT CAST(w AS BIGINT) AS w
             FROM (VALUES (8), (16), (32)) AS t(w)),
      h8 AS (
        SELECT doc_id, i - 1 AS pos,
          md5(array_to_string(list_slice(toks, i, i + 7), ' ')) AS h
        FROM d, UNNEST(generate_series(1, len(toks) - 7)) AS u(i)),
      h16 AS (
        SELECT a.doc_id, a.pos, md5(a.h || b.h) AS h
        FROM h8 a JOIN h8 b ON a.doc_id = b.doc_id AND b.pos = a.pos + 8),
      h32 AS (
        SELECT a.doc_id, a.pos, md5(a.h || b.h) AS h
        FROM h16 a JOIN h16 b ON a.doc_id = b.doc_id AND b.pos = a.pos + 16),
      sp AS (
        SELECT doc_id, CAST(8 AS BIGINT) AS w, pos, h FROM h8
        UNION ALL SELECT doc_id, 16, pos, h FROM h16
        UNION ALL SELECT doc_id, 32, pos, h FROM h32),
      dup AS (SELECT w, h FROM sp GROUP BY w, h
              HAVING COUNT(*) >= $SubstrMinOccur),
      st AS (SELECT doc_id, w, pos FROM sp JOIN dup USING (w, h)),
      cov AS (
        SELECT doc_id, w, CAST(COUNT(DISTINCT p) AS BIGINT) AS n_dup
        FROM st, UNNEST(generate_series(pos, pos + w - 1)) AS t(p)
        GROUP BY doc_id, w),
      lagged AS (
        SELECT doc_id, w, pos,
          lag(pos) OVER (PARTITION BY doc_id, w ORDER BY pos) AS prev
        FROM st),
      reg AS (
        SELECT doc_id, w, CAST(SUM(CASE WHEN prev IS NULL
            OR pos > prev + w THEN 1 ELSE 0 END) AS BIGINT) AS n_regions
        FROM lagged GROUP BY doc_id, w)
      SELECT n.doc_id, ws.w,
        COALESCE(cov.n_dup, 0) AS n_dup_tokens,
        COALESCE(reg.n_regions, 0) AS n_regions,
        ROUND(CAST(COALESCE(cov.n_dup, 0) AS DOUBLE) / n_toks, 6) AS dup_ratio
      FROM n CROSS JOIN ws
        LEFT JOIN cov ON n.doc_id = cov.doc_id AND ws.w = cov.w
        LEFT JOIN reg ON n.doc_id = reg.doc_id AND ws.w = reg.w"""))

  // ---- dedup_incremental: new shard vs historical fingerprints ----
  // The INGEST-TIME shape of dedup: a production corpus grows in
  // shards, and each arriving shard is checked against the standing
  // corpus WITHOUT re-pairing history with itself — the asymmetric
  // join is the point (new × history fingerprints only; a full re-run
  // of dedup_exact/dedup_substring over corpus+shard re-pays the
  // whole history every ingest). History here is the doc_id <
  // [[IncrSplit]] prefix (the standing corpus the driver data
  // provides); fingerprints are the md5 content hash (exact dups) and
  // the W=8 span hashes (Lee 2022 containment — how much of each new
  // doc already exists verbatim in history). Both sides reduce to
  // skinny hash frames before the join; history text never leaves its
  // scan. Output per NEW doc: exact-dup flag + duplicated-token
  // coverage vs history (same interval fold as dedup_substring).
  // At deployment the history frames come from the PERSISTED
  // sources.Fingerprints bundle via [[incrementalDedupFrom]] — an
  // ingest tick scans the skinny store parquet, never history text
  // (plan-spec'd in SinksSpec); this driver query derives them in-line
  // so the DuckDB oracle sees one self-contained input.
  val IncrSplit = 250L

  /** (doc_id, pos, h) rows: md5 over each [[SubstrW]]-token sliding
    * window — the span-fingerprint kernel shared by the derive-fresh
    * and store-fed ingest paths (and the shape `sink_fingerprints`
    * persists, minus pos/doc_id on the history side).
    */
  private[graft] def spanHashes(side: DataFrame): DataFrame =
    // hex-string h: this frame IS the persisted sink_fingerprints
    // schema (store contract, cross-shard compat) — the binary form
    // is internal to dedup_substring only. Same per-row fold as
    // [[spanSpans]]: zero exchanges, zero windows (r19 — the old
    // posexplode → lead() Window pipeline exchanged every token row).
    spanSpans(side, binary = false)

  /** Core of the ingest check, parameterized on the HISTORY
    * fingerprint frames so the caller chooses their provenance:
    * derived fresh from history text ([[incrementalDedup]], the
    * oracled driver query) or read back from the persisted
    * `sink_fingerprints` bundle (sources.Fingerprints — the 100 TB
    * deployment shape, where an ingest tick must scan the skinny
    * store, never re-derive history from text). Both sides reduce to
    * hash frames before the joins; output schema is identical either
    * way (round-trip spec asserts row-for-row equality).
    */
  private[graft] def incrementalDedupFrom(fresh: DataFrame,
      histHash: DataFrame, histSpans: DataFrame): DataFrame = {
    val W = SubstrW
    val newSpans = spanHashes(fresh)
    val starts = newSpans.join(histSpans.select(col("h")).distinct(), Seq("h"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("starts"))
      .withColumn("a", expr(
        s"""aggregate(starts,
           named_struct('cov', 0L, 'e', CAST(-2 AS BIGINT)),
           (a, s) -> named_struct(
             'cov', a.cov + CAST(s + $W - 1 AS BIGINT)
               - greatest(a.e, CAST(s - 1 AS BIGINT)),
             'e', CAST(s + $W - 1 AS BIGINT)))"""))
      .select(col("doc_id"), col("a.cov").as("n_hist_tokens"))
    fresh.select(col("doc_id"), md5(col("text")).as("th"),
        size(graft.functions.TextFns.tokens(col("text"))).cast("long")
          .as("n_toks"))
      // DISTINCT guards against cross-shard duplicate hashes in an
      // APPENDED store (Fingerprints.append never rewrites history, so
      // the same th can recur across shard files) — without it a dup
      // th would fan the left join out and duplicate fresh rows
      .join(histHash.select(col("th")).distinct()
          .withColumn("is_exact_dup", lit(1L)),
        Seq("th"), "left")
      .join(starts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("is_exact_dup"), lit(0L)).as("is_exact_dup"),
        coalesce(col("n_hist_tokens"), lit(0L)).as("n_hist_tokens"),
        // n_toks == 0 guard: an empty-text doc must read as 0.0
        // coverage, not null (the DuckDB oracle's string_split('')
        // yields one empty token, so it lands at 0.0 on that side too)
        when(col("n_toks") === 0L, lit(0.0)).otherwise(
          round(coalesce(col("n_hist_tokens"), lit(0L)).cast("double")
            / col("n_toks"), 6)).as("hist_coverage"))
  }

  private[graft] def incrementalDedup(d: DataFrame, split: Long): DataFrame = {
    val hist = d.filter(col("doc_id") < split)
    incrementalDedupFrom(
      d.filter(col("doc_id") >= split),
      hist.select(md5(col("text")).as("th")).distinct(),
      spanHashes(hist))
  }

  private val opIncremental = Op(
    "dedup_incremental",
    (s, dir) => incrementalDedup(docs(s, dir), IncrSplit),
    Some(s"""
      WITH hist AS (SELECT doc_id, text FROM documents
        WHERE doc_id < $IncrSplit),
      fresh AS (SELECT doc_id, text, string_split(text, ' ') AS toks
        FROM documents WHERE doc_id >= $IncrSplit),
      hh AS (SELECT DISTINCT md5(text) AS th FROM hist),
      hsp AS (
        SELECT DISTINCT md5(array_to_string(
          list_slice(string_split(text, ' '), i, i + $SubstrW - 1), ' ')) AS h
        FROM hist, UNNEST(generate_series(1,
          len(string_split(text, ' ')) - $SubstrW + 1)) AS u(i)),
      nsp AS (
        SELECT doc_id, i - 1 AS pos,
          md5(array_to_string(list_slice(toks, i, i + $SubstrW - 1), ' ')) AS h
        FROM fresh, UNNEST(generate_series(1, len(toks) - $SubstrW + 1)) AS u(i)),
      st AS (SELECT doc_id, pos FROM nsp JOIN hsp USING (h)),
      cov AS (
        SELECT doc_id, CAST(COUNT(DISTINCT p) AS BIGINT) AS n_hist
        FROM st, UNNEST(generate_series(pos, pos + $SubstrW - 1)) AS t(p)
        GROUP BY doc_id)
      SELECT f.doc_id,
        CAST(CASE WHEN hh.th IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
          AS is_exact_dup,
        COALESCE(cov.n_hist, 0) AS n_hist_tokens,
        ROUND(CAST(COALESCE(cov.n_hist, 0) AS DOUBLE)
          / len(f.toks), 6) AS hist_coverage
      FROM fresh f
      LEFT JOIN hh ON md5(f.text) = hh.th
      LEFT JOIN cov ON f.doc_id = cov.doc_id"""))

  // ---- the ingest firewall's band probe (batch) ----

  /** One probe for the minhash, image and clip tiers of the firewall
    * (streaming twin: streaming.Streams.bandGate): `bands` (doc_id + the `keys` columns, one row per band
    * of a doc) joins the DISTINCT `keys` of `store`, the hits count
    * DISTINCT `slots` per doc into `count`, and `flag` is 1 at ≥ 1 hit.
    * `docs` holds one row per doc; its columns lead the output, and a
    * doc without a hit gets 0 in both. */
  private[graft] def bandProbe(docs: DataFrame, bands: DataFrame,
      store: DataFrame, keys: Seq[String], slots: Seq[String],
      count: String, flag: String): DataFrame = {
    val hits = bands
      .join(store.select(keys.map(col): _*).distinct(), keys)
      .groupBy(col("doc_id"))
      .agg(countDistinct(col(slots.head), slots.tail.map(col): _*)
        .as(count))
    val n = coalesce(col(count), lit(0L))
    docs.join(hits, Seq("doc_id"), "left")
      .select(docs.columns.toSeq.map(col) :+ n.as(count) :+
        when(n >= 1L, 1L).otherwise(0L).as(flag): _*)
  }

  // ---- dedup_incr_minhash: NEAR-dup check of a shard vs history ----
  // dedup_incremental's exact/containment check extended to near-dups:
  // the standing corpus keeps only its DISTINCT LSH band values (8 per
  // doc, skinny longs — persisted as the `bands/` frame of the
  // sources.Fingerprints bundle, tiny beside the text; the driver
  // query derives them in-line so DuckDB sees one self-contained
  // input), and each arriving doc's bands probe that set —
  // an (edited) copy of ANY historical doc collides on ≥1 of its 8
  // bands w.h.p. Asymmetric like the parent op: no history×history
  // pairing, history text never leaves its scan; cost per ingest is
  // O(shard bands) probes. Full oracle since r17 (the OracleSql
  // xxh64 replay); the fixture still pins exact copies at 8/8 bands,
  // edited copies ≥ 1, fresh docs at 0.
  /** Store-fed core: the history side is a DISTINCT band-value frame of
    * the caller's provenance — derived ([[incrementalMinhash]]) or the
    * reloaded `sink_fingerprints` band store. */
  private[graft] def incrementalMinhashFrom(fresh: DataFrame,
      histBands: DataFrame): DataFrame = {
    val freshSigs = minhashSigs(fresh)
    bandProbe(freshSigs.select(col("doc_id"), col("sig_digest")),
      freshSigs.select(col("doc_id"), explode(col("bands")).as("band_val")),
      histBands, Seq("band_val"), Seq("band_val"),
      "n_hist_bands", "near_hist")
  }

  private[graft] def incrementalMinhash(d: DataFrame, split: Long): DataFrame =
    incrementalMinhashFrom(
      d.filter(col("doc_id") >= split),
      minhashSigs(d.filter(col("doc_id") < split))
        .select(explode(col("bands")).as("band_val")))

  private val opIncrMinhash = Op(
    "dedup_incr_minhash",
    (s, dir) => incrementalMinhash(docs(s, dir), IncrSplit),
    // Full oracle since r17 (the OracleSql.sigCtes replay): fresh-side
    // signatures + digest and the history side's DISTINCT band-value
    // set replay per-doc, then the asymmetric probe is one join — the
    // countDistinct over a fresh doc's HIT band values matches the
    // Spark aggregation exactly.
    Some(s"""
      WITH fresh AS (
        SELECT doc_id, text FROM documents WHERE doc_id >= $IncrSplit
      ), hist AS (
        SELECT doc_id, text FROM documents WHERE doc_id < $IncrSplit
      ), ${graft.plans.OracleSql.sigCtes("fresh", "doc_id", "fr",
        withDigest = true)},
      ${graft.plans.OracleSql.sigCtes("hist", "doc_id", "hs")},
      hb AS (SELECT DISTINCT band_val FROM hs_bandvals),
      hits AS (
        SELECT f.doc_id, COUNT(DISTINCT f.band_val) AS n_hist_bands
        FROM fr_bandvals f JOIN hb ON hb.band_val = f.band_val
        GROUP BY f.doc_id
      )
      SELECT d.doc_id, s.sig_digest,
        COALESCE(h.n_hist_bands, 0) AS n_hist_bands,
        CAST(COALESCE(h.n_hist_bands, 0) >= 1 AS BIGINT) AS near_hist
      FROM fresh d
      JOIN fr_sigd s ON s.doc_id = d.doc_id
      LEFT JOIN hits h ON h.doc_id = d.doc_id"""))

  // ---- ingest_bloom: constant-size pre-gate for the ingest firewall ----
  // dedup_incremental's exact gate probes the persisted content-hash
  // store with a JOIN — at 100 TB that shuffles every arriving shard's
  // hashes against a billion-row store even when (the common case)
  // almost every arriving doc is new. The standard fix is a Bloom
  // filter of the store: a CONSTANT-SIZE sketch (Spark's own
  // runtime-filter machinery, BloomFilterAggregate /
  // BloomFilterMightContain, surfaced as graft_bloom_agg /
  // graft_bloom_contains) that rides as one bounded driver value and
  // answers "definitely new" per row with ZERO shuffle. Only bloom
  // SURVIVORS (true dups + the bounded false-positive trickle) reach
  // the exact confirm join, so the join's probe side shrinks from
  // |shard| to ~|dups|. False negatives are impossible (bloom
  // guarantee), so the end-to-end verdict equals dedup_incremental's
  // exact flag row-for-row — which is exactly what the SQL oracle
  // checks; the fp-rate/pruning behavior is spec territory.
  // The one-row driver collect of the sketch is the bounded-scalar
  // precedent (k-means caps, counted broadcast guards): ~1 MB at the
  // session's runtime-filter defaults, 8 MB at the Spark cap.

  /** Store-fed core: `histHash` is the content-hash frame of the
    * caller's provenance — derived fresh ([[bloomGate]], the oracled
    * driver query) or the reloaded `sink_fingerprints` `content/`
    * store. Output: (doc_id, bloom_pass, is_exact_dup); bloom_pass
    * is the sketch's probabilistic verdict (kept for observability),
    * is_exact_dup the confirmed one.
    */
  private[graft] def bloomGateFrom(fresh: DataFrame,
      histHash: DataFrame): DataFrame = {
    // size the sketch from the ACTUAL store cardinality (bounded
    // driver scalar, the counted-guard precedent): the 1-arg default
    // assumes 1M items and silently SATURATES at a billion-hash store
    // — fp rate → 1 and the pre-gate stops pruning. ~10 bits/item
    // ≈ 1 % fpp, capped at Spark's runtime-filter byte budget; past
    // the cap the fp rate grows (never correctness — fps die at the
    // confirm join) and the lever is sharding the sketch by hash range
    val nHist = math.max(histHash.count(), 1L)
    val bits = math.min(nHist * 10L, 67108864L * 8L)
    val bloomBytes = histHash.select(col("th"))
      .agg(call_function("graft_bloom_agg", xxhash64(col("th")),
        lit(nHist), lit(bits)).as("bf"))
      .head().getAs[Array[Byte]](0)
    // empty history → null sketch → nothing passes (vacuously correct)
    val bf = if (bloomBytes == null) lit(null).cast("binary")
      else lit(bloomBytes)
    val gated = fresh.select(col("doc_id"), md5(col("text")).as("th"))
      .withColumn("bloom_pass",
        when(call_function("graft_bloom_contains", bf, xxhash64(col("th"))),
          1L).otherwise(0L))
    // two narrow branches unioned instead of a doc_id re-join: the
    // survivors branch keeps might_contain as a LIVE predicate (so
    // Catalyst still propagates it to the history-side scan through
    // the th equi-join — plan-spec'd) and nothing shard-sized ever
    // crosses an exchange; the non-survivor branch is a second narrow
    // scan, strictly cheaper than shuffling the shard on doc_id
    val survivors = gated.filter(col("bloom_pass") === 1L)
      .join(histHash.select(col("th")).distinct()
          .withColumn("hit", lit(1L)), Seq("th"), "left")
      .select(col("doc_id"), col("bloom_pass"),
        coalesce(col("hit"), lit(0L)).as("is_exact_dup"))
    survivors.union(
      gated.filter(col("bloom_pass") === 0L)
        .select(col("doc_id"), col("bloom_pass"),
          lit(0L).as("is_exact_dup")))
  }

  private[graft] def bloomGate(d: DataFrame, split: Long): DataFrame =
    bloomGateFrom(
      d.filter(col("doc_id") >= split),
      d.filter(col("doc_id") < split).select(md5(col("text")).as("th")))
      // the sketch's raw verdict is not cross-engine-expressible; the
      // driver query ships the deterministic end-to-end columns
      .select(col("doc_id"), col("is_exact_dup"))

  private val opBloomGate = Op(
    "ingest_bloom",
    (s, dir) => bloomGate(docs(s, dir), IncrSplit),
    Some(s"""
      WITH hh AS (SELECT DISTINCT md5(text) AS th FROM documents
        WHERE doc_id < $IncrSplit)
      SELECT f.doc_id,
        CAST(CASE WHEN hh.th IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
          AS is_exact_dup
      FROM documents f LEFT JOIN hh ON md5(f.text) = hh.th
      WHERE f.doc_id >= $IncrSplit"""))

  // ---- dedup_report: the dedup savings report card ----
  // The number every dedup pipeline publishes before anyone trusts it:
  // how much mass does the exact pass remove, STRATIFIED BY
  // DUPLICATION DEPTH — the long tail (n_copies 2-3, organic
  // near-reposts) and the pathological floods (n_copies in the
  // hundreds: boilerplate, mirrors, crawler traps) need different
  // responses, and a single "X% removed" hides which one you have.
  // Per distinct copies-count: group count, doc count, docs dropped if
  // only keepers survive, char mass, and the chars dropped — EXACT,
  // because group members are byte-identical so group_chars is
  // divisible by n_copies. Two aggregations: the content-hash groupBy
  // (map-side partials — only (hash, count, sumlen) rows shuffle, text
  // never moves) into a copies-count groupBy over the VANISHING
  // distinct-depth frame. Full oracle.
  /** The report over a (doc_id, text) frame — factored for fixture
    * specs (the sf0.001 spec corpus happens to carry zero exact dups,
    * so depth strata ≥ 2 are exercised by planted fixtures).
    */
  private[graft] def dedupReport(d: DataFrame): DataFrame =
    d.groupBy(md5(col("text")).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"),
        sum(length(col("text")).cast("long")).as("group_chars"))
      .groupBy(col("n_copies"))
      .agg(count(lit(1)).as("n_groups"),
        sum(col("group_chars")).as("total_chars"))
      .select(col("n_copies"), col("n_groups"),
        (col("n_copies") * col("n_groups")).as("n_docs"),
        ((col("n_copies") - 1) * col("n_groups")).as("n_dropped"),
        col("total_chars"),
        expr("(total_chars * (n_copies - 1)) DIV n_copies")
          .as("dropped_chars"))

  private val opDedupReport = Op(
    "dedup_report",
    (s, dir) => dedupReport(docs(s, dir)),
    Some("""
      WITH grp AS (
        SELECT md5(text) AS content_hash, COUNT(*) AS n_copies,
          CAST(SUM(length(text)) AS BIGINT) AS group_chars
        FROM documents GROUP BY 1),
      rep AS (
        SELECT n_copies, COUNT(*) AS n_groups,
          CAST(SUM(group_chars) AS BIGINT) AS total_chars
        FROM grp GROUP BY n_copies)
      SELECT CAST(n_copies AS BIGINT) AS n_copies,
        CAST(n_groups AS BIGINT) AS n_groups,
        CAST(n_copies * n_groups AS BIGINT) AS n_docs,
        CAST((n_copies - 1) * n_groups AS BIGINT) AS n_dropped,
        total_chars,
        CAST((total_chars * (n_copies - 1)) // n_copies AS BIGINT)
          AS dropped_chars
      FROM rep"""))

  // ---- dedup_keep_best: quality-aware keeper selection ----
  // dedup_cluster / dedup_pipeline keep the MIN-ID member — fine for
  // exact copies (identical bytes, any member serves), wrong for
  // near-dup clusters whose members genuinely differ: the standard
  // curation policy (Dolma, FineWeb) keeps the highest-QUALITY member
  // so deduplication never deletes the best draft of a page. Same
  // cluster structure as dedup_cluster (consecutive-doc verified
  // edges → connected components — the oracle-replayable toy edge
  // set), keeper = argmax(diversity ppm, tie → min doc_id) via one
  // window over the skinny (doc_id, cluster_id, div_ppm) frame: text
  // is read once for the per-row quality signal and never shuffles.
  private[graft] def keepBest(d: DataFrame): DataFrame = {
    val qual = d.withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), expr(
        "(cast(size(array_distinct(toks)) as bigint) * 1000000)" +
          " div greatest(cast(size(toks) as bigint), 1)").as("div_ppm"))
    val byCluster = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
    consecutiveComponents(d)
      .select(col("doc_id"), col("lbl").as("cluster_id"))
      .join(qual, Seq("doc_id"))
      .withColumn("rk", row_number().over(
        byCluster.orderBy(col("div_ppm").desc, col("doc_id"))))
      .select(col("doc_id"), col("cluster_id"), col("div_ppm"),
        when(col("rk") === 1, 1L).otherwise(0L).as("is_keeper"))
  }

  private val opKeepBest = Op(
    "dedup_keep_best",
    (s, dir) => keepBest(docs(s, dir)),
    Some(s"""
      WITH RECURSIVE $consecutiveCompCtes,
      qual AS (
        SELECT doc_id,
          (CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
            * 1000000)
            // greatest(CAST(len(string_split(text, ' ')) AS BIGINT), 1)
            AS div_ppm
        FROM documents),
      j AS (
        SELECT c.doc_id, c.cluster_id, q.div_ppm,
          ROW_NUMBER() OVER (PARTITION BY c.cluster_id
            ORDER BY q.div_ppm DESC, c.doc_id) AS rk
        FROM comp c JOIN qual q ON q.doc_id = c.doc_id)
      SELECT doc_id, CAST(cluster_id AS BIGINT) AS cluster_id, div_ppm,
        CAST(CASE WHEN rk = 1 THEN 1 ELSE 0 END AS BIGINT) AS is_keeper
      FROM j"""))

  val ops: Seq[Op] =
    Seq(opExact, opSoft, opMinhash, opSimhash, opJaccard, opContam, opCluster,
      opSpan,
      opPipeline, opSubstr, opSubstrLadder, opIncremental, opIncrMinhash,
      opBloomGate, opDedupReport, opKeepBest)
}
