package graft.operators

import graft.{Op, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cluster-based corpus curation — the published "prune by prototype"
  * recipe family (Sorscher et al. 2022 "Beyond neural scaling laws:
  * beating power law scaling via data pruning"; the SemDeDup paper's
  * cluster stage reused for SELECTION instead of dedup):
  *
  *   - embed_cluster: k-means cluster map of the embedding corpus —
  *     per-cluster population and cosine-coherence stats (the "what is
  *     in this corpus" view a mixture designer reads before weighting,
  *     and the health check for every downstream cluster-scoped op:
  *     a cluster whose mean_ccos ≈ 0 is structure-less noise, one
  *     near 1 is boilerplate).
  *   - cluster_prune: self-supervised prototype pruning — within each
  *     cluster, drop the [[PruneTenths]]/10 of members CLOSEST to the
  *     centroid (the "easy", most prototypical examples; data-rich
  *     regime of Sorscher et al. §3), keep the hard tail that carries
  *     the training signal.
  *
  * Scale shapes. Fit is the bounded driver one-off shared with ann_ivf
  * (Similarity.kmeansCentroids: ≤65536-row hash-ordered sample, k ∝ √n
  * capped at 4096). Assignment is ONE narrow per-row argmax fold
  * ([[assignFold]] — no join, no ×k row materialization; the shape
  * stream_cluster proved bit-identical to the join+TopK ranking,
  * including ties, before the batch path adopted it). The prune
  * QUANTILE is the part naive
  * implementations get wrong at 100 TB: a per-cluster rank needs
  * `row_number().over(partitionBy(cluster))`, which buffers an entire
  * cluster's rows in ONE window task (a degenerate corpus makes one
  * cluster O(n)); an exact `percentile` aggregate buffers O(n/k) values
  * per group. Instead the threshold comes from a FIXED-WIDTH HISTOGRAM
  * of ccos: 4096 integer bins over [-1, 1], counted by a skinny
  * map-side-combining groupBy (≤ k·4096 rows total), descending-
  * cumulative-summed by a window over that VANISHING frame, and
  * broadcast back as one threshold bin per cluster. Deterministic and
  * order-independent by construction (integer bin arithmetic, no
  * sketch merge order): prune iff bin ≥ threshold bin, so the pruned
  * share is ≤ the target with at most one bin's width of under-prune —
  * resolution 2/4096 ≈ 0.0005 cosine, spec-pinned. Both rows-only
  * (k-means inside); planted-structure specs pin the guarantees.
  */
object Cluster {

  /** Prune share in tenths: drop the easiest 3/10 of each cluster. */
  val PruneTenths = 3L

  /** Histogram resolution for the prune threshold (bins over [-1,1]). */
  val CcosBins = 4096

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))

  /** The nearest-centroid argmax as ONE narrow per-row fold — appends
    * (cluster, ccos) to the incoming frame with NO join, no TopK
    * exchange and no n·k row materialization: `array_max` over
    * `struct(ccos, -id)` carries the exact tie rule (ties to the
    * SMALLER centroid id). Shared VERBATIM by the batch assignment
    * ([[assign]], dedup_semantic) and the streaming gates
    * (stream_cluster / stream_prune), which makes their row-for-row
    * equality structural rather than spec-incidental. The centroid
    * literal is bounded by [[Similarity.KmeansMaxK]] = 4096 × dim
    * floats (~1 MB worst case in the plan); an index past literal
    * size is the AnnServe broadcast-handle territory. Incoming
    * columns ride through so the fold composes at ingest.
    */
  private[graft] def assignFold(df: DataFrame,
      cents: Array[(Int, Array[Float])]): DataFrame = {
    require(cents.nonEmpty && cents.length <= Similarity.KmeansMaxK,
      s"centroid set must hold 1..${Similarity.KmeansMaxK}")
    df.withColumn("__cents", typedLit(cents.toSeq))
      .withColumn("__best", expr(
        "array_max(transform(__cents, c -> " +
          "struct(graft_cosine(embedding, c._2) AS ccos, -c._1 AS nid)))"))
      .withColumn("cluster", (-col("__best.nid")).cast("long"))
      .withColumn("ccos", col("__best.ccos"))
      .drop("__cents", "__best")
  }

  /** Nearest-centroid assignment: (vec_id, cluster, ccos), ties to the
    * smaller centroid id — the [[assignFold]] narrow fold projected to
    * the assignment triple (identical semantics to dedup_semantic's
    * assignment and the streaming twin's frozen-model gate, now by
    * shared code rather than parallel implementations). */
  private[graft] def assign(e: DataFrame,
      cents: Array[(Int, Array[Float])]): DataFrame =
    assignFold(e, cents)
      .select(col("vec_id"), col("cluster"), col("ccos"))

  // ---- embed_cluster: per-cluster population + coherence stats ----

  private[graft] def embedCluster(e: DataFrame, k: Int): DataFrame =
    assign(e, Similarity.kmeansCentroids(e, k, Similarity.KmeansIters))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"),
        round(avg(col("ccos")), 6).as("mean_ccos"),
        round(min(col("ccos")), 6).as("min_ccos"),
        round(max(col("ccos")), 6).as("max_ccos"))

  private val opEmbedCluster = Op(
    "embed_cluster",
    (s, dir) => {
      val e = emb(s, dir)
      embedCluster(e, Similarity.ivfK(e.count()))
    },
    None) // k-means inside → rows-only; spec plants two tight clusters
          // and pins membership counts + coherence ordering

  // ---- cluster_prune: drop the most prototypical fraction ----

  /** Integer histogram bin of a cosine in [-1, 1] (inclusive top) —
    * shared by the batch op and the streaming prune gate. */
  private[graft] def binOf(ccos: org.apache.spark.sql.Column) =
    least(floor((ccos + 1.0) * (CcosBins / 2.0)), lit(CcosBins - 1L))
      .cast("long")

  /** Assignment with the prune bin attached, pinned — the skinny
    * (vec_id, cluster, ccos, bin) frame every prune consumer shares
    * (the histogram and the final flag join would otherwise each
    * re-run the ×k assignment explode). */
  private[graft] def assignedWithBin(e: DataFrame,
      cents: Array[(Int, Array[Float])]): DataFrame =
    assign(e, cents).withColumn("bin", binOf(col("ccos")))
      .localCheckpoint()

  /** Per-cluster prune thresholds (cluster, prune_bin) from the
    * assigned-with-bin frame: the smallest bin whose ENTIRE easy-side
    * tail fits the [[PruneTenths]] budget — every member of a pruned
    * bin is pruned (deterministic, order-independent, no
    * tie-splitting inside a bin). Windows run over the VANISHING
    * histogram frame (≤ k·4096 rows), never over member rows. The
    * output is what [[graft.sources.CentroidStore]] freezes next to
    * the centroids so the streaming gate prunes arriving vectors
    * under the same fences. */
  private[graft] def pruneThresholds(a: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = a.groupBy(col("cluster"), col("bin"))
      .agg(count(lit(1)).as("c"))
    val byCluster = Window.partitionBy(col("cluster"))
    val descCum = byCluster.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("cum_top", sum(col("c")).over(descCum))
      .withColumn("n", sum(col("c")).over(byCluster))
      .filter(col("cum_top") * 10L <= col("n") * PruneTenths)
      .groupBy(col("cluster")).agg(min(col("bin")).as("prune_bin"))
  }

  private[graft] def clusterPrune(e: DataFrame, k: Int): DataFrame = {
    val cents = Similarity.kmeansCentroids(e, k, Similarity.KmeansIters)
    val a = assignedWithBin(e, cents)
    a.join(broadcast(pruneThresholds(a)), Seq("cluster"), "left")
      .select(col("vec_id"), col("cluster"),
        round(col("ccos"), 6).as("ccos"),
        when(col("prune_bin").isNotNull && col("bin") >= col("prune_bin"),
          0L).otherwise(1L).as("keep"))
  }

  private val opClusterPrune = Op(
    "cluster_prune",
    (s, dir) => {
      val e = emb(s, dir)
      clusterPrune(e, Similarity.ivfK(e.count()))
    },
    None) // k-means inside → rows-only; spec pins the ≤30% budget and
          // that every pruned member is closer to its centroid than
          // every kept member of the same cluster (bin granularity)

  def ops: Seq[Op] = Seq(opEmbedCluster, opClusterPrune)
}
