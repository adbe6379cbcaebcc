package graft.sources

import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ANN serving-index persistence (SURVEY.md §2 sources/sinks:
  * sink_ann_index) — the "build once, serve later" contract a real
  * serving stack needs: index construction is the expensive offline
  * job (bounded k-means + PQ training + a full encode pass), serving
  * restarts must NOT repeat it. One bundle under `path`:
  *
  *   codes/      int8 candidate codes (c_id, c_q), range-sharded on
  *               c_id via the sink_shards layout — bounded contiguous
  *               shards a serving loader streams straight into the
  *               flat in-memory index (graft.plans.AnnServe.Index)
  *   centroids/  the IVF coarse centroids (cent_id, cent_emb)
  *   pq/         the PQ codebook as ONE row (m, k, flat codebook) —
  *               KBs even at k=256·m=8·dim=64
  *
  * Everything is plain parquet: readable by any engine, partition-
  * prunable, and the read-back spec proves codes/centroids/codebook
  * round-trip bit-exactly and that serving from the reloaded bundle
  * equals the freshly-built batch answer row-for-row.
  */
object AnnIndex {

  /** Bundle format version (`_graft_format` marker, shared
    * [[StoreMaintenance]] scheme). Version history:
    *
    *   - 1 — int8 codes under the symmetric ±127/max-abs scale
    *     (Similarity.int8Codes), PQ codebook persisted FLAT in
    *     subspace-major order (graft_pq_encode's indexing), coarse
    *     assignment = top-[[graft.operators.Similarity.Rep]] cells by
    *     cosine. A change to any of these makes persisted codes
    *     incomparable with freshly-encoded queries — serving would
    *     silently rank garbage, which is why readers refuse instead.
    */
  val FormatVersion = 1

  private val bundle = StoreMaintenance.Bundle("ANN index", FormatVersion,
    "int8 max-abs codes + flat subspace-major PQ codebook")

  def write(e: DataFrame, path: String, nShards: Int = 4): Unit = {
    val spark = e.sparkSession
    val k = Similarity.ivfK(e.count())
    val cents = Similarity.kmeansCentroids(e, k, Similarity.KmeansIters)
    val (cb, kEff) = Similarity.pqCodebook(
      e, Similarity.PqM, Similarity.PqK, Similarity.KmeansIters)
    bundle.write(path, "overwrite")(
      StoreMaintenance.Frame("codes", Similarity.int8Codes(e),
        Seq("c_id"), nShards),
      StoreMaintenance.Frame("centroids",
        spark.createDataFrame(cents.toSeq).toDF("cent_id", "cent_emb")),
      StoreMaintenance.Frame("pq",
        spark.createDataFrame(Seq((Similarity.PqM, kEff, cb.toSeq)))
          .toDF("m", "k", "codebook")))
  }

  // ---- ann_upsert: incremental index maintenance ----

  /** ann_upsert (SURVEY.md §2 sources/sinks) — serve-time corpora
    * grow, and a bundle rebuild re-pays k-means + PQ training + a
    * full-history encode per refresh. Arriving vectors are instead
    * encoded with the bundle's PERSISTED model: int8 codes
    * (model-free), top-[[graft.operators.Similarity.Rep]] coarse-cell
    * assignment against the persisted centroids (ivfRank's boundary
    * replication, kept as an array so the row count stays one per
    * vector), and PQ codes through the persisted codebook. History
    * rows are never read, re-encoded, or rewritten — the upsert plan
    * scans the delta + the KB-sized model frames only (plan-spec'd).
    * Every encode step is a deterministic per-vector function of the
    * persisted model, so int8 serving over codes/ ∪ upserts/ is
    * EXACTLY serving over a full rebuild's codes on the union corpus
    * (spec, the stream_ann equality pattern). Model drift — enough
    * upserts that the frozen centroids/codebook stop fitting the data
    * — is the explicit rebuild trigger (the offline [[write]] path),
    * the same freshness contract FAISS's add-with-ids carries.
    */
  def upsertFrame(newVecs: DataFrame, path: String): DataFrame = {
    val spark = newVecs.sparkSession
    val cents = broadcast(readCentroids(spark, path))
    val (cb, m, kEff) = readPq(spark, path)
    val cells = newVecs.select(col("vec_id"), col("embedding"))
      .join(cents)
      .withColumn("ccos", expr("graft_cosine(embedding, cent_emb)"))
      .select(col("vec_id"), col("cent_id"), col("ccos"))
    val assigned = graft.plans.TopK.perKey(cells, Seq("vec_id"),
        Seq("ccos" -> graft.plans.TopK.Desc,
          "cent_id" -> graft.plans.TopK.Asc),
        Similarity.Rep, "crk")
      .groupBy(col("vec_id"))
      .agg(sort_array(collect_list(struct(col("crk"), col("cent_id"))))
        .as("cr"))
      .select(col("vec_id").as("c_id"),
        expr("transform(cr, x -> x.cent_id)").as("cent_ids"))
    Similarity.int8Codes(newVecs)
      .join(newVecs.select(col("vec_id").as("c_id"),
        call_function("graft_pq_encode",
          col("embedding"), lit(cb), lit(m), lit(kEff)).as("c_code")),
        Seq("c_id"))
      .join(assigned, Seq("c_id"))
  }

  /** Appends the encoded delta as new range-sharded files under
    * `upserts/` — contiguous c_id ranges within each batch; old shards
    * are never rewritten (append-only, the log-structured move).
    */
  def upsert(newVecs: DataFrame, path: String, nShards: Int = 1): Unit =
    writeUpserts(newVecs, path, "upserts", nShards, "append")

  /** IDEMPOTENT upsert keyed by a caller-supplied batch id: the delta
    * lands under `upserts/bid=<id>/` with OVERWRITE semantics, so a
    * replay of the same batch (a streaming restart re-running an
    * uncommitted micro-batch) rewrites the same directory instead of
    * appending duplicates — this is what makes Streams.upsertSink
    * exactly-once across restarts. readServable's recursive upserts/
    * read discovers the bid partition dirs transparently.
    */
  def upsertBatch(newVecs: DataFrame, path: String, batchId: Long,
      nShards: Int = 1): Unit =
    writeUpserts(newVecs, path, s"upserts/bid=$batchId", nShards, "overwrite")

  private def writeUpserts(newVecs: DataFrame, path: String, sub: String,
      nShards: Int, mode: String): Unit =
    bundle.write(path, mode)(StoreMaintenance.Frame(
      sub, upsertFrame(newVecs, path), Seq("c_id"), nShards))

  /** The full servable int8 code set: base build ∪ upserted deltas
    * (absent `upserts/` — a never-upserted bundle — just the base).
    */
  def readServable(spark: SparkSession, path: String): DataFrame = {
    val base = readCodes(spark, path)
    if (StoreMaintenance.exists(spark,
        new org.apache.hadoop.fs.Path(s"$path/upserts")))
      base.union(bundle.read(spark, path, "upserts")
        .select(col("c_id"), col("c_q")))
    else base
  }

  def readCodes(spark: SparkSession, path: String): DataFrame =
    bundle.read(spark, path, "codes")

  def readCentroids(spark: SparkSession, path: String): DataFrame =
    bundle.read(spark, path, "centroids")

  /** (flat codebook, m, k) — the graft_pq_cos/graft_pq_encode args. */
  def readPq(spark: SparkSession, path: String): (Array[Float], Int, Int) = {
    val r = bundle.read(spark, path, "pq").head()
    (r.getSeq[Float](2).toArray, r.getInt(0), r.getInt(1))
  }
}
