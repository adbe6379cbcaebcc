package graft.operators

import graft.{Op, Tables}
import graft.functions.TextFns
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** quality_classifier — the TRAINED quality filter every production
  * LLM-data pipeline runs after the heuristic gates (CCNet's
  * wiki-reference linear model, DCLM's fasttext filter): a linear
  * classifier over hashed bag-of-words counts, trained on weak labels
  * from an existing heuristic (here the published Gopher rule set —
  * quality_gopher's pass bit), then applied to every document as a
  * calibrated probability. The heuristics hand-draw the decision
  * boundary; the classifier LEARNS one from the same signal and
  * generalizes it to token evidence the rules never mention.
  *
  * Spark-first decomposition — the two halves scale differently and
  * get different machinery:
  *
  *   - TRAINING is a bounded one-off (DCLM trains its filter on
  *     ~400k docs, not the corpus): MLlib `LogisticRegression`
  *     (LBFGS), whose per-iteration gradient is a `treeAggregate`
  *     over the instance RDD — the canonical distributed-gradient
  *     shape. The only UDF in this file assembles the sparse count
  *     vector MLlib needs, and it runs exclusively here.
  *   - SERVING is the 100 TB path and is one NARROW codegen fold per
  *     document: feature indices come from SQL `hash()` (murmur3,
  *     seed 42) mod [[NumFeatures]], the trained weights ride the
  *     plan as a single array literal, and the score is
  *     `aggregate(indices, intercept, acc + w[i])` + a sigmoid —
  *     zero shuffle, zero UDF, scan-speed scoring.
  *
  * Train/serve feature identity is BY CONSTRUCTION: both sides index
  * through the same [[featureIdx]] SQL expression, so there is no
  * "training hashed in Scala, serving hashed in SQL" drift class
  * (the spec additionally pins the serving fold against a Scala
  * recompute from the same indices).
  *
  * The output tags each doc with its split (`train` / `eval` on
  * doc_id % 5) so downstream audits measure generalization on rows
  * the optimizer never saw — the held-out AUC bound lives in the
  * spec on a planted separable fixture.
  *
  * Not SQL-expressible (LBFGS training) → rows-only driver check;
  * the spec suite carries the real assertions.
  */
object QualityClassifier {

  /** Hashed feature-space width. 2^10 is deliberately small: the
    * synthetic corpus vocabulary is tiny and a fasttext-style filter
    * wants collisions over sparsity (DCLM uses 2M buckets for web
    * scale — the constant scales with real vocabulary, the shape
    * does not change). */
  val NumFeatures = 1024

  /** Per-token feature index, computed in SQL on BOTH the training
    * and the serving side: murmur3 (SQL `hash()`, seed 42) mod
    * [[NumFeatures]]. */
  private[graft] def featureIdx(toks: Column): Column =
    transform(toks, t => pmod(hash(t), lit(NumFeatures)))

  /** The frozen product of a training run — everything serving needs. */
  final case class Model(weights: Array[Double], intercept: Double) {
    require(weights.length == NumFeatures,
      s"model carries ${weights.length} weights, serving hashes into " +
        s"$NumFeatures buckets")
  }

  /** TRAIN-ONLY sparse-vector assembly (the one UDF): hashed indices
    * → count vector. Indices arrive pre-hashed from [[featureIdx]] so
    * this lambda never re-implements the hash. */
  private val countVec = udf { (idx: Seq[Int]) =>
    val m = scala.collection.mutable.HashMap.empty[Int, Double]
    idx.foreach(i => m(i) = m.getOrElse(i, 0.0) + 1.0)
    Vectors.sparse(NumFeatures, m.toSeq.sortBy(_._1)): Vector
  }

  /** Hard training-set bound, ENFORCED IN CODE (the k-means /
    * BPE-top-64k cap discipline — Similarity.scala:151,
    * Bpe.scala:123): DCLM trains its quality filter on ~400k docs
    * regardless of corpus size; a 100 TB corpus must never reach
    * LBFGS whole. */
  val TrainCap = 400000L

  /** Modulus for the keep-threshold hash — small enough that
    * h·n stays inside int64 for any plausible doc count
    * (2^20 · 8×10^12 < 2^63). */
  private val CapMod = 1048573L // prime, the mix_sample modulus

  /** Deterministic hash-threshold downsample of `labeled` to at most
    * `cap` rows: one cheap count (the frame is already
    * localCheckpointed by callers), then a pure per-row narrow filter
    * keep iff pmod(xxhash64(doc_id), M)·n < M·cap' — identical
    * decisions on any cluster, no shuffle, no sort, no rank window.
    * cap' = cap − 5% − 3√cap: the margin converts the binomial tail
    * into a real ≤ cap guarantee at every cap size (≥3σ for small
    * caps, ~32σ at the 400k default). Corpora at or under the cap
    * pass through untouched. */
  private[graft] def boundTraining(labeled: DataFrame, cap: Long): DataFrame = {
    val n = labeled.count()
    val eff = math.max(1L,
      cap - cap / 20 - 3 * math.sqrt(cap.toDouble).toLong)
    if (n <= cap) labeled
    else labeled.filter(
      pmod(xxhash64(col("doc_id")), lit(CapMod)) * lit(n) <
        lit(CapMod) * lit(eff))
  }

  /** Fit the linear model on `labeled` (`fidx` array<int>, `label`
    * double). LBFGS, L2 1e-4, no standardization (raw hashed counts —
    * the weights stay interpretable as per-bucket log-odds). */
  private[graft] def train(labeled: DataFrame): Model = {
    // The training set is bounded to [[TrainCap]] by [[boundTraining]]
    // below, so pack it into a few partitions: every LBFGS iteration
    // is a treeAggregate whose cost at this scale is per-task
    // overhead, not arithmetic — 30 iterations × 32 near-empty tasks
    // was the measured dominant cost of the whole operator (coalesce,
    // not repartition: no shuffle, and the parent frame is
    // localCheckpointed by callers).
    val ds = boundTraining(labeled, TrainCap).coalesce(4)
      .select(countVec(col("fidx")).as("features"), col("label"))
    val lr = new LogisticRegression()
      .setMaxIter(30).setRegParam(1e-4).setTol(1e-7)
      .setStandardization(false)
    val m = lr.fit(ds)
    Model(m.coefficients.toArray, m.intercept)
  }

  /** Serving score as ONE narrow codegen expression over a token
    * array: sigmoid(intercept + Σ_tokens w[hash(tok) mod F]). Each
    * occurrence contributes its bucket weight once, so the fold over
    * raw tokens IS the dot product with the hashed COUNT vector.
    * The weights are a single ArrayType literal — broadcast with the
    * plan, never shuffled. */
  private[graft] def scoreCol(toks: Column, m: Model): Column =
    scoreFromIdx(featureIdx(toks), m)

  /** Weak-labeled, feature-indexed corpus: doc_id, label (Gopher pass
    * bit), fidx — SKINNY: text stays OUT of the checkpoint (training
    * and serving both work from fidx alone), so the materialization
    * writes hashed indices, not the corpus. localCheckpoint pins the
    * Gopher repetition kernel's output — LBFGS iterates over this
    * frame and must not re-run the gram folds per iteration. Shared
    * by the driver query and the curate_e2e composition's training
    * step. */
  private[graft] def weakLabeled(d: DataFrame): DataFrame =
    TextAnalysis.gopherSignals(Tables.rebalance(d))
      .select(col("doc_id"),
        col("pass_gopher").cast("double").as("label"),
        featureIdx(TextFns.tokens(col("text"))).as("fidx"))
      .localCheckpoint()

  /** Train on the 80% doc_id split of a weak-labeled frame — the
    * composition entry point (the driver query here, curate_e2e's
    * classifier stage, sink_classifier builds); the [[TrainCap]]
    * bound applies inside [[train]]. */
  private[graft] def trainSplit(labeled: DataFrame): Model =
    train(labeled.filter(pmod(col("doc_id"), lit(5)) =!= 0))

  /** The driver query: train on the 80% split of the Gopher-weak-
    * labeled corpus, score EVERY doc through the narrow serving
    * expression, tag the split. */
  private[graft] def classify(s: SparkSession, dir: String): DataFrame = {
    val labeled = weakLabeled(Tables(s, dir, "documents"))
    score(labeled, trainSplit(labeled))
  }

  /** Score a feature-indexed frame with a frozen model (shared by the
    * batch query, the store-fed path, and the streaming twin). */
  private[graft] def score(labeled: DataFrame, m: Model): DataFrame =
    labeled.select(
      col("doc_id"),
      col("label").cast("long").as("weak_label"),
      when(pmod(col("doc_id"), lit(5)) === 0, "eval").otherwise("train")
        .as("split"),
      round(scoreFromIdx(col("fidx"), m), 4).as("prob"))
      .withColumn("pred", (col("prob") >= 0.5).cast("long"))

  /** The fold behind [[scoreCol]], over feature indices a frame
    * already carries (`fidx`). */
  private[graft] def scoreFromIdx(fidx: Column, m: Model): Column = {
    val w = typedLit(m.weights.toSeq)
    val z = aggregate(fidx, lit(m.intercept),
      (acc, i) => acc + element_at(w, i + 1))
    lit(1.0) / (lit(1.0) + exp(-z))
  }

  /** Streaming/external serving over raw docs (doc_id, text, …):
    * appends `prob` — stateless, per-row, incoming columns ride
    * through so the gate composes. */
  def served(docs: DataFrame, m: Model): DataFrame =
    docs.withColumn("prob",
      round(scoreCol(TextFns.tokens(col("text")), m), 4))

  private val opClassifier = Op(
    "quality_classifier",
    (s, dir) => classify(s, dir),
    None) // LBFGS training is not ANSI-SQL-expressible → rows-only

  val ops: Seq[Op] = Seq(opClassifier)
}
