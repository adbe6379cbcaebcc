package graft.sources

import graft.operators.QualityClassifier
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** sink_classifier — persistence for the trained quality filter
  * (quality_classifier's product), the same "derive once, probe
  * forever" contract as sink_lm: at 100 TB the classifier is trained
  * ONCE on a bounded sample and every later shard/stream is scored
  * against the frozen weights — retraining per ingest tick would
  * re-pay the weak-label (Gopher kernel) pass and make scores drift
  * batch to batch.
  *
  * The bundle is deliberately TRANSPARENT — one parquet row
  * (weights array<double>, intercept, dim) rather than an opaque
  * serialized estimator — so any engine (or a human) can audit the
  * per-bucket log-odds, and serving needs nothing but the array
  * literal the scoring expression already takes.
  */
object ClassifierStore {

  /** Bundle format version (`_graft_format` marker, shared
    * [[StoreMaintenance]] scheme). Version history:
    *
    *   - 1 — weights index by SQL murmur3 (`hash()`, seed 42) mod
    *     1024 over whitespace tokens, trained on Gopher-pass weak
    *     labels. A change to the hash, bucket count, or tokenizer
    *     makes persisted weights score garbage SILENTLY (every token
    *     lands in a differently-owned bucket) — exactly the failure
    *     class the marker turns into a loud refusal.
    */
  val FormatVersion = 1

  private val bundle = StoreMaintenance.Bundle("classifier", FormatVersion,
    "murmur3-mod-1024 hashed-count features over whitespace tokens")

  private val schema = StructType(Seq(
    StructField("weights", ArrayType(DoubleType, containsNull = false)),
    StructField("intercept", DoubleType),
    StructField("dim", IntegerType)))

  def write(spark: SparkSession, m: QualityClassifier.Model,
      path: String): Unit = {
    val row = Row(m.weights.toSeq, m.intercept, m.weights.length)
    bundle.write(path, "overwrite")(StoreMaintenance.Frame("model",
      spark.createDataFrame(java.util.List.of(row), schema)))
  }

  /** Reload the frozen model. Refuses a stale-format bundle; also
    * refuses a dim that disagrees with the serving hash width (same
    * silent-garbage class, second line of defense inside v1). */
  def read(spark: SparkSession, path: String): QualityClassifier.Model = {
    val r = bundle.read(spark, path, "model").collect()
    require(r.length == 1, s"classifier bundle at $path holds " +
      s"${r.length} model rows, expected exactly 1")
    val dim = r(0).getInt(2)
    require(dim == QualityClassifier.NumFeatures,
      s"classifier bundle at $path was trained over $dim buckets, " +
        s"serving hashes into ${QualityClassifier.NumFeatures}")
    QualityClassifier.Model(
      r(0).getSeq[Double](0).toArray, r(0).getDouble(1))
  }
}
