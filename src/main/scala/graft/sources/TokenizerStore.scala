package graft.sources

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** sink_tokenizer — persistence for the trained unigram tokenizer
  * (tok_unigram's product): the same "derive once, segment forever"
  * contract as sink_classifier's weights and sink_lm's n-gram counts.
  * At 100 TB the tokenizer is trained ONCE on a bounded word-count
  * sample and every later shard/stream segments under the frozen
  * table — retraining per ingest tick would re-pay the corpus word
  * count AND silently shift piece boundaries batch to batch, changing
  * every downstream chunk digest.
  *
  * The bundle is TRANSPARENT (one parquet row per piece: piece,
  * logprob — the exact two literals the serving kernel takes), so any
  * engine or a human can audit the vocabulary, and reading it back
  * reconstructs the serving expression with zero deserialization
  * logic.
  */
object TokenizerStore {

  /** Bundle format version (`_graft_format` marker, shared
    * [[StoreMaintenance]] scheme). Version history:
    *
    *   - 1 — unigram-LM pieces over whitespace-token words with the
    *     Sennrich `</w>` end-of-word marker on the final character
    *     symbol (graft_bpe's convention). A change to the marker, the
    *     symbol basis, or the tokenizer of the training word counts
    *     makes persisted pieces segment DIFFERENTLY while still
    *     looking valid — every downstream chunk digest would drift
    *     silently; the marker turns that into a loud refusal.
    */
  val FormatVersion = 1

  private val bundle = StoreMaintenance.Bundle("tokenizer", FormatVersion,
    "unigram-LM pieces over whitespace words, Sennrich </w> end-of-word " +
      "marker")

  private val schema = StructType(Seq(
    StructField("rank", LongType),
    StructField("piece", StringType),
    StructField("logprob", DoubleType)))

  def write(spark: SparkSession, table: Seq[(String, Double)],
      path: String): Unit = {
    val rows: java.util.List[Row] = new java.util.ArrayList[Row]()
    table.zipWithIndex.foreach { case ((p, lp), i) =>
      rows.add(Row(i + 1L, p, lp))
    }
    bundle.write(path, "overwrite")(
      StoreMaintenance.Frame("pieces", spark.createDataFrame(rows, schema)))
  }

  /** Reload the frozen piece table in trained (rank) order — the
    * order is part of the contract: serving passes the table as two
    * parallel plan literals, and a reordered read would still segment
    * identically but produce a different plan fingerprint run to run.
    * Refuses a stale-format bundle. */
  def read(spark: SparkSession, path: String): Seq[(String, Double)] =
    bundle.read(spark, path, "pieces")
      .collect()
      .sortBy(_.getAs[Long]("rank"))
      .map(r => (r.getAs[String]("piece"), r.getAs[Double]("logprob")))
      .toSeq
}
