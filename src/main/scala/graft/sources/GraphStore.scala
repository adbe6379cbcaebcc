package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sink_graph — persistence for the navigation edge list
  * (graph_pagerank's input; stream_graph's output), completing the
  * derive-once arc for the graph tier: the event log is windowed into
  * transition edges ONCE (or maintained incrementally by
  * stream_graph's deltas), and every rank run reads the folded skinny
  * edge store instead of re-windowing the log — at 100 TB the log
  * scan dwarfs the 8 rank sweeps it feeds.
  *
  * Layout: `edges/` (src, dst, w) range-sharded on (src, dst). Edge
  * WEIGHTS are additive, so maintenance is the LmModel move, not the
  * Fingerprints one: `append` lands a delta's partial counts as new
  * files and [[readEdges]] folds by summing per (src, dst) —
  * stream_graph's per-batch deltas append verbatim (same schema).
  * [[compact]] folds the accumulated files back to clean shards on
  * the maintenance cadence (temp-dir + swap, the Fingerprints
  * staging).
  */
object GraphStore {

  /** Bundle format version (`_graft_format` marker, shared
    * [[StoreMaintenance]] scheme). Version history:
    *
    *   - 1 — `edges/` holds (src, dst, w) with ADDITIVE weights
    *     derived from the session-window transition edges of
    *     stream_graph / graph_pagerank's windowing. A change to edge
    *     derivation (window gap, self-loop policy) would fold old and
    *     new semantics into one weight sum with no error — refusal
    *     instead.
    */
  val FormatVersion = 1

  private val bundle = StoreMaintenance.Bundle("graph", FormatVersion,
    "additive session-window transition edges")

  private val keys = Seq("src", "dst")

  private def writeEdges(edges: DataFrame, path: String, nShards: Int,
      mode: String): Unit =
    bundle.write(path, mode)(StoreMaintenance.Frame(
      "edges", edges.select(col("src"), col("dst"), col("w")), keys, nShards))

  def write(edges: DataFrame, path: String, nShards: Int = 2): Unit =
    writeEdges(edges, path, nShards, "overwrite")

  /** Append a delta edge frame (src, dst, w) — counts additive,
    * history untouched; readers fold. stream_graph's CardDelta-style
    * (src, dst, w_delta) output appends here after a rename. Refuses
    * an old-format bundle (mixed edge semantics under one sum) and an
    * `edges/` that a compaction moved aside (the delta would start a
    * fresh frame without its history). */
  def append(delta: DataFrame, path: String, nShards: Int = 1): Unit =
    writeEdges(delta, path, nShards, "append")

  /** Per-(src, dst) weight sums — equal rows are additive, kept. */
  private def fold(edges: DataFrame): DataFrame =
    edges.groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))

  /** Folded per-(src, dst) weights — append-safe. */
  def readEdges(spark: SparkSession, path: String): DataFrame =
    fold(bundle.read(spark, path, "edges"))

  /** Fold the accumulated append files to nShards clean ones (weights
    * summed); gating/rank results identical before and after.
    * Crash-safe through the shared StoreMaintenance staging. */
  def compact(spark: SparkSession, path: String, nShards: Int = 2): Unit =
    bundle.compact(spark, path, "edges", keys, nShards)(fold)

  /** PageRank over the RELOADED store — the rank sweeps never touch
    * the event log (equal to the in-line op when the store holds the
    * same log's edges, spec'd). */
  def pagerankFrom(spark: SparkSession, path: String): DataFrame =
    graft.operators.Graph.pagerankEdges(readEdges(spark, path))
}
