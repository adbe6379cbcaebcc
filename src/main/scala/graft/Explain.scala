package graft

/** Plan-audit main: prints the formatted physical plan of one query
  * (or shuffle/scan summaries for all). Usage:
  *   runMain graft.Explain [queryName] [sfDir]
  *
  * Global-window audit list: the queries whose optimized plan holds an
  * unpartitioned Window (`gwin=N` in the census), from
  * `runMain graft.Explain ALL` over the sf0.001 test tables:
  *   colloc_pmi 1, curate_e2e 1, curriculum_order 1, dp_card 1,
  *   dsir_select 1, epoch_shuffle 1, eval_bootstrap 1, hybrid_rrf 3,
  *   kv_cache_plan 1, longctx_stitch 1, mix_constrained 2, mm_pack 1,
  *   pack_stats 1, search_bm25 1, seq_pack 1, sft_pack 1,
  *   shard_rebalance 1, vocab_topk 1.
  * A query that joins this list, or a count that grows, needs a
  * bounded-frame argument before it lands.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = Bench.buildSession()
    if (args.nonEmpty && args(0) != "ALL") {
      SparkEntry.queries(args(0))(spark, sfDir).explain("formatted")
    } else {
      // one-line shuffle/scan census per query
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.executedPlan.toString
          val exchanges = "Exchange hashpartitioning|Exchange rangepartitioning"
            .r.findAllIn(plan).size
          val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
          val smj = "SortMergeJoin".r.findAllIn(plan).size
          val scans = "FileScan parquet".r.findAllIn(plan).size
          // UNPARTITIONED (single-task) windows — every legitimate one
          // in this repo runs over a bounded frame (shard counts, the
          // √B superbucket sums, a capped sample); any NEW site over a
          // corpus-sized frame is a serial-stage bug. The audit list
          // is in this object's scaladoc; keep it current.
          val gwin = df.queryExecution.optimizedPlan.collect {
            case w: org.apache.spark.sql.catalyst.plans.logical.Window
                if w.partitionSpec.isEmpty => w
          }.size
          // join-shape early warnings. CartesianProduct is always a
          // bug here. BroadcastNestedLoopJoin is REPORTED, not
          // flagged: every legitimate one in this repo broadcasts a
          // bounded side (the 10-row ANN query set, 1-row counted
          // totals) — but an OR-of-equi-conditions or missing join
          // key ALSO lands here with a corpus-scale broadcast side
          // (the q36_triangles wedge-closure bug this census missed),
          // so any NEW bnlj in a diff demands a bounded-side argument.
          val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
          val cart = "CartesianProduct".r.findAllIn(plan).size
          val flag = (if (bnlj > 0) s" bnlj=$bnlj" else "") +
            (if (cart > 0) s" cartesian=$cart <-- QUADRATIC JOIN" else "") +
            (if (gwin > 0) s" gwin=$gwin" else "")
          println(f"$name%-20s shuffles=$exchanges bhj=$bhj smj=$smj scans=$scans$flag")
        } catch { case e: Throwable => println(s"$name FAILED: ${e.getMessage}") }
      }
    }
    spark.stop()
  }
}
