package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** A warm rerun of the composed pipelines reuses the classes its first
  * run compiled. Spark caches compiled classes by their generated
  * source; a cache smaller than the pass's working set evicts every
  * class before its next use, and the rerun compiles as much as the
  * first run (about 280 classes for this step set on sf0.001 with
  * Spark's default 100 entries).
  */
class CodegenCacheSpec extends SparkSpec {

  /** The benchmark's curate_dedup pass. */
  private val Steps = Seq("curate_e2e", "dedup_pipeline", "dedup_cluster")

  /** Classes a warm rerun may still compile because their source really
    * changes between runs, always through adaptive execution's timing:
    *  - AQE numbers whole-stage codegen stages in the order it creates
    *    query stages, which follows the order in which concurrent
    *    shuffle stages finish. A renumbered stage has a new class name
    *    (`GeneratedIteratorForCodegenStageN`), so new source.
    *  - AQE re-plans a join once one side's statistics arrive; when the
    *    other side lands first, the broadcast-join stage above it and
    *    its projection read their input columns in another order.
    * Both show up in curate_e2e and dedup_pipeline. Measured on 4 cores:
    * 11–42 classes on the first warm rerun, against about 280 when the
    * cache thrashes. */
  private val MaxTimingRecompiles = 100L

  /** Runs every step to the noop sink, drops the residue as Bench does
    * between queries, and returns the number of classes compiled. */
  private def pass(): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    Steps.foreach { n =>
      SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    }
    Bench.dropResidue(spark)
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  test("a warm rerun of curate_e2e, dedup_pipeline and dedup_cluster reuses its classes") {
    val cold = pass()
    val warm = pass()
    assert(warm <= MaxTimingRecompiles,
      s"the warm rerun compiled $warm generated classes (the first run $cold)")
  }
}
