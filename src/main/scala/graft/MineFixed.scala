package graft

import org.apache.spark.sql.functions._

/** Fixed-benchmark mining sweep (the §7p sf10 evidence for
  * mine_hardneg): the INLINE driver framing grows BOTH sides — the
  * %97 query slice and the pool — so its cost is superlinear by
  * construction (documented since BENCH_sf1; at sf10 the framing
  * exhausts local shuffle disk, recorded as the -1 row in
  * BENCH_sf10). The PRODUCTION contract is the opposite shape and is
  * code since r16 (sources.BenchmarkStore): the query-term table is
  * derived ONCE from a frozen benchmark snapshot and persisted;
  * mining re-runs per corpus snapshot via hardNegativesFrom and is
  * linear in pool rows. This main measures exactly that contract in
  * ONE session (the RerankCost methodology — medians of
  * SPARK_GRAFT_RUNS, noop sink, one box epoch): qterms derived from
  * the SMALLER corpus and persisted, then the store-fed scoring pass
  * timed against each pool. gen_sf is deterministic, so the small
  * corpus is a prefix of the large one and its query ids remain valid
  * positives at every scale — the frozen-benchmark framing, not an
  * approximation of it.
  *
  * Prints one line:
  *   {"mine_fixed":{"<dir>":{"sec":…,"rows":…},…},"n_queries":…}
  */
object MineFixed {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/tmp/graft_sf1", "/tmp/graft_sf10")
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    val spark = Bench.buildSession()
    Bench.warmup(spark, dirs.head)

    def median(xs: Seq[Double]): Double = { val s = xs.sorted; s(s.length / 2) }

    val store = java.nio.file.Files
      .createTempDirectory("graft-minefixed").toString
    // the offline once-per-benchmark half: derive from the SMALLEST
    // corpus (the frozen benchmark snapshot) and persist
    sources.BenchmarkStore.writeQueryTerms(
      Tables(spark, dirs.head, "documents"), store)
    val nQueries = spark.read.parquet(s"$store/qterms")
      .select(col("q_id")).distinct().count()

    val cells = dirs.map { dir =>
      val pool = Tables(spark, dir, "documents")
      val secs = (1 to runs).map { _ =>
        System.gc()
        val t0 = System.nanoTime()
        sources.BenchmarkStore.hardNegativesFrom(pool, store)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val rows = sources.BenchmarkStore.hardNegativesFrom(pool, store).count()
      f""""$dir":{"sec":${median(secs)}%.3f,"rows":$rows}"""
    }
    println(s"""{"mine_fixed":{${cells.mkString(",")}},"n_queries":$nQueries,"runs":$runs}""")
    spark.stop()
  }
}
