package graft

import org.apache.spark.sql.functions._

/** End-to-end executable documentation: corpus in → sectioned docs →
  * chunk → map → reduce (flat + progressive) → dedup/quality gates →
  * JSONL results out. This is the full reference workflow
  * (parse → proactive map-reduce → score → dump) on the graft engine.
  *
  * Usage: runMain graft.Demo [corpusGlob] [outDir]
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val corpus = if (args.nonEmpty) args(0)
      else "/root/reference/datasets/en-zh-short.en/*.txt"
    val outDir = if (args.length > 1) args(1)
      else java.nio.file.Files.createTempDirectory("graft-demo").toString
    val spark = Bench.buildSession()

    // 1. ingest: line corpus → documents (datasets/parse.py semantics)
    val docs = sources.Corpus.readSectioned(spark, corpus)
      .select(col("doc_id"), regexp_replace(col("text"), "\n", " ").as("text"))
    println(s"[demo] documents: ${docs.count()}")

    // 2. quality gate: drop exact duplicates before spending compute
    val unique = docs
      .withColumn("content_hash", md5(col("text")))
      .dropDuplicates("content_hash")
      .drop("content_hash")
      .cache() // each later step would otherwise re-run ingest + dedup
    println(s"[demo] after exact dedup: ${unique.count()}")

    // 3. map-reduce: chunk → extractive map → ordered reduce
    val reduced = operators.MapReduceDocs.reduced(
      operators.MapReduceDocs.mapped(operators.MapReduceDocs.chunked(unique)))
      .cache()
    println(s"[demo] reduced docs: ${reduced.count()}")

    // 4. fleet stats over the run
    reduced.agg(
      count(lit(1)).as("docs"),
      round(avg(col("n_chunks")), 3).as("avg_chunks"),
      max(col("total_tokens")).as("max_tokens")).show(false)

    // 5. curation signals: bigram-LM surprisal over the corpus (the
    // perplexity-filter shape) — high bits/token = unusual text
    val lm = operators.LangModel.ngramLm(unique)
    lm.filter(col("n_bigrams") > 0)
      .agg(count(lit(1)).as("scored_docs"),
        round(avg(col("bits_per_token")), 3).as("avg_bits_per_token"),
        round(max(col("bits_per_token")), 3).as("max_bits_per_token"))
      .show(false)

    // 6. training hand-off: pack into fixed-length sequences and write
    // bounded, key-contiguous shards (what a loader consumes)
    val packed = operators.Sampling.seqPack(unique, operators.Sampling.SeqLen)
    sources.Sinks.writeShards(packed, s"$outDir/shards", "seq_id",
      nShards = 4, maxRecordsPerFile = 10000)
    println(s"[demo] packed fragments: " +
      spark.read.parquet(s"$outDir/shards").count())

    // 7. results out as JSONL (compute_scores.py input shape)
    sources.Jsonl.write(
      reduced.select(col("doc_id"), col("n_chunks"), col("total_tokens"),
        col("final_summary")),
      s"$outDir/results")
    println(s"[demo] wrote JSONL results to $outDir/results")
    println(s"[demo] read-back check: " +
      sources.Jsonl.read(spark, s"$outDir/results").count())

    // 8. close the loop the LLM-pipeline tier exists for:
    //    curate → index → serve. The full curation decision runs over
    //    the corpus (quality → near-dup → temperature mix → pack),
    //    the KEPT docs are embedded (the mm_embed encoder stand-in)
    //    and quantized into the int8 serving index, and the stream_ann
    //    gate answers live queries from it — top-k per query, exactly
    //    the batch ann_quantized answers.
    import spark.implicits._
    val sourced = unique.withColumn("source",
      when(pmod(col("doc_id"), lit(2)) === 0, "en").otherwise("zh"))
    val manifest = operators.Curate.curateE2e(sourced,
      operators.QualityClassifier.trainSplit(
        operators.QualityClassifier.weakLabeled(sourced))).cache()
    println("[demo] curation funnel (first dropping stage per doc):")
    manifest.groupBy(col("stage")).count().orderBy(col("stage")).show(false)
    val keptDocs = sourced.join(
      manifest.filter(col("stage") === "kept").select("doc_id"), Seq("doc_id"))
    val embs = operators.Multimodal.encode(
        keptDocs.select(col("doc_id"), col("text").cast("binary").as("payload"))
          .as[operators.Multimodal.MMIn])
      .toDF().select(col("doc_id").as("vec_id"), col("embedding"))
      .cache()
    val index = operators.Similarity.int8Codes(embs).collect()
      .map(r => (r.getAs[Long]("c_id"), r.getSeq[Int](1))).toSeq
    println(s"[demo] serving index: ${index.size} int8 code vectors " +
      s"(${index.size * 64} B codes vs ${index.size * 256} B float)")
    val queries = embs.limit(3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val qStream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])]
    val (served, serveHandle) = streaming.Streams
      .annServedWith(qStream.toDF().toDF("q_id", "q_emb"), index, 3)
    val servedQ = served
      .writeStream.format("memory").queryName("demo_served")
      .outputMode("append").start()
    qStream.addData(queries.toIndexedSeq: _*)
    servedQ.processAllAvailable()
    println("[demo] streamed top-3 neighbors per live query:")
    spark.table("demo_served").orderBy(col("q_id"), col("rk")).show(false)
    servedQ.stop()
    serveHandle.close()

    // 9. the retrieval surface over the synthetic tables (the demo
    //    corpus lacks the standing query's vocabulary): BM25 top-5,
    //    exact phrase hits, and the lexical+vector RRF fusion.
    val sfDir = "/root/testdata/sf0.001"
    println("[demo] search_bm25 top-5 (standing query: " +
      operators.Search.QueryTerms.mkString(" ") + "):")
    SparkEntry.queries("search_bm25")(spark, sfDir)
      .filter(col("rk") <= 5).show(false)
    println("[demo] search_phrase ('" +
      operators.Search.PhraseTerms.mkString(" ") + "') — first matches:")
    SparkEntry.queries("search_phrase")(spark, sfDir)
      .orderBy(col("doc_id")).limit(5).show(false)
    println("[demo] hybrid_rrf — lexical + vector fusion, top-5:")
    SparkEntry.queries("hybrid_rrf")(spark, sfDir)
      .filter(col("rk") <= 5).show(false)

    // 10. round-7 surface: the corpus data card (what a release
    //     ships), incremental ingest checked against the standing
    //     corpus's fingerprints, and metadata-FILTERED ANN serving
    //     (predicate pruned below the ADC scoring, not post-filtered).
    println("[demo] data_card — corpus composition (top slices by docs):")
    SparkEntry.queries("data_card")(spark, sfDir)
      .orderBy(col("n_docs").desc).limit(5).show(false)
    println("[demo] dedup_incremental — arriving docs vs history " +
      "(most-covered first):")
    SparkEntry.queries("dedup_incremental")(spark, sfDir)
      .orderBy(col("hist_coverage").desc, col("doc_id")).limit(5).show(false)
    println("[demo] ann_filtered — top-3 neighbors among label<=4 " +
      "candidates only:")
    SparkEntry.queries("ann_filtered")(spark, sfDir)
      .orderBy(col("q_id"), col("rk")).limit(9).show(false)
    spark.stop()
  }
}
