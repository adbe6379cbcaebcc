package graft

import graft.streaming.Streams
import graft.streaming.Streams.{ChunkIn, DocOut}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("stream_window: tumbling day counts match the batch twin on the same rows") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val df = in.toDF().toDF("ts", "event_type", "value")
    val q = Streams.windowed(df).writeStream
      .format("memory").queryName("win_out").outputMode("append").start()
    in.addData(
      (ts("2024-01-01 01:00:00"), "click", 1.0),
      (ts("2024-01-01 02:00:00"), "click", 2.0),
      (ts("2024-01-01 03:00:00"), "view", 5.0))
    q.processAllAvailable()
    // advance watermark past day 1
    in.addData((ts("2024-01-03 00:00:00"), "click", 9.0))
    q.processAllAvailable()
    val out = spark.table("win_out").collect()
      .map(r => (r.getAs[Timestamp]("day"), r.getAs[String]("event_type"),
        r.getAs[Long]("n"), r.getAs[Double]("sum_value"))).toSet
    q.stop()
    assert(out.contains((ts("2024-01-01 00:00:00"), "click", 2L, 3.0)))
    assert(out.contains((ts("2024-01-01 00:00:00"), "view", 1L, 5.0)))
  }

  test("stream_session: 30-min gap splits sessions like the batch twin") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, Double)]
    val df = in.toDF().toDF("ts", "user_id", "value")
    val q = Streams.sessionized(df).writeStream
      .format("memory").queryName("sess_out").outputMode("append").start()
    in.addData(
      (ts("2024-01-01 10:00:00"), 1L, 1.0),
      (ts("2024-01-01 10:10:00"), 1L, 1.0), // same session
      (ts("2024-01-01 11:30:00"), 1L, 2.0)) // gap > 30min → new session
    q.processAllAvailable()
    in.addData((ts("2024-01-02 00:00:00"), 2L, 0.0)) // advance watermark
    q.processAllAvailable()
    val sessions = spark.table("sess_out").filter($"user_id" === 1L)
      .collect().map(r => r.getAs[Long]("n_events")).sorted.toSeq
    q.stop()
    assert(sessions == Seq(1L, 2L))
  }

  test("stream_dedup: duplicate payloads within the watermark are dropped") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String)]
    val df = in.toDF().toDF("ts", "doc_id", "text")
    val q = Streams.deduped(df).writeStream
      .format("memory").queryName("dedup_out").outputMode("append").start()
    in.addData(
      (ts("2024-01-01 10:00:00"), 1L, "same payload"),
      (ts("2024-01-01 10:05:00"), 2L, "same payload"), // dup within watermark
      (ts("2024-01-01 10:06:00"), 3L, "different payload"))
    q.processAllAvailable()
    val n = spark.table("dedup_out").count()
    q.stop()
    assert(n == 2, s"expected 2 unique payloads, got $n")
  }

  test("stream_url_dedup: spelling variants of one canonical URL collapse across batches; distinct pages survive") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String)]
    val df = in.toDF().toDF("ts", "doc_id", "url")
    val q = Streams.urlDeduped(df).writeStream
      .format("memory").queryName("urldedup_out").outputMode("append")
      .start()
    in.addData(
      (ts("2024-01-01 10:00:00"), 1L,
        "https://srcx.example.com/doc/4"),
      (ts("2024-01-01 10:01:00"), 2L,
        "HTTPS://WWW.SRCX.EXAMPLE.COM:443/doc/4?utm_source=feed"))
    q.processAllAvailable()
    in.addData( // second batch: state must remember canon /doc/4
      (ts("2024-01-01 10:05:00"), 3L,
        "https://srcx.example.com/doc/4/?ref=home#frag"),
      (ts("2024-01-01 10:06:00"), 4L,
        "https://srcx.example.com/doc/4?page=2"), // REAL param: new page
      (ts("2024-01-01 10:07:00"), 5L,
        "https://other.example.com/doc/4"))
    q.processAllAvailable()
    val kept = spark.table("urldedup_out").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    q.stop()
    assert(kept == Set(1L, 4L, 5L),
      s"one fetch per canonical form: $kept")
  }

  test("stream_contam: contaminated docs are gated out statelessly") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val evalSet = Seq("alpha beta gamma", "beta gamma delta")
    val df = in.toDF().toDF("doc_id", "text")
    val q = Streams.contamFiltered(df, evalSet, maxRatio = 0.5).writeStream
      .format("memory").queryName("contam_out").outputMode("append").start()
    in.addData(
      (1L, "alpha beta gamma delta"),   // 2/2 contaminated → dropped
      (2L, "zeta eta theta iota"),      // clean → kept
      (3L, "alpha beta gamma xyz pqr"), // 1/3 → kept (below 0.5)
      (4L, "hi"))                       // short doc, whole-text shingle, clean
    q.processAllAvailable()
    val rows = spark.table("contam_out").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("contam_ratio")).toMap
    q.stop()
    assert(rows.keySet == Set(2L, 3L, 4L), s"gate kept $rows")
    assert(rows(2L) == 0.0 && rows(4L) == 0.0)
    assert(math.abs(rows(3L) - 0.333333) < 1e-6)
    // the gate plan is stateless: no state store operator involved
    val plan = Streams.contamFiltered(
      Seq((1L, "a b c")).toDF("doc_id", "text"), evalSet, 0.5)
      .queryExecution.analyzed.toString
    assert(!plan.contains("Aggregate"), plan)
  }

  test("stream_quality: low-diversity and digit-heavy docs are gated out") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val df = in.toDF().toDF("doc_id", "text")
    val q = Streams.qualityGated(df, minDistinctRatio = 0.5, maxDigitRatio = 0.2)
      .writeStream.format("memory").queryName("qual_out")
      .outputMode("append").start()
    in.addData(
      (1L, "a clean varied sentence with many distinct words"),
      (2L, "spam spam spam spam spam spam spam spam"), // distinct 1/8
      (3L, "call 5551234567 now 999 123456 88 77 66"))  // digit-heavy
    q.processAllAvailable()
    val kept = spark.table("qual_out").collect().map(_.getAs[Long]("doc_id")).toSet
    q.stop()
    assert(kept == Set(1L), s"gate kept $kept")
  }

  test("stream_extract: extraction verdicts == batch html_extract row-for-row under a three-way cut; stateless") {
    implicit val sql = spark.sqlContext
    val pages = operators.Html.withHtml(
        Tables(spark, sfDir, "documents")
          .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
          .filter($"doc_id" < 60L))
      .select($"doc_id", $"html").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val in = MemoryStream[(Long, String)]
    val q = Streams.extractStream(in.toDF().toDF("doc_id", "html"))
      .writeStream.format("memory").queryName("extract_out")
      .outputMode("append").start()
    Seq(pages.take(20), pages.slice(20, 40), pages.drop(40)).foreach {
      chunk => in.addData(chunk.toIndexedSeq: _*); q.processAllAvailable()
    }
    assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0L),
      "the extraction map must keep zero state rows")
    val streamed = spark.table("extract_out").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("raw_len"), r.getAs[Long]("text_len"),
          r.getAs[Long]("text_ratio_ppm"), r.getAs[String]("digest")))
      .toMap
    q.stop()
    val batch = SparkEntry.queries("html_extract")(spark, sfDir)
      .filter($"doc_id" < 60L).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("raw_len"), r.getAs[Long]("text_len"),
          r.getAs[Long]("text_ratio_ppm"), r.getAs[String]("digest")))
      .toMap
    assert(streamed == batch,
      s"streamed extraction (${streamed.size}) drifted from batch " +
        s"(${batch.size})")
  }

  test("stream_code: routing verdicts == batch row-for-row; stateless; incoming columns ride") {
    implicit val sql = spark.sqlContext
    // the batch spec's planted set: one doc per gate arm + prose
    val docs: Seq[(Long, String, String)] = Seq(
      (1L, "import os\ndef f(x):\n  return g(x) + 1\nclass A:\n  def h(self):\n    return 2", "repoA"),
      (2L, "line one\n  hang two\n  hang three\n\thang four " +
        (1 to 30).map(i => s"prose$i").mkString(" "), "repoA"),
      (3L, "x=1;y=2;z={a:[1,2]};w=(x<y)>z;", "repoB"),
      (4L, "the quick brown fox jumps over the lazy dog again", "web"))
    val in = MemoryStream[(Long, String, String)]
    val q = Streams.codeRouted(in.toDF().toDF("doc_id", "text", "source"))
      .writeStream.format("memory").queryName("code_out")
      .outputMode("append").start()
    in.addData(docs.take(2): _*)
    q.processAllAvailable()
    in.addData(docs.drop(2): _*)
    q.processAllAvailable()
    assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0L),
      "code router must keep zero state rows")
    val streamed = spark.table("code_out").collect()
    q.stop()
    // routing, not gating: every doc flows, incoming columns intact
    assert(streamed.length == docs.length)
    assert(streamed.map(_.getAs[String]("source")).toSet ==
      Set("repoA", "repoB", "web"))
    // verdicts equal the batch operator's row-for-row
    val batch = operators.TextAnalysis.codeDetect(
        docs.toSeq.toDF("doc_id", "text", "source")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("is_code")).toMap
    streamed.foreach { r =>
      assert(r.getAs[Long]("is_code") == batch(r.getAs[Long]("doc_id")),
        s"doc ${r.getAs[Long]("doc_id")} verdict drifted from batch")
    }
    assert(streamed.count(_.getAs[Long]("is_code") == 1L) == 3)
    // the routed verdict feeds the SAME domain column the mixers read
    // (TextAnalysis.codeDomain — r17): code docs arrive under the
    // synthetic "code" source on the stream exactly as in batch
    val in2 = MemoryStream[(Long, String, String)]
    val q2 = operators.TextAnalysis.codeDomain(
        in2.toDF().toDF("doc_id", "text", "source"))
      .writeStream.format("memory").queryName("code_dom_out")
      .outputMode("append").start()
    in2.addData(docs: _*)
    q2.processAllAvailable()
    assert(q2.lastProgress.stateOperators.forall(_.numRowsTotal == 0L))
    val dom = spark.table("code_dom_out").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("source")).toMap
    q2.stop()
    val batchDom = operators.TextAnalysis.codeDomain(
        docs.toSeq.toDF("doc_id", "text", "source")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("source")).toMap
    assert(dom == batchDom, "streamed domain routing must equal batch")
    assert(dom(1L) == "code" && dom(3L) == "code" && dom(4L) == "web")
  }

  test("stream_doremi: running frozen-LM xent == independent mirror; drifted source trips the hint") {
    implicit val sql = spark.sqlContext
    // frozen model from the standing corpus (the batch op's LM)
    val corpus = Tables(spark, sfDir, "documents")
      .select(col("source"), col("text"))
    val (lm, meanXent, floorLnp) = operators.Splits.doremiModel(corpus)
    val rows = corpus.collect().map(r => (r.getString(0), r.getString(1)))
    // the arriving stream: the corpus re-sent PLUS a drifted source
    // whose vocabulary the frozen LM has never seen — every token
    // reads the OOV floor, xent spikes, the hint must fire
    val drifted = (1 to 20).map(i =>
      ("driftsrc", (1 to 40).map(j => s"oov${i}x$j").mkString(" ")))
    val all = rows.toSeq ++ drifted
    val in = MemoryStream[(String, String)]
    val q = Streams.doremiMonitored(
        in.toDF().toDF("source", "text"), lm, floorLnp, meanXent,
        hintThreshold = 0.5)
      .writeStream.format("memory").queryName("doremi_out")
      .outputMode("complete").start()
    in.addData(all.take(all.length / 3): _*)
    q.processAllAvailable()
    in.addData(all.drop(all.length / 3): _*)
    q.processAllAvailable()
    val streamed = spark.table("doremi_out").collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    q.stop()
    // independent mirror: token counts + frozen log-probs in Scala
    val lnp = lm.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val bySrc = all.flatMap { case (s, t) =>
        t.split(" ", -1).filter(_.nonEmpty).map(s -> _) }
      .groupBy(_._1)
    bySrc.foreach { case (s, toks) =>
      val n = toks.length.toLong
      val xent = toks.map { case (_, t) =>
        -lnp.getOrElse(t, floorLnp) }.sum / n
      val r = streamed(s)
      assert(r.getAs[Long]("n_toks") == n, s"$s n_toks")
      assert(math.abs(r.getAs[Double]("xent") - xent) < 1e-5, s"$s xent")
      assert(math.abs(r.getAs[Double]("excess") - (xent - meanXent)) < 1e-5)
    }
    // the drifted source trips the hint; the re-sent corpus does not
    assert(streamed("driftsrc").getAs[Long]("reweight_hint") == 1L,
      "OOV-vocabulary source must demand a reweight")
    assert(rows.map(_._1).toSet.forall(s =>
      streamed(s).getAs[Long]("reweight_hint") == 0L),
      "the frozen mixture's own sources must read as undrifted")
  }

  test("stream_gopher: full Table A1 verdicts == batch row-for-row; stateless") {
    implicit val sql = spark.sqlContext
    // the batch spec's planted corpus: one passing doc, one doc per
    // legacy rule, one doc per repetition ceiling (phrase of exactly
    // n words repeated with distinct fillers)
    val base = Seq("the", "a") ++ (1 to 58).map(i => s"word$i")
    def planted(n: Int, reps: Int, tag: String): String = {
      val phrase = (1 to n).map(j => s"$tag${n}x$j")
      (base ++ (1 to reps).flatMap(k => phrase :+ s"fill$tag$n$k"))
        .mkString(" ")
    }
    val docs: Seq[(Long, String)] =
      Seq((1L, base.mkString(" ")),
        (2L, "the a word word word"),
        (6L, (1 to 60).map(i => s"word$i").mkString(" "))) ++
      operators.TextAnalysis.GopherDupBp.zipWithIndex.map {
        case ((n, _), i) => (10L + i, planted(n, 4, "repgram")) } ++
      operators.TextAnalysis.GopherTopBp.zipWithIndex.map {
        case ((n, _), i) => (20L + i, planted(n, 12, "topgram")) }
    val in = MemoryStream[(Long, String)]
    val q = Streams.gopherGated(in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("gopher_out")
      .outputMode("append").start()
    // split mid-corpus: every decision is per-row, so batch
    // boundaries must not matter
    in.addData(docs.take(4): _*)
    q.processAllAvailable()
    in.addData(docs.drop(4): _*)
    q.processAllAvailable()
    assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0L),
      "gopher gate must keep zero state rows")
    q.stop()
    val cols = operators.TextAnalysis.GopherSignalCols
    def sig(r: org.apache.spark.sql.Row) =
      r.getAs[Long]("doc_id") -> cols.map(c => r.getAs[Long](c))
    val streamed = spark.table("gopher_out").collect().map(sig).toMap
    val batch = operators.TextAnalysis.qualityGopher(
        docs.toDF("doc_id", "text")).collect().map(sig).toMap
    val batchKept = batch.filter(_._2.last == 1L)
    assert(streamed == batchKept,
      s"stream kept ${streamed.keySet}, batch kept ${batchKept.keySet}")
    // only the clean doc survives the planted corpus
    assert(streamed.keySet == Set(1L), s"gate kept ${streamed.keySet}")
  }

  test("stream_classifier: frozen-model scores == batch serving row-for-row; stateless") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.functions.{col, pmod, lit}
    // frozen model trained batch-side on a separable fixture (the
    // sink_classifier contract: train once, serve every later stream)
    val rnd = new scala.util.Random(77)
    val docs: Seq[(Long, String)] = (0 until 60).map { i =>
      val text = if (i % 2 == 0)
        (0 until 25).map(_ => s"prose${rnd.nextInt(30)}").mkString(" ")
      else (0 until 6).map(_ => s"spam${rnd.nextInt(4)}").mkString(" ")
      (i.toLong, text)
    }
    val labeled = docs.toDF("doc_id", "text")
      .withColumn("label", (pmod(col("doc_id"), lit(2)) === 0)
        .cast("double"))
      .withColumn("fidx", operators.QualityClassifier.featureIdx(
        functions.TextFns.tokens(col("text"))))
      .localCheckpoint()
    val model = operators.QualityClassifier.train(labeled)
    val in = MemoryStream[(Long, String)]
    val q = Streams.classifierScored(
        in.toDF().toDF("doc_id", "text"), model)
      .writeStream.format("memory").queryName("clf_out")
      .outputMode("append").start()
    // split mid-corpus: scoring is per-row, batch boundaries must not
    // matter and no state may accumulate
    in.addData(docs.take(20): _*)
    q.processAllAvailable()
    in.addData(docs.drop(20): _*)
    q.processAllAvailable()
    assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0L),
      "frozen-model scoring must keep zero state rows")
    q.stop()
    val streamed = spark.table("clf_out").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("prob"))
      .toMap
    val batch = operators.QualityClassifier.served(
        docs.toDF("doc_id", "text"), model).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("prob"))
      .toMap
    assert(streamed === batch)
    // and the frozen model actually separates the planted classes
    assert(docs.forall { case (id, _) =>
      if (id % 2 == 0) streamed(id) > 0.5 else streamed(id) < 0.5 })
  }

  test("stream_tok: frozen-table piece digests == batch encode row-for-row; stateless") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.functions.{col, md5, array_join, split}
    // table trained batch-side on a compositional snapshot (the
    // sink_tokenizer contract: train once, segment every later stream)
    val wc = Seq(("data", 50L), ("base", 50L), ("database", 40L),
      ("databasedata", 25L), ("basedata", 20L))
    val table = operators.Unigram.trainPieces(wc)
    val docs: Seq[(Long, String)] = Seq(
      (1L, "data base database"), (2L, "databasedata base"),
      (3L, "basedata data database base"), (4L, "database database"))
    val in = MemoryStream[(Long, String)]
    val q = Streams.tokSegmented(in.toDF().toDF("doc_id", "text"), table)
      .writeStream.format("memory").queryName("tok_out")
      .outputMode("append").start()
    // split mid-corpus: segmentation is per-row, batch boundaries must
    // not matter and no state may accumulate
    in.addData(docs.take(2): _*)
    q.processAllAvailable()
    in.addData(docs.drop(2): _*)
    q.processAllAvailable()
    assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0L),
      "frozen-table segmentation must keep zero state rows")
    q.stop()
    def key(r: org.apache.spark.sql.Row) = r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("n_words"), r.getAs[Long]("n_pieces"),
        r.getAs[String]("piece_digest"))
    val streamed = spark.table("tok_out").collect().map(key).toMap
    val batch = docs.toDF("doc_id", "text")
      .withColumn("_toks", split(col("text"), " "))
      .withColumn("_pieces",
        operators.Unigram.segmentPieces(col("_toks"), table))
      .select(col("doc_id"),
        org.apache.spark.sql.functions.size(col("_toks")).cast("long")
          .as("n_words"),
        org.apache.spark.sql.functions.size(col("_pieces")).cast("long")
          .as("n_pieces"),
        md5(array_join(col("_pieces"), " ")).as("piece_digest"))
      .collect().map(key).toMap
    assert(streamed == batch)
    // the frozen vocabulary actually compresses the compositional docs
    assert(streamed.values.forall { case (w, p, _) => p >= w },
      "at least one piece per word")
    assert(streamed(4L)._2 == 2L,
      s"'database database' should be 2 whole-word pieces, " +
        s"got ${streamed(4L)._2}")
  }

  test("stream_calibrate: store-fed gate == batch sketch mode row-for-row; stateless") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files
      .createTempDirectory("graft-scal").toString
    // model frozen batch-side on the snapshot, persisted, reloaded —
    // the gate must serve the RELOADED bytes (sink_calibration)
    val corpus = Tables(spark, sfDir, "documents")
    graft.sources.CalibrationStore.write(
      operators.Calibrate.calibrationModel(corpus).localCheckpoint(), dir)
    val model = graft.sources.CalibrationStore.read(spark, dir)
      .localCheckpoint()
    val docs = corpus.select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val in = MemoryStream[(Long, String, String)]
    val q = Streams.calibrateGated(
        in.toDF().toDF("doc_id", "text", "source"), model)
      .writeStream.format("memory").queryName("scal_out")
      .outputMode("append").start()
    in.addData(docs.take(docs.length / 2): _*)
    q.processAllAvailable()
    in.addData(docs.drop(docs.length / 2): _*)
    q.processAllAvailable()
    assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0L),
      "frozen-model calibration must keep zero state rows")
    q.stop()
    def key(r: org.apache.spark.sql.Row) = r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("score_ppm"), r.getAs[Double]("pct_est"),
        r.getAs[Long]("keep"))
    val streamed = spark.table("scal_out").collect().map(key).toMap
    val batch = operators.Calibrate.calibrateFrom(corpus, model)
      .collect().map(key).toMap
    assert(streamed == batch)
    assert(streamed.values.exists(_._3 == 0L) &&
      streamed.values.exists(_._3 == 1L), "gate non-degenerate")
  }

  test("stream_embed_pca: frozen-basis projections == batch row-for-row; stateless") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.functions.col
    // basis fit batch-side on a planted low-rank snapshot (the
    // frozen-model contract shared with stream_classifier/ann_upsert)
    val rnd = new scala.util.Random(99)
    val dim = 8
    val vecs: Seq[(Long, Seq[Float])] = (0 until 120).map { i =>
      val a = rnd.nextGaussian() * 2.0
      (i.toLong, Seq.tabulate(dim)(j =>
        (a * (if (j % 2 == 0) 0.5 else -0.5) +
          rnd.nextGaussian() * 0.01).toFloat))
    }
    val snapshot = vecs.toDF("vec_id", "embedding")
    val (mean, comps, _) = operators.EmbedPca.fit(snapshot, 2)
    val in = MemoryStream[(Long, Seq[Float])]
    val q = Streams.pcaProjected(
        in.toDF().toDF("vec_id", "embedding"), mean, comps)
      .writeStream.format("memory").queryName("pca_out")
      .outputMode("append").start()
    in.addData(vecs.take(40): _*)
    q.processAllAvailable()
    in.addData(vecs.drop(40): _*)
    q.processAllAvailable()
    assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0L),
      "frozen-basis projection must keep zero state rows")
    q.stop()
    val streamed = spark.table("pca_out").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Double](2)).toMap
    val batch = Streams.pcaProjected(snapshot, mean, comps).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Double](2)).toMap
    assert(streamed === batch)
    // the planted signal survives: first component carries it
    assert(streamed.values.forall(_.length == 2))
    assert(streamed.values.map(p => math.abs(p.head)).max > 1.0)
  }

  test("stream_cluster: frozen-centroid assignment == batch row-for-row; ties to smaller id") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.functions.col
    // centroids fit batch-side on a two-direction snapshot (the
    // frozen-model contract); the stream's per-row argmax fold must
    // reproduce the batch join+TopK assignment bit-for-bit
    def planted(i: Long): Seq[Float] = {
      val theta = (i % 7).toDouble * 0.1 + (if (i % 2 == 0) 0.0 else 1.3)
      Seq.tabulate(8)(j =>
        if (j == 0) math.cos(theta).toFloat
        else if (j == 2) math.sin(theta).toFloat else 0f)
    }
    val vecs: Seq[(Long, Seq[Float])] =
      (0L until 60L).map(i => (i, planted(i))) :+
        // exact tie: equidistant from e0-ish and e2-ish centroids only
        // if those are symmetric — instead pin the tie rule directly
        // with two IDENTICAL centroids below
        ((60L, Seq.tabulate(8)(j => if (j == 1) 1f else 0f)))
    val snapshot = vecs.toDF("vec_id", "embedding")
    val cents = operators.Similarity.kmeansCentroids(
      snapshot.select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding")), 2, 3)
    val in = MemoryStream[(Long, Seq[Float])]
    val q = Streams.clusterAssigned(
        in.toDF().toDF("vec_id", "embedding"), cents)
      .writeStream.format("memory").queryName("cluster_out")
      .outputMode("append").start()
    in.addData(vecs.take(25): _*)
    q.processAllAvailable()
    in.addData(vecs.drop(25): _*)
    q.processAllAvailable()
    assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0L),
      "frozen-centroid assignment must keep zero state rows")
    q.stop()
    val streamed = spark.table("cluster_out").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("cluster"), r.getAs[Double]("ccos"))).toMap
    val batch = operators.Cluster.assign(
        snapshot.select(col("vec_id"),
          col("embedding").cast("array<float>").as("embedding")), cents)
      .collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("cluster"), r.getAs[Double]("ccos"))).toMap
    assert(streamed === batch)
    assert(streamed.values.map(_._1).toSet.size == 2, "both cells used")
    // tie rule pinned: identical centroids → every row ties → all
    // assignments must pick centroid id 0 on both paths
    val twin = Array((0, Array.tabulate(8)(i => i.toFloat + 1f)),
      (1, Array.tabulate(8)(i => i.toFloat + 1f)))
    val tied = Streams.clusterAssigned(snapshot, twin)
      .select(col("cluster")).distinct().collect().map(_.getLong(0))
    assert(tied.toSeq == Seq(0L), s"tie must go to the smaller id: ${tied.toSeq}")
  }

  test("stream_prune: frozen fences drop arriving prototypical vectors == batch; stateless") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.functions.col
    // snapshot: one cluster of spread angles (the ClusterSpec prune
    // fixture, widened) — fences fit batch-side, gate applied streaming
    def planar(theta: Double): Seq[Float] = Seq.tabulate(8)(j =>
      if (j == 0) math.cos(theta).toFloat
      else if (j == 2) math.sin(theta).toFloat else 0f)
    val vecs: Seq[(Long, Seq[Float])] =
      (0 until 20).map(i => (i.toLong, planar(i * 0.045)))
    val snapshot = vecs.toDF("vec_id", "embedding")
    val cents = operators.Similarity.kmeansCentroids(snapshot, 1, 3)
    val thr = operators.Cluster.pruneThresholds(
        operators.Cluster.assignedWithBin(snapshot, cents))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val in = MemoryStream[(Long, Seq[Float])]
    val q = Streams.clusterPruneGated(
        in.toDF().toDF("vec_id", "embedding"), cents, thr)
      .writeStream.format("memory").queryName("prune_out")
      .outputMode("append").start()
    in.addData(vecs.take(7): _*)
    q.processAllAvailable()
    in.addData(vecs.drop(7): _*)
    q.processAllAvailable()
    assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0L),
      "frozen-fence pruning must keep zero state rows")
    q.stop()
    val streamed = spark.table("prune_out").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("keep")).toMap
    val batch = operators.Cluster.clusterPrune(snapshot, 1).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("keep")).toMap
    assert(streamed === batch)
    // the fences actually fire: the batch budget prunes ≤ 6 of 20 and
    // at least one — and so must the gate
    val pruned = streamed.values.count(_ == 0L)
    assert(pruned >= 1 && pruned * 10 <= 20 * operators.Cluster.PruneTenths,
      s"pruned=$pruned")
  }

  test("stream_outlier: frozen med/MAD fences flag arriving events == batch; unknown types dropped") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.functions.col
    // fences profiled batch-side over the snapshot (exact dyadic
    // med/mad — rounding to 2 is identity on quarter-integers, so the
    // literal profile IS the exact fence)
    val rows: Seq[(Long, String, Double)] =
      (1L to 9L).map(i => (i, "a", 10.0 + (i % 3 - 1) * 0.01)) ++
        Seq((10L, "a", 1000.0)) ++
        (11L to 18L).map(i => (i, "b", 5.0 + (i % 2) * 0.02)) :+
        ((19L, "b", 400.0))
    val snapshot = rows.toDF("event_id", "event_type", "value")
    val batchOut = operators.Profile.outlierMad(snapshot).collect()
    val fences = batchOut.map(r => r.getAs[String]("event_type") ->
      (r.getAs[Double]("med"), r.getAs[Double]("mad"))).toMap
    val in = MemoryStream[(Long, String, Double)]
    val q = Streams.outlierGated(
        in.toDF().toDF("event_id", "event_type", "value"), fences)
      .writeStream.format("memory").queryName("outlier_out")
      .outputMode("append").start()
    // a type absent from the profile must be dropped, not mis-fenced
    in.addData(rows.take(10) :+ ((99L, "zzz", 123.0)): _*)
    q.processAllAvailable()
    in.addData(rows.drop(10): _*)
    q.processAllAvailable()
    assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0L),
      "frozen-fence flagging must keep zero state rows")
    q.stop()
    val streamed = spark.table("outlier_out").collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("is_outlier"))
      .toMap
    assert(!streamed.contains(99L), "unprofiled type must be dropped")
    val batch = batchOut.map(r =>
      r.getAs[Long]("event_id") -> r.getAs[Long]("is_outlier")).toMap
    assert(streamed === batch)
    assert(streamed(10L) == 1L && streamed(19L) == 1L,
      "the planted wild points must flag through the gate")
  }

  test("stream_frames: sample-then-decode on arriving clips == batch; stateless") {
    implicit val sql = spark.sqlContext
    import operators.Multimodal
    // 30 clips of 6 planted frames each, split mid-clip-set across
    // micro-batches: every decision is per-row, so boundaries must
    // not matter and no state may accumulate
    val rows: Seq[(Long, Seq[Array[Byte]])] = (1L to 30L).map { id =>
      id -> (0 until Multimodal.ClipFrames).map { f =>
        Multimodal.buildPng(Multimodal.frameW(id), Multimodal.frameH(id),
          Multimodal.plantedLuma(id * Multimodal.ClipFrames + f, _, _))
      }
    }
    val in = MemoryStream[(Long, Seq[Array[Byte]])]
    val q = Streams.framesSampled(in.toDF().toDF("doc_id", "frames"))
      .writeStream.format("memory").queryName("frames_out")
      .outputMode("append").start()
    in.addData(rows.take(11): _*)
    q.processAllAvailable()
    in.addData(rows.drop(11): _*)
    q.processAllAvailable()
    assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0L),
      "frame sampler must keep zero state rows")
    q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_id"), r.getAs[Long]("frame_idx")) ->
        r.getAs[Long]("frame_hash")
    val streamed = spark.table("frames_out").collect().map(key).toMap
    val batch = Multimodal.sampleFrames(rows.toDF("doc_id", "frames"))
      .collect().map(key).toMap
    assert(streamed == batch,
      s"stream ${streamed.size} rows != batch ${batch.size}")
    assert(streamed.keySet.map(_._2) ==
      (0 until Multimodal.ClipFrames by Multimodal.FrameStride)
        .map(_.toLong).toSet)
  }

  test("stream_join: watermarked stream-stream interval join == batch pair set; state evicts") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.functions.col
    // one ts-ordered event stream split mid-timeline (in-order halves:
    // nothing is late, so the streamed pair set must equal batch
    // exactly); views and purchases BOTH derive from the stream —
    // a stream-stream self-join over the two filters
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .orderBy(col("ts")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))
    val in = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val df = in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = Streams.intervalJoined(
        df.filter(col("event_type") === "view"),
        df.filter(col("event_type") === "purchase"))
      .writeStream.format("memory").queryName("sj_out")
      .outputMode("append").start()
    in.addData(ev.take(ev.length / 2).toIndexedSeq: _*)
    q.processAllAvailable()
    in.addData(ev.drop(ev.length / 2).toIndexedSeq: _*)
    q.processAllAvailable()
    val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    q.stop()
    val streamed = spark.table("sj_out").collect()
      .map(r => (r.getAs[Long]("p_id"), r.getAs[Long]("v_id"))).toSet
    // ground truth: the same interval condition joined in batch
    val views = ev.filter(_._4 == "view")
    val purch = ev.filter(_._4 == "purchase")
    val expected = (for {
      (pid, pts, pu, _, _) <- purch
      (vid, vts, vu, _, _) <- views
      if vu == pu && !vts.after(pts) &&
        pts.getTime - vts.getTime <= 3600L * 1000
    } yield (pid, vid)).toSet
    assert(expected.nonEmpty, "fixture must produce matches")
    assert(streamed == expected,
      s"streamed ${streamed.size} pairs != batch ${expected.size}")
    // the range bound is the eviction contract: state must hold far
    // fewer rows than the stream fed (old views/purchases evicted as
    // the watermark advanced past them + the window)
    assert(stateRows < ev.length,
      s"join state $stateRows did not evict (fed ${ev.length})")
  }

  test("stream_file_source: landed shards gate exactly-once across a restart") {
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files.createTempDirectory("graft-fsrc")
    val landing = base.resolve("landing"); val ckpt = base.resolve("ckpt")
    java.nio.file.Files.createDirectories(landing)
    val corpus = Tables(spark, sfDir, "documents")
      .select("doc_id", "text", "source")
    // land one shard file: write via Spark, move the part file in
    def land(name: String, from: Long, until: Long): Unit = {
      val tmp = base.resolve(s"tmp_$name")
      corpus.filter(col("doc_id") >= from && col("doc_id") < until)
        .coalesce(1).write.parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
      java.nio.file.Files.copy(java.nio.file.Paths.get(part),
        landing.resolve(s"$name.parquet"))
    }
    // a FILE sink, not MemoryStream's: the memory sink cannot recover
    // an append query from a checkpoint, and the durable parquet-out
    // is the shape a landing-zone pipeline actually has (gated shards
    // written exactly-once under the same checkpoint)
    val outDir = base.resolve("gated").toString
    def start() = Streams.blocklistGated(
        Streams.fileSource(spark, landing.toString, corpus.schema))
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    land("shard1", 0L, 150L)
    val q1 = start()
    q1.processAllAvailable()
    q1.stop()
    // shard2 lands while the query is DOWN; shard1 is already committed
    land("shard2", 150L, 300L)
    val q2 = start()
    q2.processAllAvailable()
    // shard3 lands while the query is live
    land("shard3", 300L, 500L)
    q2.processAllAvailable()
    q2.stop()
    val streamed = spark.read.parquet(outDir).collect()
      .map(_.getAs[Long]("doc_id"))
    // exactly-once per file: no shard re-emitted, none missed —
    // the gated union of all three shards, each doc exactly once
    val expected = operators.TextAnalysis.Blocklist
    val batchKept = corpus
      .filter(org.apache.spark.sql.functions.expr(
        s"size(array_intersect(split(text, ' '), " +
          s"array(${expected.map(t => s"'$t'").mkString(",")}))) = 0"))
      .collect().map(_.getAs[Long]("doc_id")).sorted
    assert(streamed.length == streamed.distinct.length,
      "a committed shard was replayed")
    assert(streamed.sorted.sameElements(batchKept),
      s"streamed ${streamed.length} != batch ${batchKept.length}")
  }

  test("stream_scenes: cut detection on arriving clips == batch; stateless") {
    implicit val sql = spark.sqlContext
    import operators.Multimodal
    // scene-structured clips (SceneLen-frame identical runs) split
    // mid-set: per-row detection, boundaries must not matter
    val rows: Seq[(Long, Seq[Array[Byte]])] = (90L to 110L).map { id =>
      id -> (0 until Multimodal.ClipFrames).map { f =>
        Multimodal.buildPng(Multimodal.frameW(id), Multimodal.frameH(id),
          Multimodal.plantedLuma(id * Multimodal.ClipFrames
            + (f / Multimodal.SceneLen) * Multimodal.SceneLen, _, _))
      }
    }
    val in = MemoryStream[(Long, Seq[Array[Byte]])]
    val q = Streams.sceneCut(in.toDF().toDF("doc_id", "frames"))
      .writeStream.format("memory").queryName("scenes_out")
      .outputMode("append").start()
    in.addData(rows.take(7): _*)
    q.processAllAvailable()
    in.addData(rows.drop(7): _*)
    q.processAllAvailable()
    assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0L),
      "scene detector must keep zero state rows")
    q.stop()
    def key(r: org.apache.spark.sql.Row) = r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("n_scenes"), r.getAs[String]("cut_idxs"))
    val streamed = spark.table("scenes_out").collect().map(key).toMap
    val batch = Multimodal.sceneCuts(rows.toDF("doc_id", "frames"))
      .collect().map(key).toMap
    assert(streamed == batch)
    assert(streamed.values.forall(_ == (3L, "2,4")),
      s"planted 3-scene clips: $streamed")
  }

  test("stream_mix: temperature gate matches the batch twin exactly") {
    implicit val sql = spark.sqlContext
    // the planted skew of the batch sample_temperature spec: 400 docs
    // of src A, 16 of src B — the stream gate must keep the identical
    // id set when its offline profile equals the batch counts
    val rows = (0L until 400L).map(i => (i, "A")) ++
      (1000L until 1016L).map(i => (i, "B"))
    val profile = Map("A" -> 400L, "B" -> 16L)
    val in = MemoryStream[(Long, String)]
    val df = in.toDF().toDF("doc_id", "source")
    val q = Streams.tempMixGated(df, profile).writeStream
      .format("memory").queryName("mix_gate_out")
      .outputMode("append").start()
    // split across two micro-batches + an unprofiled source: stateless
    // decisions must not depend on batch boundaries
    in.addData(rows.take(200): _*)
    q.processAllAvailable()
    in.addData(rows.drop(200) :+ (5000L, "mystery"): _*)
    q.processAllAvailable()
    val streamed = spark.table("mix_gate_out").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("temp_hash")).toMap
    q.stop()
    val batch = operators.Sampling
      .sampleTemperature(rows.toDF("doc_id", "source")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("temp_hash")).toMap
    assert(streamed == batch,
      s"stream kept ${streamed.keySet.size} ids, batch ${batch.keySet.size}")
    assert(!streamed.contains(5000L), "unprofiled source must be dropped")
    // the gate really ran append-stateless: no state store rows exist
    assert(q.lastProgress == null ||
      q.lastProgress.stateOperators.isEmpty)
  }

  test("stream_score: per-row F1 gate, multiset-exact, stateless") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Long, String, String)]
    val q = Streams.scoreGated(in.toDF().toDF("doc_id", "pred", "gt"), 0.1)
      .writeStream.format("memory").queryName("score_out")
      .outputMode("append").start()
    // batch 1: one keeper (f1 = 0.8), one zero-overlap drop
    in.addData((1L, "a b c", "a b"), (2L, "x y", "a b"))
    q.processAllAvailable()
    // batch 2: multiset counting (repeated 'a' credited at most twice)
    // and an exact match — per-row decisions, batch boundaries moot
    in.addData((3L, "a a b", "a a"), (4L, "q", "q"))
    q.processAllAvailable()
    val got = spark.table("score_out").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_common"), r.getAs[Double]("f1"))).toMap
    assert(q.lastProgress == null || q.lastProgress.stateOperators.isEmpty)
    q.stop()
    // hand-computed: p=2/3, r=1 → f1 = 0.8 for docs 1 and 3
    assert(got == Map(
      1L -> (2L, 0.8), 3L -> (2L, 0.8), 4L -> (1L, 1.0)), s"got $got")
  }

  test("stream_curate: composed firewall == conjunction of the gates; stateless") {
    implicit val sql = spark.sqlContext
    def tag(i: Long) = i.toString.map(c => ('a' + (c - '0')).toChar).mkString
    // planted per-gate failures: 900 fails quality (distinct 1/8),
    // 50 fails decontamination (1 of 2 shingles hits the eval set →
    // ratio 0.5, at the gate), 60 passes both but is saturated with
    // the frozen model's junk vocabulary (the classifier stage's
    // reject), web docs 1..40 face the α=1/2 mix against the offline
    // profile (web 43 incl. the three rejects, books 5 = nmin →
    // books always keep)
    val eval = Seq("contam mark one")
    val web = (1L to 40L).map(i =>
      (i, s"web doc ${tag(i)}a ${tag(i)}b ${tag(i)}c", "web"))
    val books = (101L to 105L).map(i =>
      (i, s"book text ${tag(i)}a ${tag(i)}b", "books"))
    val junkWords = ('a' to 'l').map(c => s"qjunk$c")
    val junkText = (junkWords ++ junkWords).mkString(" ")
    val rejects = Seq(
      (50L, "contam mark one extra", "web"),
      (60L, junkText, "web"),
      (70L, "web doc extra dup word list", "web"), // blocklist term
      (900L, "spam spam spam spam spam spam spam spam", "web"))
    val rows = web ++ books ++ rejects
    val profile = Map("web" -> 44L, "books" -> 5L)
    // hand-built frozen model (the curate_e2e fixture convention):
    // junk buckets -0.5 per occurrence, intercept +2 — 24 junk hits
    // sink doc 60, a stray collision on a 5-token doc cannot flip it
    val junkBuckets = Seq(junkWords).toDF("toks")
      .select(operators.QualityClassifier.featureIdx(col("toks")).as("b"))
      .head.getSeq[Int](0)
    val w = Array.fill(operators.QualityClassifier.NumFeatures)(0.0)
    junkBuckets.foreach(b => w(b) = -0.5)
    val model = operators.QualityClassifier.Model(w, 2.0)
    val in = MemoryStream[(Long, String, String)]
    val q = Streams.curateGated(in.toDF().toDF("doc_id", "text", "source"),
        eval, maxRatio = 0.5, minDistinctRatio = 0.5, maxDigitRatio = 0.2,
        model, minProb = 0.5, profile)
      .writeStream.format("memory").queryName("curate_gate_out")
      .outputMode("append").start()
    // batch boundaries must not change any decision
    in.addData(rows.take(20): _*)
    q.processAllAvailable()
    in.addData(rows.drop(20): _*)
    q.processAllAvailable()
    val kept = spark.table("curate_gate_out").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(q.lastProgress == null || q.lastProgress.stateOperators.isEmpty)
    q.stop()
    // independent hand-derivation of each gate's predicate
    val M = operators.Sampling.MixMod
    def mixKeep(id: Long, ns: Long): Boolean = {
      val h = id * operators.Sampling.TempMul % M
      BigInt(h) * h * ns < BigInt(M) * M * 5
    }
    // classifier decisions replayed through the BATCH serving path —
    // the frozen-model parity contract (same fold, same rounding)
    val clsPass = operators.QualityClassifier.served(
        rows.toDF("doc_id", "text", "source"), model)
      .filter(col("prob") >= 0.5)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(!clsPass(60L), "junk doc must fail the frozen model")
    assert(rows.forall(r => clsPass(r._1) || r._1 == 60L),
      "only the planted junk doc may fail the classifier")
    val expected =
      web.collect { case (i, _, _) if mixKeep(i, 44L) => i }.toSet ++
        books.collect { case (i, _, _) if mixKeep(i, 5L) => i }.toSet
    assert(!expected.contains(50L) && !expected.contains(900L) &&
      !expected.contains(60L) && !expected.contains(70L))
    assert(web.exists(w => !expected.contains(w._1)),
      "fixture must drop at least one web doc at the mix")
    assert(kept == expected, s"kept $kept expected $expected")
  }

  test("stream_contam_minhash: benchmark-store gate flags edited copies; bit equals batch contam_minhash") {
    // Fuzzy decontamination on ingest is stream_ingest_minhash's
    // machinery POINTED AT A DIFFERENT STORE: persist fingerprints of
    // the held-out benchmark slice (doc_id % 97 = 0, the contam_ngram
    // slice) instead of corpus history, and the same band-probe gate
    // becomes the streaming twin of contam_minhash — no new operator
    // code, which is the point: the firewall composes by store.
    implicit val sql = spark.sqlContext
    val all = Tables(spark, sfDir, "documents").select($"doc_id", $"text")
    val store = java.nio.file.Files.createTempDirectory("graft-contam-mh")
      .resolve("bench").toString
    sources.Fingerprints.write(all.filter($"doc_id" % 97 === 0), store,
      nShards = 1)
    val bands = sources.Fingerprints.readBands(spark, store)
    // the arriving pool: everything else, plus an EDITED copy of a
    // benchmark doc (one appended token — the fuzzy case exact
    // n-grams can miss at the edit point)
    val benchText = all.filter($"doc_id" === 0L).head.getString(1)
    val pool = all.filter($"doc_id" % 97 =!= 0).collect()
      .map(r => (r.getLong(0), r.getString(1))) :+
      ((990001L, benchText + " extra"))
    val in = MemoryStream[(Long, String)]
    val q = Streams.ingestMinhashGate(in.toDF().toDF("doc_id", "text"), bands)
      .writeStream.format("memory").queryName("contam_mh_out")
      .outputMode("append").start()
    in.addData(pool.take(pool.length / 2).toIndexedSeq: _*)
    q.processAllAvailable()
    in.addData(pool.drop(pool.length / 2).toIndexedSeq: _*)
    q.processAllAvailable()
    assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0L))
    q.stop()
    val streamed = spark.table("contam_mh_out").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("near_hist")).toMap
    assert(streamed(990001L) == 1L, "edited benchmark copy must flag")
    // the gate's bit equals the batch op's contaminated bit for every
    // real pool doc (same slice, same signature kernel, same bands)
    val batch = SparkEntry.queries("contam_minhash")(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("contaminated")).toMap
    assert(batch.keySet.subsetOf(streamed.keySet))
    batch.foreach { case (id, bit) =>
      assert(streamed(id) == bit, s"doc $id: gate ${streamed(id)} != batch $bit")
    }
  }

  test("stream_funnel: per-user state machine folds to the batch funnel across journey-cutting splits") {
    implicit val sql = spark.sqlContext
    val rows = Tables.events(spark, sfDir)
      .select($"user_id", $"event_id", $"event_type")
      .orderBy($"event_id") // in-order arrival per user (log-shipping)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val in = MemoryStream[(Long, Long, String)]
    val q = Streams.funnelProgress(
        in.toDF().toDF("user_id", "event_id", "event_type"))
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("append").start()
    // three uneven splits: journeys cut mid-step — the state store is
    // what carries "first view seen" across the boundary
    in.addData(rows.take(rows.length / 3).toIndexedSeq: _*)
    q.processAllAvailable()
    in.addData(rows.slice(rows.length / 3, rows.length / 2).toIndexedSeq: _*)
    q.processAllAvailable()
    in.addData(rows.drop(rows.length / 2).toIndexedSeq: _*)
    q.processAllAvailable()
    // bounded state: one row per user, independent of event volume
    val nUsers = rows.map(_._1).distinct.length.toLong
    assert(q.lastProgress.stateOperators.head.numRowsTotal == nUsers)
    q.stop()
    // fold the changelog: stage is monotone, so the max-stage row per
    // user is the final state
    val streamed = spark.table("funnel_out").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("v_id"),
        r.getAs[Long]("c_id"), r.getAs[Long]("p_id"), r.getAs[Long]("stage")))
      .groupBy(_._1).map { case (u, rs) => u -> rs.maxBy(_._5) }
    val batch = SparkEntry.queries("q34_funnel")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(streamed.keySet == batch.keySet)
    streamed.foreach { case (u, row) =>
      assert(row == batch(u), s"user $u: $row != batch ${batch(u)}")
    }
    // the machine genuinely advanced ACROSS batches for someone —
    // multiple changelog rows mean progress bridged a boundary via
    // the state store (at sf0.001 every user eventually converts, so
    // stage diversity is not the signal; incremental progress is)
    val multiRow = spark.sql("SELECT user_id FROM funnel_out")
      .collect().groupBy(_.getLong(0)).count(_._2.length > 1)
    assert(multiRow > 0, "no user advanced across a batch boundary")
  }

  test("stream_funnel restart: recovered journey state resumes mid-funnel, fold still equals batch") {
    // the GroupState case-class round-trip archetype applied to the
    // funnel machine: half of every user's journey lives only in the
    // checkpointed FunnelState when the query dies — post-restart
    // progress can only be correct if the three step ids survived the
    // state store (a re-seen "first view" would otherwise re-anchor
    // later clicks).
    implicit val sql = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-fn-restart")
    val ckpt = base.resolve("ckpt").toString
    val outDir = base.resolve("out").toString
    val rows = Tables.events(spark, sfDir)
      .select($"user_id", $"event_id", $"event_type")
      .orderBy($"event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val in = MemoryStream[(Long, Long, String)]
    // append-mode recovery needs a durable sink (the memory sink only
    // recovers in complete mode — the stream_session restart pattern)
    def start() = Streams.funnelProgress(
        in.toDF().toDF("user_id", "event_id", "event_type"))
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = start()
    in.addData(rows.take(rows.length / 2).toIndexedSeq: _*)
    q1.processAllAvailable()
    q1.stop() // journeys cut mid-step; progress lives only in state
    val q2 = start()
    in.addData(rows.drop(rows.length / 2).toIndexedSeq: _*)
    q2.processAllAvailable()
    q2.stop()
    val streamed = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("v_id"),
        r.getAs[Long]("c_id"), r.getAs[Long]("p_id"), r.getAs[Long]("stage")))
      .groupBy(_._1).map { case (u, rs) => u -> rs.maxBy(_._5) }
    val batch = SparkEntry.queries("q34_funnel")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(streamed.keySet == batch.keySet)
    streamed.foreach { case (u, row) =>
      assert(row == batch(u), s"user $u after restart: $row != ${batch(u)}")
    }
  }

  test("stream_dpo: folded changelog equals batch pairs under any batch cut; constant state per prompt") {
    implicit val sql = spark.sqlContext
    // the batch op's exact scoring over documents
    val scored = Tables(spark, sfDir, "documents").select(
      expr(s"doc_id DIV ${operators.PostTrain.TurnsPerConv}")
        .as("prompt_id"),
      $"doc_id",
      (size(array_distinct(split($"text", " "))).cast("long") * 100000L +
        $"n_chars").as("score"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // adversarial arrival: interleave so most prompt groups are cut
    // across batch boundaries (order must not matter)
    val rows = scored.sortBy(t => (t._2 % 3, t._1))
    val in = MemoryStream[(Long, Long, Long)]
    val q = Streams.dpoPairsStream(
        in.toDF().toDF("prompt_id", "doc_id", "score"))
      .writeStream.format("memory").queryName("dpo_out")
      .outputMode("append").start()
    Seq(rows.take(rows.length / 3),
      rows.slice(rows.length / 3, 2 * rows.length / 3),
      rows.drop(2 * rows.length / 3)).foreach { chunk =>
      in.addData(chunk.toIndexedSeq: _*)
      q.processAllAvailable()
    }
    val nPrompts = scored.map(_._1).distinct.length.toLong
    assert(q.lastProgress.stateOperators.head.numRowsTotal == nPrompts)
    q.stop()
    // fold: max-rev row per prompt, degenerate margin-0 pairs dropped
    val folded = spark.table("dpo_out").collect()
      .map(r => (r.getAs[Long]("prompt_id"), r.getAs[Long]("rev"),
        (r.getAs[Long]("chosen_doc"), r.getAs[Long]("rejected_doc"),
          r.getAs[Long]("chosen_score"), r.getAs[Long]("rejected_score"),
          r.getAs[Long]("margin"))))
      .groupBy(_._1).map { case (p, rs) => p -> rs.maxBy(_._2)._3 }
      .filter(_._2._5 > 0L)
    val batch = SparkEntry.queries("dpo_pairs")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(folded == batch,
      s"folded ${folded.size} pairs != batch ${batch.size}")
  }

  test("stream_sft: completed conversations render identically to batch; state clears on emission") {
    implicit val sql = spark.sqlContext
    val tpc = operators.PostTrain.TurnsPerConv
    // the batch op's exact turn derivation over documents
    val turns = Tables(spark, sfDir, "documents").select(
      expr(s"doc_id DIV $tpc").as("conv_id"),
      expr(s"doc_id % $tpc").as("turn_idx"),
      expr(s"CASE WHEN (doc_id % $tpc) % 2 = 0 THEN 'user' " +
        "ELSE 'assistant' END").as("role"),
      $"text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3)))
    // adversarial arrival: order by turn_idx FIRST, so every
    // conversation is cut across batch boundaries (all turn-0s arrive,
    // then all turn-1s, ...) and nothing completes before the last split
    val rows = turns.sortBy(t => (t._2, t._1))
    val in = MemoryStream[(Long, Long, String, String)]
    val q = Streams.sftRenderStream(
        in.toDF().toDF("conv_id", "turn_idx", "role", "text"))
      .writeStream.format("memory").queryName("sft_out")
      .outputMode("append").start()
    val cut = rows.length - rows.length / tpc // last quarter = final turns
    in.addData(rows.take(cut / 2).toIndexedSeq: _*)
    q.processAllAvailable()
    assert(spark.table("sft_out").count() == 0,
      "no conversation is complete yet; nothing may emit")
    in.addData(rows.slice(cut / 2, cut).toIndexedSeq: _*)
    q.processAllAvailable()
    in.addData(rows.drop(cut).toIndexedSeq: _*)
    q.processAllAvailable()
    // completed conversations cleared their state
    assert(q.lastProgress.stateOperators.head.numRowsTotal == 0,
      "every conversation completed; state must be empty")
    q.stop()
    val streamed = spark.table("sft_out").collect()
      .map(r => (r.getAs[Long]("conv_id"), r.getAs[Long]("turn_idx"),
        r.getAs[String]("role"), r.getAs[Long]("start_char"),
        r.getAs[Long]("end_char"), r.getAs[Long]("in_loss"),
        r.getAs[String]("conv_digest"), r.getAs[Long]("conv_len"))).toSet
    val batch = SparkEntry.queries("sft_render")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getString(6), r.getLong(7))).toSet
    assert(streamed == batch,
      s"streamed ${streamed.size} rows != batch ${batch.size}")
  }

  test("stream_sft restart: an in-flight conversation survives the checkpoint and completes after resume") {
    implicit val sql = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-sft-restart")
    val ckpt = base.resolve("ckpt").toString
    val outDir = base.resolve("out").toString
    val in = MemoryStream[(Long, Long, String, String)]
    def start() = Streams.sftRenderStream(
        in.toDF().toDF("conv_id", "turn_idx", "role", "text"))
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = start()
    in.addData((5L, 0L, "user", "hi"), (5L, 1L, "assistant", "hello"))
    q1.processAllAvailable()
    q1.stop() // kill mid-conversation: turns 0-1 live only in state
    val q2 = start() // resume from the checkpoint
    in.addData((5L, 2L, "user", "bye"), (5L, 3L, "assistant", "see you"))
    q2.processAllAvailable()
    q2.stop()
    // the conversation completed across the restart: one emission per
    // turn, digest matching the full 4-turn render — had the state
    // store not come back, turns 0-1 would be lost and nothing emits
    val rows = spark.read.parquet(outDir).collect()
    assert(rows.length == 4, s"expected 4 turn rows, got ${rows.length}")
    val rendered = "<|user|>hi<|end|>" + "<|assistant|>hello<|end|>" +
      "<|user|>bye<|end|>" + "<|assistant|>see you<|end|>"
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(rendered.getBytes("UTF-8")).map("%02x".format(_)).mkString
    rows.foreach { r =>
      assert(r.getAs[String]("conv_digest") == md)
      assert(r.getAs[Long]("conv_len") == rendered.length.toLong)
    }
  }

  test("stream_grpo: completed groups emit advantages identical to batch; state clears on emission") {
    implicit val sql = spark.sqlContext
    val cpp = operators.RlEval.CandidatesPerPrompt
    // the batch op's exact scoring over documents
    val scored = Tables(spark, sfDir, "documents").select(
      expr(s"doc_id DIV $cpp").as("prompt_id"),
      $"doc_id",
      (size(array_distinct(split($"text", " "))).cast("long") * 100000L +
        $"n_chars").as("score"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // adversarial arrival: rollout-major order (all first rollouts,
    // then all seconds, ...) so every group is cut across batches and
    // nothing completes before the last split
    val rows = scored.sortBy(t => (t._2 % cpp, t._1))
    val in = MemoryStream[(Long, Long, Long)]
    val q = Streams.grpoAdvStream(
        in.toDF().toDF("prompt_id", "doc_id", "score"))
      .writeStream.format("memory").queryName("grpo_out")
      .outputMode("append").start()
    val cut = rows.length - rows.length / cpp // last quarter completes
    in.addData(rows.take(cut / 2).toIndexedSeq: _*)
    q.processAllAvailable()
    assert(spark.table("grpo_out").count() == 0,
      "no group is complete yet; nothing may emit")
    in.addData(rows.slice(cut / 2, cut).toIndexedSeq: _*)
    q.processAllAvailable()
    in.addData(rows.drop(cut).toIndexedSeq: _*)
    q.processAllAvailable()
    // completed groups cleared their state; only incomplete ones stand
    val incomplete = scored.groupBy(_._1).count(_._2.length < cpp).toLong
    assert(q.lastProgress.stateOperators.head.numRowsTotal == incomplete)
    q.stop()
    val streamed = spark.table("grpo_out").collect()
      .map(r => (r.getAs[Long]("prompt_id"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("score"), r.getAs[Long]("n_group"),
        r.getAs[Long]("adv_ppm"), r.getAs[Long]("adv_rloo_ppm"))).toSet
    // batch rows for COMPLETE groups only (the stream, by contract,
    // emits a group at exactly CandidatesPerPrompt rollouts)
    val batch = SparkEntry.queries("grpo_adv")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .filter(_._4 == cpp.toLong).toSet
    assert(streamed == batch,
      s"streamed ${streamed.size} rows != batch ${batch.size}")
  }

  test("stream_passk: folded changelog equals batch pass@k under any batch cut; constant state per task") {
    implicit val sql = spark.sqlContext
    // the batch op's exact verdict derivation over documents
    val verdicts = operators.RlEval.passkVerdicts(
      Tables(spark, sfDir, "documents").select(
        expr(s"doc_id DIV ${operators.RlEval.CandidatesPerPrompt}")
          .as("task_id"),
        $"doc_id",
        lit(0L).as("score"), // unused by the verdict
        $"text"))
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    // adversarial arrival: interleave so most task groups are cut
    val rows = verdicts.zipWithIndex
      .sortBy { case ((t, _), i) => (i % 3, t) }.map(_._1)
    val in = MemoryStream[(Long, Long)]
    val q = Streams.evalPasskStream(
        in.toDF().toDF("task_id", "correct"))
      .writeStream.format("memory").queryName("passk_out")
      .outputMode("append").start()
    Seq(rows.take(rows.length / 3),
      rows.slice(rows.length / 3, 2 * rows.length / 3),
      rows.drop(2 * rows.length / 3)).foreach { chunk =>
      in.addData(chunk.toIndexedSeq: _*)
      q.processAllAvailable()
    }
    val nTasks = verdicts.map(_._1).distinct.length.toLong
    assert(q.lastProgress.stateOperators.head.numRowsTotal == nTasks)
    q.stop()
    // fold: max-rev row per task == the batch estimate on the full set
    val folded = spark.table("passk_out").collect()
      .map(r => (r.getAs[Long]("task_id"), r.getAs[Long]("rev"),
        (r.getAs[Long]("n_samples"), r.getAs[Long]("n_correct"),
          r.getAs[Long]("pass1_ppm"), r.getAs[Long]("passk_ppm"))))
      .groupBy(_._1).map { case (t, rs) => t -> rs.maxBy(_._2)._3 }
    val batch = SparkEntry.queries("eval_passk")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    assert(folded == batch,
      s"folded ${folded.size} tasks != batch ${batch.size}")
  }

  test("stream_contract: folded changelog equals the batch gate under any cut, incl. a planted violation; six state rows") {
    implicit val sql = spark.sqlContext
    // corpus verdicts + one planted bad doc so the violation path and
    // the running first-offender min are exercised live
    val bad = Seq((999999L, "", "xx", "SRC-BAD", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
    val docs = Tables(spark, sfDir, "documents")
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
      .union(bad)
    val verdicts = operators.DataOps.contractVerdicts(docs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // adversarial arrival: interleave rules across batches
    val rows = verdicts.zipWithIndex
      .sortBy { case ((rule, _, d), i) => (i % 3, rule, d) }.map(_._1)
    val in = MemoryStream[(String, Long, Long)]
    val q = Streams.contractStream(
        in.toDF().toDF("rule", "violated", "doc_id"))
      .writeStream.format("memory").queryName("contract_out")
      .outputMode("append").start()
    Seq(rows.take(rows.length / 3),
      rows.slice(rows.length / 3, 2 * rows.length / 3),
      rows.drop(2 * rows.length / 3)).foreach { chunk =>
      in.addData(chunk.toIndexedSeq: _*)
      q.processAllAvailable()
    }
    assert(q.lastProgress.stateOperators.head.numRowsTotal == 6L,
      "state is the rule set — exactly six rows")
    q.stop()
    val folded = spark.table("contract_out").collect()
      .map(r => (r.getAs[String]("rule"), r.getAs[Long]("rev"),
        (r.getAs[Long]("n_checked"), r.getAs[Long]("n_violations"),
          r.getAs[Long]("violation_ppm"), r.getAs[Long]("first_bad_doc"))))
      .groupBy(_._1).map { case (rule, rs) => rule -> rs.maxBy(_._2)._3 }
    val batch = operators.DataOps.dataContract(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    assert(folded == batch,
      s"folded ${folded.size} rules != batch ${batch.size}")
    // the planted doc actually fired: every rule it violates reports it
    assert(batch("nonempty")._4 == 999999L)
    assert(batch("lang_known")._4 == 999999L)
    assert(batch("source_format")._4 == 999999L)
  }

  test("stream_contract restart: counters survive the checkpoint — post-restart verdicts fold onto never-replayed pre-restart rows") {
    implicit val sql = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-contract-rs")
    val ckpt = base.resolve("ckpt").toString
    val outDir = base.resolve("out").toString
    val in = MemoryStream[(String, Long, Long)]
    def start() = Streams.contractStream(
        in.toDF().toDF("rule", "violated", "doc_id"))
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = start()
    in.addData(("nonempty", 0L, 1L), ("nonempty", 1L, 7L),
      ("nonempty", 0L, 2L))
    q1.processAllAvailable()
    q1.stop() // kill with (n=3, v=1, firstBad=7) held only in state
    val q2 = start() // resume from the checkpoint
    in.addData(("nonempty", 1L, 3L), ("nonempty", 0L, 9L))
    q2.processAllAvailable()
    q2.stop()
    // fold max-rev: counters must cover ALL five rows — had the state
    // store not come back, the count restarts at the post-kill two
    val rows = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[Long]("rev"), r.getAs[Long]("n_checked"),
        r.getAs[Long]("n_violations"), r.getAs[Long]("first_bad_doc")))
    val last = rows.maxBy(_._1)
    assert(last._2 == 5L, s"post-restart count must include " +
      s"never-replayed pre-restart rows: $last")
    assert(last._3 == 2L)
    assert(last._4 == 3L, "the running first-offender min crosses the " +
      "restart (7 pre-kill, 3 post-resume)")
  }

  test("stream_loop restart: an in-progress run survives the checkpoint — 3 pre-kill + 2 post-resume calls read as ONE run of 5") {
    // The counter-archetype restart applied to the run fold: curRun
    // and lastAction live ONLY in the state store at the kill; a lost
    // state would restart the run at the post-kill two and never trip
    // the LoopRunMin=4 gate.
    implicit val sql = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-loop-rs")
    val ckpt = base.resolve("ckpt").toString
    val outDir = base.resolve("out").toString
    val in = MemoryStream[(Long, Long, Long, String)]
    def start() = Streams.traceLoopStream(
        in.toDF().toDF("trace_id", "event_id", "ts_us", "action"))
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = start()
    in.addData((5L, 1L, 100L, "call"), (5L, 2L, 200L, "call"),
      (5L, 3L, 300L, "call"))
    q1.processAllAvailable()
    q1.stop() // kill mid-run: (cur=3, last=call) held only in state
    val q2 = start()
    in.addData((5L, 4L, 400L, "call"), (5L, 5L, 500L, "call"))
    q2.processAllAvailable()
    q2.stop()
    val rows = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[Long]("rev"), r.getAs[Long]("n_events"),
        r.getAs[Long]("n_runs"), r.getAs[Long]("max_run"),
        r.getAs[Long]("is_looping")))
    assert(rows.map(_._1).sorted.toSeq == Seq(1L, 2L),
      "exactly one changelog row per side of the restart")
    val last = rows.maxBy(_._1)
    assert(last == (2L, 5L, 1L, 5L, 1L),
      s"the run must survive the checkpoint as ONE run of 5: $last")
  }

  test("stream_manifest restart: changelog state survives the checkpoint — folded max-rev view equals batch, no rev duplicated") {
    // The changelog-archetype restart (VERDICT r17 #3, completing the
    // matrix next to stream_contract's counter archetype): the
    // manifest's per-shard running extremes/fold live ONLY in the
    // state store between batches. Kill after the first chunk, resume
    // from the checkpoint, feed the rest: the folded max-rev view must
    // equal the batch manifest over ALL rows (state loss would reset
    // mins/maxes and counts to the post-kill suffix), and no
    // (shard_id, rev) pair may appear twice (a replayed batch
    // re-emitting a changelog row would double-count downstream
    // consumers that key on rev).
    implicit val sql = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-man-rs")
    val ckpt = base.resolve("ckpt").toString
    val outDir = base.resolve("out").toString
    val docs = Tables(spark, sfDir, "documents")
      .select($"doc_id", $"n_chars")
    val rows = operators.DataOps.shardRows(docs).collect()
      .map(r => (r.getLong(2), r.getLong(0), r.getLong(1), r.getLong(3)))
      .sortBy(t => t._2 % 5) // every shard straddles the kill boundary
    val in = MemoryStream[(Long, Long, Long, Long)]
    def start() = Streams.shardManifestStream(
        in.toDF().toDF("shard_id", "doc_id", "n_chars", "h40"))
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = start()
    in.addData(rows.take(rows.length / 2).toIndexedSeq: _*)
    q1.processAllAvailable()
    q1.stop() // kill: every shard's partial manifest held only in state
    val q2 = start()
    in.addData(rows.drop(rows.length / 2).toIndexedSeq: _*)
    q2.processAllAvailable()
    q2.stop()
    val out = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[Long]("shard_id"), r.getAs[Long]("rev"),
        (r.getAs[Long]("n_docs"), r.getAs[Long]("sum_chars"),
          r.getAs[Long]("min_doc"), r.getAs[Long]("max_doc"),
          r.getAs[Long]("min_h40"), r.getAs[Long]("max_h40"),
          r.getAs[Long]("digest_fold"))))
    val dupRevs = out.groupBy(t => (t._1, t._2)).filter(_._2.length > 1)
    assert(dupRevs.isEmpty,
      s"changelog rows duplicated across the restart: ${dupRevs.keys}")
    val folded = out.groupBy(_._1)
      .map { case (sid, rs) => sid -> rs.maxBy(_._2)._3 }
    val batch = SparkEntry.queries("shard_manifest")(spark, sfDir)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7))).toMap
    assert(folded == batch, "post-restart folded manifest diverged " +
      "from batch — state did not recover")
  }

  test("stream_manifest: folded changelog equals the batch shard manifest under any cut; sixteen state rows") {
    implicit val sql = spark.sqlContext
    val docs = Tables(spark, sfDir, "documents")
      .select($"doc_id", $"n_chars")
    val rows = operators.DataOps.shardRows(docs).collect()
      .map(r => (r.getLong(2), r.getLong(0), r.getLong(1), r.getLong(3)))
      .sortBy(t => t._2 % 5) // interleave shards across batches
    val in = MemoryStream[(Long, Long, Long, Long)]
    val q = Streams.shardManifestStream(
        in.toDF().toDF("shard_id", "doc_id", "n_chars", "h40"))
      .writeStream.format("memory").queryName("manifest_out")
      .outputMode("append").start()
    Seq(rows.take(rows.length / 3),
      rows.slice(rows.length / 3, 2 * rows.length / 3),
      rows.drop(2 * rows.length / 3)).foreach { chunk =>
      in.addData(chunk.toIndexedSeq: _*)
      q.processAllAvailable()
    }
    assert(q.lastProgress.stateOperators.head.numRowsTotal ==
      operators.DataOps.Shards)
    q.stop()
    val folded = spark.table("manifest_out").collect()
      .map(r => (r.getAs[Long]("shard_id"), r.getAs[Long]("rev"),
        (r.getAs[Long]("n_docs"), r.getAs[Long]("sum_chars"),
          r.getAs[Long]("min_doc"), r.getAs[Long]("max_doc"),
          r.getAs[Long]("min_h40"), r.getAs[Long]("max_h40"),
          r.getAs[Long]("digest_fold"))))
      .groupBy(_._1).map { case (sid, rs) => sid -> rs.maxBy(_._2)._3 }
    val batch = SparkEntry.queries("shard_manifest")(spark, sfDir)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7))).toMap
    assert(folded == batch,
      s"folded ${folded.size} shards != batch ${batch.size}")
  }

  test("stream_agent: folded changelog equals batch agent_trace under time-ordered cuts; constant state per trace") {
    implicit val sql = spark.sqlContext
    // the batch op's exact trace derivation, delivered in time order
    // (the log-shipping contract) but cut so every trace straddles
    // batches; WITHIN each batch the rows are shuffled (the in-batch
    // sort must recover the order)
    val rows = operators.AgentTrace.traceRows(Tables.events(spark, sfDir))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(t => (t._3, t._2))
    val in = MemoryStream[(Long, Long, Long, String)]
    val q = Streams.agentTraceStream(
        in.toDF().toDF("trace_id", "event_id", "ts_us", "action"))
      .writeStream.format("memory").queryName("agent_out")
      .outputMode("append").start()
    Seq(rows.take(rows.length / 3),
      rows.slice(rows.length / 3, 2 * rows.length / 3),
      rows.drop(2 * rows.length / 3)).foreach { chunk =>
      val shuffled = chunk.zipWithIndex.sortBy { case (c, i) =>
        (i * 2654435761L) % chunk.length // deterministic in-batch shuffle
      }.map(_._1)
      in.addData(shuffled.toIndexedSeq: _*)
      q.processAllAvailable()
    }
    val nTraces = rows.map(_._1).distinct.length.toLong
    assert(q.lastProgress.stateOperators.head.numRowsTotal == nTraces)
    q.stop()
    val folded = spark.table("agent_out").collect()
      .map(r => (r.getAs[Long]("trace_id"), r.getAs[Long]("rev"),
        (r.getAs[Long]("n_events"), r.getAs[Long]("n_calls"),
          r.getAs[Long]("n_results"), r.getAs[Long]("n_errors"),
          r.getAs[Long]("max_depth"), r.getAs[Long]("unmatched_results"),
          r.getAs[Long]("dangling_calls"), r.getAs[Long]("is_wellformed"))))
      .groupBy(_._1).map { case (t, rs) => t -> rs.maxBy(_._2)._3 }
    val batch = SparkEntry.queries("agent_trace")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getLong(8))).toMap
    assert(folded == batch,
      s"folded ${folded.size} traces != batch ${batch.size}")
  }

  test("stream_loop: folded changelog equals batch trace_loop under time-ordered cuts; runs survive batch boundaries") {
    implicit val sql = spark.sqlContext
    // same delivery contract as stream_agent: time order across
    // batches (runs are order-sensitive), shuffled within each batch,
    // every trace straddling the three cuts — so in-progress runs
    // MUST carry across the batch boundary to match batch
    val rows = operators.AgentTrace.traceRows(Tables.events(spark, sfDir))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(t => (t._3, t._2))
    val in = MemoryStream[(Long, Long, Long, String)]
    val q = Streams.traceLoopStream(
        in.toDF().toDF("trace_id", "event_id", "ts_us", "action"))
      .writeStream.format("memory").queryName("loop_out")
      .outputMode("append").start()
    Seq(rows.take(rows.length / 3),
      rows.slice(rows.length / 3, 2 * rows.length / 3),
      rows.drop(2 * rows.length / 3)).foreach { chunk =>
      val shuffled = chunk.zipWithIndex.sortBy { case (c, i) =>
        (i * 2654435761L) % chunk.length
      }.map(_._1)
      in.addData(shuffled.toIndexedSeq: _*)
      q.processAllAvailable()
    }
    val nTraces = rows.map(_._1).distinct.length.toLong
    assert(q.lastProgress.stateOperators.head.numRowsTotal == nTraces)
    q.stop()
    val folded = spark.table("loop_out").collect()
      .map(r => (r.getAs[Long]("trace_id"), r.getAs[Long]("rev"),
        (r.getAs[Long]("n_events"), r.getAs[Long]("n_runs"),
          r.getAs[Long]("max_run"), r.getAs[String]("run_action"),
          r.getAs[Long]("is_looping"))))
      .groupBy(_._1).map { case (t, rs) => t -> rs.maxBy(_._2)._3 }
    val batch = SparkEntry.queries("trace_loop")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getLong(5))).toMap
    assert(folded == batch,
      s"folded ${folded.size} traces != batch ${batch.size}")
  }

  test("stream_loop: a run split across a batch boundary still trips the gate (the continuity fixture)") {
    implicit val sql = spark.sqlContext
    // 2+3 calls split across two batches: only run continuity across
    // the boundary reaches the LoopRunMin=4 gate (each batch alone
    // holds a sub-threshold run)
    val in = MemoryStream[(Long, Long, Long, String)]
    val q = Streams.traceLoopStream(
        in.toDF().toDF("trace_id", "event_id", "ts_us", "action"))
      .writeStream.format("memory").queryName("loop_cont_out")
      .outputMode("append").start()
    in.addData((7L, 1L, 100L, "call"), (7L, 2L, 200L, "call"))
    q.processAllAvailable()
    in.addData((7L, 3L, 300L, "call"), (7L, 4L, 400L, "call"),
      (7L, 5L, 500L, "call"))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("loop_cont_out").collect()
      .map(r => r.getAs[Long]("rev") ->
        (r.getAs[Long]("n_runs"), r.getAs[Long]("max_run"),
          r.getAs[Long]("is_looping"))).toMap
    assert(out(1L) == (1L, 2L, 0L)) // below threshold after batch 1
    assert(out(2L) == (1L, 5L, 1L)) // ONE run of 5, not two runs
  }

  test("stream_lint: folded changelog equals batch conv_lint under turn-major cuts; constant state per conversation") {
    implicit val sql = spark.sqlContext
    val tpc = operators.PostTrain.TurnsPerConv
    val turns = Tables(spark, sfDir, "documents").select(
      expr(s"doc_id DIV $tpc").as("conv_id"),
      expr(s"doc_id % $tpc").as("turn_idx"),
      expr(s"CASE WHEN (doc_id % $tpc) % 2 = 0 THEN 'user' " +
        "ELSE 'assistant' END").as("role"),
      $"text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3)))
    // turn-major order: every conversation straddles every batch while
    // per-conversation turn order (the log-shipping contract) holds;
    // rows shuffled within each batch — the in-batch sort must recover
    val rows = turns.sortBy(t => (t._2, t._1))
    val in = MemoryStream[(Long, Long, String, String)]
    val q = Streams.convLintStream(
        in.toDF().toDF("conv_id", "turn_idx", "role", "text"))
      .writeStream.format("memory").queryName("lint_out")
      .outputMode("append").start()
    Seq(rows.take(rows.length / 3),
      rows.slice(rows.length / 3, 2 * rows.length / 3),
      rows.drop(2 * rows.length / 3)).foreach { chunk =>
      val shuffled = chunk.zipWithIndex.sortBy { case (c, i) =>
        (i * 2654435761L) % chunk.length
      }.map(_._1)
      in.addData(shuffled.toIndexedSeq: _*)
      q.processAllAvailable()
    }
    val nConvs = turns.map(_._1).distinct.length.toLong
    assert(q.lastProgress.stateOperators.head.numRowsTotal == nConvs)
    q.stop()
    val folded = spark.table("lint_out").collect()
      .map(r => (r.getAs[Long]("conv_id"), r.getAs[Long]("rev"),
        (r.getAs[Long]("n_turns"), r.getAs[Long]("n_alternation_viol"),
          r.getAs[String]("first_role"), r.getAs[String]("last_role"),
          r.getAs[Long]("n_empty_turns"), r.getAs[Long]("is_clean"))))
      .groupBy(_._1).map { case (c, rs) => c -> rs.maxBy(_._2)._3 }
    val batch = SparkEntry.queries("conv_lint")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4), r.getLong(5), r.getLong(6))).toMap
    assert(folded == batch,
      s"folded ${folded.size} convs != batch ${batch.size}")
  }

  test("stream_returns: emitted returns equal batch on full-horizon events under cuts; pending tail bounded by the horizon") {
    implicit val sql = spark.sqlContext
    val rows = operators.AgentTrace.traceRows(Tables.events(spark, sfDir))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(t => (t._3, t._2))
    val in = MemoryStream[(Long, Long, Long, String)]
    val q = Streams.traceReturnsStream(
        in.toDF().toDF("trace_id", "event_id", "ts_us", "action"))
      .writeStream.format("memory").queryName("returns_out")
      .outputMode("append").start()
    Seq(rows.take(rows.length / 3),
      rows.slice(rows.length / 3, 2 * rows.length / 3),
      rows.drop(2 * rows.length / 3)).foreach { chunk =>
      val shuffled = chunk.zipWithIndex.sortBy { case (c, i) =>
        (i * 2654435761L) % chunk.length
      }.map(_._1)
      in.addData(shuffled.toIndexedSeq: _*)
      q.processAllAvailable()
    }
    val nTraces = rows.map(_._1).distinct.length.toLong
    assert(q.lastProgress.stateOperators.head.numRowsTotal == nTraces)
    q.stop()
    val streamed = spark.table("returns_out").collect()
      .map(r => (r.getAs[Long]("trace_id"), r.getAs[Long]("event_id")) ->
        (r.getAs[Long]("reward"), r.getAs[Long]("return_ppm"))).toMap
    // batch rows whose discount window filled inside the trace: all
    // but the last H-1 events of each trace
    val h = operators.AgentTrace.ReturnHorizon
    val fullHorizon = rows.groupBy(_._1).values.flatMap { tr =>
      tr.sortBy(t => (t._3, t._2)).dropRight(h - 1)
    }.map(t => (t._1, t._2)).toSet
    val batch = SparkEntry.queries("trace_returns")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(4), r.getLong(5)))
      .filter(kv => fullHorizon(kv._1)).toMap
    assert(streamed == batch,
      s"streamed ${streamed.size} != batch full-horizon ${batch.size}")
  }

  test("stream_scd2: changelog folds to the batch SCD2 history; no spurious change at batch cuts") {
    implicit val sql = spark.sqlContext
    val rows = Tables.events(spark, sfDir)
      .select($"user_id", $"event_id", $"event_type")
      .orderBy($"event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val in = MemoryStream[(Long, Long, String)]
    val q = Streams.scd2Changes(
        in.toDF().toDF("user_id", "event_id", "event_type"))
      .writeStream.format("memory").queryName("scd2_out")
      .outputMode("append").start()
    in.addData(rows.take(rows.length / 3).toIndexedSeq: _*)
    q.processAllAvailable()
    in.addData(rows.slice(rows.length / 3, rows.length / 2).toIndexedSeq: _*)
    q.processAllAvailable()
    in.addData(rows.drop(rows.length / 2).toIndexedSeq: _*)
    q.processAllAvailable()
    val nUsers = rows.map(_._1).distinct.length.toLong
    assert(q.lastProgress.stateOperators.head.numRowsTotal == nUsers)
    q.stop()
    // reader fold: intervals from the change rows via lead-per-user
    val folded = spark.table("scd2_out").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("state"),
        r.getAs[Long]("valid_from")))
      .groupBy(_._1).iterator.flatMap { case (u, rs) =>
        val sorted = rs.sortBy(_._3)
        sorted.zipWithIndex.map { case ((_, st, from), i) =>
          val to = if (i + 1 < sorted.length) sorted(i + 1)._3 else -1L
          (u, st, from, to, if (to == -1L) 1L else 0L)
        }
      }.toSet
    val batch = SparkEntry.queries("q33_scd2")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(folded == batch,
      s"folded ${folded.size} rows != batch ${batch.size}")
  }

  test("stream_retention: bitmask deltas fold to the batch cohort matrix; constant state per user") {
    implicit val sql = spark.sqlContext
    val rows = Tables.events(spark, sfDir)
      // events carry TIMESTAMP_NTZ (the ns-parquet fallback); cast to
      // the session-UTC instant type so the MemoryStream tuple encoder
      // round-trips it
      .select($"user_id", $"ts".cast("timestamp").as("ts"), $"event_id")
      .orderBy($"event_id") // in-order arrival per user (log-shipping)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1)))
    val in = MemoryStream[(Long, java.sql.Timestamp)]
    val q = Streams.retentionDeltas(in.toDF().toDF("user_id", "ts"))
      .writeStream.format("memory").queryName("retention_out")
      .outputMode("append").start()
    in.addData(rows.take(rows.length / 3).toIndexedSeq: _*)
    q.processAllAvailable()
    in.addData(rows.slice(rows.length / 3, rows.length / 2).toIndexedSeq: _*)
    q.processAllAvailable()
    in.addData(rows.drop(rows.length / 2).toIndexedSeq: _*)
    q.processAllAvailable()
    // constant state: ONE row per user regardless of activity volume
    val nUsers = rows.map(_._1).distinct.length.toLong
    assert(q.lastProgress.stateOperators.head.numRowsTotal == nUsers)
    q.stop()
    // fold the changelog: one delta per (user, offset) → cell counts
    // ARE distinct users
    val folded = spark.table("retention_out").collect()
      .map(r => (r.getAs[Int]("cohort_day"), r.getAs[Long]("day_offset")))
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val batch = SparkEntry.queries("q35_retention")(spark, sfDir).collect()
      .map { r =>
        val epochDay = r.get(0) match {
          case t: java.sql.Timestamp => (t.getTime / 86400000L).toInt
          case d: java.time.LocalDateTime => d.toLocalDate.toEpochDay.toInt
        }
        (epochDay, r.getLong(1)) -> r.getLong(2)
      }.toMap
    // the fixture must sit inside the horizon for exact equality
    assert(batch.keys.map(_._2).max < Streams.RetentionHorizonDays.toLong,
      "fixture spans past the retention horizon")
    assert(folded == batch,
      s"folded ${folded.size} cells != batch ${batch.size}")
  }

  test("stream_split: content-keyed assignment equals batch split_safe; copies co-assign across batches") {
    implicit val sql = spark.sqlContext
    val all = Tables(spark, sfDir, "documents")
      .select($"doc_id", $"text", $"source")
    val corpus = all.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // plant a copy of the FIRST half's doc 7 into the SECOND half so a
    // copy pair genuinely straddles the micro-batch boundary
    val rows = corpus :+ ((990007L, corpus.find(_._1 == 7L).get._2, "web"))
    val in = MemoryStream[(Long, String, String)]
    val q = Streams.splitAssigned(in.toDF().toDF("doc_id", "text", "source"))
      .writeStream.format("memory").queryName("split_out")
      .outputMode("append").start()
    // split across micro-batches: the assignment is per-row content
    // math, so a copy pair severed by the batch boundary still
    // co-assigns
    in.addData(rows.take(rows.length / 2).toIndexedSeq: _*)
    q.processAllAvailable()
    in.addData(rows.drop(rows.length / 2).toIndexedSeq: _*)
    q.processAllAvailable()
    assert(q.lastProgress == null || q.lastProgress.stateOperators.isEmpty)
    val streamed = spark.table("split_out").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    q.stop()
    val batch = SparkEntry.queries("split_safe")(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    assert(batch.keySet.subsetOf(streamed.keySet))
    batch.foreach { case (id, sp) =>
      assert(streamed(id) == sp, s"doc $id: ${streamed(id)} != batch $sp")
    }
    // the planted copy straddled the micro-batch boundary (doc 7 in
    // batch one, its copy in batch two) and still co-assigned
    assert(streamed(990007L) == streamed(7L),
      "boundary-straddling copies must share a split")
  }

  test("stream_search: gated scores equal the batch search_bm25 exactly") {
    implicit val sql = spark.sqlContext
    val docs = graft.Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    // offline profile over the same rows → per-doc scores must equal
    // the batch operator's bit-for-bit
    val (dfCounts, n, t) = operators.Search.bm25Profile(docs)
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val in = MemoryStream[(Long, String)]
    val q = Streams.searchGated(in.toDF().toDF("doc_id", "text"),
        dfCounts, n, t, minScore = 1L)
      .writeStream.format("memory").queryName("search_out")
      .outputMode("append").start()
    // split the corpus across micro-batches: per-doc decisions are
    // stateless, so batch boundaries must not change any score
    in.addData(rows.take(rows.length / 2).toIndexedSeq: _*)
    q.processAllAvailable()
    in.addData(rows.drop(rows.length / 2).toIndexedSeq: _*)
    q.processAllAvailable()
    val streamed = spark.table("search_out").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(q.lastProgress == null || q.lastProgress.stateOperators.isEmpty)
    q.stop()
    val batch = operators.Search.bm25Scores(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("score"), r.getAs[Long]("n_terms"))).toMap
      .filter(_._2._1 >= 1L)
    assert(streamed == batch,
      s"stream gated ${streamed.size} docs, batch scored ${batch.size}")
    // and the TOP of the gate agrees with the batch top-K report
    val topBatch = operators.Search.ops.head.query(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score"))).toSet
    assert(topBatch.forall { case (id, s) => streamed(id)._1 == s })
  }

  test("stream_index: folded posting deltas equal the batch index across batch splits") {
    implicit val sql = spark.sqlContext
    val cap = operators.TextAnalysis.PostingCap
    val docs = Tables(spark, sfDir, "documents")
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1))).take(120)
    val in = MemoryStream[(Long, String)]
    val q = Streams.indexDeltas(in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("idx_frags")
      .outputMode("append").start()
    // three uneven micro-batches — fragment rows must fold to the
    // batch answer regardless of how the corpus was split
    in.addData(docs.take(40): _*)
    q.processAllAvailable()
    in.addData(docs.slice(40, 50): _*)
    q.processAllAvailable()
    in.addData(docs.drop(50): _*)
    q.processAllAvailable()
    // ZERO state-store rows: fragments are pure per-batch functions
    assert(q.lastProgress.stateOperators.isEmpty ||
      q.lastProgress.stateOperators.forall(_.numRowsTotal == 0L),
      "stream_index must keep no state")
    q.stop()
    // reader-side compaction (the q31/stream_compact fold): sum the
    // deltas, merge the fragments, keep the bottom cap
    val folded = spark.table("idx_frags").collect()
      .map(r => (r.getAs[String]("token"), r.getAs[Long]("n_postings_delta"),
        r.getAs[Long]("n_docs_delta"), r.getAs[String]("posting_frag")))
      .groupBy(_._1).map { case (tok, frags) =>
        val posting = frags.flatMap(_._4.split(",")).filter(_.nonEmpty)
          .sorted.take(cap).mkString(",")
        tok -> (frags.map(_._2).sum, frags.map(_._3).sum, posting)
      }
    val batch = operators.TextAnalysis.indexBuild(
        docs.toSeq.toDF("doc_id", "text")).collect()
      .map(r => r.getAs[String]("token") ->
        (r.getAs[Long]("n_postings"), r.getAs[Long]("n_docs"),
          r.getAs[String]("posting"))).toMap
    assert(folded.keySet == batch.keySet,
      s"vocab drift: ${(folded.keySet diff batch.keySet).take(5)} / ${(batch.keySet diff folded.keySet).take(5)}")
    folded.foreach { case (tok, got) =>
      assert(got == batch(tok), s"token '$tok': folded $got != batch ${batch(tok)}")
    }
    // the deltas ARE the sink_index postings/ schema: appended
    // verbatim into a bundle, the store's fold is the batch index
    val bundle = java.nio.file.Files.createTempDirectory("graft-sidx")
      .resolve("bundle").toString
    sources.SearchIndex.appendDeltas(spark.table("idx_frags"), bundle)
    val stored = sources.SearchIndex.readPostings(spark, bundle).collect()
      .map(r => r.getAs[String]("token") ->
        (r.getAs[Long]("n_postings"), r.getAs[Long]("n_docs"),
          r.getAs[String]("posting"))).toMap
    assert(stored == batch,
      "store-folded postings diverged from the batch index")
  }

  test("stream_ingest: stream-static exact-dup gate equals batch dedup_incremental") {
    implicit val sql = spark.sqlContext
    val split = operators.Dedup.IncrSplit
    val all = Tables(spark, sfDir, "documents").select($"doc_id", $"text")
    // the static side is the PERSISTED fingerprint store — the gate's
    // per-batch re-plan scans skinny store parquet, never re-derives
    // md5 over history text
    val store = java.nio.file.Files.createTempDirectory("graft-ingest")
      .resolve("store").toString
    sources.Fingerprints.write(all.filter($"doc_id" < split), store, nShards = 2)
    val history = sources.Fingerprints.readContent(spark, store)
    val fresh = all.filter($"doc_id" >= split).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // plant one arriving doc that copies a history doc verbatim —
    // the gate must flag it (this sf carries no natural cross-split
    // exact dup)
    val histText = all.filter($"doc_id" === 0L).head.getString(1)
    val planted = (999999L, histText)
    val in = MemoryStream[(Long, String)]
    val q = Streams.ingestGate(in.toDF().toDF("doc_id", "text"), history)
      .writeStream.format("memory").queryName("ingest_out")
      .outputMode("append").start()
    in.addData(fresh.take(fresh.length / 2): _*)
    q.processAllAvailable()
    in.addData((fresh.drop(fresh.length / 2) :+ planted): _*)
    q.processAllAvailable()
    // stateless: the static fingerprint side is re-planned per batch,
    // nothing lands in a state store
    assert(q.lastProgress.stateOperators.isEmpty ||
      q.lastProgress.stateOperators.forall(_.numRowsTotal == 0L))
    q.stop()
    val streamed = spark.table("ingest_out").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = SparkEntry.queries("dedup_incremental")(spark, sfDir)
      .select($"doc_id", $"is_exact_dup").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed.keySet == batch.keySet + 999999L)
    batch.foreach { case (id, f) =>
      assert(streamed(id) == f, s"doc $id: streamed flag ${streamed(id)} != batch $f")
    }
    assert(streamed(999999L) == 1L, "planted copy of history must be flagged")
  }

  test("stream_dsir: frozen-model importance gate equals batch weights, zero state rows") {
    implicit val sql = spark.sqlContext
    val all = Tables(spark, sfDir, "documents")
      .select($"doc_id", $"text", $"lang", $"source")
    val store = java.nio.file.Files.createTempDirectory("graft-dsir-st")
      .resolve("model").toString
    // the batch-side offline pass: counts + cut persisted once
    sources.DsirStore.write(all, store)
    val vocab = sources.DsirStore.readVocab(spark, store)
    val tot = sources.DsirStore.readTotals(spark, store).collect().head
    val (nt, nr, v) =
      (tot.getAs[Long]("nt"), tot.getAs[Long]("nr"), tot.getAs[Long]("v"))
    val cut = sources.DsirStore.readCut(spark, store)
      .collect().head.getDouble(0)
    // the arriving shard: the WHOLE corpus, curated slice included —
    // the gate itself must apply the batch twin's source split and
    // score only the raw pool (curated arrivals produce no rows)
    val fresh = all
      .select($"doc_id", $"text", $"source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val in = MemoryStream[(Long, String, String)]
    val q = Streams.dsirGate(in.toDF().toDF("doc_id", "text", "source"),
        vocab, nt, nr, v, cut)
      .writeStream.format("memory").queryName("dsir_out")
      .outputMode("append").start()
    // uneven splits: a doc's token rows still land in ONE batch
    in.addData(fresh.take(fresh.length / 3).toIndexedSeq: _*)
    q.processAllAvailable()
    in.addData(fresh.drop(fresh.length / 3).toIndexedSeq: _*)
    q.processAllAvailable()
    // zero-state: the model side is re-planned static parquet, the
    // per-doc roll-up keeps nothing across batches
    assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0L),
      "dsir gate must keep zero state rows")
    q.stop()
    val streamed = spark.table("dsir_out").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_toks"), r.getAs[Long]("llr_bits"),
          r.getAs[Long]("accept"))).toMap
    // streamed weights == the batch store-fed path row-for-row (the
    // integer kernel leaves no rounding to diverge on); keyset
    // equality also proves the curated slice was gated out INSIDE the
    // op — the stream saw every doc, the batch path scores only raw
    val batch = sources.DsirStore.weightsFrom(all, store).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_toks"), r.getAs[Long]("llr_bits"))).toMap
    assert(streamed.size == batch.size)
    assert(streamed.size < fresh.length,
      "fixture must include curated docs for the in-gate filter to drop")
    streamed.foreach { case (id, (n, w, acc)) =>
      assert(batch(id) == ((n, w)), s"doc $id diverged: ($n,$w) vs ${batch(id)}")
      assert(acc == (if (w.toDouble >= cut) 1L else 0L), s"doc $id accept bit")
    }
    // the gate keeps a real tranche: some accepted, some rejected
    val accepted = streamed.values.count(_._3 == 1L)
    assert(accepted > 0 && accepted < streamed.size,
      s"degenerate gate: $accepted of ${streamed.size}")
  }

  test("stream_ingest_minhash: band-store probe equals batch dedup_incr_minhash") {
    implicit val sql = spark.sqlContext
    val split = operators.Dedup.IncrSplit
    val all = Tables(spark, sfDir, "documents").select($"doc_id", $"text")
    val store = java.nio.file.Files.createTempDirectory("graft-ingest-mh")
      .resolve("store").toString
    sources.Fingerprints.write(all.filter($"doc_id" < split), store, nShards = 2)
    val bandStore = sources.Fingerprints.readBands(spark, store)
    val freshRows = all.filter($"doc_id" >= split).collect()
      .map(r => (r.getLong(0), r.getString(1))).take(120)
    // plant an exact copy (8/8 bands) and an edited copy (>= 1 band)
    // of a history doc — this sf carries no natural cross-split near-dup
    val histText = all.filter($"doc_id" === 0L).head.getString(1)
    val toks = histText.split(" ")
    toks(toks.length / 2) = "edited-token-xyz"
    val docs = (freshRows :+ (999998L, histText)) :+ (999999L, toks.mkString(" "))
    val in = MemoryStream[(Long, String)]
    val q = Streams.ingestMinhashGate(in.toDF().toDF("doc_id", "text"), bandStore)
      .writeStream.format("memory").queryName("ingest_mh_out")
      .outputMode("append").start()
    // uneven splits: a doc's 8 band rows still land in ONE batch
    in.addData(docs.take(docs.length / 3): _*)
    q.processAllAvailable()
    in.addData(docs.slice(docs.length / 3, docs.length / 3 + 5): _*)
    q.processAllAvailable()
    in.addData(docs.drop(docs.length / 3 + 5): _*)
    q.processAllAvailable()
    // zero-state: the store side is re-planned static parquet, the
    // per-doc roll-up keeps nothing across batches
    assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0L),
      "near-dup gate must keep zero state rows")
    q.stop()
    val streamed = spark.table("ingest_mh_out").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_hist_bands"), r.getAs[Long]("near_hist"))).toMap
    val batch = operators.Dedup.incrementalMinhashFrom(
        docs.toSeq.toDF("doc_id", "text"), bandStore).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_hist_bands"), r.getAs[Long]("near_hist"))).toMap
    assert(streamed == batch,
      s"stream diverged from batch on ${streamed.toSet.diff(batch.toSet).take(5)}")
    assert(streamed(999998L) == ((8L, 1L)),
      s"exact copy must collide on all 8 bands: ${streamed(999998L)}")
    assert(streamed(999999L)._1 >= 1L && streamed(999999L)._2 == 1L,
      s"edited copy missed: ${streamed(999999L)}")
  }

  test("stream_ingest_phash: perceptual band-store probe equals batch; copies flag on arrival") {
    implicit val sql = spark.sqlContext
    def png(seed: Long) = operators.Multimodal.buildPng(32, 24,
      operators.Multimodal.plantedLuma(seed, _, _))
    // standing corpus: 40 images, pixels decoded ONCE into the store
    val hist = (0L until 40L).map(i => (i, png(i))).toDF("doc_id", "payload")
    val histHashes = hist.select($"doc_id",
      expr("graft_dhash(payload)").as("phash"))
    val store = java.nio.file.Files.createTempDirectory("graft-phstore")
      .resolve("store").toString
    sources.Fingerprints.writePhashBands(histHashes, store, nShards = 2)
    val bandStore = sources.Fingerprints.readPhashBands(spark, store)
    // arriving: fresh images, an EXACT copy of history image 3, a
    // one-pixel EDIT of history image 5, and a WAV (no phash row)
    val edited = operators.Multimodal.buildPng(32, 24,
      (x, y) => if (x == 1 && y == 1)
        255 - operators.Multimodal.plantedLuma(5L, 1, 1)
      else operators.Multimodal.plantedLuma(5L, x, y))
    val wav = operators.Multimodal.buildWav(1, 8000, 16, Array[Byte](1, 2))
    val docs = ((100L until 130L).map(i => (i, png(i))) :+
      (998L, png(3L))) :+ (999L, edited) :+ (700L, wav)
    val in = MemoryStream[(Long, Array[Byte])]
    val q = Streams.ingestPhashGate(in.toDF().toDF("doc_id", "payload"), bandStore)
      .writeStream.format("memory").queryName("ingest_ph_out")
      .outputMode("append").start()
    in.addData(docs.take(11): _*)
    q.processAllAvailable()
    in.addData(docs.drop(11): _*)
    q.processAllAvailable()
    assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0L),
      "perceptual gate must keep zero state rows")
    q.stop()
    val streamed = spark.table("ingest_ph_out").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_hist_bands"), r.getAs[Long]("near_hist"))).toMap
    // non-PNG payloads pass through untested
    assert(!streamed.contains(700L), "WAV must not produce a phash row")
    val batch = operators.Multimodal.phashProbe(
        docs.toDF("doc_id", "payload")
          .select($"doc_id", expr("graft_dhash(payload)").as("phash"))
          .filter($"phash".isNotNull),
        bandStore).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_hist_bands"), r.getAs[Long]("near_hist"))).toMap
    assert(streamed == batch, s"stream diverged from batch")
    assert(streamed(998L) == ((4L, 1L)),
      s"exact image copy must collide on all 4 bands: ${streamed(998L)}")
    assert(streamed(999L)._1 >= 2L && streamed(999L)._2 == 1L,
      s"one-pixel edit (<=2 hash bits) must keep >=2 bands: ${streamed(999L)}")
  }

  test("stream_ingest_audio: envelope band-store probe equals batch; re-gained copies flag (r13)") {
    implicit val sql = spark.sqlContext
    def wav(seed: Long, gain: Int = 1) = {
      val n = 65 * 3
      val data = new Array[Byte](n * 2)
      for (f <- 0 until n) {
        val v = ((80 + (f / 65) * 900 + ((f * seed) % 13).toInt * 5) *
          (if (f % 2 == 0) 1 else -1) * gain).toInt
        data(f * 2) = (v & 0xff).toByte
        data(f * 2 + 1) = ((v >> 8) & 0xff).toByte
      }
      operators.Multimodal.buildWav(1, 8000, 16, data)
    }
    // standing corpus: 20 clips of audio, PCM decoded ONCE into store
    val hist = (0L until 20L).map(i => (i, wav(i + 2))).toDF("doc_id", "payload")
    val histHashes = hist.select($"doc_id",
      expr("graft_ahash(payload)").as("phash")).filter($"phash".isNotNull)
    val store = java.nio.file.Files.createTempDirectory("graft-ahstore")
      .resolve("store").toString
    sources.Fingerprints.writePhashBands(histHashes, store, nShards = 2,
      sub = "ahash_bands")
    val bandStore = sources.Fingerprints.readPhashBands(spark, store,
      sub = "ahash_bands")
    // arriving: fresh audio, an EXACT copy of history 3, a re-GAINED
    // (×2) copy of history 5, and a PNG (no ahash row)
    val png = operators.Multimodal.buildPng(16, 16,
      operators.Multimodal.plantedLuma(9L, _, _))
    val docs = ((100L until 115L).map(i => (i, wav(i))) :+
      (998L, wav(5L))) :+ (999L, wav(7L, gain = 2)) :+ (700L, png)
    val in = MemoryStream[(Long, Array[Byte])]
    val q = Streams.ingestAudioGate(in.toDF().toDF("doc_id", "payload"),
        bandStore)
      .writeStream.format("memory").queryName("ingest_ah_out")
      .outputMode("append").start()
    in.addData(docs.take(7): _*)
    q.processAllAvailable()
    in.addData(docs.drop(7): _*)
    q.processAllAvailable()
    assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0L),
      "audio gate must keep zero state rows")
    q.stop()
    val streamed = spark.table("ingest_ah_out").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_audio_bands"), r.getAs[Long]("audio_hist"))).toMap
    // non-audio payloads pass through untested
    assert(!streamed.contains(700L), "PNG must not produce an ahash row")
    val batch = operators.Multimodal.phashProbe(
        docs.toDF("doc_id", "payload")
          .select($"doc_id", expr("graft_ahash(payload)").as("phash"))
          .filter($"phash".isNotNull),
        bandStore).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_hist_bands"), r.getAs[Long]("near_hist"))).toMap
    assert(streamed == batch, s"stream diverged from batch")
    assert(streamed(998L) == ((4L, 1L)),
      s"exact audio copy must collide on all 4 bands: ${streamed(998L)}")
    assert(streamed(999L) == ((4L, 1L)),
      s"re-gained copy (gain-invariant envelope) must collide: ${streamed(999L)}")
  }

  test("stream_ingest_clip: sampled-frame band probe equals batch; sampled-frame reuse flags on arrival") {
    implicit val sql = spark.sqlContext
    def frame(seed: Long) = operators.Multimodal.buildPng(32, 24,
      operators.Multimodal.plantedLuma(seed, _, _))
    def clip(seedBase: Long): Seq[Array[Byte]] =
      (0 until operators.Multimodal.ClipFrames).map(f => frame(seedBase + f))
    // standing store: the sampled frames (idx 0, 3) of history clips
    val store = java.nio.file.Files.createTempDirectory("graft-clipstore")
      .resolve("store").toString
    sources.Fingerprints.writePhashBands(
      Seq((500L, frame(1000L)), (501L, frame(1003L)))
        .toDF("doc_id", "payload")
        .select($"doc_id", expr("graft_dhash(payload)").as("phash"))
        .filter($"phash".isNotNull), store, nShards = 2)
    val bandStore = sources.Fingerprints.readPhashBands(spark, store)
    // arriving clips: fresh; sampled-frame reuse of history; edited
    // copy of a sampled history frame; NON-sampled-frame reuse (must
    // pass — the gate sees sampled indices only)
    val editedH3 = operators.Multimodal.buildPng(32, 24,
      (x, y) => if (x == 4 && y == 2)
        255 - operators.Multimodal.plantedLuma(1003L, 4, 2)
      else operators.Multimodal.plantedLuma(1003L, x, y))
    val docs = Seq(
      (100L, clip(2000L)),
      (101L, frame(1000L) +: clip(3000L).tail),
      (102L, clip(4000L).updated(3, editedH3)),
      (103L, clip(5000L).updated(1, frame(1001L))))
    val in = MemoryStream[(Long, Seq[Array[Byte]])]
    val q = Streams.ingestClipGate(in.toDF().toDF("doc_id", "frames"), bandStore)
      .writeStream.format("memory").queryName("ingest_clip_out")
      .outputMode("append").start()
    in.addData(docs.take(2): _*)
    q.processAllAvailable()
    in.addData(docs.drop(2): _*)
    q.processAllAvailable()
    assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0L),
      "clip gate must keep zero state rows")
    q.stop()
    val streamed = spark.table("ingest_clip_out").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_clip_bands"), r.getAs[Long]("clip_hist"))).toMap
    val batch = operators.Multimodal.clipProbe(
        operators.Multimodal.sampleFrames(docs.toDF("doc_id", "frames"))
          .filter($"frame_hash".isNotNull),
        bandStore).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_clip_bands"), r.getAs[Long]("clip_hist"))).toMap
    assert(streamed == batch, s"stream diverged from batch: $streamed vs $batch")
    assert(streamed(100L) == ((0L, 0L)), s"fresh clip: ${streamed(100L)}")
    assert(streamed(101L) == ((4L, 1L)),
      s"exact sampled-frame reuse must collide on all 4 bands: ${streamed(101L)}")
    assert(streamed(102L)._1 >= 2L && streamed(102L)._2 == 1L,
      s"edited sampled frame (<=2 hash bits) must keep >=2 bands: ${streamed(102L)}")
    assert(streamed(103L) == ((0L, 0L)),
      s"non-sampled-frame reuse must pass: ${streamed(103L)}")
  }

  test("stream_upsert: streamed deltas yield byte-identical servable codes to one batch upsert") {
    implicit val sql = spark.sqlContext
    val e = Tables(spark, sfDir, "embeddings")
    val base = java.nio.file.Files.createTempDirectory("graft-stream-upsert")
    val idxStream = base.resolve("idx_stream").toString
    val idxBatch = base.resolve("idx_batch").toString
    sources.AnnIndex.write(e.filter($"vec_id" < 400), idxStream, nShards = 2)
    sources.AnnIndex.write(e.filter($"vec_id" < 400), idxBatch, nShards = 2)
    val delta = e.filter($"vec_id" >= 400)
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    // one-shot reference upsert
    sources.AnnIndex.upsert(
      delta.toSeq.toDF("vec_id", "embedding")
        .select($"vec_id", $"embedding".cast("array<float>")), idxBatch)
    // streamed in three uneven batches
    val in = MemoryStream[(Long, Seq[Float])]
    val q = Streams.upsertSink(
        in.toDF().toDF("vec_id", "embedding")
          .select($"vec_id", $"embedding".cast("array<float>")), idxStream)
      .start()
    in.addData(delta.take(30): _*)
    q.processAllAvailable()
    in.addData(delta.slice(30, 31): _*)
    q.processAllAvailable()
    in.addData(delta.drop(31): _*)
    q.processAllAvailable()
    q.stop()
    def servable(p: String) = sources.AnnIndex.readServable(spark, p)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val got = servable(idxStream)
    val want = servable(idxBatch)
    assert(got.keySet == want.keySet)
    val bad = want.collect { case (id, c) if got(id) != c => id }
    assert(bad.isEmpty, s"codes diverged for ${bad.take(5)}")
  }

  test("stream_data_card: folded slice deltas + derived shares equal batch data_card") {
    implicit val sql = spark.sqlContext
    val rows = Tables(spark, sfDir, "documents")
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    val in = MemoryStream[(Long, String, String, String, Long)]
    val q = Streams.dataCardDeltas(
        in.toDF().toDF("doc_id", "text", "lang", "source", "n_chars"))
      .writeStream.format("memory").queryName("card_out")
      .outputMode("append").start()
    in.addData(rows.take(170): _*)
    q.processAllAvailable()
    in.addData(rows.slice(170, 171): _*)
    q.processAllAvailable()
    in.addData(rows.drop(171): _*)
    q.processAllAvailable()
    assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0L))
    q.stop()
    // fold deltas, derive shares exactly as the batch op does
    val folded = spark.table("card_out")
      .groupBy($"lang", $"source")
      .agg(sum($"d_docs").as("n_docs"), sum($"d_tokens").as("n_tokens"),
        sum($"d_chars").as("sum_chars"))
    val tot = folded.agg(sum($"n_docs").as("td"), sum($"n_tokens").as("tt"))
    val got = folded.crossJoin(broadcast(tot))
      .select($"lang", $"source", $"n_docs", $"n_tokens", $"sum_chars",
        expr("n_docs * 10000 DIV td").as("doc_share_bp"),
        expr("n_tokens * 10000 DIV tt").as("tok_share_bp"))
      .collect().map(_.toSeq.toList).toSet
    val want = SparkEntry.queries("data_card")(spark, sfDir)
      .collect().map(_.toSeq.toList).toSet
    assert(got == want, s"diff=${(got diff want).take(2)} / ${(want diff got).take(2)}")
  }

  test("stream_bitext: mining vs the persisted target index equals batch mine_bitext") {
    implicit val sql = spark.sqlContext
    val e = Tables(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding")
    val src = e.filter($"vec_id" % 2 === 0)
    val tgt = e.filter($"vec_id" % 2 === 1)
    val bits = operators.Similarity.embBits(e.count() / 2)
    val base = java.nio.file.Files.createTempDirectory("graft-bitext")
    val idx = base.resolve("index").toString
    sources.BitextIndex.write(src, tgt, idx, bits)
    assert(sources.BitextIndex.readBits(spark, idx) == bits)
    val arriving = src.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val in = MemoryStream[(Long, Seq[Float])]
    val q = Streams.bitextGate(
        in.toDF().toDF("vec_id", "embedding")
          .select($"vec_id", $"embedding".cast("array<float>")),
        sources.BitextIndex.readBands(spark, idx),
        sources.BitextIndex.readVecs(spark, idx),
        sources.BitextIndex.readStats(spark, idx), bits)
      .writeStream.format("memory").queryName("bitext_out")
      .outputMode("append").start()
    in.addData(arriving.take(80): _*)
    q.processAllAvailable()
    in.addData(arriving.slice(80, 83): _*)
    q.processAllAvailable()
    in.addData(arriving.drop(83): _*)
    q.processAllAvailable()
    assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0L),
      "bitext gate must keep zero state rows")
    q.stop()
    val streamed = spark.table("bitext_out").collect()
      .map(r => r.getAs[Long]("s_id") ->
        ((r.getAs[Long]("t_id"), r.getAs[Double]("cos"),
          r.getAs[Double]("margin"), r.getAs[Long]("accepted")))).toMap
    val batch = operators.Similarity.mineBitext(src, tgt, bits).collect()
      .map(r => r.getAs[Long]("s_id") ->
        ((r.getAs[Long]("t_id"), r.getAs[Double]("cos"),
          r.getAs[Double]("margin"), r.getAs[Long]("accepted")))).toMap
    assert(streamed.keySet == batch.keySet)
    val diffs = batch.collect {
      case (id, b) if streamed(id) != b => (id, streamed(id), b)
    }
    assert(diffs.isEmpty, s"stream diverged on ${diffs.take(3)}")
  }

  test("stream_graph: folded edge deltas equal the batch transition edges across session cuts") {
    implicit val sql = spark.sqlContext
    val corpusRows = Tables.events(spark, sfDir)
      .select($"user_id", $"event_id", $"props")
      .orderBy($"event_id").limit(600).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // plant a malformed event (no numeric $.k) BETWEEN two valid events
    // of one user: both engines must bridge the chain over it (drop it
    // pre-window), or the folded==batch equality breaks on dirty input
    val uMal = corpusRows.head._1
    val maxId = corpusRows.map(_._2).max
    val evRows = corpusRows ++ Seq(
      (uMal, maxId + 1, """{"oops": true}"""),
      (uMal, maxId + 2, """{"k": 7}"""))
    val in = MemoryStream[(Long, Long, String)]
    val q = Streams.transitionDeltas(
        in.toDF().toDF("user_id", "event_id", "props"))
      .writeStream.format("memory").queryName("graph_out")
      .outputMode("append").start()
    // splits cut most users' sessions mid-stride — the one-item state
    // must bridge the gap or cross-batch edges vanish
    in.addData(evRows.take(200): _*)
    q.processAllAvailable()
    in.addData(evRows.slice(200, 201): _*)
    q.processAllAvailable()
    in.addData(evRows.drop(201): _*)
    q.processAllAvailable()
    val st = q.lastProgress.stateOperators
    assert(st.nonEmpty && st.forall(_.numRowsTotal <= 150L),
      s"state must be <= one row per user: ${st.map(_.numRowsTotal).toSeq}")
    q.stop()
    val folded = spark.table("graph_out")
      .groupBy($"src", $"dst").agg(sum($"w_delta").as("w")).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val batch = operators.Graph.transitionEdges(
        evRows.toSeq.toDF("user_id", "event_id", "props")).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(folded == batch,
      s"diff=${(folded.toSet diff batch.toSet).take(3)} / ${(batch.toSet diff folded.toSet).take(3)}")
  }

  test("stream_perplexity: persisted-model scores == batch; cut-rule bucketing; zero state") {
    implicit val sql = spark.sqlContext
    val all = Tables(spark, sfDir, "documents")
      .select($"doc_id", $"text", $"lang", $"source")
    val base = java.nio.file.Files.createTempDirectory("graft-lm-stream")
    val modelPath = base.resolve("model").toString
    sources.LmModel.write(all, modelPath)
    // pin EXACT cuts: this spec asserts a batch-HEAD doc streams as
    // head, and the sketch-default cuts are only rank-banded (±1.65%)
    // — a boundary doc could legitimately flip. The sketch contract
    // has its own band assertion in SinksSpec; bit-equality here needs
    // the exact derivation.
    sources.LmModel.refreshCuts(all, modelPath, exact = true)
    val bigrams = sources.LmModel.readBigrams(spark, modelPath)
    val contexts = sources.LmModel.readContexts(spark, modelPath)
    val v = sources.LmModel.readMeta(spark, modelPath).head().getLong(0)
    val cuts = sources.LmModel.readCuts(spark, modelPath)
    val cutMap = cuts.collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    // arriving shard: 120 corpus docs + a planted bigram-less doc and
    // a verbatim copy of a batch-HEAD doc (must score head on arrival)
    val batchOp = SparkEntry.queries("perplexity_filter")(spark, sfDir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("bucket")).toMap
    val headDoc = all.filter($"doc_id" === batchOp.collectFirst {
      case (id, "head") => id }.get).head()
    val arriving = all.filter($"doc_id" >= 250L).limit(120).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))) ++
      Seq((999998L, "solo", "en"),
        (999999L, headDoc.getString(1), headDoc.getString(2)))
    val in = MemoryStream[(Long, String, String)]
    val q = Streams.perplexityGate(in.toDF().toDF("doc_id", "text", "lang"),
        bigrams, contexts, v, cuts)
      .writeStream.format("memory").queryName("pplx_out")
      .outputMode("append").start()
    in.addData(arriving.take(40): _*)
    q.processAllAvailable()
    in.addData(arriving.slice(40, 45): _*)
    q.processAllAvailable()
    in.addData(arriving.drop(45): _*)
    q.processAllAvailable()
    assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0L),
      "perplexity gate must keep zero state rows")
    q.stop()
    val streamed = spark.table("pplx_out").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("sum_surprisal"),
          r.getAs[Double]("bits_per_token"), r.getAs[String]("bucket")))).toMap
    assert(streamed.size == arriving.length)
    // scores equal the batch store-fed scoring exactly
    val docsDF = arriving.toSeq.toDF("doc_id", "text", "lang")
    val batch = sources.LmModel.scoreFrom(docsDF, modelPath).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("sum_surprisal")))).toMap
    batch.foreach { case (id, (n, s)) =>
      assert(streamed(id)._1 == n && streamed(id)._2 == s,
        s"doc $id: streamed (${streamed(id)._1},${streamed(id)._2}) != batch ($n,$s)")
    }
    // bucketing is EXACTLY the published cut rule (ties → earlier bucket)
    streamed.foreach { case (id, (n, s, _, bucket)) =>
      val lang = arriving.find(_._1 == id).get._3
      val want =
        if (n == 0L) "tail"
        else cutMap.get(lang) match {
          case None => "tail"
          case Some((ch, cm)) =>
            val ord = s.toDouble / n
            if (ord <= ch) "head" else if (ord <= cm) "middle" else "tail"
        }
      assert(bucket == want, s"doc $id: bucket $bucket != rule $want")
    }
    assert(streamed(999998L) == ((0L, 0L, -1.0, "tail")),
      s"bigram-less sentinel: ${streamed(999998L)}")
    assert(streamed(999999L)._4 == "head",
      s"verbatim copy of a head doc must score head: ${streamed(999999L)}")
  }

  test("stream_skipgram: folded pair deltas equal the batch co-occurrence matrix") {
    implicit val sql = spark.sqlContext
    val docs = Tables(spark, sfDir, "documents")
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1))).take(90)
    val in = MemoryStream[(Long, String)]
    val q = Streams.skipgramDeltas(in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("skip_frags")
      .outputMode("append").start()
    in.addData(docs.take(30): _*)
    q.processAllAvailable()
    in.addData(docs.slice(30, 35): _*)
    q.processAllAvailable()
    in.addData(docs.drop(35): _*)
    q.processAllAvailable()
    assert(q.lastProgress.stateOperators.isEmpty ||
      q.lastProgress.stateOperators.forall(_.numRowsTotal == 0L),
      "stream_skipgram must keep no state")
    q.stop()
    val folded = spark.table("skip_frags").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_delta"), r.getAs[Long]("w_delta")))
      .groupBy(_._1).map { case (k, vs) =>
        k -> (vs.map(_._2._1).sum, vs.map(_._2._2).sum)
      }
    val batch = operators.LangModel.skipgramPairs(
        docs.toSeq.toDF("doc_id", "text"), minCount = 1L).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("weight12"))).toMap
    assert(folded.keySet == batch.keySet, "pair-set drift")
    folded.foreach { case (k, v) =>
      assert(v == batch(k), s"pair $k: folded $v != batch ${batch(k)}")
    }
  }

  test("stream_ann: served top-k equals the batch ann_quantized exactly") {
    implicit val sql = spark.sqlContext
    val e = graft.Tables(spark, sfDir, "embeddings")
    // the serving index: the SAME int8 codes the batch path stores
    val index = operators.Similarity.int8Codes(e).collect()
      .map(r => (r.getAs[Long]("c_id"), r.getSeq[Int](1))).toSeq
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val in = MemoryStream[(Long, Array[Float])]
    val (served, handle) =
      Streams.annServedWith(in.toDF().toDF("q_id", "q_emb"), index, 5)
    // the index ships as a broadcast HANDLE, never as plan content: no
    // literal in the plan may hold the index (the rejected typedlit
    // shape put every code into every serialized task), and the whole
    // analyzed plan stays a few KB regardless of index size
    val bigLits = served.queryExecution.analyzed.expressions.flatMap(_.collect {
      case l: org.apache.spark.sql.catalyst.expressions.Literal
          if l.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] &&
            l.value != null &&
            l.value.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
              .numElements() > 100 => l
    })
    assert(bigLits.isEmpty, s"index leaked into the plan as a literal")
    assert(served.queryExecution.analyzed.toString.length < 10000,
      "plan size scales with the index — the literal shape is back")
    val q = served
      .writeStream.format("memory").queryName("ann_served_out")
      .outputMode("append").start()
    // split queries across micro-batches: per-query answers are
    // stateless, so batch boundaries must not change any result
    in.addData(queries.take(4): _*)
    q.processAllAvailable()
    in.addData(queries.drop(4): _*)
    q.processAllAvailable()
    val streamed = spark.table("ann_served_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    // append-stateless: no state store operator participated
    assert(q.lastProgress == null || q.lastProgress.stateOperators.isEmpty)
    q.stop()
    handle.close()
    val batch = operators.Similarity.ops.find(_.name == "ann_quantized").get
      .query(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"),
        r.getAs[Double]("cos"), r.getAs[Long]("rk"))).toSet
    assert(streamed == batch,
      s"stream served ${streamed.size} rows, batch ${batch.size}")
  }

  test("stream_ann: two served indices coexist without cross-binding; handle releases") {
    implicit val sql = spark.sqlContext
    // two DISJOINT indices around orthogonal axes: a query on axis 0
    // answered from indexB (axis-1 ids) proves cross-contamination
    val codeA = Seq((100L, Seq(127, 0, 0, 0)), (101L, Seq(90, 90, 0, 0)))
    val codeB = Seq((200L, Seq(0, 127, 0, 0)), (201L, Seq(0, 90, 90, 0)))
    val inA = MemoryStream[(Long, Array[Float])]
    val inB = MemoryStream[(Long, Array[Float])]
    // analyze A's plan FIRST, then bind B — under a shared function
    // name A would silently re-resolve against B's broadcast
    val (servedA, hA) = Streams.annServedWith(inA.toDF().toDF("q_id", "q_emb"), codeA, 1)
    val (servedB, hB) = Streams.annServedWith(inB.toDF().toDF("q_id", "q_emb"), codeB, 1)
    assert(hA.functionName != hB.functionName, "per-call names must be unique")
    val qA = servedA.writeStream.format("memory").queryName("ann_iso_a")
      .outputMode("append").start()
    val qB = servedB.writeStream.format("memory").queryName("ann_iso_b")
      .outputMode("append").start()
    inA.addData((1L, Array(1f, 0f, 0f, 0f)))
    inB.addData((2L, Array(0f, 1f, 0f, 0f)))
    qA.processAllAvailable(); qB.processAllAvailable()
    val topA = spark.table("ann_iso_a").collect().map(_.getLong(1)).toSet
    val topB = spark.table("ann_iso_b").collect().map(_.getLong(1)).toSet
    qA.stop(); qB.stop()
    assert(topA == Set(100L), s"stream A answered from the wrong index: $topA")
    assert(topB == Set(200L), s"stream B answered from the wrong index: $topB")
    // closing the handles drops the temp functions and the broadcasts
    hA.close(); hB.close()
    assert(!spark.sessionState.functionRegistry.functionExists(
      org.apache.spark.sql.catalyst.FunctionIdentifier(hA.functionName)))
    assert(!spark.sessionState.functionRegistry.functionExists(
      org.apache.spark.sql.catalyst.FunctionIdentifier(hB.functionName)))
  }

  test("stream_quantile: KLL state buffer — rank bound holds across batch splits") {
    implicit val sql = spark.sqlContext
    val rows = Tables.events(spark, sfDir)
      .select(col("event_type"), col("value"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    val in = MemoryStream[(String, Double)]
    val q = Streams.quantileProfiled(in.toDF().toDF("event_type", "value"))
      .writeStream.format("memory").queryName("quantile_out")
      .outputMode("complete").start()
    // uneven splits: the per-group sketch in the state store absorbs
    // each batch's partials; no past row is ever replayed
    in.addData(rows.take(rows.length / 4).toIndexedSeq: _*)
    q.processAllAvailable()
    in.addData(rows.slice(rows.length / 4, rows.length / 3).toIndexedSeq: _*)
    q.processAllAvailable()
    in.addData(rows.drop(rows.length / 3).toIndexedSeq: _*)
    q.processAllAvailable()
    val streamed = spark.table("quantile_out").collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_rows"),
        r.getAs[Double]("p50_approx"), r.getAs[Double]("p95_approx"))).toMap
    // stateful but bounded: ONE state row (one sketch) per group —
    // exact streaming percentiles would hold O(distinct) state
    assert(q.lastProgress.stateOperators.nonEmpty &&
      q.lastProgress.stateOperators.head.numRowsTotal == streamed.size.toLong)
    q.stop()
    // counts exact; estimates honor the batch sketch's rank bound vs
    // the true distribution (bit-equality is NOT the contract — KLL
    // compaction is randomized by the published algorithm)
    val byType = rows.groupBy(_._1).map { case (t, rs) =>
      t -> rs.map(r => math.round(r._2 * 100)).sorted
    }
    streamed.foreach { case (t, (n, p50, p95)) =>
      val cents = byType(t)
      assert(n == cents.length.toLong, s"$t count")
      val r50 = cents.count(_ <= p50 * 100.0).toDouble / cents.length
      val r95 = cents.count(_ <= p95 * 100.0).toDouble / cents.length
      assert(math.abs(r50 - 0.50) <= 0.04, s"$t streamed p50 rank $r50")
      assert(math.abs(r95 - 0.95) <= 0.04, s"$t streamed p95 rank $r95")
    }
  }

  test("stream_vocab: Misra-Gries state — intervals contain exact counts across batch splits") {
    implicit val sql = spark.sqlContext
    val rows = Tables(spark, sfDir, "documents")
      .select(col("lang"), col("text"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val topV = 20
    val in = MemoryStream[(String, String)]
    val q = Streams.vocabProfiled(in.toDF().toDF("lang", "text"), topV)
      .writeStream.format("memory").queryName("vocab_out")
      .outputMode("complete").start()
    // uneven splits: the per-language sketch in the state store merges
    // each batch's partial maps; no past token is ever replayed
    in.addData(rows.take(rows.length / 4).toIndexedSeq: _*)
    q.processAllAvailable()
    in.addData(rows.slice(rows.length / 4, rows.length / 3).toIndexedSeq: _*)
    q.processAllAvailable()
    in.addData(rows.drop(rows.length / 3).toIndexedSeq: _*)
    q.processAllAvailable()
    val streamed = spark.table("vocab_out").collect()
    // exact ground truth per (lang, token) + per-lang token totals
    val toks = rows.flatMap { case (l, t) => t.split(" ", -1).map(l -> _) }
    val exact = toks.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val perLang = toks.groupBy(_._1).map { case (l, v) => l -> v.length.toLong }
    // bounded state: ONE state row (one sketch) per language
    assert(q.lastProgress.stateOperators.nonEmpty &&
      q.lastProgress.stateOperators.head.numRowsTotal == perLang.size.toLong)
    q.stop()
    assert(streamed.map(_.getAs[String]("lang")).toSet == perLang.keySet)
    streamed.groupBy(_.getAs[String]("lang")).foreach { case (l, rs) =>
      assert(rs.head.getAs[Long]("n_toks") == perLang(l), s"$l token total")
      // read-out order: rank follows descending estimate
      val byRank = rs.sortBy(_.getAs[Long]("rank"))
      val ests = byRank.map(_.getAs[Long]("n_occ_est"))
      assert(ests.sameElements(ests.sortBy(-_)), s"$l rank order")
      byRank.foreach { r =>
        val c = exact((l, r.getAs[String]("token")))
        assert(r.getAs[Long]("n_occ_lb") <= c &&
          c <= r.getAs[Long]("n_occ_ub"),
          s"$l '${r.getAs[String]("token")}' interval vs exact $c")
        // sf0.001 vocabularies sit far below purge capacity: the
        // streamed estimates must be EXACT (max_err 0), the strongest
        // form of split-invariance the MG sketch offers
        if (r.getAs[Long]("max_err") == 0L)
          assert(r.getAs[Long]("n_occ_est") == c)
      }
    }
  }

  test("stream_profile: incremental HLL NDV == one-shot batch sketch exactly") {
    implicit val sql = spark.sqlContext
    val lgK = operators.Relational2.SketchLgK
    val rows = Tables.events(spark, sfDir)
      .select(col("event_type"), col("user_id"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val in = MemoryStream[(String, Long)]
    val q = Streams.ndvProfiled(in.toDF().toDF("event_type", "user_id"), lgK)
      .writeStream.format("memory").queryName("profile_out")
      .outputMode("complete").start()
    // split the stream: register state is a max, so the final estimate
    // cannot depend on batch boundaries
    in.addData(rows.take(rows.length / 3).toIndexedSeq: _*)
    q.processAllAvailable()
    in.addData(rows.drop(rows.length / 3).toIndexedSeq: _*)
    q.processAllAvailable()
    val streamed = spark.table("profile_out").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // the aggregation is genuinely stateful (sketch buffers in the
    // state store), yet bounded: one row per group
    assert(q.lastProgress.stateOperators.nonEmpty &&
      q.lastProgress.stateOperators.head.numRowsTotal == streamed.size.toLong)
    q.stop()
    val batch = Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        expr(s"hll_sketch_estimate(hll_sketch_agg(user_id, $lgK))").as("est"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n"), r.getAs[Long]("est"))).toMap
    assert(streamed == batch, s"streamed $streamed vs batch $batch")
    // and the estimates are honest: within 10% of exact per group
    Tables.events(spark, sfDir).groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("nd")).collect().foreach { r =>
        val exact = r.getAs[Long]("nd")
        val est = streamed(r.getString(0))._2
        assert(math.abs(est - exact).toDouble / exact < 0.1,
          s"${r.getString(0)}: est $est vs exact $exact")
      }
  }

  test("stream_compact: changelog folds to the batch compaction; stale arrivals silent") {
    import graft.streaming.Streams.{CompactIn, CompactOut}
    implicit val sql = spark.sqlContext
    val in = MemoryStream[CompactIn]
    val q = Streams.compactLatest(in.toDS()).writeStream
      .format("memory").queryName("compact_out").outputMode("append").start()
    // batch 1: two keys get their first records
    in.addData(
      CompactIn(1L, "view", 10L, 1.0, ts("2024-01-01 10:00:00")),
      CompactIn(1L, "view", 11L, 2.0, ts("2024-01-01 10:05:00")), // newer
      CompactIn(2L, "click", 20L, 5.0, ts("2024-01-01 10:00:00")))
    q.processAllAvailable()
    // batch 2: a newer record for key 1, a STALE one for key 2 (must
    // emit nothing), and an equal-ts tie for key 1/view won by the
    // larger event_id
    in.addData(
      CompactIn(1L, "view", 12L, 3.0, ts("2024-01-01 11:00:00")),
      CompactIn(1L, "view", 13L, 4.0, ts("2024-01-01 11:00:00")), // ts tie
      CompactIn(2L, "click", 19L, 9.0, ts("2024-01-01 09:00:00"))) // stale
    q.processAllAvailable()
    val log = spark.table("compact_out").as[CompactOut].collect()
    // state really is one row per live key
    assert(q.lastProgress.stateOperators.head.numRowsTotal == 2L)
    q.stop()
    // batch 1 emitted the within-batch latest (11, 20); batch 2 only
    // the genuine change (13) — 3 changelog rows total
    assert(log.length == 3, s"changelog: ${log.toSeq}")
    assert(!log.exists(_.event_id == 19L), "stale arrival must not emit")
    // folding the changelog per key == the batch q31 compaction on the
    // same rows
    val folded = log.groupBy(o => (o.user_id, o.event_type))
      .view.mapValues(_.maxBy(o => (o.ts_us, o.event_id))).toMap
    val allRows = Seq(
      (1L, "view", 10L, 1.0, ts("2024-01-01 10:00:00")),
      (1L, "view", 11L, 2.0, ts("2024-01-01 10:05:00")),
      (2L, "click", 20L, 5.0, ts("2024-01-01 10:00:00")),
      (1L, "view", 12L, 3.0, ts("2024-01-01 11:00:00")),
      (1L, "view", 13L, 4.0, ts("2024-01-01 11:00:00")),
      (2L, "click", 19L, 9.0, ts("2024-01-01 09:00:00")))
    val expected = allRows.groupBy(r => (r._1, r._2))
      .view.mapValues(_.maxBy(r => (r._5.getTime, r._3))).toMap
    expected.foreach { case (k, r) =>
      val f = folded(k)
      assert(f.event_id == r._3 && f.value == r._4,
        s"key $k: folded $f vs expected $r")
    }
  }

  test("stream_pack: per-shard packing carries the token offset across batches") {
    import graft.streaming.Streams.{PackFrag, PackIn}
    implicit val sql = spark.sqlContext
    val in = MemoryStream[PackIn]
    val q = Streams.packStream(in.toDS(), seqLen = 8L).writeStream
      .format("memory").queryName("pack_out").outputMode("append").start()
    // batch 1 — shard A: d1(5 toks) then d2(6) straddles seq 0→1;
    //           shard B: d10(10) fills seq 0 and spills 2 into seq 1
    in.addData(
      PackIn("A", 1L, 5L, ts("2024-01-01 10:00:00")),
      PackIn("A", 2L, 6L, ts("2024-01-01 10:00:01")),
      PackIn("B", 10L, 10L, ts("2024-01-01 10:00:00")))
    q.processAllAvailable()
    // the pack really is stateful: one offset row per shard
    assert(q.lastProgress.stateOperators.nonEmpty &&
      q.lastProgress.stateOperators.head.numRowsTotal == 2L)
    // batch 2 — shard A continues at offset 11, mid-sequence 1
    in.addData(PackIn("A", 3L, 4L, ts("2024-01-01 10:01:00")))
    q.processAllAvailable()
    val got = spark.table("pack_out").as[PackFrag].collect()
      .map(f => (f.shard, f.doc_id, f.seq_id) ->
        (f.doc_off, f.seq_off, f.frag_len)).toMap
    q.stop()
    val expect = Map(
      ("A", 1L, 0L) -> (0L, 0L, 5L),  // d1: tokens 0-4 of seq 0
      ("A", 2L, 0L) -> (0L, 5L, 3L),  // d2 head fills seq 0
      ("A", 2L, 1L) -> (3L, 0L, 3L),  // d2 tail opens seq 1
      ("A", 3L, 1L) -> (0L, 3L, 4L),  // d3 continues seq 1 ACROSS batches
      ("B", 10L, 0L) -> (0L, 0L, 8L), // d10 fills B's seq 0 exactly
      ("B", 10L, 1L) -> (8L, 0L, 2L)) // and spills 2 into seq 1
    assert(got == expect, s"got $got")
    // token conservation: every doc's fragments sum to its length and
    // tile the doc contiguously from offset 0
    val byDoc = got.toSeq.groupBy { case ((s, d, _), _) => (s, d) }
    byDoc.foreach { case ((s, d), frags) =>
      val sorted = frags.sortBy(_._2._1)
      assert(sorted.head._2._1 == 0L, s"doc ($s,$d) does not start at 0")
      sorted.sliding(2).foreach {
        case Seq((_, (o1, _, l1)), (_, (o2, _, _))) =>
          assert(o1 + l1 == o2, s"doc ($s,$d) fragments not contiguous")
        case _ => ()
      }
    }
  }

  test("stream_asof: purchases enrich with the latest prior view across batches") {
    import graft.streaming.Streams.{AsofEv, AsofOut}
    implicit val sql = spark.sqlContext
    val in = MemoryStream[AsofEv]
    val q = Streams.asofEnriched(in.toDS()).writeStream
      .format("memory").queryName("asof_out").outputMode("append").start()
    // batch 1: view then purchase (same batch, out-of-order arrival),
    // plus a purchase with no view at all for user 2
    in.addData(
      AsofEv(1L, "purchase", 100L, 9.99, ts("2024-01-01 10:30:00")),
      AsofEv(1L, "view", 10L, 1.0, ts("2024-01-01 10:00:00")),
      AsofEv(2L, "purchase", 200L, 5.0, ts("2024-01-01 10:00:00")))
    q.processAllAvailable()
    val b1 = spark.table("asof_out").as[AsofOut].collect()
      .map(o => o.p_id -> o).toMap
    assert(b1(100L).v_id.contains(10L) &&
      b1(100L).gap_ms.contains(30L * 60 * 1000))
    assert(b1(200L).v_id.isEmpty, "no view for user 2 → null enrichment")
    // batch 2: the view state carried over — a later purchase still
    // sees batch 1's view; a NEWER view then supersedes it
    in.addData(AsofEv(1L, "purchase", 101L, 2.0, ts("2024-01-01 11:00:00")))
    q.processAllAvailable()
    in.addData(
      AsofEv(1L, "view", 11L, 3.0, ts("2024-01-01 11:30:00")),
      AsofEv(1L, "purchase", 102L, 4.0, ts("2024-01-01 11:45:00")))
    q.processAllAvailable()
    val all = spark.table("asof_out").as[AsofOut].collect()
      .map(o => o.p_id -> o).toMap
    q.stop()
    assert(all(101L).v_id.contains(10L), "state must survive the batch boundary")
    assert(all(102L).v_id.contains(11L) && all(102L).v_value.contains(3.0))
  }

  test("stream_mr: doc emits the ordered reduce the moment its last chunk arrives") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[ChunkIn]
    val q = Streams.incrementalReduce(in.toDS()).writeStream
      .format("memory").queryName("mr_out").outputMode("append").start()
    val t0 = ts("2024-01-01 10:00:00")
    // chunks arrive OUT OF ORDER and interleaved across docs
    in.addData(ChunkIn(1L, 1L, 3, "one-b", t0), ChunkIn(2L, 0L, 2, "two-a", t0))
    q.processAllAvailable()
    assert(spark.table("mr_out").count() == 0, "nothing complete yet")
    in.addData(ChunkIn(1L, 0L, 3, "one-a", t0), ChunkIn(2L, 1L, 2, "two-b", t0))
    q.processAllAvailable()
    val afterSecond = spark.table("mr_out").as[DocOut].collect()
    assert(afterSecond.map(_.doc_id).toSet == Set(2L), "doc 2 complete, doc 1 not")
    assert(afterSecond.head.final_summary == "two-a | two-b")
    assert(afterSecond.head.complete)
    in.addData(ChunkIn(1L, 2L, 3, "one-c", t0))
    q.processAllAvailable()
    val all = spark.table("mr_out").as[DocOut].collect()
    assert(all.map(_.doc_id).toSet == Set(1L, 2L))
    assert(all.find(_.doc_id == 1L).get.final_summary == "one-a | one-b | one-c")
    assert(all.forall(_.complete))
    // doc 9 never completes: 1 of 3 chunks, then the watermark sails
    // past its timeout -> partial emit with complete=false
    in.addData(ChunkIn(9L, 0L, 3, "nine-a", t0))
    q.processAllAvailable()
    in.addData(ChunkIn(8L, 0L, 2, "eight-a", ts("2024-01-01 14:00:00")))
    q.processAllAvailable()
    in.addData(ChunkIn(8L, 1L, 2, "eight-b", ts("2024-01-01 14:00:01")))
    q.processAllAvailable()
    val withTimeout = spark.table("mr_out").as[DocOut].collect()
    q.stop()
    val nine = withTimeout.find(_.doc_id == 9L)
    assert(nine.isDefined, "timed-out doc must emit a partial result")
    assert(!nine.get.complete && nine.get.final_summary == "nine-a")
  }

  test("stream_mr: timeout emission REMOVES the doc's state (no leak under a flood)") {
    // the audit gap named in round 3: MrState is bounded per doc, but a
    // never-completing doc flood only stays bounded if the timeout path
    // actually evicts. Proof is behavioral: after doc 5's partial emit,
    // chunks for the SAME doc id must land in FRESH state — the second
    // partial emit must NOT contain the first round's chunk.
    implicit val sql = spark.sqlContext
    val in = MemoryStream[ChunkIn]
    val q = Streams.incrementalReduce(in.toDS()).writeStream
      .format("memory").queryName("mr_evict").outputMode("append").start()
    // round 1: 1 of 3 chunks, then the watermark sails past the timeout
    in.addData(ChunkIn(5L, 0L, 3, "r1-a", ts("2024-01-01 10:00:00")))
    q.processAllAvailable()
    in.addData(ChunkIn(7L, 0L, 1, "wm-push", ts("2024-01-01 14:00:00")))
    q.processAllAvailable()
    in.addData(ChunkIn(7L, 0L, 1, "wm-push2", ts("2024-01-01 14:00:01")))
    q.processAllAvailable()
    val round1 = spark.table("mr_evict").as[DocOut].collect()
      .filter(_.doc_id == 5L)
    assert(round1.length == 1 && !round1.head.complete &&
      round1.head.final_summary == "r1-a")
    // round 2: same doc id returns with DIFFERENT chunks (fresh ts
    // inside the watermark); times out again
    in.addData(ChunkIn(5L, 1L, 3, "r2-b", ts("2024-01-01 14:30:00")))
    q.processAllAvailable()
    in.addData(ChunkIn(7L, 0L, 1, "wm-push3", ts("2024-01-01 18:00:00")))
    q.processAllAvailable()
    in.addData(ChunkIn(7L, 0L, 1, "wm-push4", ts("2024-01-01 18:00:01")))
    q.processAllAvailable()
    val round2 = spark.table("mr_evict").as[DocOut].collect()
      .filter(_.doc_id == 5L).sortBy(_.final_summary)
    // state rows after both evictions: nothing in flight but doc 7's
    // completions were emitted immediately (n_chunks_total = 1), so the
    // store must be EMPTY — the flood leaks nothing
    val stateRows = q.recentProgress.reverse
      .flatMap(p => Option(p.stateOperators).toSeq.flatten)
      .headOption.map(_.numRowsTotal)
    q.stop()
    assert(round2.length == 2, s"expected two partial emits: ${round2.toSeq}")
    assert(round2.map(_.final_summary).toSeq == Seq("r1-a", "r2-b"),
      "round-2 state must start FRESH — eviction failed if r1-a reappears")
    assert(round2.forall(!_.complete))
    assert(stateRows.contains(0L),
      s"state store must be empty after evictions, got $stateRows rows")
  }

  // ---- restart recovery (VERDICT r12 #5): kill mid-stream, restart
  // from the checkpoint dir, assert no loss and no duplication vs the
  // batch twin. The file sink + checkpoint pair is the exactly-once
  // contract these specs pin; the state store must come back with the
  // checkpoint or the spanning session / stale-filter / sketch counts
  // below break loudly.

  test("stream_session restart: a session OPEN across the stop/restart boundary merges") {
    implicit val sql = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-sess-restart")
    val ckpt = base.resolve("ckpt").toString
    val outDir = base.resolve("out").toString
    val in = MemoryStream[(Timestamp, Long, Double)]
    def start() = Streams.sessionized(in.toDF().toDF("ts", "user_id", "value"))
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = start()
    in.addData(
      (ts("2024-01-01 10:00:00"), 1L, 1.0),
      (ts("2024-01-01 10:10:00"), 1L, 2.0)) // session OPEN (not finalized)
    q1.processAllAvailable()
    q1.stop() // kill mid-stream: the open session lives only in state
    val q2 = start() // resume from the checkpoint
    in.addData((ts("2024-01-01 10:20:00"), 1L, 4.0)) // within the 30-min gap
    q2.processAllAvailable()
    in.addData((ts("2024-01-02 00:00:00"), 2L, 0.0)) // advance watermark
    q2.processAllAvailable()
    q2.stop()
    val sessions = spark.read.parquet(outDir).filter($"user_id" === 1L)
      .collect()
    // no loss, no duplication, and ONE merged session: had the state
    // store not come back, the post-restart event would have opened a
    // second session (2 rows) or dropped rows entirely
    assert(sessions.length == 1, s"expected one merged session, got " +
      s"${sessions.map(_.toString).toSeq}")
    assert(sessions.head.getAs[Long]("n_events") == 3L)
    assert(sessions.head.getAs[Double]("sum_value") == 7.0)
  }

  test("stream_compact restart: the recovered latest-filter still rejects stale arrivals") {
    import graft.streaming.Streams.{CompactIn, CompactOut}
    implicit val sql = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-cmp-restart")
    val ckpt = base.resolve("ckpt").toString
    val outDir = base.resolve("out").toString
    val in = MemoryStream[CompactIn]
    def start() = Streams.compactLatest(in.toDS()).writeStream
      .format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = start()
    in.addData(
      CompactIn(1L, "view", 11L, 2.0, ts("2024-01-01 10:05:00")),
      CompactIn(2L, "click", 20L, 5.0, ts("2024-01-01 10:00:00")))
    q1.processAllAvailable()
    q1.stop() // the per-key latest marks live only in state
    val q2 = start()
    in.addData(
      // STALE vs a PRE-restart record: must emit nothing — only the
      // recovered state can know that
      CompactIn(2L, "click", 19L, 9.0, ts("2024-01-01 09:00:00")),
      // genuine post-restart advance for key 1
      CompactIn(1L, "view", 12L, 3.0, ts("2024-01-01 11:00:00")))
    q2.processAllAvailable()
    q2.stop()
    val log = spark.read.parquet(outDir).as[CompactOut].collect()
    assert(log.length == 3, s"changelog across restart: ${log.toSeq}")
    assert(!log.exists(_.event_id == 19L),
      "stale arrival slipped past the RECOVERED latest-filter")
    // fold == batch q31 compaction over all four records, no dup rows
    val folded = log.groupBy(o => (o.user_id, o.event_type))
      .view.mapValues(_.maxBy(o => (o.ts_us, o.event_id))).toMap
    assert(folded((1L, "view")).event_id == 12L)
    assert(folded((2L, "click")).event_id == 20L)
    assert(log.map(_.event_id).distinct.length == log.length,
      "duplicated changelog rows after restart")
  }

  test("stream_quantile restart: recovered KLL state keeps pre-restart rows counted") {
    implicit val sql = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-ql-restart")
    val ckpt = base.resolve("ckpt").toString
    val rows = Tables.events(spark, sfDir)
      .select(col("event_type"), col("value"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    val in = MemoryStream[(String, Double)]
    def start() = Streams.quantileProfiled(
        in.toDF().toDF("event_type", "value"))
      .writeStream.format("memory").queryName("quantile_restart_out")
      .option("checkpointLocation", ckpt).outputMode("complete").start()
    val q1 = start()
    in.addData(rows.take(rows.length / 2).toIndexedSeq: _*)
    q1.processAllAvailable()
    q1.stop() // half the corpus lives only in the state-store sketches
    val q2 = start()
    in.addData(rows.drop(rows.length / 2).toIndexedSeq: _*)
    q2.processAllAvailable()
    val streamed = spark.table("quantile_restart_out").collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_rows"),
        r.getAs[Double]("p50_approx"), r.getAs[Double]("p95_approx"))).toMap
    q2.stop()
    // counts are EXACT over the full corpus: pre-restart rows are never
    // replayed, so they can only be present via the recovered sketches
    val byType = rows.groupBy(_._1).map { case (t, rs) =>
      t -> rs.map(r => math.round(r._2 * 100)).sorted
    }
    assert(streamed.keySet == byType.keySet)
    byType.foreach { case (t, sorted) =>
      val (n, p50, p95) = streamed(t)
      assert(n == sorted.length.toLong,
        s"$t: restart lost rows — $n != ${sorted.length}")
      // the batch sketch's rank-error contract vs the true distribution
      def rankOf(v: Double): Double = {
        val cents = math.round(v * 100)
        sorted.count(_ <= cents).toDouble / sorted.length
      }
      assert(math.abs(rankOf(p50) - 0.5) <= 0.05,
        s"$t p50 rank ${rankOf(p50)} off by > 0.05")
      assert(math.abs(rankOf(p95) - 0.95) <= 0.05,
        s"$t p95 rank ${rankOf(p95)} off by > 0.05")
    }
  }

  test("stream_novelty: streamed estimates == batch one-shot exactly; absent baseline source reads all-novel") {
    implicit val sql = spark.sqlContext
    val corpus = Tables(spark, sfDir, "documents")
    // frozen baseline: the standing corpus's first half (ids split at
    // the midpoint — parity would correlate with the fixture's source
    // assignment and leave the halves source-disjoint), with one
    // source withheld so the unprofiled-source path is exercised
    val baseDocs = corpus.filter(col("doc_id") < 250 &&
      col("source") =!= "src3")
    val baseline = operators.Overlap.vocabSketches(baseDocs)
      .collect().map(r => (r.getString(0), r.getAs[Array[Byte]]("sk")))
      .toSeq
    val arriving = corpus.filter(col("doc_id") >= 250)
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val in = MemoryStream[(Long, String, String)]
    val q = Streams.noveltyProfiled(
        in.toDF().toDF("doc_id", "text", "source"), baseline)
      .writeStream.format("memory").queryName("novelty_out")
      .outputMode("complete").start()
    in.addData(arriving.take(arriving.length / 2): _*)
    q.processAllAvailable()
    in.addData(arriving.drop(arriving.length / 2): _*)
    q.processAllAvailable()
    q.stop()
    def key(r: org.apache.spark.sql.Row) = r.getAs[String]("source") ->
      (r.getAs[Long]("n_toks"), r.getAs[Double]("vocab_est"),
        r.getAs[Double]("known_est"), r.getAs[Double]("novel_est"))
    val streamed = spark.table("novelty_out").collect().map(key).toMap
    // theta keeps the k smallest hashes deterministically — streamed
    // state-merged estimates equal the batch one-shot EXACTLY
    val batch = Streams.noveltyProfiled(
        arriving.toDF("doc_id", "text", "source"), baseline)
      .collect().map(key).toMap
    assert(streamed == batch)
    // the withheld source is all-novel; profiled sources overlap
    val s3 = streamed.find(_._1 == "src3")
    assert(s3.nonEmpty && s3.get._2._3 == 0.0 &&
      s3.get._2._4 == s3.get._2._2, s"$s3")
    assert(streamed.exists { case (s, (_, _, known, _)) =>
      s != "src3" && known > 0.0 })
    // EMPTY baseline (the bootstrap tick before any corpus exists):
    // must analyze — a zero-arg map() literal would type the baseline
    // column map<string,string> and fail graft_theta_inter_est — and
    // read every source as all-novel (ADVICE r15)
    val boot = Streams.noveltyProfiled(
        arriving.toDF("doc_id", "text", "source"), Seq.empty)
      .collect().map(key).toMap
    assert(boot.keySet == batch.keySet)
    boot.foreach { case (s, (_, vocab, known, novel)) =>
      assert(known == 0.0 && novel == vocab, s"$s not all-novel: $boot")
    }
  }

  test("stream_novelty restart: recovered theta state keeps pre-restart vocabulary") {
    // The theta Union buffer is the THIRD serializer in the
    // TypedImperativeAggregate state-round-trip archetype (KLL,
    // Misra-Gries above): half the stream's tokens live only in the
    // checkpointed sketch bytes, and theta is deterministic — so the
    // post-restart estimates must EQUAL the batch one-shot, not just
    // sit in a band.
    implicit val sql = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft-nv-restart")
      .resolve("ckpt").toString
    val corpus = Tables(spark, sfDir, "documents")
    val baseline = operators.Overlap.vocabSketches(
        corpus.filter(col("doc_id") < 250))
      .collect().map(r => (r.getString(0), r.getAs[Array[Byte]]("sk")))
      .toSeq
    val arriving = corpus.filter(col("doc_id") >= 250)
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val in = MemoryStream[(Long, String, String)]
    def start() = Streams.noveltyProfiled(
        in.toDF().toDF("doc_id", "text", "source"), baseline)
      .writeStream.format("memory").queryName("novelty_restart_out")
      .option("checkpointLocation", ckpt).outputMode("complete").start()
    val q1 = start()
    in.addData(arriving.take(arriving.length / 2): _*)
    q1.processAllAvailable()
    q1.stop()
    val q2 = start()
    in.addData(arriving.drop(arriving.length / 2): _*)
    q2.processAllAvailable()
    def key(r: org.apache.spark.sql.Row) = r.getAs[String]("source") ->
      (r.getAs[Long]("n_toks"), r.getAs[Double]("vocab_est"),
        r.getAs[Double]("known_est"), r.getAs[Double]("novel_est"))
    val streamed = spark.table("novelty_restart_out").collect()
      .map(key).toMap
    q2.stop()
    val batch = Streams.noveltyProfiled(
        arriving.toDF("doc_id", "text", "source"), baseline)
      .collect().map(key).toMap
    assert(streamed == batch,
      "restart lost or corrupted the recovered theta state")
  }

  test("stream_cms: running point-frequency estimates equal batch EXACTLY across splits") {
    // The count-min buffer merges by exact counter addition — no purge
    // order, no random draws — so unlike the MG/KLL twins the streamed
    // estimates must EQUAL the one-shot batch read, not just bound it.
    implicit val sql = spark.sqlContext
    val rows = Tables(spark, sfDir, "documents")
      .select(col("lang"), col("text"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val probes = Seq("the", "data", "query", "absenttoken")
    val in = MemoryStream[(String, String)]
    val q = Streams.cmsProfiled(in.toDF().toDF("lang", "text"), probes)
      .writeStream.format("memory").queryName("cms_out")
      .outputMode("complete").start()
    in.addData(rows.take(rows.length / 4).toIndexedSeq: _*)
    q.processAllAvailable()
    in.addData(rows.slice(rows.length / 4, rows.length / 3).toIndexedSeq: _*)
    q.processAllAvailable()
    in.addData(rows.drop(rows.length / 3).toIndexedSeq: _*)
    q.processAllAvailable()
    val streamed = spark.table("cms_out").collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("token")) ->
        (r.getAs[Long]("n_toks"), r.getAs[Long]("n_est"),
          r.getAs[Long]("n_total"))).toMap
    // bounded state: ONE state row (one sketch) per language
    val langs = rows.map(_._1).toSet
    assert(q.lastProgress.stateOperators.nonEmpty &&
      q.lastProgress.stateOperators.head.numRowsTotal == langs.size.toLong)
    q.stop()
    val batch = Streams.cmsProfiled(
        rows.toSeq.toDF("lang", "text"), probes).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("token")) ->
        (r.getAs[Long]("n_toks"), r.getAs[Long]("n_est"),
          r.getAs[Long]("n_total"))).toMap
    assert(streamed == batch,
      s"streamed CMS reads drifted from batch: $streamed vs $batch")
    // and the reads are truthful: exact counts from the raw rows
    val toks = rows.flatMap { case (l, t) => t.split(" ", -1).map(l -> _) }
    val exact = toks.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    streamed.foreach { case ((l, t), (_, est, _)) =>
      val c = exact.getOrElse((l, t), 0L)
      assert(est >= c, s"$l/$t undercount")
    }
    assert(streamed.keys.map(_._2).toSet == probes.toSet)
  }

  test("stream_cms restart: recovered counter state keeps pre-restart occurrences; still equals batch") {
    // The CMS buffer is the FOURTH serializer in the
    // TypedImperativeAggregate state-round-trip archetype (KLL, MG,
    // theta above): pre-restart occurrences live only in the
    // checkpointed counter bytes, and because merge is exact the
    // post-restart read must EQUAL the batch one-shot, not merely
    // bound it.
    implicit val sql = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cms-restart")
      .resolve("ckpt").toString
    val rows = Tables(spark, sfDir, "documents")
      .select(col("lang"), col("text"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val probes = Seq("the", "data", "query")
    val in = MemoryStream[(String, String)]
    def start() = Streams.cmsProfiled(in.toDF().toDF("lang", "text"), probes)
      .writeStream.format("memory").queryName("cms_restart_out")
      .option("checkpointLocation", ckpt).outputMode("complete").start()
    val q1 = start()
    in.addData(rows.take(rows.length / 2).toIndexedSeq: _*)
    q1.processAllAvailable()
    q1.stop() // half the counts live only in the state-store sketch
    val q2 = start()
    in.addData(rows.drop(rows.length / 2).toIndexedSeq: _*)
    q2.processAllAvailable()
    val streamed = spark.table("cms_restart_out").collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("token")) ->
        (r.getAs[Long]("n_toks"), r.getAs[Long]("n_est"),
          r.getAs[Long]("n_total"))).toMap
    q2.stop()
    val batch = Streams.cmsProfiled(
        rows.toSeq.toDF("lang", "text"), probes).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("token")) ->
        (r.getAs[Long]("n_toks"), r.getAs[Long]("n_est"),
          r.getAs[Long]("n_total"))).toMap
    assert(streamed == batch,
      "restart lost or duplicated counter state vs the batch one-shot")
  }

  test("stream_vocab restart: recovered Misra-Gries state keeps pre-restart tokens counted") {
    // The ItemsSketch buffer is the SECOND serializer in the
    // TypedImperativeAggregate state-round-trip archetype (KLL above):
    // half the corpus's tokens live only in the checkpointed sketch
    // bytes, so post-restart intervals can only contain the exact
    // counts if the buffer class survives serialize → state store →
    // deserialize intact.
    implicit val sql = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft-vc-restart")
      .resolve("ckpt").toString
    val rows = Tables(spark, sfDir, "documents")
      .select(col("lang"), col("text"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val topV = 20
    val in = MemoryStream[(String, String)]
    def start() = Streams.vocabProfiled(
        in.toDF().toDF("lang", "text"), topV)
      .writeStream.format("memory").queryName("vocab_restart_out")
      .option("checkpointLocation", ckpt).outputMode("complete").start()
    val q1 = start()
    in.addData(rows.take(rows.length / 2).toIndexedSeq: _*)
    q1.processAllAvailable()
    q1.stop() // half the corpus lives only in the state-store sketches
    val q2 = start()
    in.addData(rows.drop(rows.length / 2).toIndexedSeq: _*)
    q2.processAllAvailable()
    val streamed = spark.table("vocab_restart_out").collect()
    q2.stop()
    val toks = rows.flatMap { case (l, t) => t.split(" ", -1).map(l -> _) }
    val exact = toks.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val perLang = toks.groupBy(_._1).map { case (l, v) => l -> v.length.toLong }
    assert(streamed.map(_.getAs[String]("lang")).toSet == perLang.keySet)
    streamed.groupBy(_.getAs[String]("lang")).foreach { case (l, rs) =>
      // token totals exact over the FULL corpus: pre-restart tokens are
      // never replayed, so they are present only via recovered state
      assert(rs.head.getAs[Long]("n_toks") == perLang(l),
        s"$l: restart lost tokens — ${rs.head.getAs[Long]("n_toks")} != ${perLang(l)}")
      rs.foreach { r =>
        val c = exact((l, r.getAs[String]("token")))
        assert(r.getAs[Long]("n_occ_lb") <= c &&
          c <= r.getAs[Long]("n_occ_ub"),
          s"$l '${r.getAs[String]("token")}' interval vs exact $c after restart")
        if (r.getAs[Long]("max_err") == 0L)
          assert(r.getAs[Long]("n_occ_est") == c)
      }
    }
  }

  test("stream_join restart: buffered join state survives the kill, pair set still equals batch") {
    // The last streaming state archetype without a kill/resume proof
    // (VERDICT r15 #2): Spark's SYMMETRIC stream-stream join state.
    // Kill the query mid-timeline — first-half views whose purchases
    // have not arrived yet live ONLY in the checkpointed join state —
    // then resume and feed the rest: every cross-restart pair (2nd-half
    // purchase × 1st-half view) can exist only if the buffered views
    // came back, and the full streamed pair set must equal the batch
    // interval join with no duplicates (exactly-once across restart).
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files.createTempDirectory("graft-sj-restart")
    val ckpt = base.resolve("ckpt").toString
    val out = base.resolve("out").toString
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .orderBy(col("ts")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))
    val in = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    // a memory sink refuses checkpoint recovery — the restart rides
    // the parquet file sink, whose commit log is itself exactly-once
    // across restarts (the stream_file_source convention)
    def start() = {
      val df = in.toDF().toDF("event_id", "ts", "user_id", "event_type",
        "value")
      Streams.intervalJoined(
          df.filter(col("event_type") === "view"),
          df.filter(col("event_type") === "purchase"))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode("append").start()
    }
    // ground truth: the same interval condition joined in batch
    val views = ev.filter(_._4 == "view")
    val purch = ev.filter(_._4 == "purchase")
    def pairsOf(ps: Array[(Long, java.sql.Timestamp, Long, String, Double)],
        vs: Array[(Long, java.sql.Timestamp, Long, String, Double)]) =
      (for {
        (pid, pts, pu, _, _) <- ps
        (vid, vts, vu, _, _) <- vs
        if vu == pu && !vts.after(pts) &&
          pts.getTime - vts.getTime <= 3600L * 1000
      } yield (pid, vid)).toSet
    val expected = pairsOf(purch, views)
    // split deliberately AT a purchase whose matching view is earlier
    // in the feed order (nearest such purchase to the midpoint): the
    // view is then buffered UNMATCHED in join state at the kill, so
    // the cross-restart pair exists iff the state came back
    val idxOf = ev.zipWithIndex.map { case (e, i) => e._1 -> i }.toMap
    val splitCands = expected.toSeq
      .filter { case (pid, vid) => idxOf(vid) < idxOf(pid) }
      .map { case (pid, _) => idxOf(pid) }
    assert(splitCands.nonEmpty, "fixture has no pair spanning any split")
    val cut = splitCands.minBy(i => math.abs(i - ev.length / 2))
    val (firstHalf, secondHalf) = ev.splitAt(cut)
    val q1 = start()
    in.addData(firstHalf.toIndexedSeq: _*)
    q1.processAllAvailable()
    q1.stop() // unmatched first-half views now live only in join state
    val q2 = start()
    in.addData(secondHalf.toIndexedSeq: _*)
    q2.processAllAvailable()
    q2.stop()
    val emitted = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("p_id"), r.getAs[Long]("v_id")))
    val streamed = emitted.toSet
    // the fixture must actually exercise recovery: some pair must span
    // the restart (2nd-half purchase matching a 1st-half view)
    val cross = pairsOf(secondHalf.filter(_._4 == "purchase"),
      firstHalf.filter(_._4 == "view"))
    assert(cross.nonEmpty, "fixture has no cross-restart pairs")
    assert(emitted.length == streamed.size,
      s"restart duplicated ${emitted.length - streamed.size} pairs")
    assert(cross.subsetOf(streamed),
      s"${(cross -- streamed).size} cross-restart pairs lost — join " +
        "state did not recover")
    assert(streamed == expected,
      s"streamed ${streamed.size} pairs != batch ${expected.size}")
  }

  test("stream_ingest_tick restart: a replayed batch reloads its durable decision instead of re-gating") {
    // The fourth restart archetype (VERDICT r13 #5): the foreachBatch
    // firewall tick mutates an EXTERNAL store. The poisoned window is
    // a death AFTER the fingerprint append but BEFORE the engine's
    // batch commit: the replay then re-gates against a store already
    // holding this batch's own fingerprints, so every doc the crashed
    // attempt accepted flips to reject — in the store (blocking all
    // future copies) yet recorded rejected: silent corpus loss.
    // Ingest.tick closes it by making the decision durable (bid-keyed
    // parquet) BEFORE the store mutates and re-driving the replayed
    // append from that decision. We simulate the window exactly:
    // process a batch to completion, then delete its commit marker so
    // the restarted query replays it with every side effect already
    // durable.
    implicit val sql = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-tick-restart")
    val store = base.resolve("store").toString
    val ckpt = base.resolve("ckpt").toString
    val decs = base.resolve("decisions").toString
    val all = Tables(spark, sfDir, "documents")
      .select($"doc_id", $"text")
    sources.Fingerprints.write(all.filter($"doc_id" < 50L), store,
      nShards = 1)
    val histText = all.filter($"doc_id" === 7L).head.getString(1)
    val newText = "a genuinely new molecule of text that shares no " +
      "shingles with the synthetic corpus and is long enough to carry " +
      "a full minhash signature of its own"
    val in = MemoryStream[(Long, String)]
    def start() = Streams.ingestTickSink(
        in.toDF().toDF("doc_id", "text"), store, decs)
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    in.addData((1000L, newText), (1001L, histText))
    q1.processAllAvailable()
    q1.stop()
    q1.awaitTermination()
    // batch 0 fully processed AND committed; decisions + fingerprint
    // appends durable. Erase the commit marker: to the restarted
    // engine this is exactly a crash inside the poisoned window.
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(ckpt, "commits", "0"))
    // and its LocalFS checksum sidecar — a leftover crc makes the
    // replay's commit re-write report FileAlreadyExists, which the
    // engine surfaces as a concurrent-queries conflict
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(ckpt, "commits", ".0.crc"))
    val q2 = start() // replays batch 0 through Ingest.tick
    q2.processAllAvailable()
    // tick N+1 on the post-replay store: copies of what tick N
    // accepted (and of history) must both reject
    in.addData((2000L, newText), (2001L, histText))
    q2.processAllAvailable()
    q2.stop()
    val dec = spark.read.parquet(decs)
      .select($"bid", $"doc_id", $"is_exact_dup", $"accept").collect()
      .map(r => (r.getAs[Int]("bid"), r.getAs[Long]("doc_id")) ->
        (r.getAs[Long]("is_exact_dup"), r.getAs[Long]("accept"))).toMap
    // exactly one decision row per (bid, doc): the replay OVERWROTE
    // its bid dir, nothing double-emitted
    assert(dec.size == 4, s"decision rows: ${dec.keySet}")
    // THE pin: the replayed batch did not flip its own accept — had it
    // re-gated, doc 1000's pre-crash fingerprints would read as an
    // exact dup and the accept would be lost
    assert(dec((0, 1000L)) == (0L, 1L),
      s"replay flipped the accepted doc: ${dec((0, 1000L))}")
    assert(dec((0, 1001L))._1 == 1L && dec((0, 1001L))._2 == 0L)
    // and the next tick still gates correctly against the (possibly
    // duplicate-filed) store: consumers' DISTINCT absorbs the replay
    assert(dec((1, 2000L))._1 == 1L && dec((1, 2000L))._2 == 0L,
      "tick N+1 failed to reject a copy of what tick N accepted")
    assert(dec((1, 2001L))._1 == 1L && dec((1, 2001L))._2 == 0L)
  }
}
