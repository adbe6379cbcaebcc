package graft

import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Partitioned parquet sink + partition pruning on read-back
  * (SURVEY.md §2 sources/sinks). At 100 TB, partitioned layout is what
  * turns a full scan into a directory listing.
  */
class SinksSpec extends SparkSpec {

  test("partitioned write prunes partitions on filtered read-back") {
    val out = Files.createTempDirectory("graft-part").resolve("events").toString
    Tables.events(spark, sfDir)
      .write.partitionBy("event_type").mode("overwrite").parquet(out)
    val back = spark.read.parquet(out).filter(col("event_type") === "click")
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"), plan)
    val expected = Tables.events(spark, sfDir)
      .filter(col("event_type") === "click").count()
    assert(back.count() == expected)
    // pruned scan reads only the one partition directory
    val dirs = new java.io.File(out).listFiles().map(_.getName)
      .filter(_.startsWith("event_type="))
    assert(dirs.length >= 2, "multiple partitions materialized")
  }

  test("sink_shards: bounded files, contiguous key ranges, lossless read-back") {
    val docs = Tables(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    val out = Files.createTempDirectory("graft-shard").resolve("shards").toString
    sources.Sinks.writeShards(docs, out, "doc_id",
      nShards = 3, maxRecordsPerFile = 20)
    // lossless: the read-back id set is exactly the input id set
    val back = spark.read.parquet(out)
    assert(back.count() == docs.count())
    assert(back.select("doc_id").except(docs.select("doc_id")).count() == 0)
    // bounded: no file exceeds maxRecordsPerFile; contiguous: per-file
    // [min,max] doc_id ranges never overlap (the curriculum/sequential-
    // reader property range partitioning + in-partition rolling buys)
    val perFile = back
      .withColumn("f", org.apache.spark.sql.functions.input_file_name())
      .groupBy(col("f"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"),
        org.apache.spark.sql.functions.min(col("doc_id")).as("lo"),
        org.apache.spark.sql.functions.max(col("doc_id")).as("hi"))
      .collect()
    assert(perFile.length > 3, "maxRecordsPerFile should split shards")
    perFile.foreach(r => assert(r.getAs[Long]("n") <= 20L, r.toString))
    val ranges = perFile.map(r => (r.getAs[Long]("lo"), r.getAs[Long]("hi")))
      .sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 < lo2, s"file ranges overlap: $hi1 >= $lo2")
      case _ => ()
    }
  }

  test("sink_ann_index: bundle round-trips; serving from reload == fresh build") {
    val e = Tables(spark, sfDir, "embeddings")
    val out = Files.createTempDirectory("graft-annidx").resolve("idx").toString
    sources.AnnIndex.write(e, out, nShards = 3)
    // codes round-trip exactly (id + every int8 component)
    val fresh = operators.Similarity.int8Codes(e).collect()
      .map(r => r.getAs[Long]("c_id") -> r.getSeq[Int](1)).toMap
    val codes = sources.AnnIndex.readCodes(spark, out)
    val back = codes.collect()
      .map(r => r.getAs[Long]("c_id") -> r.getSeq[Int](1)).toMap
    assert(back == fresh, "codes changed across persist/reload")
    // centroids and the PQ codebook round-trip bit-exactly
    val k = operators.Similarity.ivfK(e.count())
    val centsFresh = operators.Similarity
      .kmeansCentroids(e, k, operators.Similarity.KmeansIters)
      .map { case (i, v) => i -> v.toSeq }.toMap
    val centsBack = sources.AnnIndex.readCentroids(spark, out).collect()
      .map(r => r.getAs[Int]("cent_id") -> r.getSeq[Float](1)).toMap
    assert(centsBack == centsFresh, "centroids changed across persist/reload")
    val (cb, m, kEff) = sources.AnnIndex.readPq(spark, out)
    val (cbFresh, kEffFresh) = operators.Similarity.pqCodebook(
      e, operators.Similarity.PqM, operators.Similarity.PqK,
      operators.Similarity.KmeansIters)
    assert(m == operators.Similarity.PqM && kEff == kEffFresh &&
      cb.toSeq == cbFresh.toSeq, "PQ codebook changed across persist/reload")
    // the contract the bundle exists for: serving from the RELOADED
    // codes equals the freshly-built batch ann_quantized row-for-row
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val served = graft.plans.TopK.perKey(
        codes.join(broadcast(q), col("q_id") =!= col("c_id"))
          .withColumn("cos", round(expr("graft_cosine_i8(q_emb, c_q)"), 6)),
        Seq("q_id"),
        Seq("cos" -> graft.plans.TopK.Desc, "c_id" -> graft.plans.TopK.Asc), 5)
      .select(col("q_id"), col("c_id"), col("cos"), col("rk")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    val batch = operators.Similarity.ops.find(_.name == "ann_quantized").get
      .query(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"),
        r.getAs[Double]("cos"), r.getAs[Long]("rk"))).toSet
    assert(served == batch, "serving from the reloaded bundle diverged")
    // shard layout: contiguous non-overlapping c_id ranges (the
    // sequential-loader property)
    val perFile = codes.withColumn("f", input_file_name())
      .groupBy(col("f"))
      .agg(min(col("c_id")).as("lo"), max(col("c_id")).as("hi"))
      .collect().map(r => (r.getAs[Long]("lo"), r.getAs[Long]("hi")))
      .sortBy(_._1)
    perFile.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 < lo2, s"code shard ranges overlap: $hi1 >= $lo2")
      case _ => ()
    }
  }

  test("ann_upsert: delta-only encode with the persisted model; union serve == full rebuild") {
    val e = Tables(spark, sfDir, "embeddings")
    val base = Files.createTempDirectory("graft-upsert")
    val idx = base.resolve("idx").toString
    val deltaPath = base.resolve("delta").toString
    sources.AnnIndex.write(e.filter(col("vec_id") < 400), idx, nShards = 3)
    e.filter(col("vec_id") >= 400).select(col("vec_id"), col("embedding"))
      .write.parquet(deltaPath)
    val delta = spark.read.parquet(deltaPath)
    // upsert cost touches ONLY the delta + the KB-sized model frames —
    // never history codes or history embeddings
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val scans = sources.AnnIndex.upsertFrame(delta, idx)
        .queryExecution.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }
      assert(scans.nonEmpty)
      scans.foreach { f =>
        val roots = f.relation.location.rootPaths.mkString(",")
        assert(!roots.contains("codes"), s"upsert re-reads history codes: $roots")
        assert(roots.contains("delta") || roots.contains("centroids") ||
          roots.contains("pq"), s"upsert scans an unexpected input: $roots")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    sources.AnnIndex.upsert(delta, idx, nShards = 2)
    // serving from bundle + upserts == serving from a FULL REBUILD on
    // the union corpus (int8 codes are a per-vector function, so the
    // rebuild's code set is identical — the stream_ann equality shape)
    val rebuilt = base.resolve("rebuild").toString
    sources.AnnIndex.write(e, rebuilt, nShards = 3)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    def serve(codes: org.apache.spark.sql.DataFrame) = graft.plans.TopK.perKey(
        codes.join(broadcast(q), col("q_id") =!= col("c_id"))
          .withColumn("cos", round(expr("graft_cosine_i8(q_emb, c_q)"), 6)),
        Seq("q_id"),
        Seq("cos" -> graft.plans.TopK.Desc, "c_id" -> graft.plans.TopK.Asc), 5)
      .select(col("q_id"), col("c_id"), col("cos"), col("rk")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    assert(serve(sources.AnnIndex.readServable(spark, idx)) ==
      serve(sources.AnnIndex.readCodes(spark, rebuilt)),
      "union serving diverged from the full rebuild")
    // upserted rows used the PERSISTED model: PQ codes re-derive from
    // the reloaded codebook; first assigned cell == independent argmax
    // against the reloaded centroids (ties to the smaller cent_id)
    val ups = spark.read.parquet(s"$idx/upserts")
    assert(ups.count() == delta.count())
    val (cb, m, kEff) = sources.AnnIndex.readPq(spark, idx)
    val wantPq = delta.select(col("vec_id").as("c_id"),
      call_function("graft_pq_encode",
        col("embedding"), lit(cb), lit(m), lit(kEff)).as("want"))
    assert(ups.join(wantPq, Seq("c_id"))
      .filter(col("c_code") =!= col("want")).count() == 0,
      "upserted PQ codes diverge from the persisted codebook")
    val cents = sources.AnnIndex.readCentroids(spark, idx)
    val wantCell = delta.join(broadcast(cents))
      .withColumn("ccos", expr("graft_cosine(embedding, cent_emb)"))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cent_id"),
        struct(col("ccos"), -col("cent_id"))).as("want_cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    ups.select(col("c_id"), col("cent_ids")).collect().foreach { r =>
      val cells = r.getSeq[Int](1)
      assert(cells.length <= operators.Similarity.Rep &&
        cells.distinct.length == cells.length, r.toString)
      assert(cells.head == wantCell(r.getLong(0)),
        s"vec ${r.getLong(0)}: stored cell ${cells.head} != persisted-centroid argmax ${wantCell(r.getLong(0))}")
    }
  }

  test("sink_fingerprints: ingest from the reloaded store == derive-fresh; history text never scanned") {
    val split = operators.Dedup.IncrSplit
    val all = Tables(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    val base = Files.createTempDirectory("graft-fp")
    val storePath = base.resolve("store").toString
    val histPath = base.resolve("histdocs").toString
    val freshPath = base.resolve("shard").toString
    all.filter(col("doc_id") < split).write.parquet(histPath)
    all.filter(col("doc_id") >= split).write.parquet(freshPath)
    // the expensive offline pass: derive + persist history fingerprints ONCE
    sources.Fingerprints.write(spark.read.parquet(histPath), storePath, nShards = 3)
    // an ingest tick: arriving shard vs the RELOADED store frames
    val fresh = spark.read.parquet(freshPath)
    val storeFed = operators.Dedup.incrementalDedupFrom(fresh,
      sources.Fingerprints.readContent(spark, storePath),
      sources.Fingerprints.readSpans(spark, storePath))
    val storeFedMh = operators.Dedup.incrementalMinhashFrom(fresh,
      sources.Fingerprints.readBands(spark, storePath))
    // the scale contract the store exists for: the ingest plan scans
    // ONLY store parquet + the arriving shard — never history text
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      Seq("exact+containment" -> storeFed, "minhash" -> storeFedMh)
        .foreach { case (nm, df) =>
          val scans = df.queryExecution.executedPlan.collect {
            case f: org.apache.spark.sql.execution.FileSourceScanExec => f
          }
          assert(scans.nonEmpty, s"$nm: expected parquet scans")
          scans.foreach { f =>
            val roots = f.relation.location.rootPaths.mkString(",")
            assert(!roots.contains("histdocs"),
              s"$nm ingest re-scans history text: $roots")
            assert(roots.contains("store") || roots.contains("shard"),
              s"$nm ingest scans an unexpected input: $roots")
          }
        }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // round-trip: flags from the reloaded store equal derive-fresh row-for-row
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.toList).toSet
    val wantExact = rows(operators.Dedup.incrementalDedup(all, split))
    val wantMh = rows(operators.Dedup.incrementalMinhash(all, split))
    assert(rows(storeFed) == wantExact,
      "store-fed exact/containment ingest diverged from derive-fresh")
    assert(rows(storeFedMh) == wantMh,
      "store-fed minhash ingest diverged from derive-fresh")
    // store MAINTENANCE: a store grown by append (two half-history
    // shards, second appended — old files never rewritten) gates
    // identically to a one-shot build; cross-shard duplicate hashes
    // are absorbed by the consumers' DISTINCT probe sides
    val grownPath = base.resolve("grown").toString
    val hist = spark.read.parquet(histPath)
    sources.Fingerprints.write(hist.filter(col("doc_id") < split / 2), grownPath, nShards = 2)
    val before = new java.io.File(s"$grownPath/content")
      .listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
    sources.Fingerprints.append(hist.filter(col("doc_id") >= split / 2), grownPath, nShards = 2)
    val after = new java.io.File(s"$grownPath/content")
      .listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
    assert(before.subsetOf(after) && after.size > before.size,
      "append must add files, never rewrite old shards")
    assert(rows(operators.Dedup.incrementalDedupFrom(fresh,
        sources.Fingerprints.readContent(spark, grownPath),
        sources.Fingerprints.readSpans(spark, grownPath))) == wantExact,
      "appended store diverged on the exact/containment gate")
    assert(rows(operators.Dedup.incrementalMinhashFrom(fresh,
        sources.Fingerprints.readBands(spark, grownPath))) == wantMh,
      "appended store diverged on the minhash gate")
    // the perceptual tiers grow the same way: image and audio bands
    // appended over two ticks, probed by half-historical, half-fresh
    // payloads
    import spark.implicits._
    def png(i: Long) = operators.Multimodal.buildPng(32, 24,
      operators.Multimodal.plantedLuma(i, _, _))
    def wav(i: Long) = operators.Multimodal.buildWav(1, 8000, 16,
      (0 until 65 * 4).flatMap { f =>
        val v = operators.Multimodal.plantedSamp(i, f, 0)
        Seq(v.toByte, (v >> 8).toByte)
      }.toArray)
    val tiers = Map("phash_bands" -> ("graft_dhash", png _),
      "ahash_bands" -> ("graft_ahash", wav _))
    def hashes(sub: String, ids: Seq[Long]) = {
      val (kernel, payload) = tiers(sub)
      ids.map(i => (i, payload(i))).toDF("doc_id", "payload")
        .select($"doc_id", expr(s"$kernel(payload)").as("phash"))
    }
    for (sub <- tiers.keys; ids <- Seq(0L until 10L, 10L until 20L))
      sources.Fingerprints.writePhashBands(hashes(sub, ids), grownPath,
        nShards = 2, mode = "append", sub = sub)
    def flags(sub: String) = rows(operators.Multimodal.phashProbe(
      hashes(sub, 10L until 30L),
      sources.Fingerprints.readPhashBands(spark, grownPath, sub)))
    val wantFlags = tiers.keys.map(sub => sub -> flags(sub)).toMap
    wantFlags.foreach { case (sub, f) =>
      assert(f.map(_(3)) == Set(0L, 1L),
        s"$sub probe must flag history and pass fresh payloads: $f")
    }
    // COMPACTION: fold the appended files back to nShards clean ones —
    // gating identical, file count reduced (the log-structured lever)
    def parquetFiles(sub: String) = new java.io.File(s"$grownPath/$sub")
      .listFiles().count(_.getName.endsWith(".parquet"))
    val filesBefore = (Seq("content") ++ tiers.keys)
      .map(sub => sub -> parquetFiles(sub)).toMap
    sources.Fingerprints.compact(spark, grownPath, nShards = 2)
    filesBefore.foreach { case (sub, before) =>
      val after = parquetFiles(sub)
      assert(after == 2 && after < before,
        s"compact must fold $before $sub files to 2, got $after")
    }
    tiers.keys.foreach(sub => assert(flags(sub) == wantFlags(sub),
      s"compacted store diverged on the $sub gate"))
    assert(rows(operators.Dedup.incrementalDedupFrom(fresh,
        sources.Fingerprints.readContent(spark, grownPath),
        sources.Fingerprints.readSpans(spark, grownPath))) == wantExact,
      "compacted store diverged on the exact/containment gate")
    assert(rows(operators.Dedup.incrementalMinhashFrom(fresh,
        sources.Fingerprints.readBands(spark, grownPath))) == wantMh,
      "compacted store diverged on the minhash gate")
  }

  test("sink_lm: scoring from the reloaded model == in-line training; ref corpus never re-scanned") {
    val all = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val base = Files.createTempDirectory("graft-lm")
    val refPath = base.resolve("refdocs").toString
    val shardPath = base.resolve("shard").toString
    val modelPath = base.resolve("model").toString
    all.write.parquet(refPath)
    all.filter(col("doc_id") >= 250L).write.parquet(shardPath)
    // the expensive offline pass: train + persist the model ONCE
    sources.LmModel.write(spark.read.parquet(refPath), modelPath)
    val shard = spark.read.parquet(shardPath)
    val storeFed = sources.LmModel.scoreFrom(shard, modelPath)
    // scale contract: a scoring tick scans the skinny model bundle +
    // the arriving shard — never the reference corpus
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val scans = storeFed.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.nonEmpty)
      scans.foreach { f =>
        val roots = f.relation.location.rootPaths.mkString(",")
        assert(!roots.contains("refdocs"),
          s"scoring re-scans the reference corpus: $roots")
        assert(roots.contains("model") || roots.contains("shard"),
          s"scoring scans an unexpected input: $roots")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // round-trip: reloaded-model scores == in-line-trained, row-for-row
    val (c2, c1, v) = operators.LangModel.refCounts(all)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.toList).toSet
    assert(rows(storeFed) ==
      rows(operators.LangModel.scoreAgainst(shard, c2, c1, v)),
      "store-fed scoring diverged from in-line training")
    // the DEFAULT persisted cuts are the KLL-sketch derivation (no
    // per-language window at refresh time): each cut value's empirical
    // rank among that language's scored ords sits inside the sketch's
    // ±1.65% band (+1-doc slack) around the exact thirds boundary
    val perDoc = operators.LangModel.scoreAgainst(all, c2, c1, v)
      .collect().map(r => (r.getAs[String]("lang"),
        r.getAs[Int]("no_bg"), r.getAs[Double]("ord")))
    val byLang = perDoc.groupBy(_._1)
    sources.LmModel.readCuts(spark, modelPath).collect().foreach { r =>
      val (lang, cutH, cutM) =
        (r.getString(0), r.getDouble(1), r.getDouble(2))
      val nl = byLang(lang).length
      val ords = byLang(lang).filter(_._2 == 0).map(_._3).sorted
      val ns = ords.length
      val tol = 0.0165 + 1.0 / ns
      def check(cut: Double, b3: Long): Unit = {
        val rank = ords.count(_ <= cut).toDouble / ns
        val target = math.min(1.0, b3.toDouble / ns)
        assert(math.abs(rank - target) <= tol,
          s"$lang cut at rank $rank, target $target, tol $tol")
      }
      check(cutH, (nl + 2) / 3); check(cutM, (2L * nl + 2) / 3)
    }
    // exact mode stays available and reproduces the window bit-for-bit
    sources.LmModel.refreshCuts(all, modelPath, exact = true)
    assert(rows(sources.LmModel.readCuts(spark, modelPath)) ==
      rows(operators.LangModel.langCuts(all)))
    // store MAINTENANCE: a model grown by append (half the corpus,
    // second half appended — counts are additive, readers fold) scores
    // identically to the one-shot build; old files never rewritten
    val grownPath = base.resolve("grown").toString
    sources.LmModel.write(all.filter(col("doc_id") < 250L), grownPath)
    val before = new java.io.File(s"$grownPath/bigrams")
      .listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
    sources.LmModel.append(all.filter(col("doc_id") >= 250L), grownPath)
    val after = new java.io.File(s"$grownPath/bigrams")
      .listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
    assert(before.subsetOf(after) && after.size > before.size,
      "append must add files, never rewrite old shards")
    assert(rows(sources.LmModel.scoreFrom(shard, grownPath)) ==
      rows(storeFed), "appended model diverged from the one-shot build")
  }

  /** The documented decision frame of sources.Ingest.gateAndRemember,
    * in order. */
  private val DecisionColumns = Seq("doc_id", "bloom_pass",
    "is_exact_dup", "n_hist_bands", "near_hist", "n_img_bands",
    "img_hist", "img_decoded", "n_audio_bands", "audio_hist",
    "audio_decoded", "n_clip_bands", "clip_hist", "n_clip_sampled",
    "n_clip_decoded", "accept")

  test("ingest_e2e: gate-then-remember — tick N+1 rejects what tick N accepted") {
    import spark.implicits._
    val all = Tables(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    val base = Files.createTempDirectory("graft-ingest-e2e")
    val store = base.resolve("store").toString
    sources.Fingerprints.write(all.filter(col("doc_id") < 100L), store, nShards = 2)
    val histText = all.filter(col("doc_id") === 5L).head.getString(1)

    // tick 1: fresh docs + an exact copy of history + an edited copy
    val t1 = all.filter(col("doc_id") >= 300L && col("doc_id") < 340L)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val toks = histText.split(" "); toks(toks.length / 2) = "edited-xyz"
    val tick1 = (t1 :+ (900001L, histText)) :+ (900002L, toks.mkString(" "))
    val d1 = sources.Ingest.gateAndRemember(
      tick1.toSeq.toDF("doc_id", "text"), store)
    assert(d1.columns.toSeq == DecisionColumns, d1.columns.mkString(","))
    val m1 = d1.collect().map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[Long]("is_exact_dup"), r.getAs[Long]("near_hist"),
        r.getAs[Long]("accept")))).toMap
    assert(m1(900001L)._1 == 1L && m1(900001L)._3 == 0L,
      s"exact copy of history must be rejected: ${m1(900001L)}")
    assert(m1(900002L)._2 == 1L && m1(900002L)._3 == 0L,
      s"edited copy of history must be band-flagged: ${m1(900002L)}")
    val acc1 = m1.filter(_._2._3 == 1L).keySet
    assert(acc1.nonEmpty && acc1.subsetOf(t1.map(_._1).toSet))

    // tick 2: copies of a tick-1-ACCEPTED doc must now be rejected via
    // the grown store (exact copy) and band-flagged (edited copy)
    val adopted = acc1.min
    val adoptedText = t1.find(_._1 == adopted).get._2
    val tk2 = adoptedText.split(" "); tk2(tk2.length / 2) = "edited-abc"
    val tick2 = Seq((900003L, adoptedText), (900004L, tk2.mkString(" ")),
      (900005L, "a genuinely novel document body zq"))
    val m2 = sources.Ingest.gateAndRemember(
        tick2.toSeq.toDF("doc_id", "text"), store)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("is_exact_dup"), r.getAs[Long]("near_hist"),
          r.getAs[Long]("accept")))).toMap
    assert(m2(900003L)._1 == 1L && m2(900003L)._3 == 0L,
      s"copy of a tick-1-accepted doc must be rejected: ${m2(900003L)}")
    assert(m2(900004L)._2 == 1L && m2(900004L)._3 == 0L,
      s"edited copy of a tick-1-accepted doc must be flagged: ${m2(900004L)}")
    assert(m2(900005L) == ((0L, 0L, 1L)), s"novel doc: ${m2(900005L)}")
  }

  test("ingest_e2e: image payloads gate via phash_bands; accepted bands are remembered") {
    import spark.implicits._
    def png(seed: Long) = operators.Multimodal.buildPng(32, 24,
      operators.Multimodal.plantedLuma(seed, _, _))
    val base = Files.createTempDirectory("graft-ingest-mm")
    val store = base.resolve("store").toString
    // history: text fingerprints + image bands (pixels decoded ONCE)
    sources.Fingerprints.write(
      Tables(spark, sfDir, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") < 100L), store, nShards = 2)
    sources.Fingerprints.writePhashBands(
      (0L until 20L).map(i => (500L + i, png(i))).toDF("doc_id", "payload")
        .select($"doc_id", expr("graft_dhash(payload)").as("phash"))
        .filter($"phash".isNotNull), store, nShards = 2)
    def tick(rows: Seq[(Long, String, Option[Array[Byte]])]) =
      sources.Ingest.gateAndRemember(
          rows.toDF("doc_id", "text", "payload"), store)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("img_hist"), r.getAs[Long]("accept")))).toMap
    // tick 1: a fresh image, a copy of a HISTORY image, plain text
    val m1 = tick(Seq(
      (900001L, "tick one novel image document alpha", Some(png(100L))),
      (900002L, "tick one novel image document beta", Some(png(7L))),
      (900003L, "tick one plain text document gamma", None)))
    assert(m1(900001L) == ((0L, 1L)), s"fresh image: ${m1(900001L)}")
    assert(m1(900002L) == ((1L, 0L)),
      s"copy of a history image must band-flag: ${m1(900002L)}")
    assert(m1(900003L) == ((0L, 1L)), s"plain text: ${m1(900003L)}")
    // tick 2: exact copy AND one-pixel edit of the tick-1-ACCEPTED
    // image — both must flag via the bands tick 1 appended
    val edited = operators.Multimodal.buildPng(32, 24,
      (x, y) => if (x == 2 && y == 3)
        255 - operators.Multimodal.plantedLuma(100L, 2, 3)
      else operators.Multimodal.plantedLuma(100L, x, y))
    val m2 = tick(Seq(
      (900011L, "tick two fresh text body delta", Some(png(100L))),
      (900012L, "tick two fresh text body epsilon", Some(edited)),
      (900013L, "tick two fresh text body zeta", None)))
    assert(m2(900011L) == ((1L, 0L)),
      s"copy of a tick-1-accepted image must flag: ${m2(900011L)}")
    assert(m2(900012L) == ((1L, 0L)),
      s"edited copy of a tick-1-accepted image must flag: ${m2(900012L)}")
    assert(m2(900013L) == ((0L, 1L)), s"novel text: ${m2(900013L)}")
  }

  test("ingest_e2e: audio payloads gate via ahash_bands; re-gained copies flag (r13)") {
    import spark.implicits._
    // planted audio with a deterministic multi-window envelope
    def wav(seed: Long, gain: Int = 1) = {
      val n = 65 * 3
      val data = new Array[Byte](n * 2)
      for (f <- 0 until n) {
        val v = ((100 + (f / 65) * 700 + ((f * seed) % 17).toInt * 3) *
          (if (f % 2 == 0) 1 else -1) * gain).toInt
        data(f * 2) = (v & 0xff).toByte
        data(f * 2 + 1) = ((v >> 8) & 0xff).toByte
      }
      operators.Multimodal.buildWav(1, 8000, 16, data)
    }
    val base = Files.createTempDirectory("graft-ingest-audio")
    val store = base.resolve("store").toString
    sources.Fingerprints.write(
      Tables(spark, sfDir, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") < 100L), store, nShards = 2)
    // history audio bands: PCM decoded ONCE at store build
    sources.Fingerprints.writePhashBands(
      (0L until 10L).map(i => (600L + i, wav(i + 2))).toDF("doc_id", "payload")
        .select($"doc_id", expr("graft_ahash(payload)").as("phash"))
        .filter($"phash".isNotNull), store, nShards = 2, sub = "ahash_bands")
    def tick(rows: Seq[(Long, String, Option[Array[Byte]])]) =
      sources.Ingest.gateAndRemember(
          rows.toDF("doc_id", "text", "payload"), store)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("audio_hist"), r.getAs[Long]("audio_decoded"),
            r.getAs[Long]("accept")))).toMap
    // tick 1: fresh audio, copy of HISTORY audio, plain text
    val m1 = tick(Seq(
      (910001L, "tick one novel audio document alpha", Some(wav(50L))),
      (910002L, "tick one novel audio document beta", Some(wav(3L))),
      (910003L, "tick one plain text document gamma", None)))
    assert(m1(910001L) == ((0L, 1L, 1L)), s"fresh audio: ${m1(910001L)}")
    assert(m1(910002L) == ((1L, 1L, 0L)),
      s"copy of history audio must band-flag: ${m1(910002L)}")
    assert(m1(910003L) == ((0L, 0L, 1L)), s"plain text: ${m1(910003L)}")
    // tick 2: exact copy AND a re-gained (×2) copy of the
    // tick-1-ACCEPTED audio — the envelope hash is gain-invariant, so
    // both collide on the bands tick 1 appended
    val m2 = tick(Seq(
      (910011L, "tick two fresh text body delta", Some(wav(50L))),
      (910012L, "tick two fresh text body epsilon", Some(wav(50L, gain = 2))),
      (910013L, "tick two fresh text body zeta", None)))
    assert(m2(910011L) == ((1L, 1L, 0L)),
      s"copy of tick-1-accepted audio must flag: ${m2(910011L)}")
    assert(m2(910012L) == ((1L, 1L, 0L)),
      s"re-gained copy must flag (gain-invariant envelope): ${m2(910012L)}")
    assert(m2(910013L) == ((0L, 0L, 1L)), s"novel text: ${m2(910013L)}")
  }

  test("ingest_e2e: clip shards gate via sampled-frame bands; accepted clips are remembered") {
    import spark.implicits._
    def frame(seed: Long) = operators.Multimodal.buildPng(32, 24,
      operators.Multimodal.plantedLuma(seed, _, _))
    // a clip = ClipFrames seeded frames; sampled indices are 0 and 3
    def clip(seedBase: Long): Seq[Array[Byte]] =
      (0 until operators.Multimodal.ClipFrames).map(f => frame(seedBase + f))
    val base = Files.createTempDirectory("graft-ingest-clip")
    val store = base.resolve("store").toString
    sources.Fingerprints.write(
      Tables(spark, sfDir, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") < 100L), store, nShards = 2)
    // history: an accepted clip's SAMPLED frames (indices 0, 3 of
    // seedBase 1000) live in the one shared dHash band space
    sources.Fingerprints.writePhashBands(
      Seq((500L, frame(1000L)), (501L, frame(1003L)))
        .toDF("doc_id", "payload")
        .select($"doc_id", expr("graft_dhash(payload)").as("phash"))
        .filter($"phash".isNotNull), store, nShards = 2)
    def tick(rows: Seq[(Long, String, Seq[Array[Byte]])]) =
      sources.Ingest.gateAndRemember(
          rows.toDF("doc_id", "text", "frames"), store)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("clip_hist"), r.getAs[Long]("accept")))).toMap
    // tick 1: fresh clip A; clip B re-using the HISTORY clip's sampled
    // frame 0; clip C re-using only a NON-sampled history frame (idx 1)
    // — C must pass: the gate sees sampled indices only, by design
    val clipB = frame(1000L) +: clip(3000L).tail
    val clipC = clip(4000L).updated(1, frame(1001L))
    val m1 = tick(Seq(
      (910001L, "tick one novel clip document alpha", clip(2000L)),
      (910002L, "tick one novel clip document beta", clipB),
      (910003L, "tick one novel clip document gamma", clipC)))
    assert(m1(910001L) == ((0L, 1L)), s"fresh clip: ${m1(910001L)}")
    assert(m1(910002L) == ((1L, 0L)),
      s"clip sharing a sampled history frame must flag: ${m1(910002L)}")
    assert(m1(910003L) == ((0L, 1L)),
      s"clip sharing only a NON-sampled frame must pass: ${m1(910003L)}")
    // tick 2: the loop closes — clips sharing a sampled frame of the
    // tick-1-ACCEPTED clip A (exact copy AND one-pixel edit) flag on
    // arrival via the bands tick 1 appended
    val editedA3 = operators.Multimodal.buildPng(32, 24,
      (x, y) => if (x == 5 && y == 7)
        255 - operators.Multimodal.plantedLuma(2003L, 5, 7)
      else operators.Multimodal.plantedLuma(2003L, x, y))
    val m2 = tick(Seq(
      (910011L, "tick two novel clip document delta",
        frame(2000L) +: clip(5000L).tail),
      (910012L, "tick two novel clip document epsilon",
        clip(6000L).updated(3, editedA3)),
      (910013L, "tick two novel clip document zeta", clip(7000L))))
    assert(m2(910011L) == ((1L, 0L)),
      s"clip sharing a tick-1-accepted sampled frame must flag: ${m2(910011L)}")
    assert(m2(910012L) == ((1L, 0L)),
      s"clip with an edited copy of an accepted sampled frame must flag: ${m2(910012L)}")
    assert(m2(910013L) == ((0L, 1L)), s"fresh clip: ${m2(910013L)}")
  }

  test("ingest_e2e: multimodal tiers bootstrap against a text-only store") {
    // a store built by Fingerprints.write has NO phash_bands/ yet —
    // the first image/clip shard must gate with an EMPTY band set
    // (nothing is historical), append its accepted bands, and the
    // next tick must flag reuse: the tier self-bootstraps instead of
    // crashing at the missing directory
    import spark.implicits._
    def frame(seed: Long) = operators.Multimodal.buildPng(32, 24,
      operators.Multimodal.plantedLuma(seed, _, _))
    def clip(seedBase: Long): Seq[Array[Byte]] =
      (0 until operators.Multimodal.ClipFrames).map(f => frame(seedBase + f))
    val base = Files.createTempDirectory("graft-ingest-boot")
    val store = base.resolve("store").toString
    sources.Fingerprints.write(
      Tables(spark, sfDir, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") < 100L), store, nShards = 2)
    def tick(rows: Seq[(Long, String, Seq[Array[Byte]])]) = {
      val d = sources.Ingest.gateAndRemember(
        rows.toDF("doc_id", "text", "frames"), store)
      assert(d.columns.toSeq == DecisionColumns, d.columns.mkString(","))
      d.collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("clip_hist"), r.getAs[Long]("accept")))).toMap
    }
    val m1 = tick(Seq((920001L, "bootstrap clip document alpha", clip(8000L))))
    assert(m1(920001L) == ((0L, 1L)),
      s"first clip vs text-only store must pass: ${m1(920001L)}")
    val m2 = tick(Seq(
      (920002L, "bootstrap clip document beta",
        frame(8000L) +: clip(9000L).tail),
      (920003L, "bootstrap clip document gamma", clip(10000L))))
    assert(m2(920002L) == ((1L, 0L)),
      s"reused sampled frame must flag after bootstrap: ${m2(920002L)}")
    assert(m2(920003L) == ((0L, 1L)), s"fresh clip: ${m2(920003L)}")
  }

  test("sink_dsir: weights from the reloaded model == inline; append folds; corpus never re-scanned") {
    val all = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val base = Files.createTempDirectory("graft-dsir")
    val refPath = base.resolve("refdocs").toString
    val shardPath = base.resolve("shard").toString
    val modelPath = base.resolve("model").toString
    all.write.parquet(refPath)
    all.filter(col("doc_id") >= 250L).write.parquet(shardPath)
    // the expensive offline pass: count both corpora + derive the cut ONCE
    sources.DsirStore.write(spark.read.parquet(refPath), modelPath)
    val shard = spark.read.parquet(shardPath)
    val storeFed = sources.DsirStore.weightsFrom(shard, modelPath)
    // scale contract: a weighting tick scans the skinny model bundle +
    // the arriving shard — never the training corpus
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val scans = storeFed.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.nonEmpty)
      scans.foreach { f =>
        val roots = f.relation.location.rootPaths.mkString(",")
        assert(!roots.contains("refdocs"),
          s"weighting re-scans the training corpus: $roots")
        assert(roots.contains("model") || roots.contains("shard"),
          s"weighting scans an unexpected input: $roots")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.toList).toSet
    // round-trip: reloaded-model weights == inline derivation (the
    // shard's raw docs score identically because the bundle holds the
    // full corpus counts)
    val inline = operators.Dsir.weights(all)
      .filter(col("doc_id") >= 250L)
    assert(rows(storeFed) == rows(inline),
      "store-fed weights diverged from inline derivation")
    // the persisted cut gates exactly as the filter semantics say
    val cut = sources.DsirStore.readCut(spark, modelPath)
      .collect().head.getDouble(0)
    assert(!cut.isNaN && !cut.isInfinite)
    // append == one-shot: counts are additive, readers fold; old
    // files never rewritten
    val grownPath = base.resolve("grown").toString
    sources.DsirStore.write(all.filter(col("doc_id") < 250L), grownPath)
    val before = new java.io.File(s"$grownPath/vocab")
      .listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
    sources.DsirStore.append(all.filter(col("doc_id") >= 250L), grownPath)
    val after = new java.io.File(s"$grownPath/vocab")
      .listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
    assert(before.subsetOf(after) && after.size > before.size,
      "append must add files, never rewrite old shards")
    assert(rows(sources.DsirStore.weightsFrom(shard, grownPath)) ==
      rows(storeFed), "appended model diverged from the one-shot build")
  }

  test("store format versioning: every store refuses a stale marker; rebuild bumps it") {
    // The silent failure class the `_graft_format` marker closes: a
    // bundle written under OLD semantics (tokenizer, banding, code
    // scale, minhash bytes) read by NEW code returns empty/garbage
    // probes with no exception. Each store must (a) stamp its marker
    // on write, (b) REFUSE reads and appends against a stale marker,
    // (c) re-stamp on a full rebuild — the only-if-missing variant
    // left a rebuilt store refusing its own readers.
    import spark.implicits._
    val base = Files.createTempDirectory("graft-fmt")
    def stamp(path: String, v: String): Unit = {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(path, "_graft_format"), v)
      // drop the Hadoop LocalFS checksum sidecar the raw rewrite
      // invalidates — a genuinely old store has a CONSISTENT pair
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(path, "._graft_format.crc"))
    }
    def marker(path: String): String =
      java.nio.file.Files.readString(
        java.nio.file.Paths.get(path, "_graft_format")).trim
    def refusal(name: String)(body: => Any): Unit = {
      val e = intercept[IllegalArgumentException](body match {
        case d: org.apache.spark.sql.DataFrame => d.collect()
        case other => other
      })
      assert(e.getMessage.contains("format version"),
        s"$name refusal carried the wrong message: ${e.getMessage}")
    }
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
      .filter(col("doc_id") < 60L)
    val embs = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 80L)

    // fingerprints (FormatVersion 2 — the r12 original, now shared)
    val fp = base.resolve("fp").toString
    sources.Fingerprints.write(docs, fp, nShards = 1)
    assert(marker(fp) == sources.Fingerprints.FormatVersion.toString)
    stamp(fp, "0")
    refusal("fingerprints")(sources.Fingerprints.readBands(spark, fp))
    refusal("fingerprints append")(
      sources.Fingerprints.append(docs, fp, nShards = 1))
    sources.Fingerprints.write(docs, fp, nShards = 1) // rebuild bumps
    assert(marker(fp) == sources.Fingerprints.FormatVersion.toString)
    assert(sources.Fingerprints.readBands(spark, fp).count() > 0)

    // ann index
    val ann = base.resolve("ann").toString
    sources.AnnIndex.write(embs, ann, nShards = 1)
    assert(marker(ann) == sources.AnnIndex.FormatVersion.toString)
    stamp(ann, "0")
    refusal("ann codes")(sources.AnnIndex.readCodes(spark, ann))
    refusal("ann pq")(sources.AnnIndex.readPq(spark, ann))
    // upsert encodes against the persisted model — must refuse too
    refusal("ann upsert")(sources.AnnIndex.upsert(embs, ann))
    sources.AnnIndex.write(embs, ann, nShards = 1)
    assert(sources.AnnIndex.readServable(spark, ann).count() > 0)

    // lm model
    val lm = base.resolve("lm").toString
    sources.LmModel.write(docs, lm, nShards = 1)
    assert(marker(lm) == sources.LmModel.FormatVersion.toString)
    stamp(lm, "0")
    refusal("lm score")(sources.LmModel.scoreFrom(docs, lm))
    refusal("lm append")(sources.LmModel.append(docs, lm))
    refusal("lm refreshCuts")(sources.LmModel.refreshCuts(docs, lm))
    sources.LmModel.write(docs, lm, nShards = 1)
    assert(marker(lm) == sources.LmModel.FormatVersion.toString)

    // search index
    val sidx = base.resolve("sidx").toString
    sources.SearchIndex.write(docs, sidx, nShards = 1)
    assert(marker(sidx) == sources.SearchIndex.FormatVersion.toString)
    stamp(sidx, "0")
    refusal("search bm25")(sources.SearchIndex.bm25From(spark, sidx))
    refusal("search append")(sources.SearchIndex.append(docs, sidx))
    sources.SearchIndex.write(docs, sidx, nShards = 1)
    assert(sources.SearchIndex.readDf(spark, sidx).count() > 0)

    // graph store
    val gs = base.resolve("gs").toString
    val edges = Seq((1L, 2L, 3L), (2L, 3L, 1L)).toDF("src", "dst", "w")
    sources.GraphStore.write(edges, gs)
    assert(marker(gs) == sources.GraphStore.FormatVersion.toString)
    stamp(gs, "0")
    refusal("graph edges")(sources.GraphStore.readEdges(spark, gs))
    refusal("graph append")(sources.GraphStore.append(edges, gs))
    sources.GraphStore.write(edges, gs)
    assert(sources.GraphStore.readEdges(spark, gs).count() == 2)

    // bitext index
    val bt = base.resolve("bt").toString
    val src = embs.filter(col("vec_id") % 2 === 0)
    val tgt = embs.filter(col("vec_id") % 2 === 1)
    val bits = operators.Similarity.embBits(40L)
    sources.BitextIndex.write(src, tgt, bt, bits)
    assert(marker(bt) == sources.BitextIndex.FormatVersion.toString)
    stamp(bt, "0")
    refusal("bitext bands")(sources.BitextIndex.readBands(spark, bt))
    refusal("bitext bits")(sources.BitextIndex.readBits(spark, bt))
    sources.BitextIndex.write(src, tgt, bt, bits)
    assert(sources.BitextIndex.readBits(spark, bt) == bits)

    // dsir model
    val ds = base.resolve("dsir").toString
    sources.DsirStore.write(docs, ds, nShards = 1)
    assert(marker(ds) == sources.DsirStore.FormatVersion.toString)
    stamp(ds, "0")
    refusal("dsir weights")(sources.DsirStore.weightsFrom(docs, ds))
    refusal("dsir append")(sources.DsirStore.append(docs, ds))
    sources.DsirStore.write(docs, ds, nShards = 1)
    assert(marker(ds) == sources.DsirStore.FormatVersion.toString)
    assert(sources.DsirStore.readVocab(spark, ds).count() > 0)

    // benchmark bundle
    val bm = base.resolve("bm").toString
    sources.BenchmarkStore.writeBands(docs, bm)
    assert(marker(bm) == sources.BenchmarkStore.FormatVersion.toString)
    stamp(bm, "0")
    refusal("benchmark bands")(
      sources.BenchmarkStore.contamMinhashFrom(docs, bm))
    refusal("benchmark codes")(
      sources.BenchmarkStore.contamEmbedFrom(embs, bm))
    refusal("benchmark qterms")(
      sources.BenchmarkStore.hardNegativesFrom(docs, bm))
    sources.BenchmarkStore.writeBands(docs, bm) // rebuild bumps
    assert(marker(bm) == sources.BenchmarkStore.FormatVersion.toString)

    // bootstrap contract unchanged: a store root that does not exist
    // passes every reader's check (nothing is historical yet)
    assert(sources.Fingerprints.readPhashBandsOrEmpty(spark,
      base.resolve("nothere").toString).count() == 0)
  }

  test("store compaction heals a crash inside the swap window") {
    val all = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 50L)
    val base = Files.createTempDirectory("graft-crash")
    val store = base.resolve("store").toString
    sources.Fingerprints.write(all, store, nShards = 2)
    val want = sources.Fingerprints.readContent(spark, store)
      .collect().map(_.getString(0)).toSet
    // simulate death BETWEEN the two renames: the live frame sits
    // aside as .old, the frame dir is gone
    java.nio.file.Files.move(
      new java.io.File(s"$store/content").toPath,
      new java.io.File(s"$store/.content.old").toPath)
    // and a stale tmp from an earlier crash on another frame
    new java.io.File(s"$store/.bands.compact").mkdirs()
    sources.Fingerprints.compact(spark, store, nShards = 2)
    assert(sources.Fingerprints.readContent(spark, store)
      .collect().map(_.getString(0)).toSet == want,
      "recovery must restore the frame that was mid-swap")
    assert(!new java.io.File(s"$store/.content.old").exists())
    assert(!new java.io.File(s"$store/.bands.compact").exists())
    // a perceptual frame caught the same way is history, not an empty
    // tier: a tick refuses it (read as empty, the copy below would pass
    // and its append would start a phash_bands/ that the next compact
    // keeps, deleting .phash_bands.old); compact then restores it
    import spark.implicits._
    def png(i: Long) = operators.Multimodal.buildPng(32, 24,
      operators.Multimodal.plantedLuma(i, _, _))
    sources.Fingerprints.writePhashBands(Seq((1L, png(7L)))
      .toDF("doc_id", "payload")
      .select($"doc_id", expr("graft_dhash(payload)").as("phash")),
      store, nShards = 2)
    java.nio.file.Files.move(
      new java.io.File(s"$store/phash_bands").toPath,
      new java.io.File(s"$store/.phash_bands.old").toPath)
    def tick() = sources.Ingest.gateAndRemember(
      Seq((930001L, "a copy of the historical image", png(7L)))
        .toDF("doc_id", "text", "payload"), store)
    val refused = intercept[IllegalStateException](tick())
    assert(refused.getMessage.contains(".phash_bands.old"), refused.getMessage)
    assert(!new java.io.File(s"$store/phash_bands").exists() &&
      new java.io.File(s"$store/.phash_bands.old").exists(),
      "a refused tick must leave the moved-aside frame as it was")
    sources.Fingerprints.compact(spark, store, nShards = 2)
    val d = tick().collect().head
    assert(d.getAs[Long]("img_hist") == 1L && d.getAs[Long]("accept") == 0L,
      s"the restored frame must flag the copy: $d")
    // the graph store compacts through the same staging: an append
    // into a moved-aside edges/ would start a fresh frame holding only
    // the delta, and the next compact's recovery would keep it and
    // delete .edges.old — the append is refused and compact restores
    val gs = base.resolve("graph").toString
    sources.GraphStore.write(Seq((1L, 2L, 3L), (2L, 3L, 1L), (3L, 1L, 2L))
      .toDF("src", "dst", "w"), gs)
    def rank() = sources.GraphStore.pagerankFrom(spark, gs)
      .collect().map(_.toSeq.toList).toSet
    val wantRank = rank()
    val edgesOld = new java.io.File(s"$gs/.edges.old")
    java.nio.file.Files.move(new java.io.File(s"$gs/edges").toPath,
      edgesOld.toPath)
    val asideFiles = edgesOld.list().toSet
    val appendRefused = intercept[IllegalStateException](
      sources.GraphStore.append(Seq((1L, 3L, 5L)).toDF("src", "dst", "w"), gs))
    assert(appendRefused.getMessage.contains(".edges.old"),
      appendRefused.getMessage)
    assert(!new java.io.File(s"$gs/edges").exists() &&
      edgesOld.list().toSet == asideFiles,
      "a refused append must leave the moved-aside frame as it was")
    sources.GraphStore.compact(spark, gs)
    assert(!edgesOld.exists() && rank() == wantRank,
      "compact must restore the moved-aside edges")
  }

  test("sink_graph: rank from the reloaded store == in-line; deltas append, compact folds") {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
    val edges = operators.Graph.transitionEdges(ev)
    val base = Files.createTempDirectory("graft-graphstore")
    val store = base.resolve("store").toString
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.toList).toSet
    val want = rows(operators.Graph.pagerank(ev))
    // one-shot build: store-fed rank == in-line, log never re-windowed
    sources.GraphStore.write(edges, store)
    assert(rows(sources.GraphStore.pagerankFrom(spark, store)) == want)
    // grown store: half the edges + the other half appended as two
    // deltas (weights additive, readers fold) ranks identically
    val grown = base.resolve("grown").toString
    sources.GraphStore.write(edges.filter($"src" % 2 === 0), grown)
    sources.GraphStore.append(edges.filter($"src" % 2 === 1 && $"dst" % 2 === 0)
      .withColumnRenamed("w", "w"), grown)
    sources.GraphStore.append(edges.filter($"src" % 2 === 1 && $"dst" % 2 === 1), grown)
    // overlapping delta: the SAME (src, dst) keys land in a second
    // file with zero weight — the reader's per-key SUM must fold them
    sources.GraphStore.append(
      edges.filter($"src" % 2 === 0).withColumn("w", lit(0L)), grown)
    assert(rows(sources.GraphStore.pagerankFrom(spark, grown)) == want,
      "grown store diverged from the one-shot rank")
    // compaction: file count folds, rank unchanged
    val before = new java.io.File(s"$grown/edges")
      .listFiles().count(_.getName.endsWith(".parquet"))
    sources.GraphStore.compact(spark, grown, nShards = 2)
    val after = new java.io.File(s"$grown/edges")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(after == 2 && after < before)
    assert(rows(sources.GraphStore.pagerankFrom(spark, grown)) == want,
      "compacted store diverged")
  }

  test("sink_index: retrieval from the reloaded bundle == inline; corpus never re-scanned") {
    val all = Tables(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    val base = Files.createTempDirectory("graft-sidx-store")
    val corpusPath = base.resolve("corpusdocs").toString
    val storePath = base.resolve("store").toString
    all.write.parquet(corpusPath)
    // the expensive offline pass: index the corpus ONCE
    sources.SearchIndex.write(
      spark.read.parquet(corpusPath), storePath, nShards = 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.toList).toSet
    val want = rows(operators.Search.bm25TopK(all))
    val wantIdx = rows(operators.TextAnalysis.indexBuild(all))
    // store-fed BM25 == inline search_bm25 row-for-row
    assert(rows(sources.SearchIndex.bm25From(spark, storePath)) == want,
      "store-fed BM25 diverged from inline search_bm25")
    // folded positional postings == one-shot index_build
    assert(rows(sources.SearchIndex.readPostings(spark, storePath)) == wantIdx,
      "store postings diverged from index_build")
    // the stream_search profile gate from the skinny df/stats frames
    // == the corpus re-scan it replaces
    assert(sources.SearchIndex.profileFrom(spark, storePath) ==
      operators.Search.bm25Profile(all),
      "store-fed profile diverged from bm25Profile")
    // store-fed hybrid fusion: lexical ranking from the bundle, vector
    // ranking inline, fusion through the shared hybridRrfScores kernel
    // — fused top-K == inline hybrid_rrf row-for-row, and the lexical
    // side's scans never touch the corpus text
    val embs = Tables(spark, sfDir, "embeddings")
    val hybridStore = sources.SearchIndex.hybridRrfFrom(spark, storePath, embs)
    assert(rows(hybridStore) == rows(operators.Search.hybridRrf(all, embs)),
      "store-fed hybrid_rrf diverged from inline fusion")
    hybridStore.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.foreach { f =>
      val roots = f.relation.location.rootPaths.mkString(",")
      assert(!roots.contains("corpusdocs"),
        s"hybrid serving re-scans corpus text: $roots")
    }
    // scale contract: a scoring tick scans ONLY the bundle — never
    // the corpus text the index was derived from
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val scans = sources.SearchIndex.bm25From(spark, storePath)
        .queryExecution.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }
      assert(scans.nonEmpty, "expected parquet scans")
      scans.foreach { f =>
        val roots = f.relation.location.rootPaths.mkString(",")
        assert(!roots.contains("corpusdocs"),
          s"scoring re-scans corpus text: $roots")
        assert(roots.contains("store"), s"unexpected input: $roots")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // grown store: half the corpus + the other half appended (counts
    // additive, a doc lands in exactly one shard) probes identically;
    // old files never rewritten
    val grown = base.resolve("grown").toString
    sources.SearchIndex.write(all.filter(col("doc_id") < 250L), grown)
    val before = new java.io.File(s"$grown/tf")
      .listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
    sources.SearchIndex.append(all.filter(col("doc_id") >= 250L), grown)
    val after = new java.io.File(s"$grown/tf")
      .listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
    assert(before.subsetOf(after) && after.size > before.size,
      "append must add files, never rewrite old shards")
    assert(rows(sources.SearchIndex.bm25From(spark, grown)) == want,
      "appended bundle diverged on BM25")
    assert(rows(sources.SearchIndex.readPostings(spark, grown)) == wantIdx,
      "appended bundle diverged on postings")
    // compaction folds the log back to nShards clean files — probes
    // unchanged (crash-safety itself is covered by the shared
    // StoreMaintenance staging spec above)
    val filesBefore = new java.io.File(s"$grown/tf")
      .listFiles().count(_.getName.endsWith(".parquet"))
    sources.SearchIndex.compact(spark, grown, nShards = 2)
    val filesAfter = new java.io.File(s"$grown/tf")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(filesAfter == 2 && filesAfter < filesBefore,
      s"compact must fold $filesBefore tf files to 2, got $filesAfter")
    assert(rows(sources.SearchIndex.bm25From(spark, grown)) == want,
      "compacted bundle diverged on BM25")
    assert(rows(sources.SearchIndex.readPostings(spark, grown)) == wantIdx,
      "compacted bundle diverged on postings")
  }

  test("sink_benchmark: store-fed contamination/mining == inline framing; frozen store gates later pools") {
    // The fixed-benchmark contract as a code path (VERDICT r15 #4):
    // the inline ops derive the benchmark/query side from the
    // corpus's own %97 slice; production freezes that side once and
    // probes every later snapshot against it. Same kernels on both
    // paths, so equality is row-for-row, not approximate.
    import spark.implicits._
    val d = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val e = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val store = Files.createTempDirectory("graft-bench")
      .resolve("store").toString
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.toList).toSet
    // the expensive offline pass: persist the benchmark side ONCE,
    // from the same slices the inline framing derives
    sources.BenchmarkStore.writeBands(
      d.filter(col("doc_id") % 97 === 0), store)
    sources.BenchmarkStore.writeCodes(
      e.filter(col("vec_id") % 97 === 0), store)
    sources.BenchmarkStore.writeQueryTerms(d, store)
    // store-fed flags == inline, row-for-row (the sink_lm shape)
    assert(rows(sources.BenchmarkStore.contamMinhashFrom(
        d.filter(col("doc_id") % 97 =!= 0), store)) ==
      rows(operators.Splits.contamMinhash(d)),
      "store-fed contam_minhash diverged from inline")
    assert(rows(sources.BenchmarkStore.contamEmbedFrom(
        e.filter(col("vec_id") % 97 =!= 0), store)) ==
      rows(operators.Splits.contamEmbed(e)),
      "store-fed contam_embed diverged from inline")
    assert(rows(sources.BenchmarkStore.hardNegativesFrom(d, store)) ==
      rows(operators.Search.hardNegatives(d)),
      "store-fed mine_hardneg diverged from inline")
    // probe-forever: a LATER pool snapshot — docs that did not exist
    // at write time — gates against the frozen store (this is the
    // linear-in-pool production shape the op scaladocs claim)
    val benchText = d.filter(col("doc_id") === 0L).head.getString(1)
    val later = Seq(
      (9999L, benchText), // a benchmark copy arriving after the freeze
      (9998L, "a genuinely new molecule of text that shares no " +
        "shingles with the synthetic corpus and is long enough to " +
        "carry a full minhash signature of its own")
    ).toDF("doc_id", "text")
    val flags = sources.BenchmarkStore.contamMinhashFrom(later, store)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("contaminated")).toMap
    assert(flags(9999L) == 1L, "frozen store missed a benchmark copy")
    assert(flags(9998L) == 0L, "frozen store flagged a novel doc")
  }

  test("q22_approx_sketch: sketches land within declared error of exact") {
    // one collect serves both the distinct-count and quantile checks
    val rows = operators.Relational2.ops.find(_.name == "q22_approx_sketch")
      .get.query(spark, sfDir).collect()
    val approx = rows
      .map(r => r.getAs[String]("l_returnflag") -> r.getAs[Long]("approx_parts"))
      .toMap
    val exact = Tables(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("exact_parts")).collect()
      .map(r => r.getAs[String]("l_returnflag") -> r.getAs[Long]("exact_parts"))
      .toMap
    exact.foreach { case (flag, ex) =>
      val ap = approx(flag)
      assert(math.abs(ap - ex).toDouble / ex < 0.1,
        s"$flag: approx $ap vs exact $ex drifted > 10%")
    }
    // scalar quantile columns (driver-compatible schema: no arrays) land
    // within 5% of the exact percentiles
    val qs = rows
      .map(r => r.getAs[String]("l_returnflag") ->
        (r.getAs[Double]("price_q50"), r.getAs[Double]("price_q95"))).toMap
    val exactQ = Tables(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_extendedprice, 0.5)").as("e50"),
        expr("percentile(l_extendedprice, 0.95)").as("e95")).collect()
      .map(r => r.getAs[String]("l_returnflag") ->
        (r.getAs[Double]("e50"), r.getAs[Double]("e95"))).toMap
    exactQ.foreach { case (flag, (e50, e95)) =>
      val (a50, a95) = qs(flag)
      assert(a50 <= a95, s"$flag: q50 $a50 > q95 $a95")
      assert(math.abs(a50 - e50) / e50 < 0.05, s"$flag: q50 $a50 vs exact $e50")
      assert(math.abs(a95 - e95) / e95 < 0.05, s"$flag: q95 $a95 vs exact $e95")
    }
  }
}
