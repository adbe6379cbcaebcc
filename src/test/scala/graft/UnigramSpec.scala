package graft

import graft.operators.Unigram
import graft.plans.UnigramTable
import org.apache.spark.sql.functions._

class UnigramSpec extends SparkSpec {
  import spark.implicits._

  test("viterbi beats greedy: global argmax, not best-first-piece") {
    // "abcd</w>": greedy (longest / best first piece) would take
    // "abc" (lp -1) and pay -8 for the stranded "d</w>"; Viterbi finds
    // ab + cd</w> = -4
    val t = new UnigramTable(
      Seq("abc", "ab", "cd</w>", "a", "b", "c", "d</w>"),
      Seq(-1.0, -2.0, -2.0, -7.0, -7.0, -7.0, -8.0))
    assert(t.segmentWord("abcd").toSeq == Seq("ab", "cd</w>"))
  }

  test("tie-break prefers the longer (fewer-pieces) segmentation") {
    // "ab</w>" as one piece and as a+b</w> both score -4
    val t = new UnigramTable(
      Seq("ab</w>", "a", "b</w>"),
      Seq(-4.0, -2.0, -2.0))
    assert(t.segmentWord("ab").toSeq == Seq("ab</w>"))
  }

  test("unknown symbols fall back instead of failing, and stay alone") {
    val t = new UnigramTable(Seq("a", "b</w>"), Seq(-1.0, -1.0))
    // 'z' never trained: single-symbol UnkLogProb keeps the path alive
    assert(t.segmentWord("azb").toSeq == Seq("a", "z", "b</w>"))
    assert(t.segmentWord("").isEmpty)
  }

  test("training recovers planted compositional units") {
    // words are concatenations of two repeated units; the EM loop must
    // promote multi-char pieces covering them — segmentation of the
    // longest word then uses far fewer pieces than characters
    val wc = Seq(
      ("ping", 50L), ("pong", 50L), ("pingpong", 40L),
      ("pingpongping", 30L), ("pongpong", 20L))
    val table = Unigram.trainPieces(wc)
    val pieces = table.map(_._1).toSet
    // the word-internal unit must survive as a piece
    assert(pieces.exists(p => p.length >= 4 && !p.endsWith("</w>")),
      s"no multi-char internal piece in ${pieces.mkString(",")}")
    val t = new UnigramTable(table.map(_._1), table.map(_._2))
    val segged = t.segmentWord("pingpongping")
    assert(segged.length <= 4,
      s"compositional word should segment into units, got ${segged.toSeq}")
    assert(segged.mkString("") == "pingpongping</w>", "lossless concat")
  }

  test("training is deterministic and respects the vocab bound") {
    val wc = Seq.tabulate(200)(i => (s"w${i}x${i % 7}", (i % 13 + 1).toLong))
    val a = Unigram.trainPieces(wc)
    val b = Unigram.trainPieces(wc)
    assert(a == b, "same input must train the same table")
    val multi = a.count { case (p, _) =>
      (if (p.endsWith(UnigramTable.Eow))
        p.length - UnigramTable.Eow.length else p.length) > 1
    }
    assert(multi <= Unigram.TargetVocab, s"$multi multi-sym pieces")
    // probabilities normalize (within fp tolerance)
    assert(math.abs(a.map { case (_, lp) => math.exp(lp) }.sum - 1.0) < 1e-6)
  }

  test("tok_unigram_encode: roundtrip identity and compression on the corpus") {
    val out = SparkEntry.queries("tok_unigram_encode")(spark, sfDir)
      .localCheckpoint()
    val n = out.count()
    assert(n > 0)
    assert(out.filter(col("roundtrip_ok") === 0L).count() == 0L,
      "decode(encode(x)) must equal x on every doc")
    // subword compression: pieces per word strictly below characters
    // per word (the vocabulary learned SOMETHING beyond characters)
    val ppw = out.agg(avg(col("pieces_per_word"))).head.getDouble(0)
    assert(ppw >= 1.0, "at least one piece per word")
    val docs = Tables(spark, sfDir, "documents")
    val charsPerWord = docs
      .select((length(col("text")) /
        size(split(col("text"), " "))).as("cpw"))
      .agg(avg(col("cpw"))).head.getDouble(0)
    assert(ppw < charsPerWord,
      s"pieces/word $ppw should beat chars/word $charsPerWord")
  }

  test("sink_tokenizer: store round-trip segments identically; stale format refused") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-tok").toString
    val wc = Seq(("ping", 50L), ("pong", 50L), ("pingpong", 40L),
      ("pingpongping", 30L))
    val table = Unigram.trainPieces(wc)
    graft.sources.TokenizerStore.write(spark, table, dir)
    val back = graft.sources.TokenizerStore.read(spark, dir)
    assert(back == table, "round-trip must preserve pieces, probs, order")
    // the reloaded table serves identically through the kernel
    val docs = Seq((1L, "ping pong pingpongping"), (2L, "pong pingpong"))
      .toDF("doc_id", "text")
    def digests(t: Seq[(String, Double)]) = docs
      .select(col("doc_id"), md5(array_join(
        Unigram.segmentPieces(split(col("text"), " "), t), " ")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(digests(table) == digests(back))
    // stale marker → loud refusal, not silently drifted piece digests
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "_graft_format"), "99")
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(dir, "._graft_format.crc"))
    val e = intercept[IllegalArgumentException](
      graft.sources.TokenizerStore.read(spark, dir))
    assert(e.getMessage.contains("format version"))
  }

  test("tok_unigram: table rows are ranked, normalized, and serve the encoder") {
    val tbl = SparkEntry.queries("tok_unigram")(spark, sfDir).collect()
    assert(tbl.length > 0)
    // ranks are 1..n in prob order (logprob non-increasing)
    val byRank = tbl.sortBy(_.getAs[Long]("rank"))
    byRank.sliding(2).foreach {
      case Array(x, y) =>
        assert(x.getAs[Double]("logprob") >= y.getAs[Double]("logprob"))
      case _ => ()
    }
    // n_chars excludes the marker; word_final flags agree with the text
    byRank.foreach { r =>
      val p = r.getAs[String]("piece")
      val wf = r.getAs[Boolean]("word_final")
      assert(wf == p.endsWith(UnigramTable.Eow), p)
      val core = if (wf) p.dropRight(UnigramTable.Eow.length) else p
      assert(r.getAs[Long]("n_chars") == core.length.toLong, p)
    }
  }

  test("tok_fertility: per-lang ratios exact, >= 1 piece per word, deterministic") {
    def run() = SparkEntry.queries("tok_fertility")(spark, sfDir)
      .collect().map(r => r.getAs[String]("lang") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_words"),
          r.getAs[Long]("bpe_pieces"), r.getAs[Long]("uni_pieces"),
          r.getAs[Long]("bpe_fertility_ppm"),
          r.getAs[Long]("uni_fertility_ppm"))).toMap
    val byLang = run()
    assert(byLang.nonEmpty)
    byLang.foreach { case (lang, (nd, nw, bp, up, bf, uf)) =>
      assert(nd > 0 && nw >= nd, lang)
      // a word is never fewer than one piece, in either family
      assert(bp >= nw && up >= nw, s"$lang: $bp/$up pieces for $nw words")
      // the ppm columns are exactly the integer floor of the ratio
      assert(bf == bp * 1000000L / nw, lang)
      assert(uf == up * 1000000L / nw, lang)
      assert(bf >= 1000000L && uf >= 1000000L, lang)
    }
    // doc/word totals cover the whole corpus exactly
    val d = Tables(spark, sfDir, "documents")
    assert(byLang.values.map(_._1).sum == d.count())
    // both trainings are deterministic → identical re-run
    assert(run() == byLang)
  }
}
