package graft

import graft.operators.Bpe
import org.apache.spark.sql.functions._

class BpeSpec extends SparkSpec {
  import spark.implicits._

  // The classic corpus (Sennrich et al. §3 shape): low×5, lower×2,
  // newest×6, widest×3 — with the learn_bpe.py end-of-word marker on
  // the final character. Hand-computed pair counts give, in order:
  //   1. (e,s)      9   (ties (s,t</w>) 9 → lexicographic)
  //   2. (es,t</w>) 9
  //   3. (l,o)      7
  //   4. (e,w)      6   (ties (n,e) 6, (w,est</w>) 6 → lexicographic)
  //   5. (ew,est</w>) 6 (ties (n,ew) 6 → lexicographic)
  private val wordCounts = Seq(
    ("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))

  test("bpe_train: hand-computed merge sequence with deterministic ties") {
    val merges = Bpe.trainMerges(wordCounts, 5)
    assert(merges == Seq(
      ("e", "s"), ("es", "t</w>"), ("l", "o"), ("e", "w"), ("ew", "est</w>")),
      s"merge order wrong: $merges")
    // training exhausts when no pairs remain (single-symbol words)
    assert(Bpe.trainMerges(Seq(("ab", 3L)), 10) == Seq(("a", "b</w>")))
    assert(Bpe.trainMerges(Seq(("a", 3L)), 10).isEmpty)
  }

  test("graft_bpe kernel: greedy lowest-rank encoding matches hand-traced pieces") {
    val merges = Bpe.trainMerges(wordCounts, 5)
    val df = Seq(
      (1L, "lowest"), (2L, "lower"), (3L, "low"), (4L, "xyz"), (5L, ""),
      (6L, "the newest lowest low"))
      .toDF("doc_id", "text")
      .withColumn("pieces",
        Bpe.encodePieces(graft.functions.TextFns.tokens($"text"), merges))
    val out = df.collect()
      .map(r => r.getLong(0) -> r.getAs[Seq[String]]("pieces").toList).toMap
    // lowest: es → est</w> → lo → ["lo","w","est</w>"] ((lo,w</w>) and
    // (lo,w) are not among the first five merges under the marker)
    assert(out(1L) == List("lo", "w", "est</w>"), out(1L).toString)
    assert(out(2L) == List("lo", "w", "e", "r</w>"), out(2L).toString)
    assert(out(3L) == List("lo", "w</w>"), out(3L).toString)
    // unknown word falls back to characters (+ marked final char)
    assert(out(4L) == List("x", "y", "z</w>"), out(4L).toString)
    // empty text contributes no pieces
    assert(out(5L) == Nil)
    // decode is the exact inverse of encode — multi-word round-trip
    val dec = df.withColumn("decoded", Bpe.decodePieces($"pieces"))
      .collect().map(r => r.getLong(0) -> r.getAs[String]("decoded")).toMap
    assert(dec(6L) == "the newest lowest low", dec(6L))
    assert(dec(1L) == "lowest" && dec(3L) == "low" && dec(5L) == "")
    // distributed trainer = driver trainer on the same counts
    val corpus = wordCounts.flatMap { case (w, n) =>
      (1 to n.toInt).map(i => (w.hashCode.toLong * 100 + i, w))
    }.toDF("doc_id", "text")
    assert(Bpe.trainFromDocs(corpus, 5) == merges)
  }

  test("bpe ops: encode bounds and tokenizer-faithful rechunk rule") {
    val enc = SparkEntry.queries("bpe_encode")(spark, sfDir).collect()
    assert(enc.nonEmpty)
    enc.foreach { r =>
      // a word is at most its characters, at least one piece
      assert(r.getAs[Long]("n_pieces") >= r.getAs[Long]("n_words"))
      assert(r.getAs[Double]("pieces_per_word") >= 1.0)
      // encode→decode identity holds on every corpus row
      assert(r.getAs[Long]("roundtrip_ok") == 1L,
        s"doc ${r.getAs[Long]("doc_id")} failed the decode round-trip")
    }
    // merges actually compress: the corpus-wide mean pieces/word must
    // sit well below the no-merge (chars/word) bound
    val mean = enc.map(_.getAs[Double]("pieces_per_word")).sum / enc.length
    assert(mean < 4.0, s"mean pieces/word $mean — merges not applied?")
    // rechunk rule on the real piece stream: every non-final chunk is
    // exactly ChunkLen pieces; a final chunk is either >= MergeBelow or
    // the doc fits in one (possibly merged) chunk
    val ch = SparkEntry.queries("mr_chunk_bpe")(spark, sfDir).collect()
    val byDoc = ch.groupBy(_.getAs[Long]("doc_id"))
    val encByDoc = enc.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_pieces")).toMap
    byDoc.foreach { case (doc, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("chunk_id"))
      val lens = sorted.map(_.getAs[Long]("n_pieces"))
      assert(lens.sum == encByDoc(doc), s"doc $doc pieces lost in chunking")
      if (lens.length > 1) {
        assert(lens.dropRight(1).forall(_ == operators.MapReduceDocs.ChunkLen.toLong),
          s"doc $doc non-final chunks must be exactly ChunkLen: ${lens.toSeq}")
        // the trailing-merge rule: a short tail either merged into the
        // previous chunk (last ≤ ChunkLen + MergeBelow - 1) or stands
        // alone at >= MergeBelow pieces
        assert(lens.last >= operators.MapReduceDocs.MergeBelow.toLong &&
          lens.last < (operators.MapReduceDocs.ChunkLen +
            operators.MapReduceDocs.MergeBelow).toLong,
          s"doc $doc tail chunk violates the rechunk rule: ${lens.toSeq}")
      }
    }
  }
}
