package graft.operators

import graft.{Op, Tables}
import graft.functions.TextFns
import graft.plans.UnigramTable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer — the second public subword family (Kudo 2018,
  * the SentencePiece `unigram` trainer) next to bpe_train's merge rules:
  * a vocabulary of pieces with a unigram probability each, segmentation
  * = the Viterbi-best decomposition of every word. BPE builds its vocab
  * bottom-UP (greedy pair merges); unigram starts from a LARGE seed of
  * candidate substrings and prunes top-DOWN under an EM loop — the two
  * produce different piece inventories from the same corpus, which is
  * exactly why production pipelines train and compare both. Two rows:
  *
  *  - tok_unigram: the trained piece table. Training runs DRIVER-SIDE
  *    over the bounded top-[[Bpe.TrainWordCap]] word-count table (the
  *    bpe_train / k-means / classifier-cap discipline: tokenizer
  *    quality lives in frequent words; the distributed part is ONE
  *    skinny (word, count) aggregation and is the only thing that
  *    scales with the corpus — hard-EM cost is
  *    O(cap · wordlen · MaxPieceLen · iters) REGARDLESS of corpus
  *    size).
  *  - tok_unigram_encode: every doc segmented under the trained table
  *    via the native graft_unigram Viterbi kernel
  *    (plans/UnigramSegment.scala) — NARROW, the table rides the plan
  *    as two foldable literals, scan-speed serving.
  *
  * Hard-EM (Viterbi-EM) is the documented variant: the E-step uses the
  * 1-best segmentation instead of full lattice posteriors — the
  * standard cheap approximation; the M-step and the SentencePiece
  * prune-to-target loop are as published. Symbols share graft_bpe's
  * Sennrich end-of-word convention, so [[Bpe.decodePieces]] inverts
  * BOTH tokenizers' piece streams and the families are drop-in
  * interchangeable downstream (mr_chunk_bpe et al.).
  *
  * Not SQL-expressible (EM + Viterbi) → rows-only; the spec suite pins
  * Viterbi optimality against a hand-built table, compositional-corpus
  * recovery (planted repeated units become pieces), encode→decode
  * identity on the corpus, the vocab bound, and train determinism.
  */
object Unigram {

  /** Multi-symbol pieces kept in the final vocabulary (single-symbol
    * pieces ride for free — they guarantee coverage and never prune).
    * Real tokenizers use 32k-256k; the synthetic corpus saturates far
    * earlier and the ALGORITHM is identical at any size. */
  val TargetVocab = 512

  /** Piece length bound in symbols — the Viterbi inner-loop width and
    * the seed-extraction window. */
  val MaxPieceLen = 8

  /** Initial candidate pool (multi-symbol pieces by corpus count) the
    * EM loop prunes from. */
  val SeedVocab = 4096

  /** Hard-EM rounds; between rounds the pool shrinks toward
    * [[TargetVocab]] by the SentencePiece ×0.75 schedule. */
  val EmIters = 4

  /** A word as its training symbol sequence: one symbol per char, the
    * final char carrying the end-of-word marker (graft_bpe's init). */
  private def symbolize(w: String): Array[String] = {
    val syms = new Array[String](w.length)
    var c = 0
    while (c < w.length) {
      syms(c) =
        if (c == w.length - 1) String.valueOf(w.charAt(c)) + UnigramTable.Eow
        else String.valueOf(w.charAt(c))
      c += 1
    }
    syms
  }

  /** Train the piece table from a bounded (word, count) sample.
    * Returns (piece, logprob) sorted by prob desc then piece asc —
    * fully deterministic (ties in every top-k break lexicographically).
    */
  private[graft] def trainPieces(wordCounts: Seq[(String, Long)])
      : Seq[(String, Double)] = {
    val words = wordCounts.filter(_._1.nonEmpty)
      .map { case (w, n) => (symbolize(w), n) }

    // ---- seed: every sym-gram of length 1..MaxPieceLen by count ----
    val seedCounts = new java.util.HashMap[String, java.lang.Long]()
    def bump(m: java.util.HashMap[String, java.lang.Long], k: String, n: Long): Unit = {
      val c = m.get(k)
      m.put(k, if (c == null) n else c.longValue() + n)
    }
    words.foreach { case (syms, n) =>
      var i = 0
      while (i < syms.length) {
        val sb = new java.lang.StringBuilder()
        var j = i
        while (j < syms.length && j - i < MaxPieceLen) {
          sb.append(syms(j))
          bump(seedCounts, sb.toString, n)
          j += 1
        }
        i += 1
      }
    }
    val singles = scala.collection.mutable.Set[String]()
    words.foreach { case (syms, _) => syms.foreach(singles += _) }
    def isSingle(p: String): Boolean = singles.contains(p)

    var multi: Seq[(String, Long)] = {
      val buf = scala.collection.mutable.ArrayBuffer[(String, Long)]()
      seedCounts.forEach { (k, v) =>
        if (!isSingle(k)) buf += ((k, v.longValue()))
      }
      buf.sortBy { case (p, c) => (-c, p) }.take(SeedVocab).toSeq
    }
    var singleCounts: Map[String, Long] = {
      val m = scala.collection.mutable.Map[String, Long]()
      singles.foreach(s => m(s) = math.max(1L, Option(seedCounts.get(s))
        .map(_.longValue()).getOrElse(1L)))
      m.toMap
    }

    def toLogProbs(ms: Seq[(String, Long)], ss: Map[String, Long])
        : (Seq[String], Seq[Double]) = {
      val all = ms ++ ss.toSeq.sortBy(_._1)
      val total = all.iterator.map(_._2).sum.toDouble
      val ps = all.map(_._1)
      val lps = all.map { case (_, c) => math.log(c / total) }
      (ps, lps)
    }

    // ---- hard-EM: Viterbi counts → re-estimate → prune toward target
    var iter = 0
    while (iter < EmIters) {
      val (ps, lps) = toLogProbs(multi, singleCounts)
      val table = new UnigramTable(ps, lps) // the SERVING kernel, reused
      val counts = new java.util.HashMap[String, java.lang.Long]()
      words.foreach { case (syms, n) =>
        // rebuild the raw word from syms minus the marker on the tail
        val sb = new java.lang.StringBuilder()
        var i = 0
        while (i < syms.length) {
          val s = syms(i)
          sb.append(if (i == syms.length - 1)
            s.substring(0, s.length - UnigramTable.Eow.length) else s)
          i += 1
        }
        table.segmentWord(sb.toString).foreach(bump(counts, _, n))
      }
      // M-step: multi pieces live on observed mass alone (count-0 drops
      // out); singles floor at 1 so coverage never dies
      val keepN =
        if (iter == EmIters - 1) TargetVocab
        else math.max(TargetVocab, (multi.length * 3) / 4)
      multi = multi.iterator
        .map { case (p, _) =>
          (p, Option(counts.get(p)).map(_.longValue()).getOrElse(0L))
        }
        .filter(_._2 > 0L)
        .toSeq.sortBy { case (p, c) => (-c, p) }
        .take(keepN)
      singleCounts = singleCounts.map { case (p, _) =>
        p -> math.max(1L, Option(counts.get(p)).map(_.longValue()).getOrElse(0L))
      }
      iter += 1
    }
    val (ps, lps) = toLogProbs(multi, singleCounts)
    ps.zip(lps).sortBy { case (p, lp) => (-lp, p) }
  }

  /** Distributed bounded word counts (bpe_train's exact shape) →
    * driver-side EM. */
  private[graft] def trainFromDocs(d: DataFrame): Seq[(String, Double)] =
    trainPieces(Bpe.wordCounts(d))

  /** Column of unigram pieces for a token-array column under a trained
    * table — the table rides as two foldable literals. */
  private[graft] def segmentPieces(toks: Column,
      table: Seq[(String, Double)]): Column =
    call_function("graft_unigram", toks,
      array(table.map { case (p, _) => lit(p) }: _*),
      array(table.map { case (_, lp) => lit(lp) }: _*))

  private def docs(s: SparkSession, dir: String) = Tables(s, dir, "documents")

  // ---- tok_unigram: the trained piece table as rows ----
  private val opTrain = Op(
    "tok_unigram",
    (s, dir) => {
      val table = trainFromDocs(docs(s, dir))
      s.createDataFrame(table.zipWithIndex.map { case ((p, lp), i) =>
        (i + 1L, p, math.rint(lp * 1e6) / 1e6,
          p.endsWith(UnigramTable.Eow),
          (if (p.endsWith(UnigramTable.Eow))
            p.length - UnigramTable.Eow.length else p.length).toLong)
      }).toDF("rank", "piece", "logprob", "word_final", "n_chars")
    },
    None) // EM training is not ANSI-SQL-expressible → rows-only

  // ---- tok_unigram_encode: corpus → Viterbi pieces, narrow ----
  private val opEncode = Op(
    "tok_unigram_encode",
    (s, dir) => {
      val table = trainFromDocs(docs(s, dir))
      docs(s, dir)
        .withColumn("toks", TextFns.tokens(col("text")))
        .withColumn("pieces", segmentPieces(col("toks"), table))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_words"),
          size(col("pieces")).cast("long").as("n_pieces"),
          round(size(col("pieces")) / size(col("toks")).cast("double"), 6)
            .as("pieces_per_word"),
          md5(array_join(col("pieces"), " ")).as("piece_digest"),
          // encode→decode identity on every corpus row (the shared
          // Sennrich-marker decode rule — Bpe.decodePieces)
          (Bpe.decodePieces(col("pieces")) ===
            array_join(filter(col("toks"), t => t =!= ""), " "))
            .cast("long").as("roundtrip_ok"))
    },
    None)

  // ---- tok_fertility: per-language tokenizer eval, both families ----
  //
  // Fertility (pieces per word) is the standard tokenizer-evaluation
  // metric: a vocabulary that spends its budget on one language's
  // frequent words segments the others into more pieces, inflating
  // their effective sequence length and training cost — so fertility
  // is compared PER LANGUAGE, and across tokenizer families trained on
  // the SAME corpus (the "train and compare both" practice the
  // unigram-vs-BPE pairing exists for). Shape: both trainings are the
  // bounded driver loops over the shared top-64k word-count table;
  // the eval itself is ONE narrow scan (both kernels run per row with
  // their tables as plan literals) into a per-language hash aggregate
  // — scan-speed at any corpus size. Ratios in exact integer ppm.
  // Kernel outputs aren't ANSI-SQL-expressible → rows-only; the spec
  // pins fertility ≥ 1 word⁻¹ for every language, exact agreement
  // with the encode ops' per-doc counts, and determinism.
  private val opFertility = Op(
    "tok_fertility",
    (s, dir) => {
      val d = docs(s, dir)
      // one word-count scan feeds BOTH bounded trainings
      val wc = Bpe.wordCounts(d)
      val merges = Bpe.trainMerges(wc, Bpe.BpeMerges)
      val table = trainPieces(wc)
      d.withColumn("toks", TextFns.tokens(col("text")))
        .select(col("lang"),
          size(col("toks")).cast("long").as("w"),
          size(Bpe.encodePieces(col("toks"), merges)).cast("long")
            .as("bpe_n"),
          size(segmentPieces(col("toks"), table)).cast("long")
            .as("uni_n"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("n_words"),
          sum(col("bpe_n")).as("bpe_pieces"),
          sum(col("uni_n")).as("uni_pieces"))
        .select(col("lang"), col("n_docs"), col("n_words"),
          col("bpe_pieces"), col("uni_pieces"),
          expr("bpe_pieces * 1000000L DIV n_words")
            .as("bpe_fertility_ppm"),
          expr("uni_pieces * 1000000L DIV n_words")
            .as("uni_fertility_ppm"))
    },
    None)

  val ops: Seq[Op] = Seq(opTrain, opEncode, opFertility)
}
