package graft.operators

import graft.{Op, Tables}
import graft.functions.TextFns
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Real byte-pair encoding — the public Sennrich et al. (2016)
  * algorithm, closing the token-basis gap named in round 3: the
  * reference chunks actual BPE token ids from a trained tokenizer
  * (test_proactive.py:202-207); until now the repo approximated with a
  * BPE-ish regex. Three rows:
  *
  *  - bpe_train: merge rules from corpus word counts. Pair counting and
  *    merging run DRIVER-SIDE over a bounded top-[[TrainWordCap]]
  *    word-count table (the same bounded-sample pattern as ann_ivf's
  *    k-means: tokenizer quality needs frequent words, and the top-64k
  *    words carry essentially all pair mass of a Zipfian corpus —
  *    training cost is O(cap · wordlen · merges) regardless of corpus
  *    size, while the word-count aggregation itself is one distributed
  *    shuffle of skinny (word, count) rows).
  *  - bpe_encode: every doc's whitespace tokens → subword pieces under
  *    the trained table, via the native graft_bpe kernel — NARROW, the
  *    merge table rides broadcast-like inside the plan as a literal.
  *  - mr_chunk_bpe: mr_chunk's rechunk trailing-merge rule applied to
  *    the REAL piece stream — the tokenizer-faithful variant of the
  *    reference's `rechunk(ids, chunk_len)`.
  *
  * Sennrich-faithful end-of-word handling: the [[Eow]] marker is
  * attached to each word's LAST character symbol (exactly the public
  * learn_bpe.py convention), so merges distinguish word-final from
  * word-internal contexts and the piece stream decodes losslessly back
  * to text: concatenate pieces, turn each marker into a space, trim —
  * [[decodePieces]], spec'd by encode→decode identity on the corpus
  * (the roundtrip_ok column of bpe_encode).
  */
object Bpe {

  /** End-of-word marker, merged onto each word's final character
    * symbol (Sennrich learn_bpe.py). Makes encoding invertible.
    */
  val Eow = "</w>"

  /** Inverse of the piece stream: concat pieces, marker → space, trim.
    * Identity with `array_join(tokens, " ")` for any whitespace
    * tokenization with non-empty tokens.
    */
  private[graft] def decodePieces(pieces: org.apache.spark.sql.Column) =
    rtrim(regexp_replace(array_join(pieces, ""), Eow, " "))

  /** Merge rules to train. Real tokenizers use 30k-100k; the synthetic
    * corpus vocabulary saturates far earlier, and the ALGORITHM is
    * identical at any count.
    */
  val BpeMerges = 200

  /** Driver-side training table bound (top word counts). */
  val TrainWordCap = 65536

  /** Deterministic tie-break: highest pair count, then lexicographic
    * smallest (left, right). Returns rank-ordered "left right" merges.
    */
  private[graft] def trainMerges(
      wordCounts: Seq[(String, Long)], nMerges: Int): Seq[(String, String)] = {
    var words: Array[(Array[String], Long)] = wordCounts
      .map { case (w, n) =>
        val syms = w.map(String.valueOf(_)).toArray
        if (syms.nonEmpty) syms(syms.length - 1) += Eow // learn_bpe.py init
        (syms, n)
      }.toArray
    val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var m = 0
    var exhausted = false
    while (m < nMerges && !exhausted) {
      val counts = new java.util.HashMap[(String, String), Long]()
      words.foreach { case (syms, n) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          val c = counts.get(k)
          counts.put(k, (if (c == null) 0L else c.longValue()) + n)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        var best: (String, String) = null
        var bestN = -1L
        counts.forEach { (k, v) =>
          if (v > bestN || (v == bestN &&
              (k._1 < best._1 || (k._1 == best._1 && k._2 < best._2)))) {
            best = k; bestN = v
          }
        }
        out += best
        words = words.map { case (syms, n) =>
          if (syms.length < 2) (syms, n)
          else {
            val buf = new scala.collection.mutable.ArrayBuffer[String](syms.length)
            var j = 0
            while (j < syms.length) {
              if (j < syms.length - 1 &&
                  syms(j) == best._1 && syms(j + 1) == best._2) {
                buf += syms(j) + syms(j + 1); j += 2
              } else { buf += syms(j); j += 1 }
            }
            (buf.toArray, n)
          }
        }
        m += 1
      }
    }
    out.toSeq
  }

  /** The bounded top-[[TrainWordCap]] word-count table BOTH tokenizer
    * trainers consume (one skinny distributed aggregation + a bounded
    * driver collect — the k-means/classifier-cap discipline); shared so
    * an op training both families (tok_fertility) pays the corpus scan
    * once, not per family. */
  private[graft] def wordCounts(d: DataFrame): Seq[(String, Long)] =
    d.select(explode(TextFns.tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w")).limit(TrainWordCap)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  /** Distributed word counts → bounded driver table → merge rules. */
  private[graft] def trainFromDocs(d: DataFrame, nMerges: Int): Seq[(String, String)] =
    trainMerges(wordCounts(d), nMerges)

  /** Column of BPE pieces for a token-array column under `merges`. */
  private[graft] def encodePieces(toks: org.apache.spark.sql.Column,
      merges: Seq[(String, String)]): org.apache.spark.sql.Column = {
    val lits = array(merges.map { case (a, b) => lit(s"$a $b") }: _*)
    call_function("graft_bpe", toks, lits)
  }

  private def docs(s: SparkSession, dir: String) = Tables(s, dir, "documents")

  // ---- bpe_train: the merge table as rows ----
  private val opTrain = Op(
    "bpe_train",
    (s, dir) => {
      val merges = trainFromDocs(docs(s, dir), BpeMerges)
      s.createDataFrame(merges.zipWithIndex.map { case ((a, b), i) =>
        (i + 1L, a, b, a + b)
      }).toDF("rank", "left", "right", "merged")
    },
    None)

  // ---- bpe_encode: corpus → subword pieces, narrow ----
  private val opEncode = Op(
    "bpe_encode",
    (s, dir) => {
      val merges = trainFromDocs(docs(s, dir), BpeMerges)
      docs(s, dir)
        .withColumn("toks", TextFns.tokens(col("text")))
        .withColumn("pieces", encodePieces(col("toks"), merges))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_words"),
          size(col("pieces")).cast("long").as("n_pieces"),
          round(size(col("pieces")) / size(col("toks")).cast("double"), 6)
            .as("pieces_per_word"),
          md5(array_join(col("pieces"), " ")).as("piece_digest"),
          // encode→decode identity, verified on every corpus row (the
          // empty-token filter mirrors the kernel's skip of "" words)
          (decodePieces(col("pieces")) ===
            array_join(filter(col("toks"), t => t =!= ""), " "))
            .cast("long").as("roundtrip_ok"))
    },
    None)

  // ---- mr_chunk_bpe: rechunk over real token ids ----
  // The reference rule verbatim (test_proactive.py:152-165), but on the
  // trained-piece basis: fixed ChunkLen-piece chunks, a trailing chunk
  // < 0.3·ChunkLen merges into its predecessor. Narrow like mr_chunk.
  private val opChunkBpe = Op(
    "mr_chunk_bpe",
    (s, dir) => {
      val merges = trainFromDocs(docs(s, dir), BpeMerges)
      val cl = MapReduceDocs.ChunkLen
      val mb = MapReduceDocs.MergeBelow
      val base = ceil(col("n") / lit(cl.toDouble)).cast("int")
      docs(s, dir)
        .withColumn("pieces",
          encodePieces(TextFns.tokens(col("text")), merges))
        .withColumn("n", size(col("pieces")))
        .withColumn("nchunks",
          when(col("n") <= cl, 1)
            .when(col("n") % cl > 0 && col("n") % cl < mb, base - 1)
            .otherwise(base))
        .withColumn("chunk_id", explode(sequence(lit(0), col("nchunks") - 1)))
        .withColumn("start", col("chunk_id") * cl)
        .withColumn("chunk_len",
          when(col("chunk_id") === col("nchunks") - 1, col("n") - col("start"))
            .otherwise(lit(cl)))
        .select(col("doc_id"),
          col("chunk_id").cast("long").as("chunk_id"),
          col("chunk_len").cast("long").as("n_pieces"),
          md5(array_join(
            slice(col("pieces"), col("start") + 1, col("chunk_len")), " "))
            .as("chunk_digest"))
    },
    None)

  val ops: Seq[Op] = Seq(opTrain, opEncode, opChunkBpe)
}
