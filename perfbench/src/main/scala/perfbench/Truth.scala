package perfbench

import graft.Library
import graft.sources.{HashingEmbedder, MarkdownSource}

/** Ground truth for the serve workload, computed in plain Scala from the
  * generated documents: exact BM25 top-k (the formula, tokenizer and
  * tie-break `graft.operators.Bm25` documents) and exact cosine top-k over
  * the chunk embeddings. */
final class Truth(docs: Seq[Gen.Doc], dim: Int) {
  import Truth._

  val chunks: Vector[Chunk] = docs.toVector.flatMap { d =>
    val id = Library.docId(d.path)
    MarkdownSource.extractChunks(d.content).map { case (_, idx, text) => Chunk(id, idx, text) }
  }

  private val embedder = new HashingEmbedder(dim)
  /** Chunk embeddings, and the throughput of computing them driver-side. */
  val (vectors, embedChunksPerS): (Array[Array[Float]], Double) = {
    val t0 = System.nanoTime()
    val v = chunks.map(c => embedder.embed(c.text)).toArray
    (v, chunks.size / ((System.nanoTime() - t0) / 1e9))
  }

  private val tokens: Vector[Array[String]] = chunks.map(c =>
    c.text.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty))
  private val n = chunks.size.toLong
  private val avgdl = if (n > 0) tokens.map(_.length.toLong).sum.toDouble / n else 1.0
  private val postings: Map[String, Vector[(Int, Int)]] =
    tokens.zipWithIndex.flatMap { case (ts, i) =>
      ts.groupBy(identity).map { case (t, occ) => (t, (i, occ.length)) }
    }.groupBy(_._1).map { case (t, ps) => t -> ps.map(_._2) }

  private val K1 = 1.2
  private val B = 0.75

  /** BM25 score of every chunk matching `query`, by chunk index. */
  def bm25(query: String): Map[Int, Double] = {
    val terms = query.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
      .distinct.sorted
    val perChunk = scala.collection.mutable.HashMap.empty[Int, Double]
    terms.foreach { t =>
      val ps = postings.getOrElse(t, Vector.empty)
      val df = ps.size.toDouble
      val idf = StrictMath.log(1.0 + (n.toDouble - df + 0.5) / (df + 0.5))
      ps.foreach { case (i, tf) =>
        val norm = (tf.toDouble * (K1 + 1)) /
          (tf.toDouble + K1 * ((1 - B) + B * tokens(i).length.toDouble / avgdl))
        perChunk(i) = perChunk.getOrElse(i, 0.0) + idf * norm
      }
    }
    perChunk.toMap
  }

  def ftsTop(query: String, k: Int): Seq[Hit] = rank(bm25(query).toSeq, k)

  /** Cosine of the query with every chunk. */
  def cosines(q: Array[Float]): Array[Double] = vectors.map { v =>
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i).toDouble * q(i); i += 1 }
    s
  }

  def vectorTop(q: Array[Float], k: Int): Seq[Hit] = rank(cosines(q).zipWithIndex.map(_.swap).toSeq, k)

  private def rank(scored: Seq[(Int, Double)], k: Int): Seq[Hit] =
    scored.map { case (i, s) => Hit(chunks(i).docId, chunks(i).index, s) }
      .sortBy(h => (-h.score, h.docId, h.index)).take(k)

  val byKey: Map[(String, Int), Int] = chunks.zipWithIndex.map { case (c, i) => (c.docId, c.index) -> i }.toMap
}

object Truth {
  final case class Chunk(docId: String, index: Int, text: String)
  final case class Hit(docId: String, index: Int, score: Double)

  def close(a: Double, b: Double, tol: Double = 1e-6): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** Recall of `got` against the exact top-k `want`, by (docId, index). */
  def recall(got: Seq[(String, Int)], want: Seq[Hit]): Double =
    if (want.isEmpty) 1.0
    else got.toSet.intersect(want.map(h => (h.docId, h.index)).toSet).size.toDouble / want.size
}
