package perfbench

import scala.collection.mutable

import graft.analysis.Analyzer
import graft.bm25.{Bm25, NormMode}
import graft.search._

/** Independent BM25 top-k over raw text. It uses only the analyzer and the
  * public BM25 and norm functions, never the index, the codec or the
  * scorers: per-doc token lists are rebuilt from the corpus generator and
  * every candidate doc is scored exhaustively. */
final class Oracle(docs: Array[String]) {
  private val tokens: Array[Array[String]] = docs.map(t => Analyzer.standard.terms(t).toArray)
  private val postings = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
  private val freqs: Array[java.util.HashMap[String, Int]] = tokens.zipWithIndex.map { case (ts, d) =>
    val m = new java.util.HashMap[String, Int]()
    ts.foreach(t => m.merge(t, 1, Integer.sum))
    m.keySet().forEach(t => postings.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += d)
    m
  }
  private val fieldDocCount = tokens.count(_.nonEmpty).toLong
  private val cache = Bm25.buildCacheFor(NormMode.Mod256,
    tokens.map(_.length.toLong).sum.toDouble / fieldDocCount)

  private def idf(t: String): Double =
    Bm25.idf(postings.get(t).map(_.size.toLong).getOrElse(0L), fieldDocCount)
  private def norm(d: Int): Int = NormMode.encode(tokens(d).length, NormMode.Mod256) & 0xFF

  private def phraseFreq(d: Int, ts: Seq[String]): Int = {
    val tk = tokens(d)
    var n = 0
    var p = 0
    while (p + ts.size <= tk.length) {
      if (ts.indices.forall(i => tk(p + i) == ts(i))) n += 1
      p += 1
    }
    n
  }

  /** Score of doc `d`, or None when it does not match. */
  private def score(q: Query, d: Int): Option[Double] = q match {
    case TermQ(t) =>
      val f = freqs(d).getOrDefault(t, 0)
      if (f == 0) None else Some(Bm25.score(idf(t), f, norm(d), cache))
    case PhraseQ(ts, 0) =>
      val f = phraseFreq(d, ts)
      if (f == 0) None else Some(Bm25.scoreF(ts.map(idf).sum, f.toDouble, norm(d), cache))
    case DisjMaxQ(qs, tb) =>
      val ss = qs.flatMap(score(_, d))
      if (ss.isEmpty) None else Some(ss.max + tb * (ss.sum - ss.max))
    case BoolQ(must, should, Nil, mustNot, msm) =>
      val ms = must.map(score(_, d))
      val ss = should.flatMap(score(_, d))
      val need = if (must.isEmpty) math.max(msm, 1) else msm
      if (ms.exists(_.isEmpty) || mustNot.exists(score(_, d).nonEmpty) || ss.size < need) None
      else Some(ms.flatten.sum + ss.sum)
    case other => throw new IllegalArgumentException(s"oracle does not model $other")
  }

  /** Every matching doc with its score, best first (score desc, doc asc). */
  def ranked(q: Query): Array[(Long, Double)] = {
    val cand = q.terms.iterator.flatMap(t => postings.getOrElse(t, Nil)).toSet
    cand.iterator.flatMap(d => score(q, d).map(d.toLong -> _)).toArray
      .sortBy { case (d, s) => (-s, d) }
  }
}

object Oracle {
  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  /** Does `hits` equal the oracle's top-k? Scores must agree rank by rank,
    * and every hit must be a top-k doc of the oracle with the same score
    * (equal-score docs may swap ranks by a last-bit rounding difference). */
  def agrees(hits: Seq[(Long, Double)], ranked: Array[(Long, Double)], k: Int): Boolean = {
    val top = ranked.take(k)
    if (hits.size != top.length) return false
    if (!hits.indices.forall(i => close(hits(i)._2, top(i)._2))) return false
    val floor = if (top.isEmpty) Double.MaxValue else top.last._2
    val byDoc = ranked.iterator.takeWhile(h => h._2 >= floor || close(h._2, floor)).toMap
    hits.forall { case (d, s) => byDoc.get(d).exists(close(s, _)) }
  }
}
