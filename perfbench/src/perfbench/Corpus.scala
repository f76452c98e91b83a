package perfbench

import org.apache.spark.sql.SparkSession

import graft.search._

/** Seeded source-code corpus and query streams. The distribution is the
  * repo's synthetic corpus (FIXTURES.md §1): Zipf-like hot keywords,
  * mid-frequency identifiers, rare identifiers, log-normal lengths, 2% empty
  * docs and 5% docs over 255 tokens. A doc's text is a pure function of
  * (seed, docId), so the oracle regenerates it instead of reading the index.
  */
final class Corpus(val seed: Long) extends Serializable {
  import Corpus._

  def text(docId: Long): String = {
    val rnd = new scala.util.Random(seed ^ (docId * 0x9E3779B97F4A7C15L))
    val len =
      if (rnd.nextDouble() < 0.02) 0
      else if (rnd.nextDouble() < 0.05) 256 + rnd.nextInt(80)
      else 1 + math.min(400, math.exp(3.2 + rnd.nextGaussian() * 0.9).toInt)
    val sb = new java.lang.StringBuilder(len * 6)
    var i = 0
    while (i < len) {
      if (i > 0) sb.append(' ')
      val r = rnd.nextDouble()
      sb.append(
        if (r < 0.55) Hot(rnd.nextInt(Hot.size))
        else if (r < 0.85) Mid(rnd.nextInt(Mid.size))
        else Rare(rnd.nextInt(Rare.size)))
      i += 1
    }
    sb.toString
  }

  /** Write docs [from, until) as (doc_id, content) parquet; returns the
    * input text bytes. `mark` may add tokens to a doc (planted delete
    * markers). */
  def writeParquet(spark: SparkSession, from: Long, until: Long, path: String,
                   mark: Long => String = _ => ""): Long = {
    import spark.implicits._
    val self = this
    val ds = spark.range(from, until, 1, Corpus.partitions(spark, until - from)).as[Long]
      .map { id =>
        val t = self.text(id)
        val m = mark(id)
        (id, if (m.isEmpty) t else if (t.isEmpty) m else t + " " + m)
      }.toDF("doc_id", "content")
    ds.write.mode("overwrite").parquet(path)
    spark.read.parquet(path).selectExpr("sum(octet_length(content))").head().getLong(0)
  }
}

object Corpus {
  val Hot: Vector[String] = Vector("import", "def", "return", "val", "class",
    "public", "static", "int", "string", "if")
  val Mid: Vector[String] = Vector.tabulate(80)(i => s"fn$i")
  val Rare: Vector[String] = Vector.tabulate(800)(i => s"id_$i")

  def partitions(spark: SparkSession, n: Long): Int =
    math.max(1, math.min(spark.sparkContext.defaultParallelism * 2, (n / 5000L).toInt + 1))
}

/** The eight interactive query shapes, and the batch query-log shape. */
object Queries {
  val Shapes: Vector[String] =
    Vector("term_hot", "term_rare", "and2", "or_wand", "or_msm2", "must_not", "dismax", "phrase")

  /** A term pool: the whole vocabulary, or a selective slice of it. */
  final case class Pool(hot: Vector[String], mid: Vector[String], rare: Vector[String]) {
    def all: Vector[String] = hot ++ mid ++ rare
  }
  val FullPool: Pool = Pool(Corpus.Hot, Corpus.Mid, Corpus.Rare)

  /** A fixed sample of <= 5% of the vocabulary (2 hot, 12 mid, 30 rare of
    * 890 terms): query logs concentrate on a sliver of the dictionary. */
  def selectivePool(seed: Long): Pool = {
    val rnd = new scala.util.Random(seed + 1)
    Pool(rnd.shuffle(Corpus.Hot).take(2), rnd.shuffle(Corpus.Mid).take(12),
      rnd.shuffle(Corpus.Rare).take(30))
  }

  /** One query of `shape`. Phrase pairs are adjacent distinct tokens of a
    * seeded doc, so every phrase matches at least one doc. */
  def shaped(shape: String, rnd: scala.util.Random, pool: Pool, corpus: Corpus,
             docs: Long): Query = {
    def pick(v: Vector[String], k: Int): Seq[String] = rnd.shuffle(v).take(k)
    def one(v: Vector[String]): String = v(rnd.nextInt(v.size))
    val midRare = pool.mid ++ pool.rare
    shape match {
      case "term_hot" => TermQ(one(pool.hot))
      case "term_rare" => TermQ(one(pool.rare))
      case "and2" => BoolQ(must = pick(pool.mid, 2).map(TermQ(_)))
      case "or_wand" => BoolQ(should = pick(midRare, 2 + rnd.nextInt(3)).map(TermQ(_)))
      case "or_msm2" => BoolQ(should = pick(pool.mid, 3).map(TermQ(_)), minShouldMatch = 2)
      case "must_not" => BoolQ(must = Seq(TermQ(one(pool.mid))), mustNot = Seq(TermQ(one(pool.hot))))
      case "dismax" => DisjMaxQ(pick(midRare, 2 + rnd.nextInt(2)).map(TermQ(_)), 0.3)
      case "phrase" =>
        var pair: Seq[String] = Nil
        while (pair.isEmpty) {
          val toks = corpus.text((rnd.nextLong() & Long.MaxValue) % docs).split(' ')
          if (toks.length >= 2) {
            val i = rnd.nextInt(toks.length - 1)
            if (toks(i) != toks(i + 1)) pair = Seq(toks(i), toks(i + 1))
          }
        }
        PhraseQ(pair)
    }
  }

  /** `perShape` queries of every shape, seeded. */
  def shapeSet(seed: Long, perShape: Int, pool: Pool, corpus: Corpus,
               docs: Long): Seq[(String, Query)] = {
    val rnd = new scala.util.Random(seed * 31 + 7)
    for { s <- Shapes; _ <- 0 until perShape } yield s -> shaped(s, rnd, pool, corpus, docs)
  }

  /** Unique query ids, as `searchMany` needs. */
  def numbered(qs: Seq[(String, Query)]): Seq[(String, Query)] =
    qs.zipWithIndex.map { case ((shape, q), i) => s"$shape-$i" -> q }

  /** Query-log batch in the repo's selective-batch shape: single terms,
    * 2-3 term conjunctions, 2-5 term disjunctions (minShouldMatch 1 or 2),
    * MUST + SHOULD (+ MUST_NOT) and dis-max, drawn from `pool`. */
  def batch(rnd: scala.util.Random, count: Int, pool: Pool): Seq[(String, Query)] = {
    val v = pool.all
    def pick(k: Int): Seq[String] = rnd.shuffle(v).take(k)
    (0 until count).map { i =>
      val q: Query = i % 5 match {
        case 0 => TermQ(v(rnd.nextInt(v.size)))
        case 1 => BoolQ(must = pick(2 + rnd.nextInt(2)).map(TermQ(_)))
        case 2 => BoolQ(should = pick(2 + rnd.nextInt(4)).map(TermQ(_)),
                        minShouldMatch = if (i % 3 == 0) 2 else 1)
        case 3 => BoolQ(must = pick(1).map(TermQ(_)), should = pick(2).map(TermQ(_)),
                        mustNot = if (i % 2 == 0) pick(1).map(TermQ(_)) else Nil)
        case _ => DisjMaxQ(pick(2).map(TermQ(_)), 0.3)
      }
      s"q$i" -> q
    }
  }
}
