package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions.col

import graft.analysis.Analyzer
import graft.bm25.Bm25
import graft.codec.{ForBlock, MonotonicBlock}
import graft.index._
import graft.search._

/** Per-layer metrics of the traced run. Each layer is measured from
  * outside, by timing calls into its public functions on the workload's own
  * corpus, index and queries; Spark work is attributed through the
  * tracer's listener. */
object Probes {
  private val MinProbeNs = 300L * 1000 * 1000

  def run(r: Run, s: Subject): Unit = {
    analysis(r, s)
    val shapes = Queries.shapeSet(r.seed + 17, 2, s.pool, s.corpus, s.docs)
    val rows = postingRows(r, s.index, (s.probeBatch ++ shapes).flatMap(_._2.terms).toSet)
    codec(r, rows)
    val kernelUs = kernel(r, s, rows, shapes)
    spark(r, s, shapes, kernelUs)
    batch(r, s, rows)
    index(r, s)
  }

  /** Repeat `body` (returning work done) until MinProbeNs has passed;
    * returns work per second. */
  private def rate(body: => Long): Double = {
    val t0 = System.nanoTime()
    var work = 0L
    while (System.nanoTime() - t0 < MinProbeNs) work += body
    work / ((System.nanoTime() - t0) / 1e9)
  }

  private def analysis(r: Run, s: Subject): Unit = {
    val texts = (0L until math.min(s.docs, 20000L)).map(s.corpus.text).toArray
    val a = Analyzer.standard
    a.termFreqCounts(texts(0))
    r.layer("analysis.tokens_per_s", rate(texts.iterator.map(t => a.termFreqCounts(t)._2.toLong).sum),
      "1/s")
  }

  final case class Rows(bySeg: Map[Int, Array[TermPostings]], deleted: Map[Int, Array[Int]],
                        df: Map[String, Long])

  private def postingRows(r: Run, index: BuiltIndex, terms: Set[String]): Rows = {
    val spark = r.spark
    import spark.implicits._
    val rows = index.postings(spark).where(col("term").isin(terms.toSeq: _*)).as[TermPostings].collect()
    val dels = index.deleteRows(spark).collect().groupBy(_.segmentId)
      .map { case (sid, ds) => sid -> ds.map(_.localDoc).sorted }
    val df = rows.groupBy(_.term).map { case (t, tps) => t -> tps.map(_.docFreq.toLong).sum }
    Rows(rows.groupBy(_.segmentId), dels, df)
  }

  private def codec(r: Run, rows: Rows): Unit = {
    val blocks = rows.bySeg.valuesIterator.flatten.flatMap(_.blocks).toArray
    val postings = blocks.map(_.count.toLong).sum
    val bytes = blocks.map(b => b.docBytes.length + b.freqBytes.length + b.norms.length +
      Option(b.posBytes).map(_.length).getOrElse(0)).sum
    r.layer("codec.decode_postings_per_s", rate {
      blocks.foreach { b => MonotonicBlock.decode(b.docBytes); ForBlock.decode(b.freqBytes) }
      postings
    }, "1/s")
    r.layer("codec.bytes_per_posting", bytes.toDouble / postings, "B")
  }

  /** The segment kernels of one query over driver-held posting rows, the
    * way one executor task runs them: fresh readers, live docs applied. */
  private def context(s: Subject, rows: Rows, terms: Set[String]): QueryContext = {
    val n = s.index.stats.fieldDocCount
    QueryContext(terms.iterator.flatMap(t => rows.df.get(t).map(t -> Bm25.idf(_, n))).toMap,
      Bm25.buildCacheFor(s.index.manifest.normMode, s.index.stats.avgdl), n)
  }

  private def kernelTopK(s: Subject, rows: Rows, q: Query): Array[ScoredDoc] = {
    val ctx = context(s, rows, q.terms)
    s.index.manifest.segments.iterator.flatMap { seg =>
      val post = rows.bySeg.getOrElse(seg.segmentId, Array.empty[TermPostings])
        .iterator.filter(tp => q.terms(tp.term)).map(tp => tp.term -> new TermReader(tp, ctx.cache)).toMap
      SegmentKernel.topK(q, post, seg, ctx, 10, None,
        rows.deleted.getOrElse(seg.segmentId, Array.emptyIntArray))
    }.toArray.sortBy(h => (-h.score, h.docId)).take(10)
  }

  private def kernelUs(r: Run, s: Subject, rows: Rows, q: Query): Double =
    Stats.median((0 until 5).map(_ => r.timeMs(kernelTopK(s, rows, q))._2 * 1000.0))

  /** kernel.<shape>_us: median kernel-only time per query of each shape. */
  private def kernel(r: Run, s: Subject, rows: Rows, shapes: Seq[(String, Query)]): Map[String, Double] = {
    val searcher = new IndexSearcher(s.index)
    val qs = shapes.map { case (sh, q) => sh -> searcher.rewrite(r.spark, q) }
    qs.foreach { case (_, q) => kernelTopK(s, rows, q) } // JIT warm-up
    val us = qs.groupBy(_._1).map { case (sh, xs) =>
      sh -> Stats.median(xs.map { case (_, q) => kernelUs(r, s, rows, q) })
    }
    Queries.Shapes.foreach(sh => r.layer(s"kernel.${sh}_us", us(sh), "us"))
    us
  }

  private def perQuery(r: Run, prefix: String, spans: Seq[Span]): Unit = {
    val ws = spans.map(sp => sp -> r.trace.work(sp))
    def mean(f: ((Span, SparkWork)) => Double): Double = ws.map(f).sum / ws.size
    r.layer(s"spark.$prefix.jobs_per_query", mean(_._2.jobs), "count")
    r.layer(s"spark.$prefix.stages_per_query", mean(_._2.stages), "count")
    r.layer(s"spark.$prefix.tasks_per_query", mean(_._2.tasks), "count")
    r.layer(s"spark.$prefix.task_ms_per_query", mean(_._2.runMs), "ms")
    r.layer(s"spark.$prefix.scan_bytes_per_query", mean(_._2.scanBytes), "B")
    r.layer(s"spark.$prefix.shuffle_bytes_per_query", mean(_._2.shuffleReadBytes), "B")
    r.layer(s"spark.$prefix.driver_ms_per_query", mean { case (sp, w) => r.trace.driverMs(sp, w) }, "ms")
  }

  /** Per-query Spark work of `search` and `searchLocal`, each on a fresh
    * searcher whose term statistics were fetched first (`spark.stats_ms`,
    * cold); the kernel share of each shape's `search` latency; and the
    * tracing overhead, from the same protocol run untraced. */
  private def spark(r: Run, s: Subject, shapes: Seq[(String, Query)], kernelUs: Map[String, Double]): Unit = {
    val sp = r.spark
    val searchSpans = mutable.ArrayBuffer.empty[(String, Span)]
    val localSpans = mutable.ArrayBuffer.empty[Span]
    val statsMs, plainMs = mutable.ArrayBuffer.empty[Double]
    def plain(q: Query): Unit = {
      r.trace.on = false
      try {
        val searcher = new IndexSearcher(s.index)
        searcher.termStats(sp, searcher.rewrite(sp, q).terms)
        plainMs += r.timeMs(searcher.search(sp, q, 10).collect())._2
      } finally r.trace.on = r.traced
    }
    shapes.zipWithIndex.foreach { case ((shape, q), j) =>
      r.attempt(s"probe $shape") {
        if (j % 2 == 0) plain(q)
        val searcher = new IndexSearcher(s.index)
        statsMs += r.timeMs(r.trace("probe.stats")(searcher.termStats(sp, searcher.rewrite(sp, q).terms)))._2
        val hs = r.trace("probe.search")(searcher.search(sp, q, 10).collect())
        searchSpans += shape -> r.trace.named("probe.search").last
        val hl = r.trace("probe.local")(searcher.searchLocal(sp, q, 10))
        localSpans += r.trace.named("probe.local").last
        r.check(s"probe search == searchLocal $shape", hs.toSeq == hl.toSeq, s"$q")
        if (j % 2 == 1) plain(q)
      }
    }
    perQuery(r, "search", searchSpans.map(_._2).toSeq)
    perQuery(r, "local", localSpans.toSeq)
    r.layer("spark.stats_ms", Stats.median(statsMs.toSeq), "ms")
    r.layer("trace.overhead_pct",
      100.0 * (Stats.median(searchSpans.map(_._2.ms).toSeq) / Stats.median(plainMs.toSeq) - 1.0), "%")
    searchSpans.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (shape, xs) =>
      val e2eMs = Stats.median(xs.map(_._2.ms).toSeq)
      r.layer(s"split.$shape.kernel_pct", 100.0 * kernelUs(shape) / 1000.0 / e2eMs, "%")
      r.report(f"split $shape: kernel ${kernelUs(shape)}%.1f us of search $e2eMs%.1f ms " +
        f"(${100.0 * kernelUs(shape) / 1000.0 / e2eMs}%.3f%%)")
    }
  }

  /** One `searchMany` over the probe batch: tasks and shuffle bytes, and
    * the kernel-only share of its executor run time. */
  private def batch(r: Run, s: Subject, rows: Rows): Unit = {
    val searcher = new IndexSearcher(s.index)
    val qs = s.probeBatch.map { case (id, q) => id -> searcher.rewrite(r.spark, q) }
    val many = r.trace("probe.searchMany")(searcher.searchMany(r.spark, qs, 10).collect())
    val w = r.trace.work(r.trace.named("probe.searchMany").last)
    // as one searchMany task does: one set of readers per segment, shared
    // by every query of the batch
    val ctx = context(s, rows, qs.flatMap(_._2.terms).toSet)
    val kernelMs = r.timeMs {
      s.index.manifest.segments.foreach { seg =>
        val post = rows.bySeg.getOrElse(seg.segmentId, Array.empty[TermPostings])
          .map(tp => tp.term -> new TermReader(tp, ctx.cache)).toMap
        val dels = rows.deleted.getOrElse(seg.segmentId, Array.emptyIntArray)
        qs.foreach { case (_, q) => SegmentKernel.topK(q, post, seg, ctx, 10, None, dels).size }
      }
    }._2
    val byQuery = many.groupBy(_.queryId)
    qs.take(20).foreach { case (id, q) =>
      val viaMany = byQuery.getOrElse(id, Array.empty).toSeq.sortBy(h => (-h.score, h.docId))
        .map(h => h.docId -> h.score)
      r.check(s"kernel == searchMany $id", Workloads.hits(kernelTopK(s, rows, q)) == viaMany, s"$q")
    }
    r.layer("spark.tasks_per_batch", w.tasks, "count")
    r.layer("spark.shuffle_bytes_per_batch", w.shuffleReadBytes, "B")
    r.layer("kernel.share_of_task_time", kernelMs / w.runMs, "ratio")
    r.layer("kernel.postings_per_query",
      qs.map { case (_, q) => q.terms.iterator.map(t => rows.df.getOrElse(t, 0L)).sum }.sum.toDouble / qs.size,
      "count")
  }

  private def index(r: Run, s: Subject): Unit = {
    val sp = r.spark
    s.builds.phases.foreach { case (name, secs) =>
      r.layer(s"index.build_phase.${name.replace('+', '_')}_s", secs, "s")
    }
    val bw = s.builds.span.map(r.trace.work).getOrElse(new SparkWork)
    r.layer("index.build_shuffle_bytes_per_doc", bw.shuffleWriteBytes.toDouble / s.docs, "B")
    r.layer("index.bytes_written_per_input_byte", bw.outputBytes.toDouble / s.builds.inputBytes, "ratio")
    val dir = s.index.indexDir
    val reopenMs = (0 until 5).map { _ =>
      r.timeMs(new IndexSearcher(new BuiltIndex(dir, IndexIO.readManifest(sp, dir).get)))._2
    }
    r.layer("index.reopen_ms", Stats.median(reopenMs), "ms")
    r.layer("index.live_generations",
      new BuiltIndex(dir, IndexIO.readManifest(sp, dir).get).liveGens.size, "count")
    val merges = if (s.mergeSpans.nonEmpty) s.mergeSpans else sideMerge(r, s)
    r.layer("index.merge_bytes_rewritten",
      merges.map(m => r.trace.work(m).outputBytes.toDouble).sum / merges.size, "B")
  }

  /** A workload without merges of its own: a side index of 4 096 of its
    * docs plus a 2 048-doc append, merged into one generation. */
  private def sideMerge(r: Run, s: Subject): Seq[Span] = {
    val sp = r.spark
    val cfg = BuildConfig(numSegments = 4, chunkDocs = 512, storePositions = true)
    val dir = r.dir("side-index")
    s.corpus.writeParquet(sp, 0, 4096, r.dir("side-corpus"))
    val idx = IndexBuilder.build(sp, sp.read.parquet(r.dir("side-corpus")), "doc_id", "content", dir, cfg)
    val from = idx.nextDocBase
    s.corpus.writeParquet(sp, from, from + 2048, r.dir("side-append"))
    IndexBuilder.append(sp, sp.read.parquet(r.dir("side-append")), "doc_id", "content", dir, cfg)
    r.trace("index.merge")(IndexOps.maybeMerge(sp, dir, IndexOps.MergePolicy(Long.MaxValue, 2)))
    r.trace.named("index.merge")
  }
}
