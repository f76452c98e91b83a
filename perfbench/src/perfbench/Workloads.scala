package perfbench

import scala.collection.mutable

import graft.index._
import graft.search._

/** What a workload hands the traced run's layer probes. */
final case class Subject(index: BuiltIndex, corpus: Corpus, docs: Long, pool: Queries.Pool,
                         probeBatch: Seq[(String, Query)], builds: Builds, mergeSpans: Seq[Span])

/** The set-up's index builds of one workload: their times, and the last
  * build's phases, Spark span and input text size. */
final class Builds(r: Run, cfg: BuildConfig) {
  private val secs = mutable.ArrayBuffer.empty[Double]
  var phases = Map.empty[String, Double]
  var span: Option[Span] = None
  var inputBytes = 0L

  def apply(corpusPath: String, dir: String): BuiltIndex = {
    val (idx, ms) = r.timeMs(r.trace("index.build")(
      IndexBuilder.build(r.spark, r.spark.read.parquet(corpusPath), "doc_id", "content", dir, cfg)))
    secs += ms / 1000.0
    phases = IndexBuilder.lastPhases.toMap
    span = r.trace.named("index.build").lastOption
    idx
  }

  /** Build throughput of the builds after the first: the first build in a
    * JVM is cold and counts in setup_s only. */
  def docsPerS(docs: Long): Double = docs / Stats.median(secs.drop(1).toSeq)
}

object Workloads {
  val Names: Seq[String] = Seq("interactive", "batch", "ingest")

  def run(r: Run): Subject = r.workload match {
    case "interactive" => Interactive.run(r)
    case "batch" => Batch.run(r)
    case "ingest" => Ingest.run(r)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def hits(a: Array[ScoredDoc]): Seq[(Long, Double)] = a.toSeq.map(h => h.docId -> h.score)

  /** A few queries of every shape through both search paths, untimed. */
  def warmUp(r: Run, searcher: IndexSearcher, qs: Seq[(String, Query)]): Unit =
    qs.foreach { case (s, q) =>
      r.attempt(s"warm-up $s") {
        searcher.search(r.spark, q, 10).collect()
        searcher.searchLocal(r.spark, q, 10)
      }
    }

  def indexBytesPerInputByte(r: Run, dir: String, inputBytes: Long): Unit = {
    val bytes = IndexIO.dirBytes(r.spark, dir)
    r.e2e("index_bytes_per_input_byte", bytes.toDouble / inputBytes, "ratio")
    r.report(s"index_bytes=$bytes input_text_bytes=$inputBytes")
  }
}

/** One client sends single top-10 queries of eight shapes over a 5 000-doc
  * positions index, each through `search(...).collect()` and
  * `searchLocal`, and checks both against the BM25 oracle. */
object Interactive {
  val Docs = 5000L
  val WarmPerShape = 4
  val Cfg = BuildConfig(numSegments = 8, chunkDocs = 512, storePositions = true)

  def run(r: Run): Subject = {
    val spark = r.spark
    val corpus = new Corpus(r.seed)
    val pool = Queries.FullPool
    val warm = Queries.shapeSet(r.seed + 99, WarmPerShape, pool, corpus, Docs)
    val builds = new Builds(r, Cfg)
    val searcher = r.setup(3) { i =>
      val path = r.dir(s"interactive-corpus-$i")
      builds.inputBytes = corpus.writeParquet(spark, 0, Docs, path)
      builds(path, r.dir(s"interactive-index-$i"))
    } { built =>
      // the whole dictionary's term statistics fit the searcher's memo:
      // fill it, so every timed query runs with its statistics cached
      val searcher = new IndexSearcher(built.last)
      searcher.termStats(spark, pool.all.toSet)
      Workloads.warmUp(r, searcher, warm)
      searcher
    }
    val oracle = new Oracle((0L until Docs).map(corpus.text).toArray)
    val rnd = new scala.util.Random(r.seed)
    val searchMs = mutable.ArrayBuffer.empty[Double]
    val localMs = mutable.ArrayBuffer.empty[Double]
    val perShape = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
    val opMs = r.loop { i =>
      val shape = Queries.Shapes(i % Queries.Shapes.size)
      val q = Queries.shaped(shape, rnd, pool, corpus, Docs)
      r.attempt(s"query $shape") {
        val (s, sMs) = r.timeMs(r.trace("spark.search")(searcher.search(spark, q, 10).collect()))
        val (l, lMs) = r.timeMs(r.trace("spark.local")(searcher.searchLocal(spark, q, 10)))
        val ranked = oracle.ranked(q)
        r.check(s"oracle search $shape", Oracle.agrees(Workloads.hits(s), ranked, 10), s"$q: ${s.toSeq}")
        r.check(s"oracle searchLocal $shape", Oracle.agrees(Workloads.hits(l), ranked, 10), s"$q: ${l.toSeq}")
        r.check(s"search == searchLocal $shape", s.toSeq == l.toSeq, s"$q")
        searchMs += sMs
        localMs += lMs
        perShape.getOrElseUpdate(shape, mutable.ArrayBuffer.empty) += sMs
        sMs + lMs
      }.getOrElse(Double.NaN)
    }
    r.e2e("op_p50_ms", Stats.median(opMs), "ms")
    r.e2e("throughput_per_s", opMs.size / (opMs.sum / 1000.0), "1/s")
    r.e2e("build_docs_per_s", builds.docsPerS(Docs), "1/s")
    Workloads.indexBytesPerInputByte(r, searcher.index.indexDir, builds.inputBytes)
    r.reportTiming("search_ms", searchMs.toSeq)
    r.reportTiming("local_ms", localMs.toSeq)
    perShape.toSeq.sortBy(_._1).foreach { case (s, xs) => r.reportTiming(s"search_ms[$s]", xs.toSeq) }
    Subject(searcher.index, corpus, Docs, pool,
      Queries.numbered(Queries.shapeSet(r.seed, 4, pool, corpus, Docs)), builds, Nil)
  }
}

/** One caller runs `searchMany` over seeded query-log batches drawn from a
  * <= 5% vocabulary pool. One sampled query of each of the first `Checked`
  * batches is re-run through `search` and an exhaustive `scoreAll` top-10,
  * so pruning is checked against no pruning. */
object Batch {
  val Docs = 100000L
  val BatchSize = 1000
  val WarmCalls = 2
  val Checked = 3
  val Cfg = BuildConfig(numSegments = 8, chunkDocs = 2048, storePositions = true)

  def run(r: Run): Subject = {
    val spark = r.spark
    import spark.implicits._
    val corpus = new Corpus(r.seed)
    val pool = Queries.selectivePool(r.seed)
    val builds = new Builds(r, Cfg)
    val path = r.dir("batch-corpus")
    val searcher = r.setup(3) { i =>
      builds.inputBytes = corpus.writeParquet(spark, 0, Docs, path)
      builds(path, r.dir(s"batch-index-$i"))
    } { built =>
      val searcher = new IndexSearcher(built.last)
      (1 to WarmCalls).foreach { j =>
        searcher.searchMany(spark, Queries.batch(new scala.util.Random(r.seed - j), BatchSize, pool), 10)
          .collect()
      }
      searcher
    }
    var queries = 0L
    var first: Seq[(String, Query)] = Nil
    // one sampled query of every call, with its searchMany hits; checked
    // after the timed loop so that checks do not eat its calls
    val sampled = mutable.ArrayBuffer.empty[(String, Query, Seq[(Long, Double)])]
    val opMs = r.loop { i =>
      val rnd = new scala.util.Random(r.seed * 1000003L + i)
      val qs = Queries.batch(rnd, BatchSize, pool)
      if (i == 0) first = qs
      r.attempt("searchMany") {
        val (hits, ms) = r.timeMs(r.trace("spark.searchMany")(searcher.searchMany(spark, qs, 10).collect()))
        val (id, q) = qs(rnd.nextInt(qs.size))
        sampled += ((id, q, hits.filter(_.queryId == id).toSeq
          .sortBy(h => (-h.score, h.docId)).map(h => h.docId -> h.score)))
        queries += qs.size
        ms
      }.getOrElse(Double.NaN)
    }
    val searchMs = sampled.take(Checked).flatMap { case (id, q, many) =>
      r.attempt(s"search $id") {
        val (s, sMs) = r.timeMs(r.trace("spark.search")(searcher.search(spark, q, 10).collect()))
        val all = searcher.scoreAll(spark, q).orderBy($"score".desc, $"docId".asc).limit(10).collect()
        r.check(s"searchMany == search $id", many == Workloads.hits(s), s"$q")
        r.check(s"searchMany == scoreAll top-10 $id", many == Workloads.hits(all), s"$q")
        sMs
      }
    }
    r.e2e("op_p50_ms", Stats.median(opMs), "ms")
    r.e2e("throughput_per_s", queries / (opMs.sum / 1000.0), "1/s")
    r.e2e("build_docs_per_s", builds.docsPerS(Docs), "1/s")
    Workloads.indexBytesPerInputByte(r, searcher.index.indexDir, builds.inputBytes)
    r.reportTiming("searchMany_ms", opMs)
    r.report(f"batch_qps=${queries / (opMs.sum / 1000.0)}%.1f 1/s batch=$BatchSize queries docs=$Docs")
    r.reportTiming("search_ms", searchMs.toSeq)
    Subject(searcher.index, corpus, Docs, pool, first, builds, Nil)
  }
}

/** One writer builds a base index, then repeats rounds of: two commit
  * cycles (append a micro-batch, delete the docs of one planted rare marker
  * term, reopen and search), then a tiered merge of the micro-batch
  * generations. Every read follows a commit. */
object Ingest {
  val Base = 20000L
  val Micro = 1000L
  val PerMarker = 4
  val Markers: Long = Base / PerMarker
  val MergeEvery = 2
  val Cfg = BuildConfig(numSegments = 8, chunkDocs = 1024, storePositions = true)

  /** Base doc `d` carries marker `del_(d % Markers)`: each marker is in
    * exactly PerMarker live docs until its delete. */
  def marker(d: Long): String = if (d < Base) s"del_${d % Markers}" else ""

  def run(r: Run): Subject = {
    val spark = r.spark
    val corpus = new Corpus(r.seed)
    val builds = new Builds(r, Cfg)
    val basePath = r.dir("ingest-corpus")
    val probes = Queries.shapeSet(r.seed + 5, 1, Queries.FullPool, corpus, Base).filter(_._1 != "phrase")
    var index = r.setup(3) { i =>
      builds.inputBytes = corpus.writeParquet(spark, 0, Base, basePath, marker)
      builds(basePath, r.dir(s"ingest-index-$i"))
    } { built =>
      // an append, a delete and a merge on a spare build, then reads on the
      // timed one
      val spare = built.head
      val from = spare.nextDocBase
      corpus.writeParquet(spark, from, from + Micro, r.dir("ingest-warm"))
      IndexBuilder.append(spark, spark.read.parquet(r.dir("ingest-warm")), "doc_id", "content",
        spare.indexDir, Cfg)
      IndexOps.deleteByTerm(spark, spare.indexDir, s"del_${Markers - 1}")
      IndexOps.maybeMerge(spark, spare.indexDir, IndexOps.MergePolicy(Long.MaxValue, minMerge = 2))
      Workloads.warmUp(r, new IndexSearcher(built.last), probes.take(1))
      built.last
    }
    val dir = index.indexDir
    val policy = IndexOps.MergePolicy(minMerge = 2, smallGenBytes =
      IndexIO.dirBytes(spark, s"$dir/postings/gen=${index.manifest.generation}") / 2)
    var live = Base
    var appended = 0L
    var appendedBytes = 0L
    val appendMs, deleteMs, mergeS, reopenSearchMs = mutable.ArrayBuffer.empty[Double]
    val mergeProbes = probes.filter(p => p._1 == "and2" || p._1 == "or_wand")
    var searcher = new IndexSearcher(index)

    /** One commit cycle; returns its timed ms (append + delete + reopen and
      * first search). */
    def cycle(i: Int): Double = {
      val from = index.nextDocBase
      val batchPath = r.dir(s"ingest-batch-$i")
      appendedBytes += corpus.writeParquet(spark, from, from + Micro, batchPath)
      val (_, aMs) = r.timeMs(r.trace("index.append")(IndexBuilder.append(spark,
        spark.read.parquet(batchPath), "doc_id", "content", dir, Cfg)))
      appended += Micro
      live += Micro
      val term = s"del_$i"
      val (_, dMs) = r.timeMs(r.trace("index.delete")(IndexOps.deleteByTerm(spark, dir, term)))
      live -= PerMarker
      val (_, rsMs) = r.timeMs {
        searcher = r.trace("index.reopen")(
          new IndexSearcher(new BuiltIndex(dir, IndexIO.readManifest(spark, dir).get)))
        r.trace("spark.search")(searcher.search(spark, probes(i % probes.size)._2, 10).collect())
      }
      index = searcher.index
      r.check("count(MatchAll) == generated - deleted", searcher.count(spark, MatchAllQ) == live,
        s"cycle $i")
      r.check("deleted term has no hits", searcher.search(spark, TermQ(term), 10).collect().isEmpty,
        term)
      appendMs += aMs
      deleteMs += dMs
      reopenSearchMs += rsMs
      aMs + dMs + rsMs
    }

    // one op = one round: MergeEvery commit cycles, then a tiered merge
    val opMs = r.loop { round =>
      r.attempt("round") {
        val ms = (0 until MergeEvery).map(c => cycle(round * MergeEvery + c)).sum
        val before = mergeProbes.map(p => Workloads.hits(searcher.search(spark, p._2, 10).collect()))
        val (_, mMs) = r.timeMs(r.trace("index.merge")(IndexOps.maybeMerge(spark, dir, policy)))
        searcher = new IndexSearcher(new BuiltIndex(dir, IndexIO.readManifest(spark, dir).get))
        index = searcher.index
        val after = mergeProbes.map(p => Workloads.hits(searcher.search(spark, p._2, 10).collect()))
        r.check("probe top-10s unchanged by merge", before == after, s"round $round")
        mergeS += mMs / 1000.0
        ms + mMs
      }.getOrElse(Double.NaN)
    }
    // a run holds few rounds, so the op is one commit cycle costed from the
    // medians of its steps, plus its share of a merge
    r.e2e("op_p50_ms", Stats.median(appendMs.toSeq) + Stats.median(deleteMs.toSeq) +
      Stats.median(reopenSearchMs.toSeq) + 1000.0 * Stats.median(mergeS.toSeq) / MergeEvery, "ms")
    r.e2e("throughput_per_s", appended / (opMs.sum / 1000.0), "1/s")
    r.e2e("build_docs_per_s", builds.docsPerS(Base), "1/s")
    Workloads.indexBytesPerInputByte(r, dir, builds.inputBytes + appendedBytes)
    r.reportTiming("append_ms", appendMs.toSeq)
    r.reportTiming("delete_ms", deleteMs.toSeq)
    r.reportTiming("merge_s", mergeS.toSeq, "s")
    r.reportTiming("reopen_search_ms", reopenSearchMs.toSeq)
    r.report(s"rounds=${opMs.size} cycles=${appendMs.size} merges=${mergeS.size} " +
      s"appended_docs=$appended live_docs=$live")
    Subject(index, corpus, Base, Queries.FullPool,
      Queries.numbered(Queries.shapeSet(r.seed, 2, Queries.FullPool, corpus, Base)),
      builds, r.trace.named("index.merge"))
  }
}
