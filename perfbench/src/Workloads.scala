package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{Checkpoint, CrawlConfig, CrawlEngine}

/** One pass of a workload: `ops` operations attempted (URLs or operator
  * calls); when `ok` is false every one of them counts as failed. */
final case class Pass(wallS: Double, cpuS: Double, items: Long, ops: Long, ok: Boolean,
    error: String, checksum: String, extra: Map[String, Any])

object Clock {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuS: Double = os.getProcessCpuTime / 1e9
  def nowS: Double = System.nanoTime() / 1e9
}

/** Order-sensitive 64-bit checksum (splitmix over a running state). */
final class Checksum {
  private var h = 0x243F6A8885A308D3L
  def add(x: Long): Unit = h = graft.fixtures.SiteGen.mix(h, x)
  def add(s: String): Unit = { add(s.length.toLong); s.foreach(c => add(c.toLong)) }
  def hex: String = java.lang.Long.toHexString(h)
}

abstract class Workload(val name: String) {
  /** Input sizes for the run record. */
  def inputs: Map[String, Any]
  /** One repetition of the repeatable set-up: generate the inputs and load
    * them. Returns (generation seconds, load seconds). */
  def setUp(): (Double, Double)
  def pass(): Pass
  /** Single-layer measurements taken once, after the measured phase, in a
    * traced run. */
  def probes(): Map[String, Any]
}

object Workload {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.deleteIfExists(x): Unit)
      finally s.close()
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  /** Build a workload by name. Sizes are fixed here; the seed changes the
    * generated content, never the shape. */
  def apply(name: String, spark: SparkSession, tracer: Tracer, seed: Long,
      workRoot: Path, nproc: Int): Workload = name match {
    case "crawl_extract" =>
      new CrawlWorkload(name, spark, tracer, workRoot, nproc,
        WideSite(seed, hosts = 64, perHost = 62, branching = 16, paragraphs = 60),
        CrawlConfig(jobId = "bench", seeds = Nil, strategy = "all", maxDepth = 1000, limit = 0,
          formats = graft.core.Extractor.Formats(html = false)))
    case "crawl_frontier" =>
      new CrawlWorkload(name, spark, tracer, workRoot, nproc,
        WideSite(seed, hosts = 64, perHost = 1400, branching = 16, paragraphs = 2),
        CrawlConfig(jobId = "bench", seeds = Nil, strategy = "all", maxDepth = 1000, limit = 0,
          formats = graft.core.Extractor.Formats(html = false)))
    case "crawl_polite" =>
      new CrawlWorkload(name, spark, tracer, workRoot, nproc,
        DeepSite(seed, hosts = 8, pages = 6000),
        CrawlConfig(jobId = "bench", seeds = Nil, strategy = "all", maxDepth = 1000, limit = 0,
          respectRobots = true, hostBudgetPerStep = 256, politenessWaves = 1,
          formats = graft.core.Extractor.Formats(html = false)))
    case "curate_iterative" =>
      new CurateWorkload(spark, tracer, seed, graphPages = 4000, ccDocs = 4000,
        bpeDocs = 2000, bpeVocab = 1000)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** A crawl of a generated site through `CrawlEngine` on default settings. */
final class CrawlWorkload(name: String, spark: SparkSession, tracer: Tracer,
    workRoot: Path, nproc: Int, site: Site, cfg0: CrawlConfig) extends Workload(name) {
  import spark.implicits._

  private val cfg = cfg0.copy(seeds = site.seeds.map(site.url))
  private val expected: Set[String] = site.reachable.map(site.url)
  private val sample: IndexedSeq[(String, String)] = {
    val n = math.min(256, site.total)
    (0 until n).map { i => val idx = (i.toLong * site.total / n).toInt; (site.url(idx), site.html(idx)) }
  }
  private var engine: CrawlEngine = _
  private var reference: String = _
  private val work = workRoot.resolve(s"crawl-$name")
  private var lastFetched: Seq[String] = Nil

  def inputs: Map[String, Any] = Map(
    "pages" -> site.total,
    "reachable_pages" -> expected.size,
    "html_bytes_per_page" -> sample.map(_._2.getBytes("UTF-8").length.toLong).sum.toDouble / sample.size,
    "html_bytes_sample" -> sample.size,
    "bfs_depth" -> site.bfsDepth,
    "site" -> site.toString,
    "config" -> Map("seeds" -> cfg.seeds.size, "strategy" -> cfg.strategy,
      "maxDepth" -> cfg.maxDepth, "limit" -> cfg.limit,
      "hostBudgetPerStep" -> cfg.hostBudgetPerStep, "politenessWaves" -> cfg.politenessWaves,
      "respectRobots" -> cfg.respectRobots, "robots_hosts" -> site.robots.size,
      "formats" -> cfg.formats.toString))

  private val opsPerPass = expected.size.toLong

  def setUp(): (Double, Double) = {
    spark.catalog.clearCache()
    val t0 = Clock.nowS
    val pages = tracer.span("generate-corpus", "bench") { site.corpus(spark) }
    engine = new CrawlEngine(spark, pages, work.toString, robotsBodies = site.robots)
    val t1 = Clock.nowS
    tracer.span("CrawlEngine.prepare") { engine.prepare() }
    (t1 - t0, Clock.nowS - t1)
  }

  def pass(): Pass = {
    val logBefore = engine.compactionLog.size
    try {
      val c0 = Clock.cpuS
      val t0 = Clock.nowS
      val report = tracer.span("CrawlEngine.run") { engine.run(Seq(cfg)) }
      val wall = Clock.nowS - t0
      val cpu = Clock.cpuS - c0
      val runSpan = tracer.lastIdNamed("CrawlEngine.run")

      val ckpt = new Checkpoint(work.toString)
      val manifests = tracer.span("Checkpoint.readManifest") {
        (0 until report.generations).flatMap(g => ckpt.readManifest(g).map(g -> _))
      }
      val gens = manifests.map { case (g, m) =>
        val f = work.resolve("manifest").resolve(s"gen=$g.json")
        val commit = if (Files.exists(f)) Files.getLastModifiedTime(f).toMillis else -1L
        if (tracer.enabled && commit > 0) {
          val end = tracer.epochToMs(commit)
          tracer.record(s"generation $g", "generation", runSpan, end - m.wallMillis, end,
            "batchCount" -> m.batchCount, "freshCount" -> m.freshCount)
        }
        Map("gen" -> g, "batchCount" -> m.batchCount, "freshCount" -> m.freshCount,
          "wallMillis" -> m.wallMillis, "fetchedPages" -> m.fetchedPages)
      }

      val rows = tracer.span("CrawlEngine.results") {
        engine.results().select($"seq", $"urlNorm", $"depth", $"generation",
          size($"links").as("nlinks")).as[(Long, String, Int, Int, Int)].collect().sortBy(_._1)
      }
      val seen = tracer.span("CrawlEngine.seenSet") {
        engine.seenSet().select($"urlNorm").as[String].collect()
      }
      val log = tracer.span("CrawlEngine.compactionLog") { engine.compactionLog.drop(logBefore).toSeq }
      val bytes = Seq("results", "frontier", "seen", "bloom").map(d => d -> Workload.treeBytes(work.resolve(d))).toMap

      val fetched = rows.map(_._2)
      val ck = new Checksum
      rows.foreach { case (s, u, d, g, _) => ck.add(s); ck.add(u); ck.add(d.toLong); ck.add(g.toLong) }
      val problems = Seq(
        (fetched.toSet != expected) ->
          s"fetched set differs from the reachable set (${fetched.toSet.size} vs ${expected.size})",
        (fetched.size != fetched.toSet.size) -> "a URL was fetched twice",
        (rows.map(_._1).toSeq != (0L until rows.length.toLong)) -> "seq does not run 0..n-1",
        (seen.toSet != fetched.toSet || seen.length != seen.toSet.size) -> "seenSet differs from the fetched set",
        (report.totalFetched != expected.size) -> s"report counts ${report.totalFetched} fetched",
        (reference != null && reference != ck.hex) -> "trace checksum differs from the first crawl")
        .collect { case (true, msg) => msg }
      if (reference == null) reference = ck.hex
      lastFetched = fetched.toSeq
      Pass(wall, cpu, report.totalFetched, opsPerPass, problems.isEmpty, problems.mkString("; "), ck.hex,
        Map("generations" -> report.generations, "manifests" -> gens,
          "link_count" -> rows.map(_._5.toLong).sum, "seen_keys" -> seen.length,
          "compaction_writes" -> log.size, "compaction_rows" -> log.map(_._2).sum,
          "bytes" -> bytes))
    } catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        Pass(Double.NaN, Double.NaN, 0, opsPerPass, ok = false, e.toString, "", Map.empty)
    } finally Workload.deleteTree(work)
  }

  def probes(): Map[String, Any] = Map("core" -> kernel(), "frontier" -> bloomProbe())

  /** The extraction kernel and its steps on one thread over the sample, then
    * the whole kernel on `nproc` threads. */
  private def kernel(): Map[String, Any] = tracer.span("kernel-probe", "bench") {
    import graft.core.{Cleaner, Extractor, Html, Markdown, TextExtract}
    val formats = cfg.formats
    def perPage(label: String)(f: ((String, String)) => Any): Double = tracer.span(label) {
      var reps = 0
      val t0 = Clock.nowS
      while (reps < 2 || Clock.nowS - t0 < 0.3) { sample.foreach(f); reps += 1 }
      (Clock.nowS - t0) * 1000 / (reps * sample.size)
    }
    sample.foreach { case (u, h) => Extractor.extract(u, h, formats) } // warm-up
    val parsed = sample.map { case (u, h) => (u, Html.parse(h)) }
    val cleaned = parsed.map { case (u, d) => Cleaner.transformHtml(d, u) }
    val out = Map(
      "extract_ms_per_page" -> perPage("Extractor.extract") { case (u, h) => Extractor.extract(u, h, formats) },
      "parse_ms_per_page" -> perPage("Html.parse") { case (_, h) => Html.parse(h) },
      "clean_ms_per_page" -> {
        var i = 0
        perPage("Cleaner.transformHtml") { _ =>
          val (u, d) = parsed(i % parsed.size); i += 1; Cleaner.transformHtml(d, u)
        }
      },
      "markdown_ms_per_page" -> {
        var i = 0
        perPage("Markdown.fromHtml") { _ => val c = cleaned(i % cleaned.size); i += 1; Markdown.fromHtml(c) }
      },
      "text_ms_per_page" -> perPage("TextExtract.fromHtml") { case (_, h) => TextExtract.fromHtml(h) })
    // median of three 1 s windows: a single 0.5 s window read 650 to 930
    // pages/s across runs on 4 vCPUs, as GC pauses and host noise fell in it
    def window(): Double = {
      val done = new java.util.concurrent.atomic.AtomicLong(0)
      val t0 = Clock.nowS
      val threads = (0 until nproc).map { t =>
        new Thread(() => {
          var i = t
          while (Clock.nowS - t0 < 1.0) {
            val (u, h) = sample(i % sample.size)
            Extractor.extract(u, h, formats)
            done.incrementAndGet()
            i += nproc
          }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      done.get / (Clock.nowS - t0)
    }
    val pagesPerS = tracer.span(s"Extractor.extract x$nproc threads") {
      Seq.fill(3)(window()).sorted.apply(1)
    }
    out + ("pages_per_s_4t" -> pagesPerS) + ("sample_pages" -> sample.size)
  }

  /** `SeenBloom.mightContain` over this run's own keys, in the engine's
    * default shape and key form (jobId-urlNorm). */
  private def bloomProbe(): Map[String, Any] = tracer.span("bloom-probe", "bench") {
    val d = CrawlEngine.Settings()
    val bloom = new graft.frontier.SeenBloom(d.bloomShards, d.bloomExpectedPerShard, d.bloomFpp)
    val keys = lastFetched.map(u => s"${cfg.jobId}-$u").toArray
    keys.foreach(bloom.put)
    var misses = 0L
    var probes = 0L
    val t0 = System.nanoTime()
    while (probes < 2L * keys.length || System.nanoTime() - t0 < 200000000L) {
      var i = 0
      while (i < keys.length) { if (!bloom.mightContain(keys(i))) misses += 1; i += 1 }
      probes += keys.length
    }
    val ns = (System.nanoTime() - t0).toDouble / math.max(1L, probes)
    Map("bloom_probe_ns" -> ns, "bloom_false_negatives" -> misses, "bloom_keys" -> keys.length)
  }
}

/** The pipeline's round-bound operators over generated inputs: PageRank and
  * HITS over a SiteGen link graph, duplicate clusters over chained pairs, and
  * batched BPE merges over a seeded word corpus. */
final class CurateWorkload(spark: SparkSession, tracer: Tracer, seed: Long, graphPages: Int,
    ccDocs: Int, bpeDocs: Int, bpeVocab: Int) extends Workload("curate_iterative") {
  import spark.implicits._
  import graft.pipeline.{Bpe, Graph}

  private val site = DeepSite(seed, hosts = 8, pages = graphPages)
  private val edgeList: Seq[(Long, Long)] = (0 until site.total).flatMap { i =>
    site.links(i).map(j => (nodeId(i), nodeId(j)))
  }.distinct
  private def nodeId(i: Int): Long = site.hostOf(i) * 100000L + site.pageOf(i)
  /** Chains of lengths 1..64 in a seeded order: the seed moves the chains,
    * never their lengths, so every seed asks for the same number of rounds. */
  private val pairList: Seq[(Long, Long)] = {
    val lengths = new scala.util.Random(seed).shuffle(
      Iterator.from(0).map(k => 1 + k % 64).scanLeft((0, 0)) { case ((_, end), len) => (end, end + len) }
        .drop(1).takeWhile(_._1 < ccDocs).toSeq)
    var start = 0L
    lengths.flatMap { case (from, to) =>
      val len = math.min(to, ccDocs) - from
      val chain = (start until start + len - 1).map(i => (i, i + 1))
      start += len
      chain
    }
  }
  private val expectedClusters: Array[Long] = {
    val parent = Array.tabulate(ccDocs)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }; r }
    pairList.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    Array.tabulate(ccDocs)(i => find(i).toLong)
  }
  /** A fixed Zipf-like corpus over the letters a..t, written in a seeded
    * permutation of those letters: every seed has the same pair-count
    * structure, so the merge rounds differ only by tie order. */
  private val bpeTexts: Seq[String] = {
    val letters = new scala.util.Random(seed).shuffle(('a' to 't').toVector)
    val vocab = Array.tabulate(bpeVocab) { j =>
      val h = graft.fixtures.SiteGen.mix(42L, 1000000L + j)
      val len = 6 + java.lang.Long.remainderUnsigned(h, 7).toInt
      (0 until len).map(i => letters(java.lang.Long.remainderUnsigned(
        graft.fixtures.SiteGen.mix(h, i.toLong), 20).toInt)).mkString
    }
    (0 until bpeDocs).map { d =>
      (0 until 40).map { k =>
        val u = java.lang.Long.remainderUnsigned(graft.fixtures.SiteGen.mix(42L ^ d.toLong, k.toLong), 1000000L) / 1e6
        vocab(math.min((u * u * vocab.length).toInt, vocab.length - 1))
      }.mkString(" ")
    }
  }

  private var edges: DataFrame = _
  private var docs: DataFrame = _
  private var pairs: DataFrame = _
  private var texts: DataFrame = _
  private var reference: String = _
  private val nodes = site.total.toLong

  def inputs: Map[String, Any] = Map("pages" -> site.total, "edges" -> edgeList.size,
    "cc_docs" -> ccDocs, "cc_pairs" -> pairList.size,
    "cc_components" -> expectedClusters.distinct.length,
    "bpe_docs" -> bpeDocs, "bpe_vocab" -> bpeVocab, "bpe_words_per_doc" -> 40,
    "pagerank_iterations" -> 10, "hits_iterations" -> 5, "bpe_merges" -> 64, "bpe_batchK" -> 8)

  private val opsPerPass = 4L

  def setUp(): (Double, Double) = {
    spark.catalog.clearCache()
    val t0 = Clock.nowS
    edges = edgeList.toDF("src", "dst")
    docs = (0 until ccDocs).map(_.toLong).toDF("doc_id")
    pairs = pairList.toDF("a", "b")
    texts = bpeTexts.toDF("text")
    val t1 = Clock.nowS
    Seq(edges, docs, pairs, texts).foreach(_.persist().count())
    (t1 - t0, Clock.nowS - t1)
  }

  def pass(): Pass = try {
    val scale = 1000000000000L
    val c0 = Clock.cpuS
    val t0 = Clock.nowS
    def timed[A](label: String)(f: => A): (A, Double) = {
      val s = Clock.nowS
      val r = tracer.span(label)(f)
      (r, Clock.nowS - s)
    }
    val (pr, prS) = timed("Graph.pageRankFixedPoint") {
      Graph.pageRankFixedPoint(edges, "src", "dst", iterations = 10)
        .agg(count(lit(1)), sum($"rank_fp")).as[(Long, Long)].head()
    }
    val (hits, hitsS) = timed("Graph.hitsFixedPoint") {
      Graph.hitsFixedPoint(edges, "src", "dst", iterations = 5)
        .agg(count(lit(1)), sum($"auth_fp"), sum($"hub_fp")).as[(Long, Long, Long)].head()
    }
    val (cc, ccS) = timed("Graph.dupClusters") {
      Graph.dupClusters(docs, "doc_id", pairs, "a", "b")
        .select($"id", $"cluster").as[(Long, Long)].collect()
    }
    val ((merges, rounds), bpeS) = timed("Bpe.learnMergesWithRounds") {
      val (df, r) = Bpe.learnMergesWithRounds(texts, "text", merges = 64, batchK = 8)
      (df.orderBy($"merge_rank").as[(Int, String, String, Long)].collect(), r)
    }
    val wall = Clock.nowS - t0
    val cpu = Clock.cpuS - c0

    val labels = new Array[Long](ccDocs)
    java.util.Arrays.fill(labels, -1L)
    cc.foreach { case (id, c) => labels(id.toInt) = c }
    val ck = new Checksum
    merges.foreach { case (r, l, rt, n) => ck.add(r.toLong); ck.add(l); ck.add(rt); ck.add(n) }
    ck.add(pr._2); ck.add(hits._2); ck.add(hits._3)
    // documented bound: each iteration loses at most dampDen + 1 units per node
    val prFloor = scale - 10L * 101L * nodes
    val problems = Seq(
      (pr._1 != nodes) -> s"PageRank ranked ${pr._1} of $nodes nodes",
      (pr._2 > scale || pr._2 < prFloor) -> s"PageRank mass ${pr._2} outside [$prFloor, $scale]",
      (hits._1 != nodes || hits._2 <= 0 || hits._3 <= 0) -> "HITS scores missing",
      (cc.length != ccDocs || !java.util.Arrays.equals(labels, expectedClusters)) ->
        "duplicate clusters differ from the driver-side union-find",
      (merges.length != 64) -> s"BPE learned ${merges.length} of 64 merges",
      (reference != null && reference != ck.hex) -> "BPE merge-list checksum differs from the first pass")
      .collect { case (true, msg) => msg }
    if (reference == null) reference = ck.hex
    Pass(wall, cpu, nodes, opsPerPass, problems.isEmpty, problems.mkString("; "), ck.hex,
      Map("pagerank_s" -> prS, "hits_s" -> hitsS, "cc_s" -> ccS, "bpe_s" -> bpeS,
        "bpe_rounds" -> rounds, "components" -> labels.distinct.length, "pagerank_mass" -> pr._2))
  } catch {
    case e: Throwable if scala.util.control.NonFatal(e) =>
      Pass(Double.NaN, Double.NaN, 0, opsPerPass, ok = false, e.toString, "", Map.empty)
  }

  def probes(): Map[String, Any] = Map.empty
}
