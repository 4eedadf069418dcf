package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.fixtures.SiteGen

/** A generated site: the page corpus the engine crawls, plus the link rule
  * and robots rules the benchmark re-derives on the driver to compute the
  * set a correct crawl must fetch. Pages are addressed by a flat index. */
sealed trait Site {
  def total: Int
  def hostOf(idx: Int): Int
  def pageOf(idx: Int): Int
  def url(idx: Int): String = SiteGen.pageUrl(hostOf(idx), pageOf(idx))
  def html(idx: Int): String
  /** Out-links of page `idx` as flat indexes, from the generator's rule. */
  def links(idx: Int): Seq[Int]
  def seeds: Seq[Int]
  /** robots.txt bodies handed to the engine. */
  def robots: Map[String, String] = Map.empty
  /** The same rules, applied by the benchmark to a page it might fetch. */
  def allowed(idx: Int): Boolean = true
  /** Corpus rows (url, html), generated on the executors. */
  def corpus(spark: SparkSession): DataFrame

  /** Pages a crawl from `seeds` fetches when depth and count are unbounded:
    * everything reachable through allowed pages. */
  def reachable: Set[Int] = {
    val seen = new java.util.BitSet(total)
    val queue = scala.collection.mutable.Queue.empty[Int]
    seeds.filter(allowed).foreach { s => if (!seen.get(s)) { seen.set(s); queue += s } }
    while (queue.nonEmpty) {
      val p = queue.dequeue()
      links(p).foreach { c => if (!seen.get(c) && allowed(c)) { seen.set(c); queue += c } }
    }
    Iterator.iterate(seen.nextSetBit(0))(i => seen.nextSetBit(i + 1)).takeWhile(_ >= 0).toSet
  }

  /** Longest shortest path from the seeds, in links. */
  def bfsDepth: Int = {
    val depth = Array.fill(total)(-1)
    val queue = scala.collection.mutable.Queue.empty[Int]
    seeds.filter(allowed).foreach { s => if (depth(s) < 0) { depth(s) = 0; queue += s } }
    while (queue.nonEmpty) {
      val p = queue.dequeue()
      links(p).foreach { c =>
        if (depth(c) < 0 && allowed(c)) { depth(c) = depth(p) + 1; queue += c }
      }
    }
    depth.max
  }
}

/** `SiteGen.widePageHtml`: `hosts` equal hosts, a `branching`-ary tree in
  * each, a home link on every page and a cross-host link on every 7th page.
  * Every host root is a seed. */
final case class WideSite(seed: Long, hosts: Int, perHost: Int, branching: Int,
    paragraphs: Int) extends Site {
  def total: Int = hosts * perHost
  def hostOf(idx: Int): Int = idx / perHost
  def pageOf(idx: Int): Int = idx % perHost
  def html(idx: Int): String =
    SiteGen.widePageHtml(seed, hostOf(idx), pageOf(idx), perHost, hosts, branching, paragraphs)
  def links(idx: Int): Seq[Int] = {
    val h = hostOf(idx)
    val p = pageOf(idx)
    val base = h * perHost
    val children = (p * branching + 1 to math.min(p * branching + branching, perHost - 1)).map(base + _)
    val cross =
      if (p % 7 == 0 && hosts > 1) {
        val t = (h + 1 + p % (hosts - 1)) % hosts
        if (t != h) Seq(t * perHost) else Nil
      } else Nil
    (base +: children) ++ cross
  }
  def seeds: Seq[Int] = (0 until hosts).map(_ * perHost)
  def corpus(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val (s, n, hs, b, para) = (seed, perHost, hosts, branching, paragraphs)
    spark.range(total.toLong).map { i =>
      val h = (i / n).toInt
      val p = (i % n).toInt
      (SiteGen.pageUrl(h, p), SiteGen.widePageHtml(s, h, p, n, hs, b, para).getBytes("UTF-8"))
    }.toDF("url", "html")
  }
}

/** `SiteGen.pageHtml`: Zipf-sized hosts (host0 holds ~30% of pages), a
  * binary tree in each host plus parent, home and cross-host links, and
  * `SiteGen.robotsRows` (host1 disallows `/p1.html` and `/p3*`, host2 sets a
  * Crawl-delay). The single seed is host0's root. */
final case class DeepSite(seed: Long, hosts: Int, pages: Int) extends Site {
  val sizes: Vector[Int] = SiteGen.hostSizes(pages, hosts)
  private val offsets: Vector[Int] = sizes.scanLeft(0)(_ + _)
  def total: Int = offsets.last
  def hostOf(idx: Int): Int = { var h = 0; while (idx >= offsets(h + 1)) h += 1; h }
  def pageOf(idx: Int): Int = idx - offsets(hostOf(idx))
  def html(idx: Int): String = SiteGen.pageHtml(seed, hostOf(idx), pageOf(idx), sizes)
  def links(idx: Int): Seq[Int] = {
    val h = hostOf(idx)
    val j = pageOf(idx)
    val n = sizes(h)
    val base = offsets(h)
    val out = Seq.newBuilder[Int]
    out += base // header home link
    if (2 * j + 1 < n) out += base + 2 * j + 1
    if (2 * j + 2 < n) out += base + 2 * j + 2
    if (j > 0) out += base + (j - 1) / 2
    if (j % 3 == 0 && hosts > 1) {
      val t = (h + j / 3) % hosts
      if (t != h) out += offsets(t)
    }
    out.result()
  }
  def seeds: Seq[Int] = Seq(0)
  override def robots: Map[String, String] = SiteGen.robotsRows(hosts).toMap
  override def allowed(idx: Int): Boolean = {
    val path = s"/p${pageOf(idx)}.html"
    hostOf(idx) != 1 || !(path.startsWith("/p1.html") || path.startsWith("/p3"))
  }
  def corpus(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val (s, sz) = (seed, sizes)
    spark.range(total.toLong).map { i =>
      val (h, p) = SiteGen.hostPage(sz, i)
      (SiteGen.pageUrl(h, p), SiteGen.pageHtml(s, h, p, sz).getBytes("UTF-8"))
    }.toDF("url", "html")
  }
}
