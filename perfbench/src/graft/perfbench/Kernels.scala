package graft.perfbench

import graft.core.{Extract, Html, Robots}
import graft.engine.SyntheticWeb
import graft.tools.PageTools

/** Single-threaded timing of the scalar kernels the crawl runs per page, and
  * the adversarial pages run through `Extract.extract` outside Spark. */
object Kernels {

  val SampleSize = 400
  private val Loops = 5
  /** Kernel results land here so the JIT cannot drop the timed calls. */
  @volatile var blackhole = 0L

  /** Median over `Loops` sweeps of the sample of ns per page, per kernel. */
  def measure(web: SyntheticWeb.Config, urls: Seq[String],
      sameHostOnly: Boolean): Map[String, Double] = {
    if (urls.isEmpty) return Map.empty
    val pages = urls.map(u => (u, SyntheticWeb.fetch(web, u).html)).toArray
    val rules = urls.map(u => Robots.parse(SyntheticWeb.parseUrl(u)
      .map(hp => SyntheticWeb.robotsTxt(hp._1)).getOrElse(""))).toArray
    val docs = pages.map(p => Html.parse(p._2))
    var sink = 0L
    def sweep(f: Int => Int): Double = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < pages.length) { sink += f(i); i += 1 }
      (System.nanoTime() - t0).toDouble / pages.length
    }
    def ns(f: Int => Int): Double =
      Trace.median((0 until Loops).map(_ => sweep(f)))
    val out = Map(
      "engine.SyntheticWeb.fetch_ns" -> ns(i => SyntheticWeb.fetch(web, pages(i)._1).html.length),
      "core.Robots.is_allowed_ns" -> ns(i =>
        if (Robots.isAllowed(rules(i), pages(i)._1, web.userAgent)) 1 else 0),
      "core.Html.parse_ns" -> ns(i => Html.parse(pages(i)._2).hashCode),
      "core.Extract.text_ns" -> ns(i =>
        Extract.extract(pages(i)._2, pages(i)._1, 0L, Extract.Options(format = "text")).content.length),
      "engine.SyntheticWeb.page_links_ns" -> ns(i =>
        SyntheticWeb.pageLinks(pages(i)._2, pages(i)._1, sameHostOnly).size),
      "tools.PageTools.audit_ns" -> ns { i =>
        val (url, html) = pages(i)
        val d = docs(i)
        PageTools.validateHtml(d).hashCode ^ PageTools.detectTracking(html, d).hashCode ^
          PageTools.scanVulnerabilities(html, d, url).hashCode
      })
    blackhole = sink
    out
  }

  /** Pages built to break an HTML parser. Each is one operation; today the
    * nested-table page recurses without end in `core.Html` (StackOverflowError)
    * and the others pass. The attribute page has 20k attributes: insertion
    * is quadratic in the attribute count, and at 50k the one page took 4-10 s,
    * most of a run; `core.Extract.adversarial_ms` keeps that cost in view. */
  val AdversarialPages: Seq[(String, String)] = Seq(
    "nested_tables" -> ("<html><body>" + "<table><tr><td>" * 200 + "cell" +
      "</td></tr></table>" * 200 + "</body></html>"),
    "nested_divs" -> ("<html><body>" + "<div>" * 600 + "deep" + "</div>" * 600 + "</body></html>"),
    "many_attributes" -> ("<html><body><div " +
      (0 until 20000).map(i => s"""a$i="$i"""").mkString(" ") + ">x</div></body></html>"),
    "lone_surrogates" -> ("<html><head><title>s\uD800x</title></head><body><p>a \uDC00 b " +
      "\uD83D c \uDE00 d</p><a href=\"/p/\uD800\">l</a></body></html>"))

  /** Wall ms of the last `adversarial` call. */
  @volatile var adversarialMs = 0.0

  /** Runs each adversarial page through `Extract.extract` on a thread of the
    * benchmark's own; returns (page, error if it threw). */
  def adversarial(): Seq[(String, Option[String])] = {
    val t0 = System.nanoTime()
    val out = AdversarialPages.map(p => p._1 -> extractOnThread(p._2))
    adversarialMs = (System.nanoTime() - t0) / 1e6
    out
  }

  private def extractOnThread(html: String): Option[String] = {
    var err: Option[String] = None // read after join
    val t = new Thread(null, () => {
      try {
        val ex = Extract.extract(html, "http://host0.example/p/0", 0L, Extract.Options(format = "text"))
        if (ex.content == null) err = Some("null content")
      } catch { case e: Throwable => err = Some(e.getClass.getSimpleName) }
    }, "adversarial-page", 4L << 20)
    t.start()
    t.join()
    err
  }
}
