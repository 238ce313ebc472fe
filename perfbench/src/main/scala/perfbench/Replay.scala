package perfbench

import graft.extract.{Extracted, Extractor}
import graft.geom.{BBox, Kde}
import graft.html.Dom
import graft.layout.{Neighbors, Paragraphs, ReadingOrderPipeline, Word, WordOrder}
import graft.pages.PageRow

/** Single-thread replay of the per-page chain through the public functions
  * of `html`, `extract` and `layout`, one span per call. The layout chain
  * is the one `ReadingOrderPipeline.run` runs, stage by stage, fed with
  * words built from the geometry `Extractor.extract` returned. */
object Replay {

  final case class Result(metrics: Seq[(String, Double, String)], guardProblems: Seq[String])

  /** Replayed spans; `extract.doc` is the direct `Extractor.extract` call,
    * every other span one of its parts. */
  private val Stages = Vector("extract.doc", "html.parse", "extract.blocks", "extract.filter",
    "layout.knn", "layout.kde", "layout.links", "layout.cc", "layout.envelope",
    "layout.pinp", "layout.order")
  private val Doc = Stages.indexOf("extract.doc")
  private val Layout = Stages.indexOf("layout.knn") until Stages.length

  /** The direct call runs once per page, first, as the job meets the
    * page; the parts then run twice, and a part's time on a page is the
    * lower of its two. So `extract.assemble_us` is assembly plus the
    * direct call's run-to-run noise, and it reads negative only when the
    * replay times work the program does not do. Timed alike (once each,
    * or each the lower of two), preemption noise outweighed assembly, a
    * few tens of microseconds, and made it read negative in some runs. */
  private val PartPasses = 2

  // The virtual page `Extractor.extract` lays blocks out on: 960px wide,
  // 40px margins, 10px between blocks, at least 200px tall.
  private val PageW = 960
  private def pageH(ex: Extracted): Int =
    if (ex.blocks.isEmpty) 200
    else { val b = ex.blocks.last; math.max(b.y + b.h + 10 + 40, 200) }

  /** One page's replay: per-stage ns, content blocks, paragraphs the pinp
    * merges removed, and the guard's verdict. */
  private final case class Page(ns: Array[Long], blocks: Int, merges: Int, problem: Option[String])

  /** Replays every page, after a warm-up over the first 50. Fails the
    * guard when the stage-by-stage chain does not return exactly
    * `ReadingOrderPipeline.run`'s result on some page, or assembly time
    * comes out negative. */
  def run(pages: Array[PageRow], tracer: Tracer): Result = {
    val warm = new Tracer
    pages.iterator.take(50).foreach(p => page(p, warm))
    val spanNs = spanCost()
    Main.log(f"replaying ${pages.length} pages; one span adds $spanNs%.0f ns")
    val perPage = pages.map(p => page(p, tracer))
    val n = pages.length.toDouble
    val problems = perPage.flatMap(_.problem).take(5).toSeq

    // every stage time less the time a span adds around an empty call
    def total(stage: Int): Double = perPage.map(_.ns(stage) - spanNs).sum
    def us(stage: Int): Double = total(stage) / 1e3 / n
    val layoutUs = Layout.map(us).sum
    val assembleUs = us(Doc) - Stages.indices.filter(_ != Doc).map(us).sum
    val docNs = perPage.map(_.ns(Doc)).sorted
    def q(p: Double) = docNs(math.min(docNs.length - 1, (p * docNs.length).toInt)) / 1e3
    // tail: the top 1% of pages by block count
    val layoutNs = perPage.map(pg => Layout.map(pg.ns(_)).sum)
    val tail = perPage.indices.sortBy(i => -perPage(i).blocks)
      .take(math.max(1, pages.length / 100)).map(layoutNs(_)).sum
    val guard =
      if (assembleUs < 0) problems :+ f"extract.assemble_us negative: $assembleUs%.2f" else problems

    def stage(name: String) = Stages.indexOf(name)
    Result(Seq(
      ("html.parse_us", us(stage("html.parse")), "us"),
      ("extract.blocks_us", us(stage("extract.blocks")), "us"),
      ("extract.filter_us", us(stage("extract.filter")), "us"),
      ("extract.assemble_us", assembleUs, "us"),
      ("extract.doc_us_p50", q(0.50), "us"),
      ("extract.doc_us_p99", q(0.99), "us"),
      ("extract.engine_docs_per_s", n / (total(Doc) / 1e9), "1/s"),
      ("extract.content_blocks", perPage.map(_.blocks).sum / n, "count"),
      ("layout.knn_us", us(stage("layout.knn")), "us"),
      ("layout.kde_us", us(stage("layout.kde")), "us"),
      ("layout.links_us", us(stage("layout.links")), "us"),
      ("layout.cc_us", us(stage("layout.cc")), "us"),
      ("layout.envelope_us", us(stage("layout.envelope")), "us"),
      ("layout.pinp_us", us(stage("layout.pinp")), "us"),
      ("layout.order_us", us(stage("layout.order")), "us"),
      ("layout.share", layoutUs / us(Doc), "frac"),
      ("layout.tail_share", tail.toDouble / layoutNs.sum, "frac"),
      ("layout.pinp_merges", perPage.map(_.merges).sum / n, "count"),
    ), guard)
  }

  /** What one span adds to the duration it records: the median over
    * batches of the mean recorded duration of an empty span. */
  private def spanCost(): Double = {
    val batches = (0 until 21).map { _ =>
      val t = new Tracer
      var sum = 0L
      var i = 0
      while (i < 10000) { t.span("empty")(i); sum += t.lastNs; i += 1 }
      sum / 10000.0
    }
    batches.sorted.apply(batches.length / 2)
  }

  /** Times the stages of one pass over one page, a span per stage. */
  private final class Pass(t: Tracer) {
    val ns = new Array[Long](Stages.length)
    def apply[A](stage: String)(f: => A): A = {
      val i = Stages.indexOf(stage)
      val a = t.span(stage)(f)
      ns(i) = t.lastNs
      a
    }
  }

  private def page(p: PageRow, t: Tracer): Page = t.span("page") {
    val best = Array.fill(Stages.length)(Long.MaxValue)
    val direct = new Pass(t)
    val ex = direct("extract.doc")(Extractor.extract(p.url, p.html))
    best(Doc) = direct.ns(Doc)
    // an ArraySeq, as `Extractor.extract` passes the words
    val words = Array.tabulate(ex.blocks.length) { k =>
      val b = ex.blocks(k)
      Word(k, BBox(b.x, b.y, b.w, b.h))
    }.toIndexedSeq
    val h = pageH(ex)
    var replayed: (ReadingOrderPipeline.Result, Int) = null
    for (_ <- 0 until PartPasses) {
      val timed = new Pass(t)
      val dom = timed("html.parse")(Dom.parse(p.html))
      val blocks = timed("extract.blocks")(Extractor.blocksOf(dom))
      timed("extract.filter")(blocks.filter(Extractor.isContent))
      replayed = layout(words, h, timed)
      for (s <- best.indices if s != Doc) best(s) = math.min(best(s), timed.ns(s))
    }
    val expected = ReadingOrderPipeline.run(words, PageW, h)
    val problem = if (replayed._1 == expected) None else Some(s"${p.url}: replayed layout differs")
    Page(best, ex.blocks.length, replayed._2, problem)
  }

  /** `ReadingOrderPipeline.run` with the default config, stage by stage;
    * also returns the paragraphs the pinp merges removed. */
  private def layout(words: IndexedSeq[Word], pageH: Int, at: Pass): (ReadingOrderPipeline.Result, Int) = {
    if (words.isEmpty) return (ReadingOrderPipeline.Result(Vector.empty, Vector.empty, 0, 0), 0)
    val boxes = words.map(_.bbox)
    val (horizontal, vertical) = at("layout.knn")(Neighbors.findClosestNeighbors(boxes))
    val (x, y) = at("layout.kde")(
      (Kde.kdeEstimateD(horizontal, horizontal = true), Kde.kdeEstimateD(vertical, horizontal = false)))
    val (right, left, top, bottom) = at("layout.links")(Neighbors.fourDirectionLinks(boxes, x, y))
    val components = at("layout.cc")(
      Neighbors.connectedComponents(boxes.length, Seq(right, left, top, bottom)))
    val afterMargins = at("layout.envelope")(
      Paragraphs.ignoreMargins(Paragraphs.envelopes(components, words), PageW, pageH, 0.0, 0.0, 0.0))
    val afterPinp = at("layout.pinp") {
      if (afterMargins.length >= 3) {
        val p1 = Paragraphs.pinp(afterMargins, PageW, pageH, 0.0, 0.0, 0.0, theta = 7)
        val p2 = Paragraphs.pinp2(p1, PageW, pageH, 0.0, 0.0, 0.0, theta = 10)
        Paragraphs.pinp(p2, PageW, pageH, 0.0, 0.0, 0.0, theta = 7)
      } else afterMargins
    }
    val (ordered, regions) = at("layout.order") {
      val ordered = Paragraphs.paragraphOrder(afterPinp)
      val inOrder = ordered.sortBy(_.order)(Ordering.Int).map(_.members)
      (ordered, WordOrder.finalWordOrder(inOrder, words))
    }
    (ReadingOrderPipeline.Result(ordered, regions, x, y), afterMargins.length - afterPinp.length)
  }
}
