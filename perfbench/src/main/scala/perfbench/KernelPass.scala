package perfbench

import java.nio.charset.StandardCharsets

import graft.extract.{Extractor, HtmlExtractor, PdfExtractor}
import graft.model.{Engines, RawPage}
import graft.text.{DictionarySignal, GarbledSignal, Postprocess}

/** Single-thread pass over a fixed sample of a workload's rows, timing each
  * call into the public `extract` and `text` kernels from outside. Every
  * `*_ms_per_doc` is the time spent in that kernel over the sample divided
  * by the sample size, so kernels a workload never routes to read ~0.
  *
  *   - fast / heavy: `Extractor.fastExtract`, and `Extractor.heavyExtract` on
  *     the rows the fast result flags; heavy is "useful" when its text or
  *     success differs from the fast result's (a re-segmentation that
  *     reproduces the fast text is wasted heavy work).
  *   - html: UTF-8 decode + `HtmlExtractor.extract` on rows the fast path
  *     routed to the HTML extractor.
  *   - pdf_parse: `PdfExtractor.parse` on PDF payloads; pdf_layout:
  *     `PdfExtractor.extract` minus parse.
  *   - quality / garbled / dictionary / postprocess: the analyzer, its two
  *     text signals and `Postprocess.apply` on each row's text layer (when
  *     present) and on the fast result's text.
  */
object KernelPass {
  private val Names = Seq("fast", "heavy", "html", "pdf_parse", "pdf_extract",
    "quality", "garbled", "dictionary", "postprocess")

  /** Runs the pass `passes` times and reports the median of each kernel. */
  def run(rows: IndexedSeq[RawPage], cfg: Extractor.Config, passes: Int = 3): Map[String, Double] = {
    val runs = (1 to passes).map(_ => once(rows, cfg))
    def med(k: String): Double = Stats.median(runs.map(_._1(k))) / 1e6 / math.max(1, rows.size)
    val (_, heavyRows, useful) = runs.head
    Map(
      "extract.fast_ms_per_doc" -> med("fast"),
      "extract.heavy_ms_per_doc" -> med("heavy"),
      "extract.html_ms_per_doc" -> med("html"),
      "extract.pdf_parse_ms_per_doc" -> med("pdf_parse"),
      "extract.pdf_layout_ms_per_doc" -> math.max(0.0, med("pdf_extract") - med("pdf_parse")),
      "extract.heavy_rows" -> heavyRows.toDouble,
      "extract.heavy_useful_ratio" -> (if (heavyRows == 0) 0.0 else useful.toDouble / heavyRows),
      "text.quality_ms_per_doc" -> med("quality"),
      "text.garbled_ms_per_doc" -> med("garbled"),
      "text.dictionary_ms_per_doc" -> med("dictionary"),
      "text.postprocess_ms_per_doc" -> med("postprocess")
    )
  }

  private def once(rows: IndexedSeq[RawPage], cfg: Extractor.Config): (Map[String, Double], Int, Int) = {
    val ns = scala.collection.mutable.Map(Names.map(_ -> 0.0): _*)
    def timed[T](k: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      ns(k) += System.nanoTime() - t0
      r
    }
    val analyzer = cfg.analyzer
    var heavyRows = 0
    var useful = 0
    rows.foreach { row =>
      val fast = timed("fast")(Extractor.fastExtract(row, cfg))
      if (Extractor.needsHeavy(fast, cfg)) {
        val heavy = timed("heavy")(Extractor.heavyExtract(row, fast, cfg))
        heavyRows += 1
        if (heavy.extracted_text != fast.extracted_text || heavy.success != fast.success) useful += 1
      }
      val payload = row.html
      if (payload != null && PdfExtractor.isPdf(payload)) {
        timed("pdf_parse")(PdfExtractor.parse(payload))
        timed("pdf_extract")(PdfExtractor.extract(payload))
      } else if (fast.engine == Engines.Html)
        timed("html")(HtmlExtractor.extract(new String(payload, StandardCharsets.UTF_8)))
      val texts = Seq(row.text, fast.extracted_text).filter(t => t != null && t.nonEmpty)
      texts.foreach { t =>
        timed("quality")(analyzer.analyze(t))
        timed("garbled")(GarbledSignal.score(t))
        timed("dictionary")(DictionarySignal.score(t))
        timed("postprocess")(Postprocess(t))
      }
    }
    (ns.toMap, heavyRows, useful)
  }
}
