package graftbench

import graft.analysis.TextStats
import graft.dedup.MinHashLSH
import graft.extract.HtmlExtract
import graft.filters.{Cascade, DocCtx, HeuristicFilters}
import graft.pipeline.CurationPipeline
import graft.scrub.PiiScrub

/** Single-thread kernel micro-pass over a seeded sample of the run's
  * own documents: µs per document for each per-row kernel the Spark
  * UDFs call, with no Spark in the loop.
  */
object Kernels {

  @volatile private var sink = 0L

  /** Median over `reps` timed loops (after one untimed loop) of the
    * loop's ns per document, in µs.
    */
  private def usPerDoc(n: Int, reps: Int)(body: Int => AnyRef): Double = {
    def loop(): Long = {
      val t0 = System.nanoTime()
      var i = 0
      var h = 0
      while (i < n) { if (body(i) eq null) h += 1; i += 1 }
      sink ^= h
      System.nanoTime() - t0
    }
    loop()
    val ts = Seq.fill(reps)(loop()).sorted
    ts(reps / 2).toDouble / n / 1e3
  }

  def run(docs: Seq[(String, Array[Byte])], reps: Int = 5): Map[String, Double] = {
    val texts = docs.map(_._1).toArray
    val htmls = docs.map(_._2).toArray
    val n = texts.length
    val cascade = HeuristicFilters.englishCascade
    // tokenized contexts shared by the per-filter loops, as the cascade
    // shares one per document
    val ctxs = texts.map { t =>
      val c = new DocCtx(t)
      c.words; c.sentences; c.paragraphs; c.wordHashes
      c
    }
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    cascade.foreach { f =>
      out(s"filters.${f.name}.us_per_doc") = usPerDoc(n, reps)(i => Double.box(f.scoreCtx(ctxs(i))))
    }
    out("filters.cascade.us_per_doc") = usPerDoc(n, reps)(i => Cascade.evaluate(cascade, texts(i)))
    out("filters.cascade.evaluated_per_doc") =
      texts.map(t => Cascade.evaluate(cascade, t).scores.count(!_.isNaN)).sum.toDouble / n
    out("analysis.langid.us_per_doc") = usPerDoc(n, reps)(i => TextStats.heuristicLangId(texts(i)))
    out("analysis.quality.us_per_doc") =
      usPerDoc(n, reps)(i => Double.box(TextStats.qualityScoreParts(texts(i), ctxs(i).words, ctxs(i).sentences)))
    out("analysis.bpe.us_per_doc") = usPerDoc(n, reps)(i => Int.box(TextStats.bpeTokenCount(texts(i))))
    out("scrub.pii.us_per_doc") = usPerDoc(n, reps)(i => PiiScrub.scrubPii(texts(i)))
    out("scrub.profanity.us_per_doc") = usPerDoc(n, reps)(i => PiiScrub.defaultScrubber.scrub(texts(i)))
    out("pipeline.annotate.us_per_doc") = usPerDoc(n, reps)(i => CurationPipeline.annotate(texts(i)))
    out("extract.html.us_per_doc") = usPerDoc(n, reps)(i => HtmlExtract.extractFromBytes(htmls(i)))
    val p = MinHashLSH.Params()
    val (a, b) = MinHashLSH.coefficients(p)
    out("dedup.minhash.us_per_doc") =
      usPerDoc(n, 3)(i => MinHashLSH.signature(texts(i), p, a, b))
    out.toMap
  }
}
