package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.{Extract, Page}
import graft.gen.PageGen
import graft.html.{BlockBuilder, ByteHtmlTokenizer, DensityClassifier, MainContentExtractor}
import graft.job.ExtractJob
import graft.ops.{Balance, Dedup, Hosts, Repetition, TextStats}
import graft.pdf.PdfParser

/** Single-thread direct calls into the extraction kernel layers
  * (`graft.core`, `graft.html`, `graft.pdf`) over a seeded sample of a
  * workload's own pages. Each kernel is timed over several passes and
  * the median pass is reported. */
object Kernels {
  val Passes = 7

  /** `n` distinct page indexes from [lo, hi), drawn from `seed`. */
  def sample(seed: Long, lo: Long, hi: Long, n: Int): Array[Page] = {
    val rng = new PageGen.Rng(seed ^ 0x6b65726e656cL)
    val width = hi - lo
    val idx = if (width <= n) (lo until hi).toArray
      else Iterator.continually(lo + (rng.nextLong() >>> 1) % width).distinct.take(n).toArray.sorted
    idx.map(i => PageGen.genRow(seed, i).page)
  }

  /** Median over passes of the seconds one pass of `body` takes. */
  private def passSeconds(span: Tracer, name: String)(body: => Unit): Double =
    span.span(name) {
      Stats.median((1 to Passes).map { _ =>
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      })
    }

  def run(pages: Array[Page], span: Tracer): Map[String, Double] = span.span("kernels") {
    val html = pages.filter(p => Extract.sniff(p.html) == "html").map(_.html)
    val pdf = pages.filter(p => Extract.sniff(p.html) == "pdf").map(_.html)
    val htmlKiB = html.map(_.length.toLong).sum / 1024.0
    val blocks = html.map { b =>
      val bb = new BlockBuilder
      ByteHtmlTokenizer.tokenize(b, bb)
      bb.result()._1
    }
    var sink = 0L
    val core = passSeconds(span, "kernel.core.extract") {
      pages.foreach(p => sink += Extract(p).extracted_text.length)
    }
    val htmlExtract = passSeconds(span, "kernel.html.extract") {
      html.foreach(b => sink += MainContentExtractor.extractBytes(b).text.length)
    }
    val tokenize = passSeconds(span, "kernel.html.tokenize") {
      html.foreach { b => val bb = new BlockBuilder; ByteHtmlTokenizer.tokenize(b, bb); sink += bb.linksFound }
    }
    val classify = passSeconds(span, "kernel.html.classify") {
      blocks.foreach { bs => DensityClassifier.classify(bs); sink += bs.length }
    }
    var pdfFails = 0
    val pdfS = passSeconds(span, "kernel.pdf.extract") {
      pdfFails = 0
      pdf.foreach(b => PdfParser.extract(b) match {
        case Right(r) => sink += r.pageTexts.length
        case Left(_) => pdfFails += 1
      })
    }
    require(sink >= 0)
    def perDoc(s: Double, n: Int): Double = if (n == 0) 0.0 else s * 1e6 / n
    Map(
      "core.extract_us_per_doc" -> perDoc(core, pages.length),
      "html.extract_us_per_doc" -> perDoc(htmlExtract, html.length),
      "html.tokenize_us_per_kib" -> (if (htmlKiB == 0) 0.0 else tokenize * 1e6 / htmlKiB),
      "html.classify_us_per_doc" -> perDoc(classify, html.length),
      "pdf.extract_us_per_doc" -> perDoc(pdfS, pdf.length),
      "pdf.parse_fail_frac" -> (if (pdf.isEmpty) 0.0 else pdfFails.toDouble / pdf.length))
  }
}

/** Direct calls into the `graft.ops` functions that `CurateJob`
  * composes, each forced and timed on its own over the html docs of
  * the extraction table. */
object OpsProbe {
  def run(spark: SparkSession, extractRoot: String, perHostCap: Int,
          span: Tracer): Map[String, Double] = span.span("ops") {
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def secs(name: String)(body: => Unit): Double =
      Workload.timed(span.span(s"ops.$name")(body))._1
    val docs = ExtractJob.readExtracted(spark, extractRoot)
      .filter(col("error").isNull && col("payload_kind") === "html" &&
        length(col("extracted_text")) > 0)
      .select(col("url"), col("extracted_text")).persist()
    docs.count()
    val exact = secs("dedup_exact")(noop(Dedup.exact(docs, "url", "extracted_text")))
    val bands = Dedup.minhashBands(docs, "url", "extracted_text", shingleN = 2).persist()
    val bandsS = secs("minhash_bands")(bands.count())
    val cands = Dedup.candidatePairs(bands).persist()
    val nCand = cands.count()
    val pairs = Dedup.jaccardVerify(cands, docs, "url", "extracted_text",
      shingleN = 2, threshold = 0.6).persist()
    var nVerified = 0L
    val verifyS = secs("jaccard_verify") { nVerified = pairs.count() }
    val clustersS = secs("dedup_clusters")(noop(Dedup.dedupClusters(docs, pairs, idCol = "url")))
    val repS = secs("repetition")(noop(Repetition.withStats(docs, textCol = "extracted_text")))
    val scored = docs.withColumn("host", Hosts.hostOf(col("url")))
      .withColumn("quality", TextStats.qualityScore(col("extracted_text")))
    val capS = secs("host_cap")(noop(Balance.topKPerGroup(scored, col("host"), col("url"),
      Seq(col("quality").desc, col("url").asc), k = perHostCap)))
    Seq(pairs, cands, bands, docs).foreach(_.unpersist(blocking = true))
    Map(
      "ops.dedup_exact_s" -> exact,
      "ops.minhash_bands_s" -> bandsS,
      "ops.jaccard_verify_s" -> verifyS,
      "ops.dedup_clusters_s" -> clustersS,
      "ops.candidate_pairs" -> nCand.toDouble,
      "ops.verified_pairs" -> nVerified.toDouble,
      "ops.lsh_precision" -> (if (nCand == 0) 0.0 else nVerified.toDouble / nCand),
      "ops.repetition_s" -> repS,
      "ops.host_cap_s" -> capS)
  }
}
