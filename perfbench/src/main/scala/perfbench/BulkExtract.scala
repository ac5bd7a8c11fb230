package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.SyntheticPages
import graft.model.PipelineConf
import graft.pipeline.{Extract, Kernel, Salting}

/** Extraction of the seeded sf0.1-shaped documents × `replicas`, through
  * `Extract.run` (salted shuffle) and `Extract.runNarrow`, with no write;
  * the kernel layers do nearly all the work, `ops` none. `slice` is
  * `SyntheticPages.fromDocuments`' route slice:
  *
  *  - `bulk_extract` ("all"): the production mix, 86% HTML, 12% PDF and 2%
  *    scanned. Its traced run also measures the kernel by route and layer,
  *    the checkpoint layers ([[ResumeProbe]]) and `scale_eff`, whose
  *    1-core side runs the narrow path on one of the cached partitions as
  *    a single task, in the same session: one busy core, the others idle.
  *  - `scan_ocr` ("scan"): only the scanned PDFs, the pixel-OCR route,
  *    which takes about half the kernel time of the production mix. Its
  *    traced run also measures the dedup/curation layers ([[DedupProbe]]).
  */
final class BulkExtract(spark0: SparkSession, o0: Main.Opts, slice: String, replicas: Int)
    extends Workload(spark0, o0) {
  import Main.secs

  val conf = PipelineConf(shufflePartitions = 2 * o.cores)
  var pages: DataFrame = _
  var docs = 0L
  private var dedupOracle: Map[String, Any] = Map.empty

  override def context: Map[String, Any] =
    Map("replicas" -> replicas, "slice" -> slice) ++ dedupOracle

  def synthesize(): (Long, Long) = {
    if (pages != null) pages.unpersist(blocking = true)
    val (n, genS) = secs {
      pages = SyntheticPages.fromDocuments(spark, docsDir, replicas, slice = slice).persist()
      pages.count()
    }
    layer("io.SyntheticPages.generate_s", genS)
    docs = n
    val bytes = pages.agg(sum(length(col("html")))).collect()(0).getLong(0)
    (docs, bytes)
  }

  private def extractAll(): DataFrame = Extract.run(pages, conf).toDF()
  private def narrowAll(): DataFrame = Extract.runNarrow(pages).toDF()

  override def gate(): Unit =
    for ((name, out) <- Seq("bulk_extract.extract" -> extractAll(), "bulk_extract.narrow" -> narrowAll())) {
      // the gate reads its output twice; extract it once
      val kept = out.persist()
      checks += Gates.bulk(name, kept, pages)
      kept.unpersist(blocking = true)
    }

  private def counted(name: String, expected: Long)(df: => DataFrame): Double = {
    val (n, s) = secs(df.count())
    checks += Check(s"$name.rows", 1, if (n == expected) 0 else 1, s"$n of $expected rows")
    s
  }

  val nominalPassS: Double = if (slice == "scan") 1.85 else 1.25
  // the salted path of the production mix warms slowest; the OCR route's
  // passes are flat after three
  val warmPasses: Int = if (slice == "scan") 3 else 5
  val passOps = Seq("extract_s", "narrow_s")

  def pass(): Map[String, Double] = {
    val ex = counted("extract", docs)(extractAll())
    val nw = counted("narrow", docs)(narrowAll())
    Map("extract_s" -> ex, "narrow_s" -> nw,
      "extract_docs_per_s" -> docs / ex, "narrow_docs_per_s" -> docs / nw)
  }

  def tracedPass(led: Ledger): Map[String, Double] = {
    // Extract.run is detectHeavyHosts followed by runWithHosts; calling the
    // two halves separately splits the salting pre-pass from the shuffle
    val ((hosts, wh), hostS) = secs(led.window(Salting.detectHeavyHosts(pages)))
    val ((_, ws), saltS) = secs(led.window(Extract.runWithHosts(pages, conf, hosts).toDF().count()))
    val ((_, wn), narrowS) = secs(led.window(narrowAll().count()))
    layer("pipeline.Salting.detectHeavyHosts_s", hostS)
    layer("pipeline.Salting.detectHeavyHosts.jobs", wh.jobs)
    layer("pipeline.Extract.salted_shuffle_s", ws.shuffleStageS)
    layer("spark.shuffle_write_mb", ws.shuffleWriteMb)
    sparkLayers(wn, narrowS)
    countLayers(wh + ws + wn)
    Map("extract_s" -> (hostS + saltS), "narrow_s" -> narrowS)
  }

  override def layerProbes(led: Ledger): Unit =
    if (slice == "all") {
      scaling()
      kernelLedger()
      subLayers()
      new ResumeProbe(this).run(led)
    } else {
      val dedup = new DedupProbe(this)
      dedup.run(led)
      dedupOracle = Map("oracle" -> dedup.oracle)
    }

  /** Narrow docs/s at all cores ÷ (cores × docs/s of one task on one core),
    * from three interleaved rounds, medians of each side.
    */
  private def scaling(): Unit = {
    val part = pages.where(spark_partition_id() === 0).coalesce(1).persist()
    val partDocs = part.count()
    Extract.runNarrow(part).toDF().count()
    val rounds = (1 to 3).map { _ =>
      (counted("narrow", docs)(narrowAll()),
        counted("narrow_1core", partDocs)(Extract.runNarrow(part).toDF()))
    }
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.length / 2)
    val all = docs / med(rounds.map(_._1))
    val one = partDocs / med(rounds.map(_._2))
    layer("e2e.scale_eff", all / (o.cores * one))
    part.unpersist()
  }

  /** Per-document kernel time and allocation by route, timed around
    * `Kernel.extractOne` inside the executors over the whole corpus.
    */
  private def kernelLedger(): Unit = {
    import spark.implicits._
    val rows = pages.select("html").as[Array[Byte]].mapPartitions { it =>
      val mx = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
      val tid = Thread.currentThread().getId
      it.map { html =>
        val a0 = mx.getThreadAllocatedBytes(tid)
        val t0 = System.nanoTime()
        val r = Kernel.extractOne(html)
        val ns = System.nanoTime() - t0
        val route = if (r.status == "error") "error" else r.docType
        (route, ns, mx.getThreadAllocatedBytes(tid) - a0)
      }
    }.collect()
    val total = rows.map(_._2).sum.toDouble
    for (route <- BulkExtract.Routes) {
      val rs = rows.filter(_._1 == route)
      val us = rs.map(_._2 / 1e3).sorted
      def pct(p: Double) = if (us.isEmpty) 0.0 else us(math.min(us.length - 1, (p * us.length).toInt))
      layer(s"pipeline.Kernel.$route.us_p50", pct(0.5))
      layer(s"pipeline.Kernel.$route.us_p99", pct(0.99))
      layer(s"pipeline.Kernel.$route.alloc_kb_per_doc",
        if (rs.isEmpty) 0.0 else rs.map(_._3).sum / 1024.0 / rs.length)
      layer(s"pipeline.Kernel.$route.share", if (total == 0) 0.0 else rs.map(_._2).sum / total)
    }
  }

  /** Single-thread timings of the kernel's layers on the driver, over one
    * of the cached partitions (one per core): HTML decode
    * and boilerplate, PDF object scan, and PDF extraction split by the
    * generator's PDF kinds.
    */
  private def subLayers(): Unit = {
    import spark.implicits._
    val docs = pages.where(spark_partition_id() === 0)
      .select("url", "html").as[(String, Array[Byte])].collect()
    def meanUs(xs: Seq[Array[Byte]])(f: Array[Byte] => Any): Double =
      if (xs.isEmpty) 0.0
      else { val (_, s) = secs(xs.foreach(f)); s * 1e6 / xs.length }
    val (pdfs, htmls) = docs.partition(d => Kernel.isPdf(d._2))
    val html = htmls.map(_._2).toSeq
    layer("text.Charsets.decode_us", meanUs(html)(graft.text.Charsets.decode))
    val decoded = html.map(graft.text.Charsets.decode)
    val (_, bs) = secs(decoded.foreach { case (cs, d) => graft.html.Boilerplate.extractDecoded(d, cs) })
    layer("html.Boilerplate.extractDecoded_us", if (decoded.isEmpty) 0.0 else bs * 1e6 / decoded.length)
    val pdf = pdfs.toSeq.filter(d => d._2.length >= Kernel.MinPdfBytes)
    layer("pdf.PdfObjects.parseAll_us", meanUs(pdf.map(_._2))(graft.pdf.PdfObjects.parseAll))
    for ((kind, xs) <- pdf.groupBy { case (url, b) => BulkExtract.pdfKind(Inputs.docId(url), b) }
         if kind != "broken")
      layer(s"pdf.PdfExtractor.${kind}_us", meanUs(xs.map(_._2))(graft.pdf.PdfExtractor.extract))
  }
}

object BulkExtract {
  val Routes = Seq("html", "native_text", "mixed", "scanned", "error")

  /** The kind of a generated PDF: scanned and broken by the generator's
    * rules, the rest by what the file declares. The generator encrypts
    * every native PDF it does not compress, so a "plain" PDF (unencrypted,
    * unfiltered) never occurs.
    */
  def pdfKind(id: Long, pdf: Array[Byte]): String = {
    lazy val body = new String(pdf, java.nio.charset.StandardCharsets.ISO_8859_1)
    if (SyntheticPages.isScannedDoc(id)) "scanned"
    else if (SyntheticPages.isBrokenDoc(id)) "broken"
    else if (body.contains("/Encrypt")) "encrypted"
    else if (body.contains("/Subtype /Type0")) "type0"
    else if (body.contains("/FlateDecode")) "flate"
    else "plain"
  }
}
