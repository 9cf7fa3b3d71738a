package perfbench

import java.nio.file.{Files, Path}
import java.util.zip.GZIPInputStream

import scala.jdk.CollectionConverters._

import graft.core._
import graft.sources.Warc
import org.apache.spark.sql.SparkSession

/** Single-layer probes of the traced run, timed from outside around each
  * layer's public functions. */
object Probes {
  val Passes = 3
  val Rounds = 5
  val PassS = 0.5
  val WarmupS = 0.5

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** One repetition of a probe over its sample; returns the elements done. */
  private final case class Probe(name: String, run: () => Int)

  private def each[A](name: String, xs: Seq[A])(f: A => Any): Probe = {
    require(xs.nonEmpty, s"no input for the $name probe")
    Probe(name, () => { xs.foreach(f); xs.length })
  }

  /** Seconds per element of each probe. Every probe first repeats untimed
    * for at least `WarmupS`: the probed code may never have run in this JVM
    * (curate parses no pages) or may just have been deoptimized by a new
    * caller. Then each of `Rounds` rounds times every probe in turn,
    * repeating it until at least `PassS` went by, and the median round
    * counts. Taking the probes in turn puts a part and its whole into the
    * same seconds of a host whose speed drifts. */
  private def perItem(tr: Tracer, probes: Seq[Probe]): Map[String, Double] = {
    probes.foreach { p =>
      val warm = System.nanoTime()
      while (System.nanoTime() - warm < WarmupS * 1e9) p.run()
    }
    val rounds = (1 to Rounds).map { _ =>
      probes.map { p =>
        var n = 0L
        val t0 = System.nanoTime()
        tr.span("core", p.name) { while (System.nanoTime() - t0 < PassS * 1e9) n += p.run() }
        (System.nanoTime() - t0) / 1e9 / n
      }
    }
    probes.indices.map(i => probes(i).name -> median(rounds.map(_(i)))).toMap
  }

  private object NullSink extends HtmlTokenizer.Sink {
    def startTag(name: String, selfClosing: Boolean): Unit = ()
    def endTag(name: String): Unit = ()
    def textChunk(s: String, start: Int, end: Int): Unit = ()
    def textStr(s: String): Unit = ()
  }

  /** `core` on one thread, no Spark, over the workload's own pages. */
  def core(tr: Tracer, rows: Vector[PageRow]): Map[String, Double] = {
    def bytes(r: PageRow) = if (r.html == null) Array.emptyByteArray else r.html
    val pdf = rows.filter(r => PdfParser.isPdf(bytes(r)))
    val html = rows.filter(r => !PdfParser.isPdf(bytes(r)) && bytes(r).nonEmpty)
    val docs = rows.map(Extractor.extract(_, decodeImages = false))
    val pages = pdf.map(r => PdfParser.parse(bytes(r), decodeImages = false))
    val htmlBytesPerDoc = html.map(r => bytes(r).length.toDouble).sum / html.length
    val s = perItem(tr, Seq(
      each("Extractor.extract(html)", html)(Extractor.extract(_, decodeImages = false)),
      each("HtmlExtractor.extract", html)(r => HtmlExtractor.extract(r.html)),
      each("PdfParser.parse", pdf)(r => PdfParser.parse(r.html, decodeImages = false)),
      each("PdfLayout.layout", pages)(PdfLayout.layout),
      each("TextAssembly.assemble", docs)(d => TextAssembly.assemble(d.blocks))))
    // last and alone: a second Sink class makes the tokenizer's sink calls
    // bimorphic, which would slow every probe timed after it
    val tokenize = perItem(tr, Seq(
      each("HtmlTokenizer.tokenize", html)(r => HtmlTokenizer.tokenize(r.html, NullSink))))
    val htmlS = s("Extractor.extract(html)")
    Map(
      "core.html_us_per_doc" -> htmlS * 1e6,
      "core.html_tokenize_us_per_doc" -> tokenize("HtmlTokenizer.tokenize") * 1e6,
      "core.html_extractor_us_per_doc" -> s("HtmlExtractor.extract") * 1e6,
      "core.pdf_parse_us_per_doc" -> s("PdfParser.parse") * 1e6,
      "core.pdf_layout_us_per_doc" -> s("PdfLayout.layout") * 1e6,
      "core.assemble_us_per_doc" -> s("TextAssembly.assemble") * 1e6,
      "core.html_mb_per_s" -> htmlBytesPerDoc / htmlS / 1e6,
      "core.fallback_ratio" -> docs.count(_.usedFallback).toDouble / docs.length,
      "core.empty_text_ratio" -> docs.count(_.text.isEmpty).toDouble / docs.length)
  }

  /** `sources`: `Warc.readPages` → noop over every `.warc.gz` in `dir`. */
  def sources(spark: SparkSession, tr: Tracer, dir: Path): Map[String, Double] = {
    val glob = dir.toString + "/*.warc.gz"
    val files = Files.list(dir).iterator().asScala.filter(_.toString.endsWith(".warc.gz")).toVector
    val inflated = files.map { f =>
      val in = new GZIPInputStream(Files.newInputStream(f))
      try in.transferTo(java.io.OutputStream.nullOutputStream()) finally in.close()
    }.sum
    val records = files.map(f => Warc.scanRecords(Files.readAllBytes(f)).length.toLong).sum
    val rows = Warc.readPages(spark, glob).count()
    val scanS = median((1 to Passes).map { _ =>
      val t0 = System.nanoTime()
      tr.span("sources", "Warc.readPages") { Workloads.noop(Warc.readPages(spark, glob)) }
      (System.nanoTime() - t0) / 1e9
    })
    Map(
      "sources.warc.scan_s" -> scanS,
      "sources.warc.records_per_s" -> records / scanS,
      "sources.warc.inflated_mb_per_s" -> inflated / scanS / 1e6,
      "sources.warc.rows_out_per_record_in" -> rows.toDouble / records)
  }

  /** `spark` (SnapshotStore) figures from detailed ingest calls. */
  def snapshot(xs: Seq[IngestSample]): Map[String, Double] = {
    val last = xs.last
    Map(
      "spark.snapshot.run_s" -> median(xs.flatMap(_.runS)),
      "spark.snapshot.files_committed" -> last.filesCommitted.toDouble,
      "spark.snapshot.lineage_rows" -> last.lineageRows.toDouble,
      "spark.snapshot.manifest_read_ms" -> median(xs.map(_.manifestMs)),
      "spark.snapshot.range_read_s" -> median(xs.map(_.rangeReadS)),
      "spark.snapshot.range_files_read_ratio" -> last.filesRead.toDouble / last.filesCommitted,
      "spark.snapshot.store_bytes_per_input_byte" -> last.storeBytes.toDouble / last.inputBytes)
  }
}
