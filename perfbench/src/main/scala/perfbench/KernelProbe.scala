package perfbench

import graft.kernel.{Chunker, Extract, ExtractMode, HtmlExtract, PdfLayout}
import graft.model.SpanKinds
import graft.sources.DocSynth
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** The `sources` and `kernel` layers, timed from outside: one harness-owned
  * `mapPartitions` pass over the input table that calls `DocSynth.synthDoc`,
  * `Extract.extractDoc`, and separately the sub-kernels on the spans they
  * apply to (`HtmlExtract.extractBlocks` on html spans,
  * `PdfLayout.readingOrderText` on pdf_layout spans, `Chunker.chunkText` on
  * plain text and pdf_page spans). Times are summed task-side nanoseconds,
  * i.e. core-seconds across all tasks. `extract_s` covers the sub-kernels,
  * which are timed on their own calls.
  */
object KernelProbe {

  // slots of the per-partition totals array
  private val Names = Vector(
    "sources.synth_s", "sources.docs", "sources.spans", "sources.giant_docs", "sources.chars",
    "kernel.extract_s", "kernel.html_s", "kernel.pdf_layout_s", "kernel.chunk_s",
    "kernel.spans_out", "kernel.chunks", "kernel.chunk_chars", "kernel.headings",
    "kernel.media", "kernel.failures")
  val MetricNames: Seq[String] = Names
  private val Seconds = Names.filter(_.endsWith("_s")).toSet

  def run(spark: SparkSession, tableDir: String): Map[String, Double] = {
    import spark.implicits._
    val totals = spark.read.parquet(s"$tableDir/documents.parquet")
      .select(col("doc_id").cast("string"), col("text"))
      .as[(String, String)]
      .mapPartitions { rows =>
        val t = new Array[Long](Names.size)
        def timed[A](slot: Int)(f: => A): A = {
          val t0 = System.nanoTime(); val r = f; t(slot) += System.nanoTime() - t0; r
        }
        rows.foreach { case (id, text) =>
          val doc = timed(0)(DocSynth.synthDoc(id, if (text == null) "" else text))
          t(1) += 1
          t(2) += doc.spans.size
          if (DocSynth.giantOf(id)) t(3) += 1
          doc.spans.foreach(s => t(4) += s.text.length)
          try {
            val out = timed(5)(Extract.extractDoc(doc, ExtractMode.SemanticMode))
            t(9) += out.spans.size
            out.spans.foreach { s =>
              s.kind match {
                case SpanKinds.Chunk   => t(10) += 1; t(11) += s.text.length
                case SpanKinds.Heading => t(12) += 1
                case SpanKinds.Media   => t(13) += 1
                case _                 =>
              }
            }
          } catch { case scala.util.control.NonFatal(_) => t(14) += 1 }
          doc.spans.foreach { s =>
            s.kind match {
              case SpanKinds.Html      => timed(6)(HtmlExtract.extractBlocks(s.text))
              case SpanKinds.PdfLayout => timed(7)(PdfLayout.readingOrderText(s.text))
              case SpanKinds.Text | SpanKinds.PdfPage => timed(8)(Chunker.chunkText(s.text))
              case _ =>
            }
          }
        }
        Iterator.single(t)
      }
      .collect()
      .reduce((a, b) => a.zip(b).map { case (x, y) => x + y })
    Names.zip(totals).map { case (n, v) => n -> (if (Seconds(n)) v / 1e9 else v.toDouble) }.toMap
  }
}
