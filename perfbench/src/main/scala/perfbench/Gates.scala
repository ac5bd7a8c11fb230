package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.io.SyntheticPages
import graft.pipeline.Extract

/** Correctness gates. They run outside the timed region; a failed item
  * counts in the run's `failed` and fails the command.
  */
object Gates {

  /** The generator's expected outcome per document, from its own slot
    * rules: broken and locked PDFs are typed error rows (correct output,
    * not failures), scanned PDFs read as `scanned`, other PDFs as
    * `native_text` or `mixed`, the rest `html`.
    */
  private val expectedKind = udf { (url: String) =>
    val id = Inputs.docId(url)
    if (SyntheticPages.isBrokenDoc(id) || SyntheticPages.isLockedDoc(id)) "error"
    else if (SyntheticPages.isScannedDoc(id)) "scanned"
    else if (SyntheticPages.isPdfDoc(id)) "pdf"
    else "html"
  }
  private val kind: Column = expectedKind(col("url"))
  private val expectedStatus: Column =
    when(kind === "error", lit("error")).otherwise(lit("processed"))
  private def routeOk(docType: Column): Column =
    when(kind === "error", lit(true))
      .when(kind === "scanned", docType === "scanned")
      .when(kind === "pdf", docType.isin("native_text", "mixed"))
      .otherwise(docType === "html")

  /** Byte-identical golden text (`Extract.goldenMismatches`), plus every
    * page present exactly once with its expected status and route.
    */
  def bulk(name: String, extracted: DataFrame, pages: DataFrame): Check = {
    val textBad = Extract.goldenMismatches(extracted, pages).count()
    val r = pages.select("url")
      .join(extracted.select(col("url"), col("status"), col("doc_type")), Seq("url"), "full_outer")
      .groupBy("url")
      .agg(count(col("status")).as("n"), first("status").as("status"), first("doc_type").as("doc_type"))
      .agg(count(lit(1)).as("pages"),
        sum(when(col("n") =!= 1, 1L).otherwise(0L)).as("missing_or_dup"),
        sum(when(col("n") === 1 && (col("status") =!= expectedStatus || !routeOk(col("doc_type"))),
          1L).otherwise(0L)).as("wrong_status"))
      .collect()(0)
    val (n, missing, status) = (r.getLong(0), r.getLong(1), r.getLong(2))
    Check(name, n, textBad + missing + status,
      s"text_mismatch=$textBad missing_or_duplicate=$missing wrong_status_or_route=$status")
  }

  /** Output rows in a form that compares with set difference: nested
    * columns and the metadata map become canonical JSON strings.
    */
  def canonical(docs: DataFrame): DataFrame = docs.select(
    col("url"), col("doc_id"), col("doc_type"), col("text"),
    to_json(col("spans")).as("spans"), to_json(col("tables")).as("tables"),
    col("confidence"), col("page_count"), col("charset"), col("status"), col("error"),
    col("text_len"), col("word_count"),
    to_json(array_sort(map_entries(col("metadata")))).as("metadata"))

  /** The committed table equals a fresh extraction of the current input:
    * every differing row, on either side, is one failure.
    */
  def sameTable(name: String, table: DataFrame, expected: DataFrame): Check = {
    // multiset difference in one job: +1 per committed row, -1 per
    // expected row, grouped on every column
    val side = "_side"
    val cols = expected.columns.toSeq.map(col)
    val r = canonical(table).withColumn(side, lit(1L))
      .unionByName(expected.withColumn(side, lit(-1L)))
      .groupBy(cols: _*)
      .agg(sum(col(side)).as("d"), sum(when(col(side) < 0, 1L).otherwise(0L)).as("e"))
      .agg(coalesce(sum(greatest(col("d"), lit(0L))), lit(0L)),
        coalesce(sum(greatest(-col("d"), lit(0L))), lit(0L)),
        coalesce(sum(col("e")), lit(0L)))
      .collect()(0)
    val (extra, lost, rows) = (r.getLong(0), r.getLong(1), r.getLong(2))
    Check(name, rows, extra + lost, s"unexpected_rows=$extra missing_rows=$lost")
  }

  def pendingBuckets(name: String, got: Int, expected: Int): Check =
    Check(name, 1, if (got == expected) 0 else 1, s"buckets_pending=$got expected=$expected")
}
