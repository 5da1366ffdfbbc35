package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Export-boundary serialization (SURVEY §2.5 A5): documents leave the
  * engine as JSON envelopes exactly at the sink boundary — storage stays
  * columnar, `to_json` happens only on the way out (the reference
  * marshals per-doc JSON bodies at crawler.go:173,230).
  */
object ExportOps {

  /** crawl_docs rows → (index, document_id, body) ES-bulk-style envelopes
    * (clients/elasticsearch.go:18-21: Index, DocumentID, opaque body). */
  def elasticEnvelopes(docs: DataFrame, index: String): DataFrame =
    docs.select(
      lit(index).as("index"),
      col("id").as("document_id"),
      to_json(struct(
        col("id"), col("uri"),
        struct(col("ogimage"), col("title"), col("description"), col("keywords"))
          .as("meta"),
        col("source"))).as("body"))

  /** Flat App-Search-style JSON (appsearch.go:10-18 field order): meta
    * hoisted to the top level next to the source map. Takes `crawl_docs`
    * rows (or any frame with the seven fields) and selects them by name,
    * so the flat shape is derived here, at read time. */
  def appsearchEnvelopes(docs: DataFrame): DataFrame =
    docs.select(
      col("id").as("document_id"),
      to_json(struct(
        col("id"), col("description"), col("uri"), col("source"),
        col("ogimage"), col("title"), col("keywords"))).as("body"))
}
