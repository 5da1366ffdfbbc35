package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Span-array → document extraction, all pure array expressions — a page's
  * spans live in one row, so extraction is a narrow (shuffle-free,
  * codegen'd) projection. Mirrors the reference's per-page pipeline
  * (/root/reference/pkg/crawler/crawler.go:82-131):
  *  - title: concatenation of all title nodes (`Find("title").Text()`,
  *    crawler.go:87);
  *  - meta description/keywords/og:image: last occurrence wins (the
  *    reference overwrites on each matching meta tag, crawler.go:91-107);
  *  - source: kind → texts in document (offset) order for the fixed kind
  *    list h1..h4,p (crawler.go:109-113), absent kinds omitted.
  */
object DocExtract {

  val Kinds: Seq[String] = Seq("h1", "h2", "h3", "h4", "p")

  /** spans sorted by offset (defensive — the corpus stores them sorted). */
  def sortedSpans(spans: Column): Column =
    array_sort(spans, (l, r) =>
      when(l.getField("offset") < r.getField("offset"), -1)
        .when(l.getField("offset") > r.getField("offset"), 1)
        .otherwise(0))

  def kindTexts(sorted: Column, kind: String): Column =
    transform(filter(sorted, s => s.getField("kind") === lit(kind)),
      s => s.getField("text"))

  private def lastText(sorted: Column, kind: String): Column =
    coalesce(try_element_at(kindTexts(sorted, kind), lit(-1)), lit(""))

  private def lastMediaRef(sorted: Column, kind: String): Column =
    coalesce(try_element_at(transform(
      filter(sorted, s => s.getField("kind") === lit(kind)),
      s => s.getField("media_ref")), lit(-1)), lit(""))

  /** Project (uri, spans) → CrawlDoc columns. Input column names:
    * uriCol must be the canonical URL, spansCol the span array. */
  def extract(df: DataFrame, uriCol: String, spansCol: String): DataFrame = {
    val sorted = sortedSpans(col(spansCol))
    val entries = array(Kinds.map { k =>
      struct(lit(k).as("key"), kindTexts(sorted, k).as("value"))
    }: _*)
    df.select(
      md5(col(uriCol)).as("id"),
      col(uriCol).as("uri"),
      array_join(kindTexts(sorted, "title"), "").as("title"),
      lastText(sorted, "meta.description").as("description"),
      lastText(sorted, "meta.keywords").as("keywords"),
      lastMediaRef(sorted, "meta.ogimage").as("ogimage"),
      map_from_entries(filter(entries, e => size(e.getField("value")) > 0))
        .as("source"))
  }
}
