package graft.schema

import java.sql.Timestamp

/** Core data model for the webtext validation engine.
  *
  * The input unit is a Common-Crawl-style web page (BASELINE.json::input_hint):
  * `(url string, warc_ts timestamp, html binary, text string, lang string)`
  * plus a table partition column `part` — the unit over which verdicts,
  * stats and lineage are computed (stable across Spark parallelism levels,
  * unlike task partitions).
  */
final case class WebPage(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String,
    part: Int
)
