package graft.model

/** Series identity of the engine.
  *
  * The reference's data model (OPSD `time_series`: a set of time series
  * keyed by a 6-level column header `(region, variable, attribute, source,
  * web, unit)` in a wide pandas frame — see SURVEY.md §1.1) is kept LONG/
  * NARROW: one DataFrame row per (series, timestamp) point, timestamps as
  * UTC epoch seconds. Wide → long is the scale move: at 10^12 documents a
  * column-per-series layout is impossible, while long points shard by
  * (series bucket, day).
  */

/** Identity of one time series — the engine's analog of the reference's
  * 6-level column MultiIndex (region, variable, attribute, source, web,
  * unit). `domain` plays the role of `region` for web-page payloads;
  * `web` is pure documentation in the reference (the source's info URL) —
  * carried for full header-shape parity but excluded from the flattened
  * name, exactly like the reference's singleindex rendering.
  */
case class SeriesKey(
    domain: String,
    metric: String,
    attribute: String,
    source: String,
    web: String,
    unit: String
) {
  /** Flattened name, the reference's `'_'.join(header levels)` rendering
    * (e.g. `DE_load_actual_entsoe_transparency`) — `web` excluded.
    */
  def flat: String = Seq(domain, metric, attribute, source, unit)
    .filter(_.nonEmpty).mkString("_")
}
