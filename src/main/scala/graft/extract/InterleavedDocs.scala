package graft.extract

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.Geo
import graft.model.{Doc, Span}

/**
 * The interleaved text+media documents table (BASELINE.json input_hint):
 *   (doc_id: string, spans: array<struct<kind, text, media_ref, offset>>)
 *
 * Synthesized deterministically from the driver's flat `documents` parquet —
 * pure Column arithmetic, so the DuckDB oracle replays it exactly. Span array
 * order is the engine's row-identity invariant (the analog of the reference's
 * D2_XY fill-curve order, RasterEncoder.java:146-185): offsets are strictly
 * increasing and all downstream operators must preserve/reconstruct it,
 * never relying on shuffle order.
 *
 * Synthesis rule (doc key d, token list toks, chunk size 5):
 *   nspans    = ceil(len(toks)/5)
 *   kind(i)   = (d+i)%4 == 0 -> "geo" | == 1 -> "media" | else "text"
 *   text(i)   = geo   -> "<u>:<v>" with u=(d*7919+i*37)%100000,
 *                                      v=(d*104729+i*53)%100000
 *               media -> null
 *               text  -> its 5-token chunk joined with ' '
 *   media_ref = media -> "media://<d>/<i>" else null
 *   offset(i) = i*40 + d%7   (strictly increasing within a doc)
 *
 * Geo spans carry integer micro-fraction payloads (exact cross-engine string
 * parity); extraction maps them into the canonical Colombia bbox with the
 * same affine used everywhere (Geo.lonCol for span 0 coincides with
 * Geo.docPoints).
 */
object InterleavedDocs {

  /** The interleaved docs DataFrame: (doc_id string, spans array<struct>). */
  def docs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = graft.api.Tables.wide(spark, dir, "documents")
      .select($"doc_id".as("d"), split($"text", " ").as("toks"))
    val nspans = ceil(size($"toks") / 5.0).cast("int")
    base.select(
      concat(lit("doc-"), lpad($"d".cast("string"), 12, "0")).as("doc_id"),
      $"d", $"toks",
      transform(sequence(lit(0), nspans - 1), i => {
        val sel = ($"d" + i) % 4
        val u = ($"d" * 7919 + i.cast("long") * 37) % 100000
        val v = ($"d" * 104729 + i.cast("long") * 53) % 100000
        struct(
          when(sel === 0, "geo").when(sel === 1, "media").otherwise("text").as("kind"),
          when(sel === 0, concat(u.cast("string"), lit(":"), v.cast("string")))
            .when(sel === 1, lit(null).cast("string"))
            .otherwise(concat_ws(" ", slice($"toks", i * 5 + 1, lit(5)))).as("text"),
          when(sel === 1, concat(lit("media://"), $"d".cast("string"), lit("/"), i.cast("string")))
            .otherwise(lit(null).cast("string")).as("media_ref"),
          (i * 40 + ($"d" % 7).cast("int")).cast("int").as("offset"))
      }).as("spans"))
      .drop("d", "toks")
  }

  /** Typed view — the API boundary shape mandated by the north rule. */
  def typedDocs(spark: SparkSession, dir: String): Dataset[Doc] = {
    import spark.implicits._
    docs(spark, dir).as[Doc]
  }

  /** Flatten spans preserving array order (posexplode = fill-curve scan). */
  def flatSpans(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir)
      .select($"doc_id", posexplode($"spans").as(Seq("span_idx", "s")))
      .select(
        $"doc_id", $"span_idx".cast("bigint").as("span_idx"),
        $"s.kind".as("kind"), $"s.text".as("stext"),
        $"s.media_ref".as("media_ref"), $"s.offset".cast("bigint").as("soffset"))
  }

  /** The ONE decode of a geo span's "u:v" payload into bbox lon/lat — the
    * affine must stay bit-identical to the DuckDB oracles, so every caller
    * (geoPoints, the GraftOps facade) goes through these two columns. */
  def spanLon(stext: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    lit(Geo.minX) + split(stext, ":")(0).cast("long").cast("double") / 100000.0 *
      (lit(Geo.maxX) - lit(Geo.minX))
  def spanLat(stext: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    lit(Geo.minY) + split(stext, ":")(1).cast("long").cast("double") / 100000.0 *
      (lit(Geo.maxY) - lit(Geo.minY))

  /** Span indices of one kind, synthesized ARITHMETICALLY — without the
    * text-chunk/media-ref payloads `docs()` builds for every span. A geo or
    * media span's payload is a pure function of (d, i), so consumers that
    * filter to one kind (geoPoints, the media table) never need the token
    * chunks `transform` would concatenate for the text spans — measured
    * ~2x on the flagship q16+q17 pipeline, which otherwise pays the full
    * span synthesis and then discards 3/4 of it (optimization guide §2.3:
    * don't compute what you throw away). Selectivity/kind arithmetic is
    * identical to `docs()` (same (d+i)%4 rule, same nspans), so the row set
    * is exactly `flatSpans.filter(kind)`. Output: (doc_id, d, span_idx). */
  private def spanIndicesOfKind(spark: SparkSession, dir: String, sel: Int): DataFrame = {
    import spark.implicits._
    val base = graft.api.Tables.wide(spark, dir, "documents")
      .select($"doc_id".as("d"), size(split($"text", " ")).as("ntoks"))
    val nspans = ceil($"ntoks" / 5.0).cast("int")
    base.select(
        concat(lit("doc-"), lpad($"d".cast("string"), 12, "0")).as("doc_id"),
        $"d",
        explode(filter(sequence(lit(0), nspans - 1),
                       i => ($"d" + i) % 4 === sel)).as("i"))
      .select($"doc_id", $"d", $"i".cast("bigint").as("span_idx"))
  }

  /** Media spans without payload synthesis: (doc_id, d, span_idx,
    * media_ref) — the [[graft.multimodal.MediaPipeline]] input. */
  def mediaSpans(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spanIndicesOfKind(spark, dir, sel = 1)
      .withColumn("media_ref",
        concat(lit("media://"), $"d".cast("string"), lit("/"), $"span_idx".cast("string")))
  }

  /** Geometry extraction: geo spans -> (doc_id, span_idx, lon, lat).
    * Fast path: geo payloads are (d, i) arithmetic — the "u:v" string of
    * `docs()` round-trips integers exactly, so computing u and v directly
    * yields bit-identical lon/lat through the same affine. */
  def geoPoints(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spanIndicesOfKind(spark, dir, sel = 0)
      .select($"doc_id", $"span_idx",
        (lit(Geo.minX) + (($"d" * 7919 + $"span_idx" * 37) % 100000).cast("double")
          / 100000.0 * (lit(Geo.maxX) - lit(Geo.minX))).as("lon"),
        (lit(Geo.minY) + (($"d" * 104729 + $"span_idx" * 53) % 100000).cast("double")
          / 100000.0 * (lit(Geo.maxY) - lit(Geo.minY))).as("lat"))
  }

  /** DuckDB CTE replaying the synthesis + extraction, for the oracles. */
  val flatSpansSqlCte: String =
    """flat AS (
      |  SELECT concat('doc-', lpad(CAST(doc_id AS VARCHAR), 12, '0')) AS doc_id,
      |         doc_id AS d, i AS span_idx,
      |         CASE (doc_id + i) % 4 WHEN 0 THEN 'geo' WHEN 1 THEN 'media' ELSE 'text' END AS kind,
      |         CASE (doc_id + i) % 4
      |           WHEN 0 THEN concat(CAST((doc_id * 7919 + i * 37) % 100000 AS VARCHAR), ':',
      |                              CAST((doc_id * 104729 + i * 53) % 100000 AS VARCHAR))
      |           WHEN 1 THEN NULL
      |           ELSE array_to_string(toks[i * 5 + 1 : i * 5 + 5], ' ')
      |         END AS stext,
      |         CASE (doc_id + i) % 4
      |           WHEN 1 THEN concat('media://', CAST(doc_id AS VARCHAR), '/', CAST(i AS VARCHAR))
      |         END AS media_ref,
      |         i * 40 + doc_id % 7 AS soffset
      |  FROM (
      |    SELECT doc_id, toks,
      |           unnest(generate_series(0, CAST(ceil(len(toks) / 5.0) AS BIGINT) - 1)) AS i
      |    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)))""".stripMargin
}
