package graft.domain

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.operators.Ops

/** The reference pipeline's dataflow (dieulinhng/Spotify-Data-Pipeline,
  * studied at /root/reference) re-expressed as lazy Spark transforms: one
  * pure function per stage, composable into a single Catalyst plan per sink.
  *
  * The reference runs these as 5 eager, single-process Airflow tasks handing
  * JSON through GCS (sp_airflow/dags/spotify_etl_v2.py:405-435); here each
  * stage is a `DataFrame => DataFrame` so Catalyst fuses, prunes, and
  * pushes down across stage boundaries, and the only materialization points
  * are the sinks. API ingestion (pagination/retry/pacing,
  * spotify_etl_v2.py:36-49,116-157) is an out-of-engine client concern —
  * these transforms start from landed raw payloads.
  */
object SpotifyPipeline {

  // ---------------------------------------------------------- name intake

  /** S2 — line scan: trim, drop blanks (create_artist_batches.py:12-23),
    * plus S6 whitespace normalization (search_artist_id_and_name.py:21).
    * Input: `spark.read.text` frame with a `value` column. */
  def parseArtistNames(lines: DataFrame): DataFrame =
    lines.select(Ops.normalizeWs(col("value")).as("artist_name"))
      .where(length(col("artist_name")) > 0)

  /** S3/S4 — fixed-size batches of names as `{batch_id, artist_names}`
    * objects (create_artist_batches.py:5-46). `collect_list` over the
    * batch group preserves nothing the reference guarantees either (its
    * order comes from file iteration); `sort_array` makes output
    * deterministic. */
  def nameBatches(names: DataFrame, batchSize: Int): DataFrame =
    Ops.batchAssign(names, col("artist_name"), batchSize)
      .groupBy("batch_id")
      .agg(sort_array(collect_list(col("artist_name"))).as("artist_names"))

  /** S7 — search-query construction: escape embedded quotes, wrap in the
    * `artist:"…"` syntax (search_artist_id_and_name.py:38-39). */
  def searchQuery(name: Column): Column =
    format_string("artist:\"%s\"", Ops.escapeQuotes(name))

  /** S9 — set-dedup of resolved artist ids across all resolution files
    * (spotify_etl_v2.py:74-89). */
  def distinctArtistIds(resolved: DataFrame): DataFrame =
    Ops.distinctIds(resolved, "artist_id")

  /** S10 — the daily deterministic sample of `n` artists, seeded by the
    * run date in yyyyMMdd form (spotify_etl_v2.py:91-97 seeds
    * `random.Random(int(date))`). Hash-order top-N: same date → same
    * sample, different date → different sample; scales as
    * TakeOrderedAndProject. */
  def dailySample(ids: DataFrame, runDateYyyymmdd: Long, n: Int): DataFrame =
    ids.select(col("artist_id"),
        Ops.seededHash(xxhash64(col("artist_id")), runDateYyyymmdd).as("h"))
      .orderBy(col("h"), col("artist_id"))
      .limit(n)
      .select("artist_id")

  // ------------------------------------------------------------ entities

  /** S12 — artist projection with null-safe nested access
    * (spotify_etl_v2.py:118-124: `a['followers']['total']` via dict.get). */
  def projectArtists(raw: DataFrame): DataFrame =
    raw.select(
      col("id").as("artist_id"),
      col("name").as("artist_name"),
      col("followers.total").as("followers"),
      col("popularity"))

  /** Variable-precision Spotify release dates — `"2024"`, `"2024-01"`,
    * `"2024-01-31"` (spotify_etl_v2.py:165) — parsed to DateType with
    * first-of-period semantics; unparseable → null. */
  def parseReleaseDate(c: Column): Column =
    coalesce(
      try_to_date(c, "yyyy-MM-dd"),
      try_to_date(c, "yyyy-MM"),
      try_to_date(c, "yyyy"))

  /** S14/S15 — album projection with deterministic first-wins dedup on
    * album_id (the reference keeps the first payload seen,
    * spotify_etl_v2.py:143,161-170; `fetchOrder` supplies that order —
    * pass a stable ingestion-order column). */
  def projectAlbums(raw: DataFrame, fetchOrder: Column): DataFrame =
    Ops.dedupFirstWins(
        raw.select(
          col("id").as("album_id"),
          col("name").as("album_name"),
          col("release_date"),
          col("album_type").as("type"),
          col("total_tracks"),
          col("album_group"),
          fetchOrder.as("__order")),
        Seq("album_id"), Seq(col("__order")))
      .drop("__order")

  /** S16 — album↔artist bridge: flatten the artists array, dedup the
    * (artist_id, album_id) pair (spotify_etl_v2.py:144,172-183). */
  def albumArtistBridge(raw: DataFrame): DataFrame =
    raw.select(col("id").as("album_id"), col("name").as("album_name"),
        explode(col("artists")).as("artist"))
      .select(
        col("artist.id").as("artist_id"),
        col("artist.name").as("artist_name"),
        col("album_id"), col("album_name"))
      .where(col("artist_id").isNotNull)
      .dropDuplicates("artist_id", "album_id")

  /** S20 — track projection, first-wins on track_id
    * (spotify_etl_v2.py:241-249). */
  def projectTracks(raw: DataFrame, fetchOrder: Column): DataFrame =
    Ops.dedupFirstWins(
        raw.select(
          col("id").as("track_id"),
          col("name").as("track_name"),
          col("track_number"),
          col("duration_ms"),
          fetchOrder.as("__order")),
        Seq("track_id"), Seq(col("__order")))
      .drop("__order")

  /** S21 — track↔artist bridge (spotify_etl_v2.py:252-263). */
  def trackArtistBridge(raw: DataFrame): DataFrame =
    raw.select(col("id").as("track_id"), col("name").as("track_name"),
        explode(col("artists")).as("artist"))
      .select(
        col("track_id"), col("track_name"),
        col("artist.id").as("artist_id"),
        col("artist.name").as("artist_name"))
      .where(col("artist_id").isNotNull)
      .dropDuplicates("track_id", "artist_id")

  // --------------------------------------------------------------- sinks

  /** S17/S23/S24 — partitioned columnar load: every entity written as
    * Parquet under `ingest_date=<runDate>/`, append mode (the reference's
    * date-prefixed GCS layout + BigQuery WRITE_APPEND,
    * spotify_etl_v2.py:333-395). Dynamic partition overwrite makes daily
    * re-runs idempotent per partition instead of duplicating (the
    * reference's `if_generation_match` analog). */
  def writeEntity(df: DataFrame, outDir: String, entity: String,
                  runDate: String, overwritePartition: Boolean = true): Unit = {
    val mode = if (overwritePartition) SaveMode.Overwrite else SaveMode.Append
    df.withColumn("ingest_date", lit(runDate))
      .write
      .partitionBy("ingest_date")
      .option("partitionOverwriteMode", "dynamic")
      .mode(mode)
      .parquet(s"$outDir/$entity")
  }

  /** The full transform stage: raw payload frames in, the 5 entity frames
    * out (one lazy plan each; nothing materialized until a sink runs). */
  def transform(rawArtists: DataFrame, rawAlbums: DataFrame,
                rawTracks: DataFrame, fetchOrder: Column): Map[String, DataFrame] = Map(
    "artist" -> projectArtists(rawArtists),
    "album" -> projectAlbums(rawAlbums, fetchOrder),
    "album_artists" -> albumArtistBridge(rawAlbums),
    "track" -> projectTracks(rawTracks, fetchOrder),
    "track_artists" -> trackArtistBridge(rawTracks))

  /** The whole daily run — the reference's 5-task Airflow DAG
    * (spotify_etl_v2.py:405-435) as ONE Spark program: read the landed raw
    * JSON for `runDate`, transform, load all five entities partitioned by
    * ingest date. Each entity is a single lazy plan executed by its own
    * sink action; Catalyst pipelines what Airflow serialized. Re-running a
    * date is idempotent (dynamic partition overwrite). Raw layout:
    * `$rawDir/{artist,album,track}.json` newline-delimited records.
    *
    * First-wins dedup order comes from `readLinesNumbered`'s
    * `(file, byte offset)` column — stable data, invariant under split
    * configuration — NOT from `monotonically_increasing_id()`, whose value
    * depends on the partition layout and would let the dedup winner change
    * between environments for identical input files. */
  def runDaily(spark: org.apache.spark.sql.SparkSession, rawDir: String,
               outDir: String, runDate: String): Unit = {
    import graft.sources.JsonArtifacts
    val rawArtists = JsonArtifacts.readLines(spark, s"$rawDir/artist.json", Schemas.rawArtist)
    val rawAlbums = JsonArtifacts.readLinesNumbered(spark, s"$rawDir/album.json", Schemas.rawAlbum)
    val rawTracks = JsonArtifacts.readLinesNumbered(spark, s"$rawDir/track.json", Schemas.rawTrack)
    transform(rawArtists, rawAlbums, rawTracks, col("__fetch")).foreach {
      case (entity, df) => writeEntity(df, outDir, entity, runDate)
    }
  }
}
