package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, monotonically_increasing_id, struct}
import org.apache.spark.sql.types.StructType

/** Readers/writers for the reference pipeline's JSON object artifacts
  * (`/root/reference` lands JSON arrays per GCS object and re-reads them as
  * the inter-task data plane, sp_airflow/dags/spotify_etl_v2.py:69-83,
  * 129-132, 210-215).
  *
  * Always schema-first: `spark.read.schema(...)` — inference is both a
  * second pass over 100 TB and a correctness hazard (a malformed payload
  * should become nulls, matching the reference's `dict.get` semantics, not
  * flip a column's type). */
object JsonArtifacts {

  /** Read a JSON-array artifact (one array of records per file — the
    * reference's object layout) with an enforced schema. */
  def readArray(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("multiLine", "true").json(path)

  /** Read newline-delimited JSON records (the layout `writeLines` emits —
    * splittable, so 1000 executors can share one large artifact). */
  def readLines(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Read newline-delimited JSON with a STABLE ingestion-order column
    * `__fetch = struct(__file, __split, __row)`: file path, start of the
    * line's split, `monotonically_increasing_id()`. The id alone depends on
    * the partition layout, so a first-wins dedup on it could pick another
    * winner on another cluster. The struct does not: a line belongs to the
    * one split holding its first byte, a split's rows are consecutive in
    * its partition in line order, and the id only breaks ties inside one
    * `(file, split)`. So `__fetch` order is file order, then line order,
    * under any split layout — the reproducible analog of the reference's
    * fetch order (sp_airflow/dags/spotify_etl_v2.py:143,161-170). Blank
    * lines give no row; a top-level array line, one row per element. */
  def readLinesNumbered(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)
      .withColumn("__fetch", struct(
        col("_metadata.file_path").as("__file"),
        col("_metadata.file_block_start").as("__split"),
        monotonically_increasing_id().as("__row")))

  /** Idempotent JSON sink: `SaveMode.Ignore` = write only if the target
    * does not already exist — the engine-side analog of the reference's
    * `if_generation_match=0` GCS precondition
    * (scripts/create_artist_batches.py:40). Emits newline-delimited JSON
    * (splittable), not one giant array. */
  def writeLinesIdempotent(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Ignore).json(path)

  /** Overwriting JSON sink for recomputed artifacts. */
  def writeLines(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)
}
