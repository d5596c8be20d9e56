package graft

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the harness parquet tables (schemas in FIXTURES.md).
  *
  * All loaders take the scale-factor directory explicitly — queries receive
  * `(SparkSession, sfDir)` and must never hardcode a scale factor. Parquet
  * carries its own schema; we do not re-declare it so that filter/column
  * pushdown metadata stays exactly what the footer says.
  *
  * Inferring that schema costs one Spark job per `spark.read.parquet`, so
  * [[schema]] resolves each table once per session, the way a catalog
  * would, and every read passes the footer's schema back through
  * `spark.read.schema(...)`. An entry is keyed by the session, by the
  * session's parquet confs (`nanosAsLong` decides how `events.ts` reads)
  * and by the path's listing — every file's name, size and mtime — so a
  * table rewritten in place (DevEmptyBoard's degenerate copies, temp
  * fixtures in tests) is re-inferred on its next read. Only the
  * `StructType` is cached: never a DataFrame (one shared instance would
  * share attribute ids across self-joins) and never data.
  */
object Tables {

  /** One resolved schema; filled at most once, under its own lock. */
  private final class Slot { @volatile var schema: StructType = _ }

  /** (path, the session's parquet confs, listing of the path). */
  private type Key = (String, Map[String, String], Seq[(String, Long, Long)])

  /** Per-session entries, weak on the session so a dropped session's
    * entries go with it. The map-wide lock guards only the lookup of a
    * session's inner map, never an inference job. */
  private val bySession = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[Key, Slot]]())

  /** Every file under `path` as (name, size, mtime); empty when it does
    * not exist (the read then fails with Spark's own error). */
  private def listing(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(s: FileStatus): Seq[(String, Long, Long)] =
      if (s.isDirectory) fs.listStatus(s.getPath).toSeq.flatMap(walk)
      else Seq((s.getPath.toString, s.getLen, s.getModificationTime))
    try walk(fs.getFileStatus(p)) catch { case _: FileNotFoundException => Nil }
  }

  /** The footer schema of the parquet at `path`, inferred at most once per
    * session, parquet confs and listing. */
  def schema(spark: SparkSession, path: String): StructType = {
    val entries = bySession.computeIfAbsent(spark, _ => new ConcurrentHashMap())
    val confs = spark.conf.getAll.filter(_._1.contains("parquet"))
    val slot = entries.computeIfAbsent((path, confs, listing(spark, path)), _ => new Slot)
    if (slot.schema == null) slot.synchronized {
      if (slot.schema == null) slot.schema = spark.read.parquet(path).schema
    }
    slot.schema
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(schema(spark, path)).parquet(path)
  }

  def region(spark: SparkSession, sfDir: String): DataFrame    = table(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame    = table(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame  = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame  = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame      = table(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame    = table(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame  = table(spark, sfDir, "lineitem")

  /** `events.ts` has drifted across fixture generations; normalize every
    * encoding to µs-precision `TimestampType` so downstream event-time code
    * (`unix_micros`, `window()`, `withWatermark`) sees one stable type.
    * Shared by the batch loader and the streaming reader
    * ([[graft.streaming.EventStreams.readEventsStream]]):
    *
    *  - parquet TIMESTAMP(NANOS): Spark 4 reads it as a raw long under
    *    `spark.sql.legacy.parquet.nanosAsLong=true` (set by
    *    [[graft.Sessions]]) — integer `div` to µs, lossless (fixture is
    *    µs-aligned);
    *  - parquet `timestamp[us], isAdjustedToUTC=false`: Spark 4 reads it as
    *    `TIMESTAMP_NTZ` — cast to `TimestampType`, lossless because the
    *    session zone is UTC ([[graft.Sessions]]) and the DuckDB oracle's
    *    timestamps are likewise naive;
    *  - already `TimestampType`: pass through. */
  def normalizeEventTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }

  def events(spark: SparkSession, sfDir: String): DataFrame =
    normalizeEventTs(table(spark, sfDir, "events"))
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")

  /** All entity names, for load-verification style queries. */
  val entityNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
}
