package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession

/** Parquet metadata reader: exact row counts from file footers, no data
  * scan. COUNT(*) over parquet is answerable from row-group metadata alone
  * — the optimization DuckDB applies natively and Spark's v1 source does
  * not. A count over a 100 TB table becomes O(files) footer reads
  * (distributed below — a million-file table is a million ~8-byte metadata
  * fetches spread over the cluster, zero column I/O).
  */
object ParquetMeta {

  /** Exact row count of one parquet file, from its footer. */
  def fileRowCount(hconf: org.apache.hadoop.conf.Configuration, file: String): Long = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), hconf))
    try reader.getRecordCount finally reader.close()
  }

  /** Exact row count of each parquet table (file or directory) in
    * `paths`, summed over its data files. The footer reads of every table
    * run in ONE distributed job — the driver only lists paths. */
  def rowCount(spark: SparkSession, paths: Seq[String]): Map[String, Long] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val files: Seq[(String, String)] = paths.flatMap { path =>
      val p = new Path(path)
      val it = p.getFileSystem(hconf).listFiles(p, true)
      val buf = scala.collection.mutable.ArrayBuffer[(String, String)]()
      while (it.hasNext) {
        val f = it.next()
        val name = f.getPath.getName
        if (f.isFile && name.endsWith(".parquet") && !name.startsWith("_") && !name.startsWith("."))
          buf += path -> f.getPath.toString
      }
      buf
    }
    val counted =
      if (files.isEmpty) Map.empty[String, Long]
      else {
        // serializable snapshot of the hadoop conf for the executors
        val confBc = spark.sparkContext.broadcast(
          new org.apache.spark.util.SerializableConfiguration(hconf))
        spark.sparkContext.parallelize(files, math.min(files.size, 64))
          .map { case (path, f) => Map(path -> fileRowCount(confBc.value.value, f)) }
          .reduce((a, b) => b.foldLeft(a) { case (m, (k, v)) =>
            m.updated(k, m.getOrElse(k, 0L) + v) })
      }
    paths.map(p => p -> counted.getOrElse(p, 0L)).toMap
  }
}
