package graft

import java.nio.file.Files
import java.util.concurrent.{Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** [[Tables.schema]]: each table's footer schema is resolved once per
  * session and handed back to every later read, so only the first read of
  * a table in a session runs the parquet schema-inference job. */
class TablesSpec extends SparkSuite {

  /** Jobs started by `f` in job group `group`. */
  private def jobsOf[A](group: String)(f: => A): (A, Int) = {
    val (out, groups) = jobGroupsOf(group)(f)
    (out, groups.count(_ == group))
  }

  private def tempDir(): String = Files.createTempDirectory("tables-spec").toString

  test("the second read of a table in a session fires no Spark job") {
    val s = spark.newSession()
    val (first, firstJobs) = jobsOf("tables-first")(Tables.lineitem(s, SF))
    val (second, secondJobs) = jobsOf("tables-second")(Tables.lineitem(s, SF))
    assert(firstJobs == 1, s"the first read should infer the schema with one job, fired $firstJobs")
    assert(secondJobs == 0, s"the second read fired $secondJobs jobs; its schema should be cached")
    assert(second.schema == first.schema)
    assert(second.count() == first.count())
  }

  test("every entity's resolved schema is the footer's, field for field") {
    Tables.entityNames.foreach { name =>
      val path = s"$SF/$name.parquet"
      val footer = spark.read.parquet(path).schema
      Seq("Tables.schema" -> Tables.schema(spark, path),
          "Tables.table" -> Tables.table(spark, SF, name).schema).foreach { case (how, got) =>
        assert(got.length == footer.length, s"$name: $how has ${got.length} fields, footer ${footer.length}")
        got.fields.zip(footer.fields).foreach { case (g, f) =>
          assert(g.name == f.name && g.dataType == f.dataType && g.nullable == f.nullable
            && g.metadata == f.metadata, s"$name: $how field $g differs from the footer's $f")
        }
      }
    }
  }

  test("rewriting a table in place is picked up by the next read") {
    val dir = tempDir()
    val path = s"$dir/t.parquet"
    spark.range(3).selectExpr("id AS a").write.parquet(path)
    val before = Tables.table(spark, dir, "t")
    assert(before.columns.toSeq == Seq("a") && before.count() == 3)
    spark.range(5).selectExpr("CAST(id AS STRING) AS b", "id * 2 AS c")
      .write.mode("overwrite").parquet(path)
    val after = Tables.table(spark, dir, "t")
    assert(after.schema == spark.read.parquet(path).schema,
      s"stale schema after the rewrite: ${after.schema}")
    assert(after.columns.toSeq == Seq("b", "c") && after.count() == 5)
  }

  test("sessions with different nanosAsLong each get their own events schema") {
    // a TIMESTAMP(NANOS) events.ts, the encoding nanosAsLong exists for
    val dir = tempDir()
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 ts (TIMESTAMP(NANOS,false)); required int64 user_id; }")
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("ts", 1700000000123456000L).append("user_id", 7L))
    finally writer.close()

    def session(nanosAsLong: Boolean): SparkSession = {
      val s = spark.newSession()
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", nanosAsLong.toString)
      s
    }
    val asLong = session(nanosAsLong = true)
    val strict = session(nanosAsLong = false)
    val path = s"$dir/events.parquet"
    def refused(session: SparkSession): Unit = {
      val e = intercept[Exception](Tables.schema(session, path))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("PARQUET_TYPE_ILLEGAL")),
        s"want Spark's PARQUET_TYPE_ILLEGAL refusal, got $e")
    }
    assert(Tables.schema(asLong, path)("ts").dataType == LongType)
    // Spark refuses TIMESTAMP(NANOS) without the flag: the strict session
    // must hit that refusal, not the long-encoded session's entry
    refused(strict)
    // a refusal is not cached, and a conf changed mid-session is keyed too
    strict.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert(Tables.schema(strict, path)("ts").dataType == LongType)
    strict.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    refused(strict)
    // the long-encoded session still normalizes to µs TimestampType
    val ev = Tables.events(asLong, dir)
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.selectExpr("unix_micros(ts)").head.getLong(0) == 1700000000123456L)
  }

  test("concurrent first reads in a fresh session get equal schemas from one inference") {
    val s = spark.newSession()
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val (schemas, jobs) = jobsOf("tables-conc") {
        Await.result(Future.sequence((1 to 8).map { _ =>
          Future {
            s.sparkContext.setJobGroup("tables-conc", "tables-conc")
            try Tables.lineitem(s, SF).schema finally s.sparkContext.clearJobGroup()
          }
        }), 2.minutes)
      }
      val footer = spark.read.parquet(s"$SF/lineitem.parquet").schema
      assert(schemas.forall(_ == footer), s"schemas differ: ${schemas.distinct}")
      assert(jobs == 1, s"8 concurrent first reads ran $jobs inference jobs, want 1")
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }
}
