package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.domain.Schemas
import graft.sources.JsonArtifacts

class JsonArtifactsSpec extends SparkSuite {
  import spark.implicits._

  test("readArray parses a JSON-array artifact with enforced schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft_json")
    java.nio.file.Files.writeString(dir.resolve("artist.json"),
      """[{"artist_id":"a1","artist_name":"X","followers":5,"popularity":9},
        | {"artist_id":"a2","artist_name":"Y"}]""".stripMargin)
    val df = JsonArtifacts.readArray(spark, dir.toString, Schemas.artist)
    val rows = df.orderBy("artist_id")
      .as[(String, String, Option[Long], Option[Long])].collect()
    assert(rows.toSeq == Seq(
      ("a1", "X", Some(5L), Some(9L)), ("a2", "Y", None, None)))
  }

  test("malformed payload degrades to nulls, never flips the schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft_json_bad")
    java.nio.file.Files.writeString(dir.resolve("artist.json"),
      """[{"artist_id":"a1","artist_name":"X","followers":"not-a-number"}]""")
    val df = JsonArtifacts.readArray(spark, dir.toString, Schemas.artist)
    assert(df.schema == Schemas.artist)
    // Spark's permissive mode nulls the whole malformed record
    val r = df.collect()(0)
    assert(r.isNullAt(r.fieldIndex("followers")))
  }

  test("writeLinesIdempotent skips existing targets (if_generation_match analog)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_json_idem").toString + "/out"
    val first = Seq(("a1", "X")).toDF("artist_id", "artist_name")
    val second = Seq(("a2", "Y")).toDF("artist_id", "artist_name")
    JsonArtifacts.writeLinesIdempotent(first, dir)
    JsonArtifacts.writeLinesIdempotent(second, dir) // must be ignored
    val back = JsonArtifacts.readLines(spark, dir, Schemas.idResolution)
    assert(back.as[(String, String)].collect().toSeq == Seq(("a1", "X")))
  }

  /** A session whose file scans split at 256 bytes, one split per partition. */
  private lazy val fineSplits: SparkSession = {
    val session = spark.newSession()
    session.conf.set("spark.sql.files.maxPartitionBytes", "256")
    session.conf.set("spark.sql.files.openCostInBytes", "1")
    session
  }

  /** `artist_name`s of `readLinesNumbered(dir)` in `__fetch` order, the
    * read's partition count, and the first-wins winner per `artist_id`. */
  private def fetchOrder(session: SparkSession, dir: String): (Seq[String], Int, Set[String]) = {
    val df = JsonArtifacts.readLinesNumbered(session, dir, Schemas.idResolution)
    val winners = graft.operators.Ops.dedupFirstWins(df, Seq("artist_id"), Seq(col("__fetch")))
    (df.orderBy("__fetch").select("artist_name").as[String].collect().toSeq,
      df.rdd.getNumPartitions,
      winners.select("artist_name").as[String].collect().toSet)
  }

  /** Lands `rows` as `{"artist_id":"a<i % 7>","artist_name":"row<i>"}` lines. */
  private def landLines(dir: String, file: String, rows: Range): Unit = {
    new java.io.File(dir).mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, file),
      rows.map(i => s"""{"artist_id":"a${i % 7}","artist_name":"row$i"}""").mkString("\n"))
  }

  /** Read in the default layout and in fine splits, `dir` gives rows 0 to
    * 199 in `__fetch` order, and the first seven rows win the dedup. */
  private def assertFileThenLineOrder(dir: String): Unit = {
    val expected = (0 until 200).map(i => s"row$i")
    val (coarse, _, coarseWinners) = fetchOrder(spark, dir)
    val (fine, finePartitions, fineWinners) = fetchOrder(fineSplits, dir)
    assert(finePartitions >= 4, "the fine read must really be split")
    assert(coarse == expected)
    assert(fine == coarse)
    assert(coarseWinners == expected.take(7).toSet)
    assert(fineWinners == coarseWinners)
  }

  test("readLinesNumbered: __fetch order is line order, invariant under split size") {
    val dir = java.nio.file.Files.createTempDirectory("graft_json_num").toString + "/raw"
    landLines(dir, "part0.json", 0 until 200)
    assertFileThenLineOrder(dir)
  }

  test("readLinesNumbered: a directory reads in file order, then line order") {
    val dir = java.nio.file.Files.createTempDirectory("graft_json_dir").toString + "/raw"
    landLines(dir, "part1.json", 100 until 200) // landed first, read second
    landLines(dir, "part0.json", 0 until 100)
    assertFileThenLineOrder(dir)
  }

  test("readLinesNumbered: blank, malformed, CRLF, partial and array lines") {
    val dir = java.nio.file.Files.createTempDirectory("graft_json_edge").toString + "/raw"
    new java.io.File(dir).mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "part0.json"), Seq(
      """{"id":"a1","name":"One","followers":{"href":"h","total":10},"popularity":5}""",
      "",
      " \t ",
      """{"id":"a2","name":""",
      """{"id":"a3","name":"Crlf","popularity":3}""" + "\r",
      """{"id":"a4","followers":{},"popularity":4}""",
      """{"id":"a5","name":"NoFollowers"}""",
      """[{"id":"a6","name":"Arr1"},{"id":"a7","name":"Arr2"}]""",
      """{"id":"a8","name":"Last","popularity":8}""").mkString("\n"))
    val rows = JsonArtifacts.readLinesNumbered(spark, dir, Schemas.rawArtist)
      .orderBy("__fetch")
      .select($"id", $"name", $"followers.total", $"popularity")
      .as[(Option[String], Option[String], Option[Long], Option[Long])].collect().toSeq
    // Blank and whitespace-only lines give no row, a malformed line one
    // all-null row, a top-level array line one row per element.
    assert(rows == Seq(
      (Some("a1"), Some("One"), Some(10L), Some(5L)),
      (None, None, None, None),
      (Some("a3"), Some("Crlf"), None, Some(3L)),
      (Some("a4"), None, None, Some(4L)),
      (Some("a5"), Some("NoFollowers"), None, None),
      (Some("a6"), Some("Arr1"), None, None),
      (Some("a7"), Some("Arr2"), None, None),
      (Some("a8"), Some("Last"), None, Some(8L))))
  }

  test("lines round-trip preserves the record set") {
    val dir = java.nio.file.Files.createTempDirectory("graft_json_rt").toString + "/out"
    val df = Seq(("a1", "X"), ("a2", "Y"), ("a3", "Z")).toDF("artist_id", "artist_name")
    JsonArtifacts.writeLines(df, dir)
    val back = JsonArtifacts.readLines(spark, dir, Schemas.idResolution)
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
  }

  test("ParquetMeta.rowCount matches a full count, single file and partitioned tree") {
    import graft.sources.ParquetMeta
    val tables = Seq("nation", "lineitem", "events").map(t => s"$SF/$t.parquet")
    // every table's footers are read in one job
    val (counts, jobs) = jobGroupsOf("parquet-meta")(ParquetMeta.rowCount(spark, tables))
    assert(jobs.size == 1, jobs)
    for (t <- tables)
      assert(counts(t) == spark.read.parquet(t).count(), t)
    // multi-file partitioned layout: footer counts must sum across the tree
    val dir = java.nio.file.Files.createTempDirectory("graft_meta").toString
    val ev = Tables.events(spark, SF)
    ev.withColumn("d", org.apache.spark.sql.functions.to_date(
        org.apache.spark.sql.functions.col("ts")))
      .repartition(4).write.mode("overwrite").partitionBy("d").parquet(dir)
    assert(ParquetMeta.rowCount(spark, Seq(dir))(dir) == ev.count())
  }
}
