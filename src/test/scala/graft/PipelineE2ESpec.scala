package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.domain.{Schemas, SpotifyPipeline}
import graft.sources.{JsonArtifacts, RestLookup}

class PipelineE2ESpec extends SparkSuite {
  import spark.implicits._

  test("runDaily: raw JSON -> five partitioned entity tables, idempotent re-run") {
    val raw = Files.createTempDirectory("graft_raw").toString
    val out = Files.createTempDirectory("graft_out").toString
    Files.writeString(java.nio.file.Paths.get(s"$raw/artist.json"),
      """{"id":"a1","name":"A","followers":{"total":10},"popularity":1}
        |{"id":"a2","name":"B","followers":{"total":20},"popularity":2}""".stripMargin)
    Files.writeString(java.nio.file.Paths.get(s"$raw/album.json"),
      """{"id":"al1","name":"X","release_date":"2020-02","album_type":"album","total_tracks":2,"artists":[{"id":"a1","name":"A"}]}
        |{"id":"al1","name":"XDup","release_date":"2021","album_type":"single","total_tracks":1,"artists":[{"id":"a2","name":"B"}]}""".stripMargin)
    Files.writeString(java.nio.file.Paths.get(s"$raw/track.json"),
      """{"id":"t1","name":"T","track_number":1,"duration_ms":1000,"artists":[{"id":"a1","name":"A"},{"id":"a2","name":"B"}]}""".stripMargin)

    SpotifyPipeline.runDaily(spark, raw, out, "2024-06-01")
    SpotifyPipeline.runDaily(spark, raw, out, "2024-06-01") // idempotent

    val artist = spark.read.parquet(s"$out/artist")
    val album = spark.read.parquet(s"$out/album")
    val albumBridge = spark.read.parquet(s"$out/album_artists")
    val track = spark.read.parquet(s"$out/track")
    val trackBridge = spark.read.parquet(s"$out/track_artists")
    assert(artist.count() == 2)
    assert(album.count() == 1) // first-wins dedup on album_id
    assert(album.select("album_name").as[String].head() == "X")
    assert(albumBridge.count() == 2) // both artists across the dup payloads
    assert(track.count() == 1)
    assert(trackBridge.count() == 2)
    assert(artist.select("ingest_date").distinct().as[String].collect().toSeq ==
      Seq("2024-06-01"))
  }

  private val entities = Seq("artist", "album", "album_artists", "track", "track_artists")

  /** One landed raw day whose ids carry `day`: six artists (one without
    * `followers`), six albums and six tracks, each with two or three
    * artists (one a null id the bridges drop), and re-fetched copies of
    * albums and tracks 3 and 6 later in the file, whose fields differ so
    * that only the first fetch may win. */
  private def landDay(day: Int): String = {
    val raw = Files.createTempDirectory("graft_raw").toString
    def write(name: String, lines: Seq[String]): Unit =
      Files.writeString(Paths.get(s"$raw/$name.json"), lines.mkString("\n"))
    def artists(i: Int): String = {
      val refs = Seq(i, i % 6 + 1).map(a => s"""{"id":"a${day}_$a","name":"Artist $a"}""")
      val withNull = if (i % 2 == 0) refs :+ """{"id":null,"name":"unknown"}""" else refs
      withNull.mkString("[", ",", "]")
    }
    val dates = Seq("2020", "2020-03", "2020-03-15", "not a date")
    def album(i: Int, fetch: Int): String =
      s"""{"id":"al${day}_$i","name":"Album $i fetch $fetch","release_date":"${dates((i + fetch) % 4)}",""" +
        s""""album_type":"album","total_tracks":${i + fetch},"album_group":"album","artists":${artists(i)}}"""
    def track(i: Int, fetch: Int): String =
      s"""{"id":"t${day}_$i","name":"Track $i fetch $fetch","track_number":${i + fetch},""" +
        s""""duration_ms":${1000 * i + fetch},"artists":${artists(i)}}"""
    write("artist", (1 to 6).map { i =>
      val followers = if (i == 6) "" else s""""followers":{"total":${100 * i}},"""
      s"""{"id":"a${day}_$i","name":"Artist $i",$followers"popularity":$i}"""
    })
    write("album", (1 to 6).map(album(_, 1)) ++ Seq(3, 6).map(album(_, 2)))
    write("track", (1 to 6).map(track(_, 1)) ++ Seq(3, 6).map(track(_, 2)))
    raw
  }

  test("runDaily: concurrent sinks write exactly the transform's rows per date") {
    val days = Seq("2024-07-01" -> landDay(1), "2024-07-02" -> landDay(2))
    val out = Files.createTempDirectory("graft_out").toString
    days.foreach { case (date, raw) => SpotifyPipeline.runDaily(spark, raw, out, date) }
    SpotifyPipeline.runDaily(spark, days.head._2, out, days.head._1) // same-date re-run

    days.foreach { case (date, raw) =>
      val want = SpotifyPipeline.transform(
        JsonArtifacts.readLines(spark, s"$raw/artist.json", Schemas.rawArtist),
        JsonArtifacts.readLinesNumbered(spark, s"$raw/album.json", Schemas.rawAlbum),
        JsonArtifacts.readLinesNumbered(spark, s"$raw/track.json", Schemas.rawTrack),
        col("__fetch"))
      entities.foreach { entity =>
        // Materialized first: Spark 4.1 fails to bind exceptAll over a
        // subset-key dropDuplicates (the bridges), INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND.
        val expected = want(entity).localCheckpoint()
        val got = spark.read.parquet(s"$out/$entity/ingest_date=$date")
          .select(expected.columns.map(col).toIndexedSeq: _*)
        assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
          s"$entity/$date differs from its transform")
        assert(got.count() == expected.count(), s"$entity/$date row count")
      }
    }
    entities.foreach { entity =>
      val partitions = Files.list(Paths.get(s"$out/$entity")).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("ingest_date=")).toSet
      assert(partitions == days.map(d => s"ingest_date=${d._1}").toSet, entity)
    }
  }

  test("runDaily: a failed sink fails the call after the others land, and no sink thread outlives it") {
    val raw = landDay(3)
    val date = "2024-07-03"
    // Sink threads are named "runDaily <date> <entity>"; a watcher records
    // every one it sees while the call runs, so the check below cannot pass
    // vacuously on a renamed thread.
    def sinkThreads(): Set[Thread] = Thread.getAllStackTraces.keySet.asScala.toSet
      .filter(_.getName.startsWith(s"runDaily $date "))
    def runWatched(out: String): (Throwable, Set[Thread]) = {
      val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Thread]()
      @volatile var watching = true
      val watcher = new Thread(() => while (watching) { seen.addAll(sinkThreads().asJava); Thread.sleep(1) })
      watcher.start()
      try (intercept[Throwable](SpotifyPipeline.runDaily(spark, raw, out, date)), sinkThreads())
      finally { watching = false; watcher.join(); assert(!seen.isEmpty, "no sink thread was ever seen") }
    }
    def landed(out: String): Set[String] =
      entities.filter(e => Files.isDirectory(Paths.get(s"$out/$e/ingest_date=$date"))).toSet
    // the sinks whose output path the thrown failure and its suppressed ones name
    def failed(e: Throwable, out: String): Set[String] = (e +: e.getSuppressed.toSeq)
      .flatMap(t => entities.filter(x => String.valueOf(t.getMessage).endsWith(s"$out/$x"))).toSet

    val oneBad = Files.createTempDirectory("graft_out").toString
    Files.writeString(Paths.get(s"$oneBad/track_artists"), "a file, not a directory")
    val (one, aliveAfterOne) = runWatched(oneBad)
    assert(aliveAfterOne.isEmpty, s"sink threads still alive: $aliveAfterOne")
    assert(landed(oneBad) == Set("artist", "album", "album_artists", "track"))
    assert(failed(one, oneBad) == Set("track_artists"))

    val twoBad = Files.createTempDirectory("graft_out").toString
    Seq("album", "track_artists").foreach(e =>
      Files.writeString(Paths.get(s"$twoBad/$e"), "a file, not a directory"))
    val (two, aliveAfterTwo) = runWatched(twoBad)
    assert(aliveAfterTwo.isEmpty, s"sink threads still alive: $aliveAfterTwo")
    assert(landed(twoBad) == Set("artist", "album_artists", "track"))
    assert(failed(two, twoBad) == Set("album", "track_artists"),
      "the second failure is attached to the first")
  }

  test("runDaily: every job it starts carries the caller's job group") {
    val (_, groups) = jobGroupsOf("etl-test") {
      SpotifyPipeline.runDaily(spark, landDay(4), Files.createTempDirectory("graft_out").toString,
        "2024-07-04")
    }
    assert(groups.length >= entities.length, s"saw only ${groups.length} jobs")
    assert(groups.forall(_ == "etl-test"), s"jobs outside the caller's group: $groups")
  }

  test("RestLookup: chunked 1:N expansion, inner-join skip, flaky-chunk retry") {
    val calls = spark.sparkContext.longAccumulator("calls")
    val keys = (1 to 101).map(i => s"name_$i").toDS().repartition(2)
    val lookup: Seq[String] => Seq[(String, String)] = { chunk =>
      calls.add(1)
      assert(chunk.size <= 50)
      chunk.filterNot(_ == "name_7") // name_7 resolves to nothing
        .flatMap(k => Seq(k -> s"${k}_id1", k -> s"${k}_id2")) // 1:2 expansion
    }
    val out = RestLookup.lookupJoin[String, String](keys, lookup, chunkSize = 50)
      .collect()
    assert(out.length == 200) // (101-1) keys x 2 candidates
    assert(!out.exists(_._1 == "name_7"))
    assert(calls.value >= 3) // 101 keys / 50 per chunk, across partitions

    // a chunk that fails twice then succeeds is retried, not lost
    val attempts = spark.sparkContext.collectionAccumulator[Int]("attempts")
    val flaky: Seq[String] => Seq[(String, String)] = { chunk =>
      attempts.add(1)
      if (attempts.value.size <= 2) throw new RuntimeException("transient")
      chunk.map(k => k -> "ok")
    }
    val single = (1 to 5).map(i => s"k$i").toDS().repartition(1)
    val resolved = RestLookup.lookupJoin[String, String](single, flaky, chunkSize = 10)
      .collect()
    assert(resolved.length == 5)
  }

  test("resolveColumn drops unresolved keys like the reference's inner semantics") {
    val df = Seq("A", "B", "C").toDF("artist_name")
    val out = RestLookup.resolveColumn(df, "artist_name",
      chunk => chunk.filterNot(_ == "B").map(n => n -> s"id_$n"), "artist_id")
    val rows = out.orderBy("artist_name")
      .as[(String, String)].collect()
    assert(rows.toSeq == Seq(("A", "id_A"), ("C", "id_C")))
  }
}
