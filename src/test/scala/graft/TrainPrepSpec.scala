package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Ops, TrainPrep}

class TrainPrepSpec extends SparkSuite {
  import spark.implicits._

  // ------------------------------------------------- contaminationFlags

  test("contaminationFlags: flags exactly the corpus docs sharing an n-gram") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "prefix words alpha beta gamma delta tail tokens"),
      (2L, "completely unrelated text with other words here"),
      (3L, "ALPHA  beta gamma delta epsilon extra")) // normalization → shares
      .toDF("doc_id", "text")
    val out = TrainPrep.contaminationFlags(corpus, bench, "doc_id", "text", 3)
      .as[(Long, Long)].collect().toMap
    // doc1 shares "alpha beta gamma" and "beta gamma delta" (2 distinct)
    // doc3 shares those plus "gamma delta epsilon" (3 distinct)
    assert(out == Map(1L -> 2L, 3L -> 3L))
  }

  test("contaminationFlags: counts DISTINCT shared shingles (repeats count once)") {
    val bench = Seq((9L, "x y z")).toDF("doc_id", "text")
    val corpus = Seq((1L, "x y z and then x y z again x y z")).toDF("doc_id", "text")
    val out = TrainPrep.contaminationFlags(corpus, bench, "doc_id", "text", 3)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L))
  }

  // ---------------------------------------------------- repetitionStats

  test("repetitionStats: hand-computed fractions, null bigram frac for 1-token doc") {
    val docs = Seq(
      (1L, "a a b"),       // 3 tokens, 2 distinct → dup 1/3; bigrams: "a a","a b" → top 1/2
      (2L, "solo"),        // 1 token → no bigrams → null
      (3L, "w w w w"))     // dup 3/4; bigrams "w w"×3 → top 3/3
      .toDF("doc_id", "text")
    val out = TrainPrep.repetitionStats(docs, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Double, Option[Double])].collect()
    assert(out(0) == ((1L, 3L, 0.3333, Some(0.5))))
    assert(out(1) == ((2L, 1L, 0.0, None)))
    assert(out(2) == ((3L, 4L, 0.75, Some(1.0))))
  }

  // --------------------------------------------------------- tfIdfTopK

  test("tfIdfTopK: rare tokens outrank common ones; ties break by token") {
    // "common" appears in both docs (df=2), the others in one (df=1):
    // with equal tf, df=1 scores double df=2.
    val docs = Seq(
      (1L, "rare1 common"),
      (2L, "rare2 common")).toDF("doc_id", "text")
    val out = TrainPrep.tfIdfTopK(docs, "doc_id", "text", 2)
      .orderBy("doc_id", "rk")
      .as[(Long, String, Long, Long)].collect()
    assert(out.map(r => (r._1, r._2, r._4)).toSeq == Seq(
      (1L, "rare1", 1L), (1L, "common", 2L),
      (2L, "rare2", 1L), (2L, "common", 2L)))
    // score(rare, tf=1, df=1) = 1e9; score(common, tf=1, df=2) = 5e8
    assert(out.filter(_._2.startsWith("rare")).forall(_._3 == 1000000000L))
    assert(out.filter(_._2 == "common").forall(_._3 == 500000000L))
  }

  // -------------------------------------------------------- buildVocab

  test("buildVocab: dense ids in (count desc, token) order, capped at k") {
    val docs = Seq((1L, "b a b c b a"), (2L, "a c d")).toDF("doc_id", "text")
    // counts: a=3, b=3, c=2, d=1 → order: a(3), b(3), c(2), d(1)
    val out = TrainPrep.buildVocab(docs, "doc_id", "text", 3)
      .as[(Long, String, Long)].collect().toSeq
    assert(out == Seq((1L, "a", 3L), (2L, "b", 3L), (3L, "c", 2L)))
  }

  // ----------------------------------------------------- mixtureSample

  test("mixtureSample: permille 1000 keeps all, 0 keeps none, deterministic") {
    val df = (0L until 200L).map(i => (i, if (i % 2 == 0) "keep" else "drop"))
      .toDF("id", "src")
    val out = TrainPrep.mixtureSample(df, "src", "id",
      Map("keep" -> 1000, "drop" -> 0), defaultPermille = 500)
    val ids = out.select("id").as[Long].collect().sorted
    assert(ids.toSeq == (0L until 200L by 2).toSeq)
    // determinism: a second evaluation yields the identical set
    val ids2 = TrainPrep.mixtureSample(df, "src", "id",
      Map("keep" -> 1000, "drop" -> 0), defaultPermille = 500)
      .select("id").as[Long].collect().sorted
    assert(ids.toSeq == ids2.toSeq)
  }

  test("mixtureSample: absent keys fall back to defaultPermille") {
    val df = (0L until 1000L).map(i => (i, "unknown")).toDF("id", "src")
    val n = TrainPrep.mixtureSample(df, "src", "id", Map.empty[String, Int],
      defaultPermille = 200, seed = 7L).count()
    // Knuth hash mod 1000 is near-uniform: expect ~200 of 1000
    assert(n > 120 && n < 280, s"kept $n of 1000 at 20%")
  }

  // --------------------------- runningSums prefix sums / packSequences

  test("prefixSumScalable matches the single-window reference on scattered keys") {
    val rows = Seq(7L -> 3L, 1L -> 5L, 42L -> 2L, 13L -> 7L, 99L -> 1L,
      55L -> 4L, 28L -> 6L, 3L -> 2L)
    val df = rows.toDF("k", "v").repartition(4)
    val got = Ops.runningSums(df, Nil, Seq("k"), "cum" -> $"v")
      .select($"k", ($"cum" - $"v").as("prefix_excl")).as[(Long, Long)].collect().toMap
    val expect = rows.sortBy(_._1).scanLeft((0L, 0L)) {
      case ((_, acc), (k, v)) => (k, acc + v)
    }.sliding(2).map { case Seq((_, acc), (k, _)) => (k, acc) }.toMap
    assert(got == expect)
  }

  test("prefixSumScalable: empty input yields the schema with a null column") {
    val df = Seq.empty[(Long, Long)].toDF("k", "v")
    val out = Ops.runningSums(df, Nil, Seq("k"), "prefix_excl" -> $"v")
    assert(out.columns.toSeq == Seq("k", "v", "prefix_excl"))
    assert(out.count() == 0)
  }

  test("packSequences: offsets are contiguous and pack ids cut every budget tokens") {
    val docs = Seq((1L, 100L), (2L, 100L), (3L, 100L), (4L, 30L), (5L, 300L))
      .toDF("doc_id", "n_tokens")
    val out = TrainPrep.packSequences(docs, "doc_id", "n_tokens", 256)
      .orderBy("doc_id")
      .select("doc_id", "start_offset", "pack_id", "pack_offset")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 0L, 0L, 0L),
      (2L, 100L, 0L, 100L),
      (3L, 200L, 0L, 200L),   // spans the 256 boundary — starts in pack 0
      (4L, 300L, 1L, 44L),
      (5L, 330L, 1L, 74L)))
  }
}
