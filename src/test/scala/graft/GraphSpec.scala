package graft

import graft.operators.{Checkpoints, Graph}
import org.apache.spark.sql.catalyst.expressions.{Attribute, IsNotNull}
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSuite {
  import spark.implicits._

  private def components(edges: Seq[(Long, Long)], parts: Int = 4): Map[Long, Long] = {
    val df = edges.toDF("s", "t").repartition(parts)
    val cc = Graph.connectedComponents(df, "s", "t")
    val out = cc.as[(Long, Long)].collect().toMap
    cc.unpersist()
    out
  }

  // baskets 1..4: {10,20,30}, {10,20} (its (2, 20) row duplicated),
  // {20,30,40}, {50} alone
  private val baskets = Seq(
    (1L, 10L), (1L, 20L), (1L, 30L),
    (2L, 10L), (2L, 20L), (2L, 20L),
    (3L, 20L), (3L, 30L), (3L, 40L),
    (4L, 50L))

  private def pairs(minSupport: Int, rows: Seq[(Long, Long)] = baskets): Map[(Long, Long), Long] =
    Graph.coOccurrence(rows.toDF("basket", "item"), "basket", "item", minSupport)
      .as[(Long, Long, Long)].collect().map { case (a, b, c) => (a, b) -> c }.toMap

  test("coOccurrence: distinct baskets counted, canonical pairs, support cut inclusive") {
    // the duplicated (2, 20) row counts once: (10, 20) shares baskets 1 and 2
    val all = pairs(1)
    assert(all == Map((10L, 20L) -> 2L, (10L, 30L) -> 1L, (20L, 30L) -> 2L,
      (20L, 40L) -> 1L, (30L, 40L) -> 1L), all.toString)
    assert(all.keys.forall { case (a, b) => a < b }, s"pairs must be canonical: $all")
    // item 50 is alone in its basket: no edge touches it
    assert(!all.keys.exists { case (a, b) => a == 50L || b == 50L }, all.toString)
    // a pair at exactly minSupport is kept; at minSupport − 1 it is dropped
    assert(pairs(2) == Map((10L, 20L) -> 2L, (20L, 30L) -> 2L))
    assert(pairs(3).isEmpty)
  }

  test("symmetric emits both directions; degrees equal its per-src count") {
    val e = Seq((10L, 20L), (10L, 30L), (20L, 30L), (20L, 40L)).toDF("pa", "pb")
    val sym = Graph.symmetric(e, "pa", "pb").as[(Long, Long)].collect().toSeq
    val want = Seq((10L, 20L), (10L, 30L), (20L, 30L), (20L, 40L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
    assert(sym.sorted == want.sorted, sym.toString)
    val deg = Graph.degrees(e, "pa", "pb").as[(Long, Long)].collect().toMap
    val symDeg = sym.groupBy(_._1).map { case (n, out) => n -> out.size.toLong }
    assert(deg == symDeg, s"degrees=$deg symmetric per-src=$symDeg")
    assert(deg == Map(10L -> 2L, 20L -> 3L, 30L -> 2L, 40L -> 1L))
  }

  test("a checkpointed symmetric frame keeps its endpoints' non-null constraints") {
    // nullable endpoints, proven non-null only by a filter: the explode alone
    // would drop that proof, and connectedComponents' pointer-jump self-join
    // would stop sharing its exchange
    val e = Seq((Some(1L), Some(2L)), (Some(2L), Some(3L))).toDF("pa", "pb")
      .where(col("pa").isNotNull && col("pb").isNotNull)
    val sym = Checkpoints.truncate(Graph.symmetric(e, "pa", "pb"))
    val notNull = sym.queryExecution.optimizedPlan.constraints.collect {
      case IsNotNull(a: Attribute) => a.name
    }
    assert(notNull == Set("src", "dst"), notNull.toString)
    sym.unpersist()
  }

  test("coOccurrence, symmetric and degrees: empty input gives empty output") {
    assert(pairs(1, Seq.empty).isEmpty)
    val e = Seq.empty[(Long, Long)].toDF("pa", "pb")
    assert(Graph.symmetric(e, "pa", "pb").collect().isEmpty)
    assert(Graph.degrees(e, "pa", "pb").collect().isEmpty)
  }

  test("connectedComponents: two triangles + bridge node, singleton edge") {
    // {1,2,3} triangle, {10,11,12} triangle joined to it via 3-10; {20,21}
    val cc = components(Seq(
      (1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L),
      (20L, 21L)))
    assert(Seq(1L, 2L, 3L, 10L, 11L, 12L).forall(cc(_) == 1L), cc.toString)
    assert(cc(20L) == 20L && cc(21L) == 20L, cc.toString)
  }

  test("connectedComponents: a long path collapses within the log-round budget") {
    // path 0-1-2-...-40: diameter 40, but pointer jumping must converge
    // well inside the default 20 rounds (geometric collapse)
    val path = (0L until 40L).map(i => (i, i + 1))
    val cc = components(path)
    assert(cc.values.toSet == Set(0L), s"all 41 nodes must label 0: $cc")
  }

  test("connectedComponents: deterministic across partition counts") {
    val edges = Seq((5L, 9L), (9L, 2L), (7L, 8L), (3L, 5L), (8L, 1L), (4L, 6L))
    val a = components(edges, parts = 1)
    val b = components(edges, parts = 13)
    assert(a == b)
    assert(a(2L) == 2L && a(9L) == 2L && a(5L) == 2L && a(3L) == 2L)
    assert(a(1L) == 1L && a(7L) == 1L && a(8L) == 1L)
    assert(a(4L) == 4L && a(6L) == 4L)
  }

  test("checkpoint durability tiers agree: local vs reliable (graft.checkpoint.dir)") {
    import graft.operators.Checkpoints
    // local-mode tier (conf unset) — the default every other test exercises
    val local = Queries.qKcore(spark, SF).collect().toSeq
    // durable tier: same query, every truncation now a reliable checkpoint
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    spark.conf.set(Checkpoints.DirConf, dir)
    try {
      val reliable = Queries.qKcore(spark, SF).collect().toSeq
      assert(local == reliable,
        s"durability tier must not change results:\nlocal=$local\nreliable=$reliable")
      // the durable path actually wrote checkpoint data to the DFS dir
      // getCheckpointDir is a URI string (file:/...) — resolve via URI
      val ckpt = java.nio.file.Paths.get(
        new java.net.URI(spark.sparkContext.getCheckpointDir.get))
      val wrote = java.nio.file.Files.walk(ckpt)
        .anyMatch(p => java.nio.file.Files.isRegularFile(p))
      assert(wrote, "reliable mode must materialize checkpoint files")
      // release() is the quiescent point: it must reclaim the per-round
      // rdd-* checkpoint dirs (Spark itself only does so under
      // cleaner.referenceTracking.cleanCheckpoints, GC-timing-dependent)
      Checkpoints.release(spark)
      val remaining = java.nio.file.Files.list(ckpt).count()
      assert(remaining == 0L,
        s"release() must reclaim durable checkpoint dirs, $remaining left")
    } finally spark.conf.unset(Checkpoints.DirConf)
  }
}
