package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.CosineSim.cosine_sim
import graft.functions.VectorFold

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k (TakeOrderedAndProject — one pass,
  * no global sort). Scale path: signed-random-projection LSH bucketing so
  * a 100 TB corpus only scans the probe's bucket (and its Hamming-1
  * neighbors for recall).
  *
  * Hot-path vector math is native Catalyst expressions, each one
  * allocation-free loop inside whole-stage codegen: the fused
  * [[graft.functions.CosineSim]] (~1.8× the HOF form), and
  * [[graft.functions.VectorFold]] under [[dot]] and [[sqDist]]. Spark's
  * `zip_with`/`aggregate` forms run interpreted (`CodegenFallback`); they
  * live on only as the test references these kernels are pinned
  * bit-identical to. No UDF serialization anywhere.
  */
object Similarity {

  /** Dot product of two array<float|double> columns, an index-ordered
    * fold in double; NULL on a NULL array or element or unequal lengths. */
  def dot(a: Column, b: Column): Column = VectorFold.dot(a, b)

  /** Squared L2 distance of two array<float|double> columns, folded as
    * [[dot]]. */
  def sqDist(a: Column, b: Column): Column = VectorFold.sq_dist(a, b)

  /** L2 norm of an array<float|double> column: the square root of its [[dot]]
    * with itself. */
  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity of two array<float|double> columns (0 when either norm
    * is 0). */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = l2norm(a) * l2norm(b)
    when(n === 0.0, lit(0.0)).otherwise(d / n)
  }

  /** Brute-force cosine top-k neighbors of a fixed probe vector.
    * The probe is a plan literal — broadcast implicitly with the task
    * binary, so the scan is a single narrow pass; `orderBy().limit(k)`
    * plans as TakeOrderedAndProject (per-partition heaps + driver merge,
    * no shuffle of the full corpus). */
  def cosineTopK(emb: DataFrame, idCol: String, vecCol: String,
                 probe: Array[Float], k: Int): DataFrame = {
    val probeCol = array(probe.map(v => lit(v.toDouble)): _*)
    emb.select(col(idCol), cosine_sim(col(vecCol), probeCol).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Deterministic pseudo-random hyperplanes for signed-random-projection
    * LSH: `nBits × dim` entries in {-1, +1} derived from a seeded
    * multiplicative hash (no RNG state — reproducible across runs/engines).
    */
  def hyperplanes(nBits: Int, dim: Int, seed: Long): Array[Array[Double]] =
    Array.tabulate(nBits, dim) { (b, d) =>
      val h = (seed + b.toLong * 1315423911L + d.toLong * 2654435761L) * 0x9E3779B97F4A7C15L
      if (((h >>> 32) & 1L) == 1L) 1.0 else -1.0
    }

  /** LSH bucket id of a vector column: one bit per hyperplane =
    * sign(dot(v, h_b)); packed into a long. Codegen'd expression tree. */
  def lshBucket(vecCol: Column, planes: Array[Array[Double]]): Column = {
    val bits = planes.zipWithIndex.map { case (p, b) =>
      val pc = array(p.map(lit): _*)
      when(dot(vecCol, pc) > 0.0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }
    bits.reduce(_.bitwiseOR(_))
  }

  /** Approximate top-k: restrict the scan to vectors whose LSH bucket is
    * within `hamming` bits of the probe's bucket, then exact-rerank by
    * cosine. At scale the bucket column is a partition/cluster key, so
    * candidate selection is a metadata-pruned scan, not a full pass. */
  def cosineTopKLsh(emb: DataFrame, idCol: String, vecCol: String,
                    probe: Array[Float], k: Int, nBits: Int = 16,
                    seed: Long = 42L, hamming: Int = 2): DataFrame = {
    val dim = probe.length
    val planes = hyperplanes(nBits, dim, seed)
    val probeBucket: Long = {
      var acc = 0L
      var b = 0
      while (b < nBits) {
        var s = 0.0
        var d = 0
        while (d < dim) { s += planes(b)(d) * probe(d); d += 1 }
        if (s > 0.0) acc |= (1L << b)
        b += 1
      }
      acc
    }
    val probeCol = array(probe.map(v => lit(v.toDouble)): _*)
    emb.withColumn("bucket", lshBucket(col(vecCol), planes))
      .where(bit_count(col("bucket").bitwiseXOR(lit(probeBucket))) <= hamming)
      .select(col(idCol), cosine_sim(col(vecCol), probeCol).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** IVF (inverted-file) approximate nearest neighbor — the classic
    * two-level ANN index expressed as Spark dataflow:
    *
    *  - **build**: pick `nlist` centroid vectors by deterministic seeded
    *    hash-order sample (no k-means iterations — seed vectors are the
    *    standard cheap initialization and keep the whole build one pass);
    *    assign every vector to its nearest centroid with a codegen'd
    *    argmax over `nlist` fused cosine expressions. At production scale
    *    the assignment (`list`) is written as a partition/cluster key, so
    *    the per-query candidate scan below is metadata-pruned I/O, not a
    *    full pass.
    *  - **query**: rank centroids against the probe driver-side (nlist is
    *    tiny), take the best `nprobe` lists, scan only those lists and
    *    exact-rerank by cosine.
    *
    * `nprobe == nlist` degenerates to exact brute force (every list
    * scanned) — the recall/latency dial is explicit. Fully deterministic:
    * seeded centroid choice, total tie order by id everywhere. */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
              probe: Array[Float], k: Int, nlist: Int = 16,
              nprobe: Int = 4, seed: Long = 42L): DataFrame = {
    // a table smaller than nlist yields fewer centroids — degrade
    // gracefully by capping nprobe (small fixtures, tail partitions)
    val cents = seededCentroids(emb, idCol, vecCol, nlist, seed)
    ivfTopKPrecomputed(emb, idCol, vecCol, cents,
      probe.map(_.toDouble), k, math.min(nprobe, cents.length).max(1))
  }

  /** The seeded-sample rank ordering the coarse quantizer selects by —
    * the ONE definition shared by [[seededCentroids]] and any caller that
    * re-derives the same centroid set (e.g. a fused probe+centroid fetch). */
  def seededRank(idCol: Column, seed: Long): Column =
    pmod(xxhash64(lit(seed), idCol), lit(1000000007L))

  /** The coarse quantizer: `nlist` centroid vectors by deterministic seeded
    * hash-order sample (no k-means iterations — seed vectors are the
    * standard cheap initialization and keep the whole build one pass).
    * nlist rows to the driver — small by construction. */
  def seededCentroids(emb: DataFrame, idCol: String, vecCol: String,
                      nlist: Int, seed: Long = 42L): Array[Array[Double]] =
    emb.select(col(idCol), col(vecCol))
      .orderBy(seededRank(col(idCol), seed), col(idCol))
      .limit(nlist)
      .collect()
      .map(toDoubleVec(_))

  /** Row vector payload (column `idx`) → double vector, for collected
    * probe or centroid rows of either float or double element type. */
  def toDoubleVec(r: org.apache.spark.sql.Row, idx: Int = 1): Array[Double] =
    r.getSeq[Any](idx).map {
      case f: Float => f.toDouble
      case d: Double => d
    }.toArray

  /** [[ivfTopK]] with the driver-side index state (centroids) supplied by
    * the caller — lets a query fuse probe + centroid retrieval into ONE
    * collect (union of two tiny plans) instead of two scheduling rounds,
    * and lets a long-lived service reuse a built quantizer across probes. */
  def ivfTopKPrecomputed(emb: DataFrame, idCol: String, vecCol: String,
                         centroids: Array[Array[Double]], probeD: Array[Double],
                         k: Int, nprobe: Int): DataFrame = {
    val nlist = centroids.length
    require(nlist > 0 && nprobe > 0 && nprobe <= nlist)
    val centCols = centroids.map(c => array(c.map(lit): _*))

    // argmax over the centroid sims via greatest-of-structs: (sim, -index)
    // compares lexicographically, so the max struct is the best sim with
    // ties broken toward the SMALLEST index — deterministic, and each sim
    // is evaluated exactly once with no per-row array materialization
    // (measured 5× the array_position(array(sims)) form, which both allocs
    // the array and evaluates it twice).
    def assignCol(vec: Column): Column =
      if (nlist == 1) lit(0)
      else {
        val packed = centCols.zipWithIndex.map { case (c, i) =>
          struct(cosine_sim(vec, c).as("s"), lit(-i).as("ni"))
        }
        (-greatest(packed: _*).getField("ni")).cast("int")
      }

    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val probeLists: Seq[Int] = centroids.zipWithIndex
      .map { case (c, i) => (cos(c, probeD), i) }
      .sortBy { case (s, i) => (-s, i) }
      .take(nprobe).map(_._2).toSeq

    val probeCol = array(probeD.map(lit): _*)
    emb.withColumn("__list", assignCol(col(vecCol)))
      .where(col("__list").isin(probeLists: _*)) // the pruned-lists scan
      .select(col(idCol), cosine_sim(col(vecCol), probeCol).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** One Lloyd (k-means) iteration over an embedding column, as pure
    * dataflow — the building block an embedding-clustering pass (IVF index
    * build, semantic dedup, corpus bucketing) iterates at scale:
    *
    *  - **init**: deterministic centroids = the k vectors with the smallest
    *    ids (k rows to the driver — the same driver-side index-state shape
    *    as [[ivfTopKPrecomputed]]; a caller iterating Lloyd feeds each
    *    round's output back in here).
    *  - **assign**: argmin over k fused squared-L2 expressions via
    *    least-of-structs `(dist, cluster_id)` — each distance evaluated
    *    once, no per-row array materialization, ties to the smallest id.
    *    All arithmetic in double over exactly-widened floats, so an ANSI
    *    oracle ranking by `list_distance` (monotone sqrt of the same sum)
    *    assigns identically.
    *  - **update**: `posexplode` + per-(cluster, dim) average. The explode
    *    is pipelined (never shuffled raw); the aggregate combines map-side,
    *    so each partition ships ≤ k·dim partial rows — output is k·dim
    *    regardless of corpus size.
    *
    * The declared centroid semantics are the **mean of µ-quantized
    * components**: each component is fixed-pointed to an exact integer
    * `round(val·10⁶)` before summing, so the sum is associative (integer)
    * and the mean is independent of partial-aggregation order — a plain
    * `avg(double)` drifts in the last ulp with summation order and can
    * flip a 4-dp rounding boundary between engines. One IEEE division at
    * the end (`Σq / (n·10⁶)`) over bit-identical operands is
    * deterministic. Headroom: Σq overflows 2⁶³ only past ~9·10¹²
    * unit-scale members per (cluster, dim) cell — beyond any single
    * cluster at 100 TB; drop the quantization to 10⁴ if vectors are
    * unnormalized by >100×.
    *
    * Returns (cluster_id, pos, c, n): dim-indexed new centroid coordinates
    * (quantized mean rounded to 4 dp) and member counts. */
  def kmeansStep(emb: DataFrame, idCol: String, vecCol: String,
                 k: Int): DataFrame =
    kmeansStepPrecomputed(emb, idCol, vecCol,
      seedCentroids(emb, idCol, vecCol, k))

  /** The deterministic k-means initialization: the k vectors with the
    * smallest ids (k rows to the driver). */
  def seedCentroids(emb: DataFrame, idCol: String, vecCol: String,
                    k: Int): Array[(Long, Array[Double])] = {
    require(k >= 1, "k must be positive")
    emb.select(col(idCol), col(vecCol)).orderBy(col(idCol)).limit(k)
      .collect().map(r => (r.getLong(0), toDoubleVec(r)))
  }

  /** Empty-centroid-state guard shared by the consumers of a driver-held
    * quantizer: an empty corpus yields NO centroids, and "no index state"
    * must mean "no output", not a crash (at 100 TB a pruned read or hard
    * filter legitimately produces zero rows). Substitutes one zero
    * centroid so the plan still BUILDS (output schema unchanged) and
    * filters the input to `false` so no row is ever scored against it —
    * provably inert whenever `cents` is non-empty. */
  private def emptyCentsGuard(df: DataFrame, cents: Array[(Long, Array[Double])])
      : (DataFrame, Array[(Long, Array[Double])]) =
    if (cents.nonEmpty) (df, cents)
    else (df.where(lit(false)), Array((0L, Array(0.0))))

  /** Exact argmin cluster assignment via a BROADCAST CENTROID TABLE:
    * expand each vector against the k broadcast centroids (a broadcast
    * nest of n×k DATA rows — never k expression nodes), compute the same
    * index-order squared-L2 as [[kmeansAssignCol]], and fold to one
    * struct-min per vector (map-side partial: the shuffle carries one row
    * per (vector, partition), the n×k expansion never shuffles). Same
    * numerics and tie-break as the inlined form — the distance is the
    * identical [[sqDist]] expression and min over struct(d, cid)
    * is the same lexicographic (distance, smallest-cid) order — so the
    * two forms are result-interchangeable and oracle-stable.
    *
    * Why a second form exists: [[kmeansAssignCol]] inlines the centroids
    * as literals — at small fixed k that keeps assignment a pure
    * projection, but the PLAN is O(k·dim) nodes, and at the adaptive
    * cluster counts a corpus-proportional k implies (k = 80 at the 100×
    * study scale) the single-threaded optimizer/codegen spun for tens of
    * minutes before any task ran. Plan size must stay constant in k;
    * only DATA may scale with k. Emits (idCol, vecCol, cluster_id).
    *
    * PRECONDITION: `idCol` must be unique per row. The fold groups by id
    * and keeps `first(vecCol)` — safe only because every row of an id's
    * group carries the same vector; rows SHARING an id would collapse to
    * one output row with an arbitrary survivor's vector (unlike
    * [[kmeansAssignCol]], which preserves every input row). */
  def kmeansAssignJoined(emb0: DataFrame, idCol: String, vecCol: String,
                         cents0: Array[(Long, Array[Double])]): DataFrame = {
    val (emb, cents) = emptyCentsGuard(emb0, cents0)
    val s = emb.sparkSession
    val centDF = s.createDataFrame(cents.toSeq.map(c => (c._1, c._2.toSeq)))
      .toDF("__cid", "__c")
    val d = sqDist(col(vecCol), col("__c"))
    emb.crossJoin(broadcast(centDF))
      .select(col(idCol), col(vecCol),
        struct(d.as("d"), col("__cid").as("cid")).as("__dc"))
      .groupBy(idCol)
      // first(vecCol) is deterministic here: every row of a vector's
      // group carries the SAME vector (the expansion only varied __cid)
      .agg(first(col(vecCol)).as(vecCol), min(col("__dc")).as("__m"))
      .select(col(idCol), col(vecCol), col("__m").getField("cid").as("cluster_id"))
  }

  /** Exact argmin cluster assignment against driver-held centroids:
    * least-of-structs over k fused squared-L2 expressions (each distance
    * evaluated once, ties to the smallest cluster id). Plan size is
    * O(k·dim) — for ADAPTIVE k use [[kmeansAssignJoined]]. Empty `cents`
    * (an empty corpus yields no seed centroids) assigns NULL — no row
    * matches any cluster, so equi-joins and group-bys downstream emit
    * nothing rather than crash at plan time. */
  def kmeansAssignCol(vecCol: String,
                      cents: Array[(Long, Array[Double])]): Column = {
    if (cents.isEmpty) return lit(null).cast("long")
    val packed = cents.map { case (cid, c) =>
      struct(sqDist(col(vecCol), array(c.map(lit): _*)).as("d"), lit(cid).as("cid"))
    }
    (if (packed.length == 1) packed.head else least(packed.toSeq: _*))
      .getField("cid")
  }

  /** [[kmeansStep]] with the centroid state supplied by the caller — the
    * form [[kmeansIterate]] loops. */
  def kmeansStepPrecomputed(emb0: DataFrame, idCol: String, vecCol: String,
                            cents0: Array[(Long, Array[Double])]): DataFrame = {
    val (emb, cents) = emptyCentsGuard(emb0, cents0)
    val vecD = col(vecCol).cast("array<double>")
    // two steps: a generator in the SAME select as the least-of-structs
    // makes the analyzer's generator extraction re-derive the struct type
    // with default col1/col2 field names, breaking the getField("cid")
    emb.withColumn("cluster_id", kmeansAssignCol(vecCol, cents))
      .select(col("cluster_id"), posexplode(vecD).as(Seq("pos", "val")))
      .groupBy("cluster_id", "pos")
      .agg(sum(round(col("val") * lit(1e6), 0).cast("long")).as("__sq"),
        count(lit(1)).as("n"))
      // centroid as EXACT integer 4-dp fixed point (units of 1e-4), never
      // materializing a double: µ-units → 4-dp units is ÷100 with
      // round-half-away-from-zero, done as sign-adjusted truncating integer
      // division — bit-identical on any engine whose integer division
      // truncates toward zero (Spark `div`, DuckDB `//`). A final
      // `round(double, 4)` is NOT portable: BigDecimal-rounding vs
      // multiply-round-divide flip boundary cells.
      .select(col("cluster_id"), col("pos").cast("long").as("pos"),
        expr("(__sq + (CASE WHEN __sq < 0 THEN -50 ELSE 50 END) * n) div (100 * n)")
          .as("c"),
        col("n"))
  }

  /** Full Lloyd iteration: `iters` rounds of assign + update, each round
    * one distributed pass (the k·dim centroid frame — a few KB — is the
    * only driver round-trip per iteration; the corpus is never collected
    * or cached driver-side). A cluster that loses all members keeps its
    * previous centroid (the standard empty-cluster rule, keeping k stable).
    * Returns the final centroids keyed by their seed ids. */
  def kmeansIterate(emb: DataFrame, idCol: String, vecCol: String,
                    k: Int, iters: Int): Array[(Long, Array[Double])] = {
    var cents = seedCentroids(emb, idCol, vecCol, k)
    for (_ <- 1 to iters) {
      val byCluster = kmeansStepPrecomputed(emb, idCol, vecCol, cents)
        .collect()
        .groupBy(_.getLong(0))
        .map { case (cid, rows) =>
          // `c` is 4-dp fixed point (units of 1e-4) — rescale to double
          cid -> rows.sortBy(_.getLong(1)).map(_.getLong(2) / 1e4)
        }
      cents = cents.map { case (cid, prev) =>
        (cid, byCluster.getOrElse(cid, prev))
      }
    }
    cents
  }

  /** Int8 scalar quantization of an embedding column — the 4× storage/
    * bandwidth compression a 100 TB vector corpus applies before indexing:
    * per-vector symmetric scale = max|x|/127, codes = round(x/scale) ∈
    * [-127, 127]. Zero vectors quantize to all-zero codes with scale 0.
    * Row-local (zero shuffle); emits the rounded scale and the exact
    * integer codes (canonicalized to a comma-joined string — the
    * harness compare is scalar-columnar; the array form is
    * [[quantizeInt8Codes]]), plus the max absolute reconstruction error
    * so a pipeline can gate on quantization loss.
    *
    * Cost note: `max|x|` and the codes array are STAGED in their own
    * projections so each is computed once per row and later lambdas
    * reference them as plain row attributes — inlining them textually into
    * every lambda element re-evaluates them per element (measured 4.5×
    * slower at dim 64; Spark 4.1's CollapseProject keeps a non-cheap,
    * multiply-referenced alias staged). */
  def quantizeInt8(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    quantizeInt8Codes(emb, idCol, vecCol)
      .withColumn("q", concat_ws(",", col("q")))

  /** [[quantizeInt8]] with the codes as a real `array<int>` column — the
    * form a downstream index build consumes. */
  def quantizeInt8Codes(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val vecD = col(vecCol).cast("array<double>")
    val withMa = emb.select(col(idCol), vecD.as("__v"),
      array_max(transform(vecD, x => abs(x))).as("__ma"))
    val scale = when(col("__ma") === 0.0, lit(0.0)).otherwise(col("__ma") / 127.0)
    val codes = when(col("__ma") === 0.0,
        transform(col("__v"), _ => lit(0).cast("int")))
      .otherwise(transform(col("__v"),
        x => round(x * 127.0 / col("__ma"), 0).cast("int")))
    val withCodes = withMa.select(col(idCol), col("__v"), col("__ma"),
      scale.as("__scale"), codes.as("q"))
    val err = array_max(zip_with(col("__v"), col("q"),
      (x, q) => abs(x - q.cast("double") * col("__ma") / 127.0)))
    withCodes.select(col(idCol), round(col("__scale"), 6).as("scale"),
      col("q"), round(coalesce(err, lit(0.0)), 6).as("max_err"))
  }

  /** Exact k-nearest-neighbor JOIN: for every query vector, its `k` nearest
    * corpus vectors by cosine (self excluded). `queries` must carry columns
    * `(q_id, qv)` and be SMALL relative to the corpus — it is broadcast, so
    * scoring is a narrow pass over the corpus scan (a broadcast nested-loop
    * join, no corpus shuffle). The only exchange is the per-query ranking
    * window, which carries the slim `(q_id, n_id, sim)` score triples —
    * |Q|·|corpus| of them, the irreducible cost of EXACT kNN. At 100 TB
    * that product is the thing to cut, not the shuffle width: the scale
    * path is [[knnJoinBlocked]] (cluster-blocked candidates, |Q|·|bucket|
    * scores) or the per-probe ANN indexes ([[ivfTopK]]/[[cosineTopKLsh]]).
    * Ranking is over the ROUNDED similarity with ties to the smallest
    * neighbor id — stable under float summation-order drift, so an ANSI
    * oracle ranks identically. */
  def knnJoinExact(emb: DataFrame, idCol: String, vecCol: String,
                   queries: DataFrame, k: Int): DataFrame = {
    val scored = emb.join(broadcast(queries), col(idCol) =!= col("q_id"))
      .select(col("q_id"), col(idCol).as("n_id"),
        round(cosine_sim(col(vecCol), col("qv")), 4).as("sim"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("n_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= k)
  }

  /** Approximate kNN join, cluster-blocked: both sides are assigned to their
    * nearest centroid ([[kmeansAssignCol]] — the same argmin the IVF coarse
    * quantizer uses) and candidates are restricted to the query's cluster,
    * so the score volume drops from |Q|·|corpus| to |Q|·|bucket|. With the
    * cluster id as a partition/cluster key the candidate scan is
    * metadata-pruned I/O. Recall < 1 by design (neighbors straddling a
    * cluster boundary are missed — mitigated at scale by multi-probe over
    * the nearest few centroids, exactly IVF's nprobe dial). */
  def knnJoinBlocked(emb: DataFrame, idCol: String, vecCol: String,
                     queries: DataFrame, k: Int,
                     cents: Array[(Long, Array[Double])]): DataFrame = {
    val e = emb.withColumn("__c", kmeansAssignCol(vecCol, cents))
    val q = queries.withColumn("__c", kmeansAssignCol("qv", cents))
    val scored = e.join(broadcast(q),
        e("__c") === q("__c") && col(idCol) =!= col("q_id"))
      .select(col("q_id"), col(idCol).as("n_id"),
        round(cosine_sim(col(vecCol), col("qv")), 4).as("sim"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("n_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= k)
  }

  /** SemDeDup-style semantic near-duplicate pairs: k-means-assign every
    * vector to its nearest seed centroid, then compare pairs ONLY within a
    * cluster (equi-join on the cluster id — a co-partitioned shuffle, never
    * a cross join). The cluster-blocking is what bounds the quadratic pair
    * expansion: each cluster holds ~n/k members, so compares are n²/k
    * instead of n²; at 100 TB k grows with the corpus (k ∝ n keeps the
    * per-cluster frame constant) and the assignment is a materialized
    * partition/cluster key, making each cluster's pair pass local I/O.
    * Fully deterministic (seeded centroids, rounded sims, id-ordered
    * pairs), so an ANSI oracle reproduces it exactly. */
  def semDedupPairs(emb: DataFrame, idCol: String, vecCol: String,
                    k: Int, threshold: Double): DataFrame =
    semDedupPairsPrecomputed(emb, idCol, vecCol,
      seedCentroids(emb, idCol, vecCol, k), threshold)

  /** [[semDedupPairs]] with the centroid state supplied by the caller —
    * lets a session reuse one seed collect across the kmeans / blocked-kNN
    * / SemDeDup family instead of re-collecting per query. */
  def semDedupPairsPrecomputed(emb: DataFrame, idCol: String, vecCol: String,
                               cents: Array[(Long, Array[Double])],
                               threshold: Double): DataFrame = {
    // join-form assignment: k is adaptive here (k ∝ n), so plan size must
    // not grow with it — see [[kmeansAssignJoined]]
    val assigned = kmeansAssignJoined(emb, idCol, vecCol, cents)
    // TRIANGULAR BLOCKED self-join. A plain within-cluster self-join puts
    // each cluster's whole quadratic pair pass on ONE join key = one task;
    // real embedding corpora have dense modes (the 100× study fixture's
    // largest cluster holds 14 % of the corpus → ~400 M cosines in one
    // task while 31 cores idle). Salting each member into one of B hash
    // blocks and joining BLOCK PAIRS keeps the result set bit-identical —
    // pair (x,y) with blocks (i ≤ j) meets at exactly key (cluster,i,j):
    // the a-side emits its upper wedge (j ∈ [b, B)), the b-side its lower
    // (i ∈ [0, b]) — while the per-task work drops to (cluster/B)² and
    // the key space grows to clusters × B(B+1)/2. The same-block diagonal
    // dedupes by id order; cross blocks canonicalize via least/greatest.
    // B is a static dial (expansion is (B+1)/2 copies per side — data,
    // not plan); 8 suits the study scale, grow it ~√(cluster size) on a
    // larger corpus. The oracle is untouched: this changes the execution
    // shape of the SAME pair set.
    val B = 8
    val blocked = assigned.withColumn("__b",
      pmod(xxhash64(col(idCol)), lit(B.toLong)).cast("int"))
    val a = blocked.select(col("cluster_id"), col(idCol).as("id_a"),
        col(vecCol).as("__va"), col("__b").as("__i"),
        explode(sequence(col("__b"), lit(B - 1))).as("__j"))
    val b = blocked.select(col("cluster_id"), col(idCol).as("id_b"),
        col(vecCol).as("__vb"), col("__b").as("__j"),
        explode(sequence(lit(0), col("__b"))).as("__i"))
    a.join(b, Seq("cluster_id", "__i", "__j"))
      .where(col("__i") =!= col("__j") || col("id_a") < col("id_b"))
      .withColumn("sim", round(cosine_sim(col("__va"), col("__vb")), 4))
      .where(col("sim") >= threshold)
      .select(col("cluster_id"),
        least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("sim"))
  }

  /** All-pairs near-duplicate vectors above a cosine threshold, LSH-blocked:
    * pairs are only compared within an LSH bucket (equi-join on the bucket
    * = co-partitioned shuffle, never a cross join). Recall is tuned by
    * nBits (fewer bits → bigger buckets → higher recall, more compares). */
  def embeddingNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                            threshold: Double, nBits: Int = 8,
                            seed: Long = 42L, dim: Int = 64): DataFrame = {
    val planes = hyperplanes(nBits, dim, seed)
    val withBucket = emb.select(col(idCol), col(vecCol), lshBucket(col(vecCol), planes).as("bucket"))
    val a = withBucket.select(col("bucket"), col(idCol).as("id_a"), col(vecCol).as("vec_a"))
    val b = withBucket.select(col("bucket"), col(idCol).as("id_b"), col(vecCol).as("vec_b"))
    a.join(b, Seq("bucket"))
      .where(col("id_a") < col("id_b"))
      .withColumn("sim", cosine_sim(col("vec_a"), col("vec_b")))
      .where(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
  }
}
