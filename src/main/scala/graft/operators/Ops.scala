package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.CollapseWs.collapse_ws

/** The relational operator kernel: small pure `DataFrame => DataFrame`
  * (or `Column => Column`) functions, one per dataflow operator surveyed
  * from the reference (SURVEY.md §2.1; reference = dieulinhng/
  * Spotify-Data-Pipeline, studied at /root/reference).
  *
  * Every op is shuffle-honest: no `collect`, no driver-side loops over
  * data. Where a windowed formulation would serialize through a single
  * partition (global row numbering), a scalable two-phase variant is
  * provided alongside.
  */
object Ops {

  /** Whitespace normalization: trim + collapse internal runs of Java `\s`.
    * Mirrors the reference's `' '.join(n.strip().split())`
    * (scripts/search_artist_id_and_name.py:21). The native one-pass
    * [[graft.functions.CollapseWs]] (codegen'd, no regex per row); equals
    * `trim(regexp_replace(c, "\\s+", " "))`, which FunctionProps pins. */
  def normalizeWs(c: Column): Column = collapse_ws(c)

  /** Variable-precision date parsing (the reference's `release_date` —
    * YYYY, YYYY-MM, or YYYY-MM-DD, spotify_etl_v2.py:165): pad the missing
    * "-01"/"-01-01" suffix by length and parse ONCE with a strict pattern —
    * one formatter pass per row instead of a 3-deep try_to_date coalesce
    * chain (measured 2×; a malformed string fails the strict full pattern
    * either way and degrades to null). */
  def parsePartialDate(c: Column): Column =
    try_to_date(concat(c,
      lit("-01-01").substr(lit(1), greatest(lit(0), lit(10) - length(c)))),
      "yyyy-MM-dd")

  /** Normalize + lowercase — the canonical text key used by dedup ops. */
  def normalizeText(c: Column): Column = lower(normalizeWs(c))

  /** Quote escaping for query-string construction
    * (search_artist_id_and_name.py:38-39). */
  def escapeQuotes(c: Column): Column = regexp_replace(c, "\"", "\\\\\"")

  /** First-occurrence dedup keeping the full row, with a *total* order so
    * the winner is deterministic (reference keeps first-seen via a Python
    * set, spotify_etl_v2.py:143,161-170). Never use bare `dropDuplicates`
    * for declared outputs — its winner is partition-order dependent. */
  def dedupFirstWins(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** Pair-dedup → bridge table (spotify_etl_v2.py:172-183, 252-263):
    * explode an array-of-struct column and keep distinct key pairs. */
  def bridge(df: DataFrame, arrayCol: String, parentCols: Seq[String],
             childFields: Seq[String]): DataFrame = {
    val exploded = df.select(
      (parentCols.map(col) :+ explode(col(arrayCol)).as("__child")): _*)
    val projected = exploded.select(
      (parentCols.map(col) ++ childFields.map(f => col(s"__child.$f").as(f))): _*)
    projected.distinct()
  }

  /** Fixed-size chunking / batch assignment (create_artist_batches.py:5-23):
    * 1-based `batch_id = floor((rn-1)/n)+1` where rn is the row number in
    * `orderCol` order.
    *
    * NOTE: the single `row_number` window over an unpartitioned ordering
    * serializes through one task — fine for the reference's ~15 k names,
    * wrong at 100 TB. Use [[runningSums]] on big data. */
  def batchAssign(df: DataFrame, orderCol: Column, n: Int,
                  batchCol: String = "batch_id"): DataFrame = {
    val w = Window.orderBy(orderCol)
    df.withColumn(batchCol, floor((row_number().over(w) - 1) / n) + 1)
  }

  /** Running sums in a total order, with no single-task window: for each
    * `(name, weight)` of `sums`, adds `name`, the INCLUSIVE running sum of
    * `weight` over the rows of the row's `partitionCols` group in
    * `orderCols` order (a ROWS frame, so rows tied on every order column
    * still get distinct, contiguous sums in an arbitrary relative order).
    * A row number is the running sum of `lit(1L)`, a 1-based batch id
    * `(rn - 1) div n + 1`, an exclusive prefix sum `cum - w`.
    *
    * Two-phase, and one lazy plan — no driver round-trip:
    * (1) per group, min/max and null count of the first order column
    * (NUMERIC) come from an aggregate joined back to the rows (a broadcast
    * join on `partitionCols`, a cross join with the one-row stats when
    * there are none); each row gets the MONOTONE equal-width value bucket
    * `least(width_bucket(v, mn, mx, 1024), 1024)`, or 1 when mn = mx;
    * (2) the per-(group, bucket) census of weight totals (≤ 1 024 rows per
    * group) turns into exclusive bucket bases through a window over that
    * census; the running sum runs in a window partitioned by (group,
    * bucket), and the bases are broadcast-joined on after it, so the rows'
    * shuffle waits only for the stats. Monotonicity is all that
    * `base + bucket-local sum` needs to equal the global answer, so the
    * double cast inside `width_bucket` is harmless for keys above 2^53.
    * Rows tied on the first order column share a bucket, so the other
    * `orderCols` break ties inside it. The group count must be
    * broadcastable (the census is keyed by it).
    *
    * The plan reads `df` three times (stats, census, rows): pass every
    * weight wanted in one order to ONE call, and never nest calls — each
    * level would multiply the plan.
    *
    * A null first order key has no position in a total order: the plan
    * fails at its first action with a "contains nulls" error rather than
    * dropping or misnumbering rows. Null partition values form a group. */
  def runningSums(df: DataFrame, partitionCols: Seq[String], orderCols: Seq[String],
                  sums: (String, Column)*): DataFrame = {
    require(orderCols.nonEmpty && sums.nonEmpty, "runningSums needs an order column and a sum")
    val buckets = lit(1024L)
    val key = orderCols.head
    val stats = df.groupBy(partitionCols.map(col): _*)
      .agg(min(col(key)).cast("double").as("__mn"), max(col(key)).cast("double").as("__mx"),
        count_if(col(key).isNull).as("__nulls"))
    // Only the rows' branch raises on nulls: were both branches' stages to
    // raise, two failures landing together would fail the query with
    // STAGE_MATERIALIZATION_MULTIPLE_FAILURES instead of this error. Both
    // read `__nulls`, so they share one stats frame.
    def bucketed(onNulls: Column) = joinBack(df, stats, partitionCols)
      .withColumn("__bucket", when(col("__nulls") > 0, onNulls)
        .when(col("__mn") === col("__mx"), lit(1L))
        .otherwise(least(width_bucket(col(key).cast("double"), col("__mn"), col("__mx"),
          buckets), buckets)))
      .drop("__mn", "__mx", "__nulls")
    val ws = sums.indices
    val groups = partitionCols.map(col)
    val wBases = Window.partitionBy(groups: _*).orderBy(col("__bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totals = ws.map(i => sum(sums(i)._2).as(s"__t$i"))
    val bases = bucketed(lit(null)).groupBy(groups :+ col("__bucket"): _*)
      .agg(totals.head, totals.tail: _*)
      .select(groups ++ Seq(col("__bucket")) ++
        ws.map(i => (sum(col(s"__t$i")).over(wBases) - col(s"__t$i")).as(s"__base$i")): _*)
    val wLocal = Window.partitionBy(groups :+ col("__bucket"): _*).orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = bucketed(raise_error(concat(
      lit(s"order column '$key' contains nulls ("), col("__nulls"), lit(" rows) — " +
        "a null order key has no position in a total order; filter or coalesce it first"))))
      .select(col("*") +: ws.map(i =>
      sum(sums(i)._2).over(wLocal).as(s"__local$i")): _*)
    joinBack(local, bases, partitionCols :+ "__bucket")
      .select(col("*") +: ws.map(i =>
        (col(s"__base$i") + col(s"__local$i")).as(sums(i)._1)): _*)
      .drop("__bucket" +: ws.flatMap(i => Seq(s"__base$i", s"__local$i")): _*)
  }

  /** `rows` with the columns of the small `stats` frame broadcast-joined on
    * `keys`, null-safe (a null key matches a null key); a cross join with
    * a one-row `stats` when `keys` is empty. */
  private def joinBack(rows: DataFrame, stats: DataFrame, keys: Seq[String]): DataFrame = {
    val small = broadcast(stats.select(stats.columns.map(c =>
      if (keys.contains(c)) col(c).as(s"__k_$c") else col(c)): _*))
    keys.map(k => col(k) <=> col(s"__k_$k")).reduceOption(_ && _)
      .fold(rows.crossJoin(small))(rows.join(small, _))
      .drop(keys.map(k => s"__k_$k"): _*)
  }

  /** Deterministic seeded sample-N (spotify_etl_v2.py:91-97 uses
    * `random.Random(date).sample(ids, 20)`). Re-expressed as hash-order
    * top-N via a Knuth multiplicative hash that an ANSI-SQL oracle can
    * reproduce with plain integer arithmetic: `(key * 2654435761) mod 2^32`.
    * The key is first reduced mod 2^31 so the multiply can't overflow a
    * signed 64-bit long (ANSI mode would throw) even for full-range hash
    * keys — an identity for natural keys < 2^31, so the plain-arithmetic
    * oracle formulation is unchanged. Plans as TakeOrderedAndProject — no
    * global sort materialized, scales. */
  def seededHash(key: Column, seed: Long): Column =
    pmod((pmod(key, lit(2147483648L)) + lit(seed)) * lit(2654435761L), lit(4294967296L))

  def seededTopN(df: DataFrame, keyCol: String, n: Int, seed: Long = 0L): DataFrame =
    df.select(col(keyCol), seededHash(col(keyCol), seed).as("h"))
      .orderBy(col("h"), col(keyCol))
      .limit(n)

  /** Deterministic WEIGHTED priority sample-N: keep the `n` rows with the
    * smallest `hash(key) / weight` — a fixed random priority scaled down by
    * the weight, so a row with twice the weight is (stochastically) twice
    * as likely to make the cut, while the choice stays a pure function of
    * `(key, weight, seed)` that an ANSI oracle reproduces exactly.
    *
    * Exactness across engines: the hash is the integer-only
    * [[seededHash]]; the priority is ONE IEEE-754 division of two exactly
    * represented integers (weight must be a positive integer column —
    * non-positive weights are excluded, matching sample probability 0), and
    * correctly-rounded division is bit-identical in any IEEE engine — so
    * the ranking, not just the set, is reproducible. Rows ride a
    * TakeOrderedAndProject (per-partition heap + driver merge of n·P
    * candidates), no global sort. */
  def weightedSeededTopN(df: DataFrame, keyCol: String, weight: Column,
                         n: Int, seed: Long = 0L): DataFrame =
    df.select(df.columns.map(col) :+ seededHash(col(keyCol), seed).as("__h")
        :+ weight.cast("long").as("__w"): _*)
      .where(col("__w") > 0)
      .orderBy(col("__h").cast("double") / col("__w").cast("double"), col(keyCol))
      .limit(n)

  /** Final presentation sort for provably SMALL outputs — aggregates whose
    * group-key cardinality is bounded by a CONSTANT (enum-like flags,
    * segments, nations, calendar buckets), independent of input rows.
    * Coalesces the post-aggregation partitions to one and sorts within it:
    * a total order without `orderBy`'s RangePartitioner, which schedules an
    * extra sampling pass + exchange stage (measured ~0.2 s and 2 jobs of
    * pure overhead per query on sub-100-row results). The coalesce
    * collapses EVERYTHING above the last shuffle boundary to one task —
    * when the input is a final aggregate that is just the ≤|groups|-row
    * merge (map-side partials stay fully parallel), but a join/window
    * placed between the last exchange and this call would run single-task
    * too. Apply it directly on top of a final aggregation (or another
    * operator whose post-shuffle state is provably tiny), never above
    * joins or windows with O(input) intermediate rows, and never on
    * O(input)-sized outputs: those keep the distributed range sort. */
  def presentSorted(df: DataFrame, cols: Column*): DataFrame =
    df.coalesce(1).sortWithinPartitions(cols: _*)

  /** Sorted distinct of a key column (spotify_etl_v2.py:217-221). */
  def sortedDistinct(df: DataFrame, keyCol: String): DataFrame =
    df.select(keyCol).where(col(keyCol).isNotNull).distinct().orderBy(keyCol)

  /** Set-dedup of non-null, non-empty string ids across inputs
    * (spotify_etl_v2.py:74-89). */
  def distinctIds(df: DataFrame, keyCol: String): DataFrame =
    df.where(col(keyCol).isNotNull && col(keyCol) =!= "").select(keyCol).distinct()

  /** Exact interpolated percentiles (quantile_cont semantics: linear
    * interpolation at rank (n-1)·p) per group, computed by a BUCKETED
    * DISTRIBUTED RANK instead of Spark's `percentile` aggregate.
    *
    * The built-in exact `percentile` is an ObjectHashAggregate that
    * buffers every group's values in one task's memory — at 100 TB a hot
    * group OOMs the executor. A plain per-group window sort fixes the
    * memory spike but not the parallelism: with few groups (the common
    * GROUP BY cardinality), each group's full sort still runs on ONE task.
    *
    * So select, don't sort: a two-round DISTRIBUTED SELECTION (the classic
    * quickselect-by-histogram):
    *
    * (1) bucket every value with a monotone, data-independent transform —
    * [[graft.functions.OrderedBits]] (order-preserving IEEE-754 bits)
    * right-shifted by `bitShift` — and count rows per (group, bucket):
    * O(populated buckets) rows (bounded by the data's exponent/mantissa-
    * prefix spread, NOT by row count).
    * (2) a prefix-sum WINDOW over that tiny counts frame locates, for each
    * (group, p), the ≤2 buckets holding the boundary ranks
    * floor/ceil((n-1)·p). ONLY those buckets survive into a broadcast
    * inner join (a co-partition-free filter); a window sorts just their
    * rows (a ~1/buckets fraction of the data), the two boundary rows
    * survive, and a tiny aggregate interpolates quantile_cont semantics.
    *
    * The full dataset is never sorted and never shuffled — both passes are
    * scan + map-side-combined count/filter. No min/max pre-pass, no
    * per-group memory spike, and NOTHING at the driver: the whole pipeline
    * is one lazy plan (an earlier version collected the counts and located
    * buckets driver-side — a blocking round-trip, and O(groups·buckets)
    * driver memory that the dataflow form does not need). `bitShift`
    * dials bucket granularity (lower = finer buckets = smaller round-2
    * fraction; 44 keeps round-2 input ~0.1% of rows on realistic value
    * spreads).
    *
    * Returns one row per group: groupCols, <name> for each (name, p). */
  def exactPercentiles(df: DataFrame, groupCols: Seq[String], valueCol: String,
                       ps: Seq[(String, Double)], bitShift: Int = 44): DataFrame = {
    val gcols = groupCols.map(col)
    val aggs = ps.map { case (name, p) =>
      val kRow = (col("__n") - 1) * lit(p) // per-row: __n is constant in a group
      val vLo = max(when(col("__rn") === floor(kRow) + 1, col("__v")))
      val vHi = max(when(col("__rn") === ceil(kRow) + 1, col("__v")))
      val kAgg = (max(col("__n")) - 1) * lit(p) // group-level rank for the frac
      val frac = kAgg - floor(kAgg)
      (vLo + (vHi - vLo) * frac).as(name)
    }
    boundaryRanked(df, groupCols, valueCol, ps, bitShift)
      .groupBy(gcols: _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** [[exactPercentiles]]' two-round selection, emitting the RAW boundary
    * order statistics instead of interpolating: per requested p, the value
    * at rank `floor((n−1)p)+1` (`<name>_lo`) and at `ceil((n−1)p)+1`
    * (`<name>_hi`), plus the group count `n`. Callers whose `p·(n−1)`
    * fractional part is rational with a small denominator D finish in
    * EXACT integer arithmetic — `lo·D + (hi−lo)·m` with
    * `m = ((n−1)·pD) mod D` — which is portable across engines where the
    * double `lo + frac·(hi−lo)` is not (a non-dyadic frac like p90's 0.9
    * lands on representation boundaries that round differently per
    * engine — the q_kmeans_step lesson, order-statistics edition). */
  def exactPercentileBounds(df: DataFrame, groupCols: Seq[String],
                            valueCol: String, ps: Seq[(String, Double)],
                            bitShift: Int = 44): DataFrame = {
    val gcols = groupCols.map(col)
    val aggs = ps.flatMap { case (name, p) =>
      val kRow = (col("__n") - 1) * lit(p)
      Seq(max(when(col("__rn") === floor(kRow) + 1, col("__v"))).as(s"${name}_lo"),
        max(when(col("__rn") === ceil(kRow) + 1, col("__v"))).as(s"${name}_hi"))
    } :+ max(col("__n")).as("n")
    boundaryRanked(df, groupCols, valueCol, ps, bitShift)
      .groupBy(gcols: _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Shared guts of the exact-percentile pair: the two-round bucket
    * selection, returning only the rows holding some requested boundary
    * rank, with `__v`, global rank `__rn`, and group count `__n`. */
  private def boundaryRanked(df: DataFrame, groupCols: Seq[String],
                             valueCol: String, ps: Seq[(String, Double)],
                             bitShift: Int): DataFrame = {
    val gcols = groupCols.map(col)
    // Both rounds scan the source independently (measured: cheaper than
    // forcing a shared 1.2M-row exchange, whose two consumers canonicalize
    // differently and defeat ReuseExchange anyway — and at scale a second
    // COLUMNAR scan beats an extra full shuffle).
    val vals = df
      .select(gcols :+ col(valueCol).cast("double").as("__v"): _*)
      .where(col("__v").isNotNull)
      .withColumn("__bucket",
        shiftright(graft.functions.OrderedBits.orderedBits(col("__v")), bitShift))

    // round 1: per-(group, bucket) counts — O(populated buckets) rows.
    // PURE DATAFLOW from here: the bucket location that an earlier version
    // computed driver-side (collect + prefix scan) is a window over this
    // tiny frame — no blocking collect, nothing on the driver even when
    // the GROUP cardinality itself is huge.
    val counts = vals.groupBy(gcols :+ col("__bucket"): _*)
      .agg(count(lit(1)).as("__cnt"))

    // prefix sums locate each bucket's rank offset; totals give n per group
    val wPrev = Window.partitionBy(gcols: _*).orderBy(col("__bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(gcols: _*)
    val located = counts
      .withColumn("__base", coalesce(sum(col("__cnt")).over(wPrev), lit(0L)))
      .withColumn("__n", sum(col("__cnt")).over(wAll))

    // a bucket survives iff it holds a boundary rank floor/ceil((n-1)·p)+1
    // for some p — ≤ 2·|ps| buckets per group
    val holdsBoundary = ps.map { case (_, p) =>
      val k = (col("__n") - 1) * lit(p)
      val lo = floor(k) + 1
      val hi = ceil(k) + 1
      (lo > col("__base") && lo <= col("__base") + col("__cnt")) ||
        (hi > col("__base") && hi <= col("__base") + col("__cnt"))
    }.reduce(_ || _)
    val targets = located.where(holdsBoundary)
      .select(gcols ++ Seq(col("__bucket"), col("__base"), col("__n")): _*)

    // round 2: the broadcast inner join FILTERS to the target buckets;
    // only those tiny buckets are sorted, ranked, and interpolated
    val w = Window.partitionBy(gcols :+ col("__bucket"): _*).orderBy(col("__v"))
    val ranked = vals.join(broadcast(targets), groupCols :+ "__bucket")
      .withColumn("__rn", col("__base") + row_number().over(w))

    val isBoundary = ps.map { case (_, p) =>
      val k = (col("__n") - 1) * lit(p)
      (col("__rn") === floor(k) + 1) || (col("__rn") === ceil(k) + 1)
    }.reduce(_ || _)
    ranked.where(isBoundary)
  }

  /** MERGE-INTO upsert semantics without a table format: apply `updates`
    * to `base` on `keys` — matched keys take the update row, unmatched
    * updates insert, unmatched base rows pass through. The output IS the
    * new table version (write it back with dynamic partition overwrite at
    * scale). One union + one hash-partitioned window — NOT a full-outer
    * join (which would shuffle both sides AND need per-column coalesce).
    *
    * NULL keys follow SQL MERGE: `ON b.k = u.k` never matches on NULL, so
    * null-keyed rows (either side) pass through unmerged — a window alone
    * would group them together and silently drop the base row.
    * Precondition (standard MERGE): at most one update row per non-null
    * key — otherwise the winner among updates would be arbitrary. */
  def mergeUpsert(base: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame = {
    val cols = base.columns.toSeq
    val tagged = updates.select(cols.map(col): _*).withColumn("__pri", lit(0))
      .unionByName(base.select(cols.map(col): _*).withColumn("__pri", lit(1)))
    val nullKey = keys.map(col(_).isNull).reduce(_ || _)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("__pri"))
    val merged = tagged.where(!nullKey)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__pri", "__rn")
    merged.unionByName(tagged.where(nullKey).drop("__pri"))
  }

  /** CDC changelog apply: reduce a stream of keyed change records to the
    * final state — per key, the LATEST record (by the total `order`
    * columns) wins; a latest record whose `opCol` equals `deleteOp`
    * removes the key entirely. One hash-partitioned window over the
    * changelog; at scale this runs per partition-of-keys and needs no
    * driver state (the batch analog of the streaming dedup/upsert path). */
  def applyChangelog(changes: DataFrame, keys: Seq[String], opCol: String,
                     deleteOp: String, order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order.map(_.desc): _*)
    // null-safe: a latest record with a NULL op is NOT a delete (plain =!=
    // would yield NULL and silently drop the key)
    changes.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1 && !(col(opCol) <=> deleteOp))
      .drop("__rn")
  }

  /** Range join WITHOUT an equi key, binned so it shuffles instead of
    * nested-looping: point `leftTs` joins interval `[rightStart, rightEnd]`.
    * Each interval is exploded into the fixed-width time bins it covers and
    * each point hashes to its single bin — the join is then a plain
    * equi-join on the bin (co-partitioned shuffle) followed by the exact
    * containment filter. Pick `binWidthSec` near the typical interval
    * length: too small replicates intervals, too large fattens buckets.
    * (With an equi key available, just join on the key and filter the
    * range — Catalyst already handles that shape; this operator is for the
    * keyless case Spark would otherwise plan as BroadcastNestedLoopJoin.) */
  def binnedRangeJoin(left: DataFrame, right: DataFrame, leftTs: String,
                      rightStart: String, rightEnd: String,
                      binWidthSec: Long): DataFrame = {
    val binOf: Column => Column = c => floor(unix_timestamp(c) / binWidthSec)
    val l = left.withColumn("__bin", binOf(col(leftTs)))
    val r = right.withColumn("__bin",
      explode(sequence(binOf(col(rightStart)), binOf(col(rightEnd)))))
    l.join(r, Seq("__bin"))
      .where(col(leftTs) >= col(rightStart) && col(leftTs) <= col(rightEnd))
      .drop("__bin")
  }

  /** Clamped-at-zero running balance (the Lindley recurrence
    * `B_n = max(0, B_{n-1} + x_n)`) in ONE window pass via its closed
    * form `B_n = P_n − min(0, min_{k≤n} P_k)` over prefix sums: two
    * stacked window aggregates sharing one sort + one exchange, no
    * mapGroups state, growing frames only. Property-tested against the
    * sequential fold (OpsProps). */
  def clampedRunningBalance(df: DataFrame, partCol: String,
                            ordCols: Seq[Column], deltaCol: String,
                            outCol: String): DataFrame = {
    val w = Window.partitionBy(col(partCol)).orderBy(ordCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__pref", sum(col(deltaCol)).over(w))
      .withColumn("__runmin", min(col("__pref")).over(w))
      .withColumn(outCol, col("__pref") - least(lit(0L), col("__runmin")))
      .drop("__pref", "__runmin")
  }

  /** EWMA (α = ½) truncated to an `nTaps`-tap FIR filter: integer
    * power-of-two weights `2^(nTaps−1−k)` on the k-th lag, all taps
    * sharing ONE window sort (fixed-point scale `2^nTaps`; truncation
    * error ≤ 2^−nTaps of the oldest mass). Property-tested against the
    * direct convolution (OpsProps). */
  def firEwma(df: DataFrame, partCol: String, ordCols: Seq[Column],
              valCol: String, nTaps: Int, outCol: String): DataFrame = {
    require(nTaps >= 1 && nTaps <= 62, s"nTaps out of range: $nTaps")
    val w = Window.partitionBy(col(partCol)).orderBy(ordCols: _*)
    val taps = (0 until nTaps).map(k =>
      coalesce(lag(col(valCol), k).over(w), lit(0L)) * lit(1L << (nTaps - 1 - k)))
    df.withColumn(outCol, taps.reduce(_ + _))
  }

  /** Exact frequent items ("heavy hitters") above support `1/s`, found
    * with BOUNDED MEMORY instead of a full key-space aggregate: each
    * partition runs a Misra-Gries summary with `k` counters (classic
    * decrement-all stream sketch), and the union of per-partition
    * survivors is re-counted EXACTLY and thresholded at `cnt·s ≥ N`.
    *
    * Why the two-pass result is exact and partition-order independent:
    * any key with global frequency `f > N/(k+1)` exceeds `N_p/(k+1)` on
    * at least one partition (averaging), and Misra-Gries never evicts a
    * key while its residual count is positive — so with `k ≥ s` the
    * candidate union is a SUPERSET of every key at the threshold, and
    * the exact re-count then makes the final set independent of how the
    * sketch got there. At 100 TB this is the operator for key spaces too
    * large to hash-aggregate: the shuffle carries only
    * candidates·partitions rows, never the raw key stream. The candidate
    * re-count join broadcasts the (≤ k·partitions)-row candidate list. */
  def heavyHitters(df: DataFrame, keyCol: String, s: Int, k: Int): DataFrame = {
    require(k >= s, s"Misra-Gries needs k >= s for the superset guarantee (k=$k, s=$s)")
    import df.sparkSession.implicits._
    val keys = df.select(col(keyCol).cast("string")).as[String]
    val candidates = keys.mapPartitions { it =>
      val cnt = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { x =>
        if (cnt.contains(x)) cnt(x) += 1L
        else if (cnt.size < k) cnt(x) = 1L
        else {
          cnt.mapValuesInPlace((_, v) => v - 1L)
          cnt.filterInPlace((_, v) => v > 0L)
        }
      }
      cnt.keysIterator
    }.distinct().toDF(keyCol)
    val n = keys.count()
    df.select(col(keyCol).cast("string").as(keyCol))
      .join(broadcast(candidates), Seq(keyCol))
      .groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))
      .where(col("cnt") * s >= n)
      .withColumn("total", lit(n))
  }
}
