package graft

import java.nio.file.Files

import scala.reflect.ClassTag

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Expression, Round}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.functions.{OrderedBits, RoundHalfUpDouble, Shingles, SimHash64}
import graft.operators.{Ops, Similarity, TextOps}

/** ScalaCheck properties for the native Catalyst expressions — each is
  * checked against an independent reference implementation (plain Scala or
  * the built-in-operator formulation it replaced). Kept to few cases per
  * property: several run real Spark jobs. */
object FunctionProps extends Properties("functions") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = Sessions.local("4")
  import spark.implicits._

  // ---- harness for the kernels that replace a built-in form -------------

  /** `f` over `df` as a parquet scan, the files deleted afterwards: over a
    * local relation the optimizer would evaluate the projection itself
    * (ConvertToLocalRelation, interpreted and before any rewrite), so
    * neither path under test would run. */
  private def scanned[A](df: DataFrame)(f: DataFrame => A): A = {
    val dir = Files.createTempDirectory("graft_props")
    try {
      val path = dir.resolve("t").toString
      df.write.parquet(path)
      f(spark.read.parquet(path))
    } finally FileUtils.deleteDirectory(dir.toFile)
  }

  private def withConf[A](kv: (String, String)*)(f: => A): A = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `f` under whole-stage codegen, then with every expression interpreted. */
  private def bothPaths[A](f: => A): Seq[A] = Seq(
    f,
    withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(f))

  /** `q` collected with Spark's own `Round` over doubles: the rewrite
    * excluded, and the plan checked to have kept `Round`, so the reference
    * cannot silently come from the kernel under test. */
  private def builtinRound(q: => DataFrame): Array[Row] =
    withConf("spark.sql.optimizer.excludedRules" -> RoundHalfUpDouble.Rewrite.ruleName) {
      val df = q
      assert(plans[Round](df) && !plans[RoundHalfUpDouble](df),
        s"reference plan lost Spark's Round:\n${df.queryExecution.optimizedPlan}")
      df.collect()
    }

  /** Whether `df`'s optimized plan holds an expression of class `E`. */
  private def plans[E <: Expression: ClassTag](df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists(_.expressions.exists(_.exists {
      case _: E => true
      case _ => false
    }))

  /** A double's bits, with every NaN as the one canonical NaN: Java leaves
    * a computed NaN's sign and payload unspecified (the JIT may swap the
    * operands of `acc + x`), so the built-in form itself does not pin them;
    * ±0.0 and every other value compare bit for bit. */
  private def bits(d: Any): Any = d match {
    case v: Double => java.lang.Double.doubleToLongBits(v)
    case other => other
  }

  // ---- RoundHalfUpDouble vs Spark's BigDecimal Round ---------------------

  private val roundEdges: Seq[Double] = Seq(0.0, -0.0, 0.5, -0.5, 1.5, -1.5, 2.5,
    0.49999999999999994, -0.49999999999999994, Double.NaN,
    Double.PositiveInfinity, Double.NegativeInfinity, Double.MinPositiveValue,
    -Double.MinPositiveValue, java.lang.Double.MIN_NORMAL / 3, Double.MaxValue,
    Double.MinValue, 4503599627370496.0, -4503599627370497.0, 9007199254740993.0,
    4503599627370495.5, -4503599627370495.5, 1e300, 0.3, -0.3, -0.7)

  private val roundCase: Gen[Double] = Gen.oneOf(
    Gen.choose(-1e6, 1e6),
    // k + 0.5 and its neighbours one ulp either side
    for (k <- Gen.choose(-(1L << 53), 1L << 53); side <- Gen.choose(-1, 1)) yield {
      val h = k.toDouble + 0.5
      if (side < 0) math.nextDown(h) else if (side > 0) math.nextUp(h) else h
    },
    Gen.long.map(java.lang.Double.longBitsToDouble),
    Gen.oneOf(roundEdges))

  property("round(double, 0) rewrite is bit-identical to Spark's Round") =
    Prop.forAllNoShrink(Gen.listOfN(48, roundCase)) { xs =>
      scanned((roundEdges ++ xs).zipWithIndex.map { case (x, i) => (i, x) }
          .toDF("i", "x")) { t =>
        def query = t.select(col("i"), round(col("x"), 0)).orderBy("i")
        def bitsOf(rows: Array[Row]): Seq[Any] = rows.map(r => bits(r.get(1))).toSeq
        val want = bitsOf(builtinRound(query))
        plans[RoundHalfUpDouble](query) && bothPaths(bitsOf(query.collect())).forall(_ == want)
      }
    }

  // ---- VectorFold vs aggregate(zip_with(...)) ----------------------------

  private val elem: Gen[Option[Double]] = Gen.frequency(
    12 -> Gen.choose(-4.0, 4.0).map(Some(_)),
    1 -> Gen.const(None),
    1 -> Gen.oneOf(Double.NaN, -0.0, 1e300).map(Some(_)))
  private val vec: Gen[Option[Seq[Option[Double]]]] = Gen.frequency(
    8 -> Gen.choose(3, 4).flatMap(Gen.listOfN(_, elem)).map(Some(_)),
    1 -> Gen.const(Some(Nil)),
    1 -> Gen.const(None))

  property("dot and sqDist are bit-identical to aggregate(zip_with(...))") =
    Prop.forAllNoShrink(Gen.listOfN(12, Gen.zip(vec, vec))) { rows =>
      scanned(rows.zipWithIndex.map { case ((a, b), i) => (i, a, b) }
          .toDF("i", "a", "b")) { scan =>
        val t = scan.withColumn("af", col("a").cast("array<float>"))
          .withColumn("bf", col("b").cast("array<float>"))
        val probe = array(lit(0.25), lit(-1.5), lit(3.0), lit(0.0))
        val probeNull = array(lit(1.0), lit(null).cast("double"), lit(2.0))
        val pairs: Seq[(Column, Column)] = Seq(col("a") -> col("b"), col("af") -> col("bf"),
          col("af") -> col("b"), col("a") -> probe, probe -> col("af"), col("a") -> probeNull)
        val folds: Seq[(Column, Column) => (Column, Column)] = Seq(
          (a, b) => Similarity.dot(a, b) -> HofVectors.dot(a, b),
          (a, b) => Similarity.sqDist(a, b) -> HofVectors.fold(a, b, (x, y) => (x - y) * (x - y)))
        val cols = for ((a, b) <- pairs; f <- folds) yield f(a, b)
        def run(cs: Seq[Column]): Seq[Seq[Any]] =
          t.select(col("i") +: cs: _*).orderBy("i").collect()
            .map(r => (1 until r.length).map(k => bits(r.get(k)))).toSeq
        val want = run(cols.map(_._2))
        bothPaths(run(cols.map(_._1))).forall(_ == want)
      }
    }

  // ---- collapse_ws vs trim(regexp_replace(c, "\\s+", " ")) ---------------

  private val wsText: Gen[String] =
    Gen.listOf(Gen.oneOf(" ", "\t", "\n", "\u000B", "\f", "\r", "\u00A0", "\u2003",
      "  ", "a", "Bé", "汉字", "x y", "\u001C", "😀"))
      .map(_.mkString)

  property("normalizeWs is byte-identical to trim(regexp_replace(...))") =
    Prop.forAllNoShrink(Gen.listOfN(16, wsText)) { texts =>
      scanned(((texts ++ Seq(" \t\n\u000B\f\r ", "", null)).zipWithIndex
          .map { case (s, i) => (i, s) }).toDF("i", "s")) { t =>
        def run(c: Column): Seq[Option[Seq[Byte]]] =
          t.select(col("i"), c).orderBy("i").collect()
            .map(r => Option(r.getString(1)).map(_.getBytes("UTF-8").toSeq)).toSeq
        val want = run(trim(regexp_replace(col("s"), "\\s+", " ")))
        bothPaths(run(Ops.normalizeWs(col("s")))).forall(_ == want)
      }
    }

  // ---- OrderedBits: pure kernel, no Spark jobs needed -------------------

  private val anyDouble: Gen[Double] = Gen.oneOf(
    Gen.choose(-1e12, 1e12),
    Gen.oneOf(0.0, -0.0, Double.MinPositiveValue, -Double.MinPositiveValue,
      Double.MaxValue, Double.MinValue, 1e-300, -1e-300),
  )

  private def ob(v: Double): Long =
    OrderedBits(org.apache.spark.sql.catalyst.expressions.Literal(v))
      .compute(v)

  property("OrderedBits is strictly monotone over doubles") =
    Prop.forAll(anyDouble, anyDouble) { (a, b) =>
      if (a < b) ob(a) < ob(b)
      else if (a > b) ob(a) > ob(b)
      else ob(a) == ob(b) || (a == 0.0 && b == 0.0) // ±0.0 differ in bits only
    }

  // ---- Shingles vs a plain-Scala reference ------------------------------

  private val textGen: Gen[String] =
    Gen.listOf(Gen.oneOf("a", "bb", "ccc", " ", "  ", "δδ", "x"))
      .map(_.mkString)

  private def refShingles(s: String, n: Int): Seq[String] = {
    val toks = s.split(" ").filter(_.nonEmpty).toSeq
    if (toks.length < n) Seq.empty else toks.sliding(n).map(_.mkString(" ")).toSeq
  }

  property("Shingles equals the sliding-window reference on arbitrary text") =
    Prop.forAll(Gen.listOfN(8, textGen), Gen.choose(1, 4)) { (texts, n) =>
      val got = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "t")
        .select($"id", Shingles.shingles($"t", n).as("s"))
        .as[(Long, Seq[String])].collect().toMap
      texts.zipWithIndex.forall { case (t, i) => got(i.toLong) == refShingles(t, n) }
    }

  // ---- SimHash64 native vs the aggregate formulation --------------------

  property("SimHash64 equals the explode+aggregate formulation") =
    Prop.forAll(Gen.listOfN(6, textGen)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val native = TextOps.simhash64(docs, "doc_id", "text")
        .as[(Long, Long)].collect().toMap
      val agg = TextOps.simhash64Agg(docs, "doc_id", "text")
        .as[(Long, Long)].collect().toMap
      native == agg
    }

  // ---- TextStats single-pass vs the 4-pass HOF formulation --------------

  private val statsTextGen: Gen[String] =
    Gen.listOf(Gen.oneOf("the", "and", "of", "word", "a1", "δδ", "汉字", "!?", ".", " ", "  ", ""))
      .map(_.mkString(" "))

  property("TextStats quality metrics equal the regex/split formulation") =
    Prop.forAll(Gen.listOfN(6, statsTextGen)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val stops = Seq("the", "and", "of", "to", "a", "is")
      val native = TextOps.qualityScore(docs, "doc_id", "text", stops)
        .orderBy("doc_id").collect().toSeq
      val hof = TextOps.qualityScoreHof(docs, "doc_id", "text", stops)
        .orderBy("doc_id").collect().toSeq
      native == hof
    }

  // ---- StopwordVotes single-sweep vs the explode+aggregate formulation --

  private val langTextGen: Gen[String] =
    Gen.listOf(Gen.oneOf("the", "and", "der", "und", "la", "les", "el", "y",
      "word", "汉", "字引", "x", "", " "))
      .map(_.mkString(" "))

  property("langIdNative equals the explode+aggregate formulation") =
    Prop.forAll(Gen.listOfN(6, langTextGen)) { texts =>
      val docs = (texts :+ null).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val native = TextOps.langIdNative(docs, "doc_id", "text")
        .orderBy("doc_id").collect().toSeq
      val agg = TextOps.langIdAgg(docs, "doc_id", "text")
        .orderBy("doc_id").collect().toSeq
      native == agg
    }

  // ---- substringDedup: interval-union accounting vs brute force ---------

  property("substringDedup dup_tokens == brute-force position coverage") =
    Prop.forAll(
      Gen.choose(2, 4),
      Gen.listOfN(6, Gen.listOfN(12, Gen.oneOf("a", "b", "c", "d")))) { (k, docs0) =>
      // small alphabet + short docs → cross-doc k-shingle collisions are
      // common, so the dup path is exercised, not vacuous
      val docs = docs0.zipWithIndex
        .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
      val got = TextOps.substringDedup(docs.toDF("doc_id", "text"),
          "doc_id", "text", k)
        .select("doc_id", "n_tokens", "dup_tokens")
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      // reference: mark every token position covered by a shingle whose
      // k-gram occurs in ≥2 distinct docs, count marks per doc
      val toks = docs.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
      val owners = toks.toSeq
        .flatMap { case (id, ts) => ts.sliding(k).filter(_.size == k)
          .map(_.mkString(" ")).distinct.map(sh => sh -> id) }
        .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
      docs.forall { case (id, _) =>
        val ts = toks(id)
        val covered = Array.fill(ts.size)(false)
        ts.sliding(k).zipWithIndex.foreach { case (w, i) =>
          if (w.size == k && owners(w.mkString(" ")) >= 2)
            (i until i + k).foreach(covered(_) = true)
        }
        got(id) == ((ts.size.toLong, covered.count(identity).toLong))
      }
    }

  // ---- DDSketch log-bucket law (q_ddsketch_quantiles's kernel) ----------

  // The distribution-free guarantee the sketch claims: for any v ≥ 8
  // (msb ≥ 3 — price cents are ≥ 10⁴), the SQL bucket formulas both
  // engines share place v inside [lo, hi) with width/lo ≤ 1/8. Evaluated
  // through Spark SQL so the property tests the ACTUAL expressions, not a
  // Scala re-derivation.
  private val sketchVal: Gen[Long] = Gen.oneOf(
    Gen.choose(8L, 1L << 50),
    Gen.oneOf(8L, 9L, 15L, 16L, 17L, (1L << 50) - 1, 1L << 50),
  )

  property("ddsketch log-bucket brackets v with relative width <= 1/8") =
    Prop.forAll(Gen.listOfN(64, sketchVal)) { vs =>
      val rows = vs.toDF("c").selectExpr(
          "c",
          "length(bin(c)) - 1 AS m")
        .selectExpr("c",
          "m * 8 + (c * 8) div CAST(pow(2.0D, m) AS BIGINT) - 8 AS bkt")
        .selectExpr("c", "bkt",
          "((8 + bkt % 8) * CAST(pow(2.0D, bkt div 8) AS BIGINT)) div 8 AS lo",
          "((9 + bkt % 8) * CAST(pow(2.0D, bkt div 8) AS BIGINT)) div 8 AS hi")
        .as[(Long, Long, Long, Long)].collect()
      rows.forall { case (c, _, lo, hi) =>
        lo <= c && c < hi && (hi - lo) * 8 <= lo
      }
    }
}
