package graft

/** Whole-board zero-row robustness sweep (round-13 hardening).
  *
  * At 100 TB a partition-pruned read, a hard filter, or a just-provisioned
  * table legitimately yields ZERO rows — a query that throws on empty input
  * is a production incident, not an edge case. This tool materializes a
  * 0-row copy of every fixture table (schema preserved by `limit(0)` over
  * the real sf0.001 parquet, so column names/types/nullability match the
  * footer exactly) and executes every registered query against it,
  * recording `ok rows=N` or the exception class+message.
  *
  * A third numeric argument sweeps N-row slices instead (still "must not
  * throw"): `1` exercises the even nastier degenerate — a NON-empty
  * corpus whose probe/seed/second row is missing (a tail partition, a
  * heavily filtered slice).
  *
  * The literal `const` in place of the row count sweeps VALUE degeneracy
  * instead of row-count degeneracy (round-15, after the χ² zero-margin
  * crasher was caught by the 3-row pass only because a 3-row slice
  * happens to be monolingual): full-size tables whose discriminating
  * columns are each collapsed to ONE value — every document one `lang`,
  * one `text` (every doc an exact dup of every other — the shape that
  * floods a dedup tier's buckets and exercises its caps), every event
  * one `event_type`, one `user_id`, zero-variance `value`, every order
  * one `o_orderstatus`, zero-variance `o_totalprice`, every embedding
  * the IDENTICAL vector (every cosine 1, every centroid argmin tied).
  * These are the shapes that zero a contingency margin, a variance, or a
  * group count while every row-count invariant still holds — exactly
  * what a heavily filtered 100-TB slice produces. The constant is the
  * column's own MIN (a real value, so joins/filters stay type- and
  * domain-plausible); an all-null column stays as is.
  *
  * The literal `zero` sweeps ANNIHILATING values (round-16): full-size
  * tables with every `documents.text` the EMPTY string (zero tokens,
  * zero shingles, zero chars) and every `embeddings.embedding` the
  * all-ZERO vector (norm 0 — every cosine a 0/0, every normalization a
  * divide-by-zero). `const` can't reach these: the column min is a real
  * text / real vector.
  *
  * Usage:
  *   graft.DevEmptyBoard [srcSfDir] [emptyDir] [rows|const|zero] [name...]
  *
  * Exit code 1 if any query throws — wired into dev/round_check.sh as
  * gate 2½ so the board stays degenerate-input-clean from round 13 on.
  */
object DevEmptyBoard {
  /** Columns the `const` sweep collapses, per table. */
  val ConstCols: Map[String, Seq[String]] = Map(
    "documents"  -> Seq("lang", "text"),
    "events"     -> Seq("event_type", "user_id", "value"),
    "orders"     -> Seq("o_orderstatus", "o_totalprice"),
    "embeddings" -> Seq("embedding"))

  def main(args: Array[String]): Unit = {
    val srcDir   = args.headOption.getOrElse("/root/testdata/sf0.001")
    val emptyDir = if (args.length > 1) args(1) else "/tmp/graft_empty"
    val rest     = args.drop(2).toSeq
    // One Try-parse decides both the row count and where the name list
    // starts (ADVICE r13: the duplicated all-digit check NumberFormat-
    // crashed on '' or an over-Int-range value).
    val constMode  = rest.headOption.contains("const")
    val zeroMode   = rest.headOption.contains("zero")
    val parsedRows = rest.headOption.flatMap(a => scala.util.Try(a.toInt).toOption)
    val rows       = parsedRows.getOrElse(0)
    val names = (if (parsedRows.isDefined || constMode || zeroMode) rest.drop(1)
                 else rest) match {
      case Seq() => Queries.all.keys.toSeq.sorted
      case ns    => ns
    }
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    import org.apache.spark.sql.functions.{expr, lit, min => sqlMin}

    // Degenerate copies: read the real footer so column names/types/
    // nullability match exactly. Row mode keeps `rows` rows (0 = empty
    // board); const mode keeps every row but collapses the ConstCols
    // columns to their own min value; zero mode keeps every row but
    // annihilates text ('' — zero tokens) and embeddings (all-zero
    // vector of each row's own length — norm 0).
    Tables.entityNames.foreach { t =>
      val full = spark.read.parquet(s"$srcDir/$t.parquet")
      val out =
        if (zeroMode) t match {
          case "documents"  => full.withColumn("text", lit(""))
          case "embeddings" => full.withColumn("embedding",
            expr("transform(embedding, x -> CAST(0.0 AS FLOAT))"))
          case _ => full
        }
        else if (constMode)
          ConstCols.getOrElse(t, Seq.empty).foldLeft(full) { (df, c) =>
            // min is defined for every collapsed type incl. the array
            // column (arrays are orderable); lit() cannot carry an array,
            // so non-atomic constants ride a broadcast-joined 1-row frame.
            val v = df.agg(sqlMin(df(c))).head().get(0)
            if (v == null) df
            else df.schema(c).dataType match {
              case _: org.apache.spark.sql.types.ArrayType |
                   _: org.apache.spark.sql.types.MapType |
                   _: org.apache.spark.sql.types.StructType =>
                val one = df.select(df(c).as(s"__const_$c")).orderBy(df(c)).limit(1)
                df.crossJoin(org.apache.spark.sql.functions.broadcast(one))
                  .withColumn(c, org.apache.spark.sql.functions.col(s"__const_$c"))
                  .drop(s"__const_$c")
              case _ =>
                df.withColumn(c, lit(v).cast(df.schema(c).dataType))
            }
          }
        else full.limit(rows)
      out.write.mode("overwrite").parquet(s"$emptyDir/$t.parquet")
    }

    var failures = 0
    names.foreach { name =>
      val t0 = System.nanoTime()
      try {
        // collect, not count: count lets Catalyst prune output columns, so
        // an expression that throws on degenerate input could go unevaluated.
        val n = Queries.all(name)(spark, emptyDir).collect().length
        println(f"[empty] $name ok rows=$n (${(System.nanoTime() - t0) / 1e9}%.2fs)")
      } catch {
        case e: Throwable =>
          failures += 1
          val msg = Option(e.getMessage).getOrElse("").linesIterator
            .take(1).mkString.take(200)
          println(s"[empty] $name FAIL ${e.getClass.getSimpleName}: $msg")
      }
    }
    println(s"[empty] board: ${names.size - failures}/${names.size} queries empty-input-clean")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
