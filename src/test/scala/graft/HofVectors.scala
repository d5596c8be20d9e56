package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The built-in higher-order-function vector folds that the native kernels
  * replaced, kept as test references: `aggregate(zip_with(...))` with the
  * elements cast to double, a left fold from 0.0 in index order. They run
  * interpreted (`ZipWith` and `ArrayAggregate` are `CodegenFallback`). */
object HofVectors {

  /** Σ term(a[i], b[i]); NULL on a NULL array or element or unequal lengths. */
  def fold(a: Column, b: Column, term: (Column, Column) => Column): Column =
    aggregate(zip_with(a, b, (x, y) => term(x.cast("double"), y.cast("double"))),
      lit(0.0), (acc, x) => acc + x)

  def dot(a: Column, b: Column): Column = fold(a, b, _ * _)

  def l2norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x))

  /** Cosine similarity, 0 when either norm is 0. */
  def cosine(a: Column, b: Column): Column = {
    val n = l2norm(a) * l2norm(b)
    when(n === 0.0, lit(0.0)).otherwise(dot(a, b) / n)
  }
}
