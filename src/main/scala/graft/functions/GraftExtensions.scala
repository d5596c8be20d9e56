package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Session extension registering the engine's native SQL functions and
  * its one optimizer rule.
  * Enable with `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  * or `.withExtensions(new GraftExtensions)` ([[graft.Sessions.local]] does);
  * after that `SELECT cosine_sim(a.embedding, b.embedding)` works in plain
  * SQL, and [[RoundHalfUpDouble.Rewrite]] turns every `round(double, 0)`,
  * from the Column API or from SQL text, into the native
  * [[RoundHalfUpDouble]]. A session built without the extension runs
  * Spark's `Round` there instead: slower (a `BigDecimal` per row), with the
  * same answer. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    Seq(CosineSim.registryEntry, Shingles.registryEntry, SimHash64.registryEntry,
        TextStats.registryEntry, JaroWinkler.registryEntry).foreach {
      case (name, info, builder) =>
        e.injectFunction((FunctionIdentifier(name), info, builder))
    }
    e.injectOptimizerRule(_ => RoundHalfUpDouble.Rewrite)
  }
}
