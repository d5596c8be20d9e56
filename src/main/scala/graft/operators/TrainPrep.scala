package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data preparation operators beyond dedup/similarity (those live
  * in [[TextOps]] / [[Similarity]]): benchmark decontamination, repetition
  * (Gopher-style) quality signals, TF-IDF term weighting, tokenizer-vocab
  * construction, deterministic dataset mixing, and sequence packing for
  * context-window training.
  *
  * All operators are pure `functions._` dataflow (codegen'd, no UDFs) and
  * shuffle-honest: per-document signals are formed row-locally via the
  * native [[graft.functions.Shingles]] expression (zero shuffle before the
  * per-doc aggregate), corpus-level statistics are map-side-combinable
  * aggregates, and the only broadcast sides are provably small (benchmark
  * shingle sets, vocab/document-frequency tables, mixture-rate maps).
  */
object TrainPrep {

  /** Benchmark decontamination: which corpus documents share at least one
    * n-token shingle with a benchmark/eval set (the standard n-gram-overlap
    * contamination test applied before training). Returns one row per
    * CONTAMINATED corpus doc: (idCol, n_shared = distinct shared shingles).
    *
    * Scale shape: shingles are formed row-locally ([[graft.functions.Shingles]]),
    * reduced to fixed-width md5 digests; the benchmark side — eval sets are
    * tiny relative to a training corpus — is collapsed to a distinct digest
    * set and BROADCAST. The broadcast join runs FIRST, inside the corpus
    * scan stage, so the ~everything that doesn't match a benchmark shingle
    * is dropped before any exchange — the only shuffled rows are actual
    * hits, and the per-doc distinct-count aggregates those few. (Distinct
    * before the join would shuffle the entire corpus's digests just to
    * dedup them.) md5 (portable lowercase hex) keeps the operator
    * oracle-checkable; swap xxhash64 for 4× narrower digests when
    * portability is not needed. */
  def contaminationFlags(corpus: DataFrame, benchmark: DataFrame, idCol: String,
                         textCol: String, n: Int): DataFrame = {
    val bench = TextOps.explodedShingles(benchmark, idCol, textCol, n)
      .select(md5(col("shingle")).as("__h")).distinct()
    TextOps.explodedShingles(corpus, idCol, textCol, n)
      .select(col(idCol), md5(col("shingle")).as("__h"))
      .join(broadcast(bench), Seq("__h"))
      .groupBy(col(idCol))
      .agg(count_distinct(col("__h")).as("n_shared"))
  }

  /** Within-document repetition signals (the Gopher repetition filters,
    * restated for space-tokenized text): per doc,
    *   - `n_tokens`, and `dup_word_frac` = 1 − distinct/total tokens
    *     (fraction of tokens that are re-occurrences);
    *   - `top_bigram_frac` = occurrences of the most frequent bigram /
    *     total bigrams (null when the doc has < 2 tokens).
    * Both fractions rounded to 4 places against float-division drift.
    *
    * Two per-doc aggregates (unigram distinct-count, bigram max/sum) joined
    * on the doc key — each map-side combinable, shingles formed row-locally
    * (no token-stream shuffle). */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val uni = TextOps.explodedShingles(docs, idCol, textCol, 1)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        count_distinct(col("shingle")).as("__nd"))
    val bi = TextOps.explodedShingles(docs, idCol, textCol, 2)
      .groupBy(col(idCol), col("shingle"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol))
      .agg(max(col("__c")).as("__top"), sum(col("__c")).as("__nbi"))
    uni.join(bi, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        round(lit(1.0) - col("__nd") / col("n_tokens"), 4).as("dup_word_frac"),
        round(col("__top") / col("__nbi"), 4).as("top_bigram_frac"))
  }

  /** Top-k tokens per document by TF-IDF weight, in EXACT integer
    * arithmetic: score = (tf · 10⁹) div df. The corpus size N of the
    * textbook tf·(N/df) is a GLOBAL constant, so dropping it preserves
    * every per-doc ranking while eliminating a whole corpus pass; integer
    * div (no log, no float division) keeps the ranking bit-identical
    * across engines, hence deterministic and oracle-checkable. Ties broken
    * by token; rank emitted as `rk`.
    *
    * Scale shape: term frequencies are ONE map-side-combinable aggregate
    * over row-locally formed tokens; document frequency derives from that
    * same tf frame (a tf row exists iff the doc contains the token, so
    * df = rows per token). The `tf > 0` filter is a no-op that REFERENCES
    * tf's count so column pruning can't specialize the df branch's inner
    * aggregate — both branches then share one scan + shuffle via
    * ReuseExchange. df aggregates by token with map-side partials (skew-
    * safe for stopword-frequency tokens — a window-by-token formulation
    * would put every "the"-containing doc in one partition) and is
    * vocabulary-bounded → BROADCAST join; the big tf frame never
    * reshuffles before the per-doc top-k window. */
  def tfIdfTopK(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val tf = TextOps.explodedShingles(docs, idCol, textCol, 1)
      .groupBy(col(idCol), col("shingle").as("token"))
      .agg(count(lit(1)).as("tf"))
    val dft = tf.where(col("tf") > 0)
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("token"))
    tf.join(broadcast(dft), Seq("token"))
      .withColumn("score", expr("(tf * 1000000000) div df"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= k)
      .select(col(idCol), col("token"), col("score"), col("rk"))
  }

  /** Tokenizer vocabulary: the k most frequent tokens with dense ids
    * assigned in (count desc, token) order — the frequency-vocab step of a
    * BPE-ish tokenizer build. The global count is map-side combinable; the
    * ordered id assignment plans as TakeOrderedAndProject(k) (per-partition
    * heaps, no global sort) followed by a window over ≤ k rows — the only
    * single-task stage is the k-bounded final numbering, which is the point:
    * vocab size is a CONSTANT (32k/50k), independent of corpus size. */
  def buildVocab(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val order = Seq(col("n").desc, col("token"))
    TextOps.explodedShingles(docs, idCol, textCol, 1)
      .groupBy(col("shingle").as("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(order: _*).limit(k)
      .withColumn("vocab_id", row_number().over(Window.orderBy(order: _*)).cast("long"))
      .select(col("vocab_id"), col("token"), col("n"))
  }

  /** Deterministic weighted dataset mixture: keep each row with a
    * per-`keyCol` (source/domain) rate given in permille, decided by the
    * portable Knuth hash of the row id — reproducible across runs/engines
    * (the seeded analog of per-source sampling weights in a training-data
    * mix). Rows whose key is absent from `permille` use `defaultPermille`.
    * The rate table is values-bounded → broadcast; no shuffle at all. */
  def mixtureSample(df: DataFrame, keyCol: String, idCol: String,
                    permille: Map[String, Int], defaultPermille: Int,
                    seed: Long = 0L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rates = permille.toSeq.toDF(keyCol, "__permille")
    df.join(broadcast(rates), Seq(keyCol), "left")
      .where(pmod(Ops.seededHash(col(idCol), seed), lit(1000L)) <
        coalesce(col("__permille"), lit(defaultPermille)))
      .drop("__permille")
  }

  /** Sequence packing for context-window training: concatenate all
    * documents in `idCol` order into one virtual token stream and cut it
    * every `budget` tokens — each doc gets its global `start_offset`, the
    * `pack_id` (context window) its first token lands in, and its
    * `pack_offset` within that window. This is the standard
    * concat-then-chunk packing of LLM pretraining (documents may span pack
    * boundaries; boundary-respecting first-fit is inherently sequential and
    * NOT a dataflow operator).
    *
    * The global running sum is [[Ops.runningSums]] minus the row's own
    * tokens — two-phase bucket offsets + bucket-local windows in one lazy
    * plan, no single-partition window — so the packing survives a 100×
    * scale-up. `tokensCol` must be
    * non-null; `idCol` numeric non-null unique. */
  def packSequences(df: DataFrame, idCol: String, tokensCol: String,
                    budget: Int): DataFrame =
    Ops.runningSums(df, Nil, Seq(idCol), "start_offset" -> col(tokensCol).cast("long"))
      .withColumn("start_offset", col("start_offset") - col(tokensCol))
      .withColumn("pack_id", expr(s"start_offset div $budget"))
      .withColumn("pack_offset", pmod(col("start_offset"), lit(budget.toLong)))
}
