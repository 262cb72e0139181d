package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark-contamination detection and sequence chunking — the two
  * remaining data-prep stages of a training pipeline: before training,
  * drop documents that leak evaluation data; after cleaning, split
  * documents into model-context-sized chunks.
  *
  * 100 TB design notes: contamination is one equi-join on distinct
  * word n-grams — the n-gram explode is per-row work, the join
  * shuffles on the gram key, and at n ≥ 8 natural-language grams are
  * near-unique so the key distribution is flat (a `maxGramDocFreq`
  * guard drops degenerate boilerplate grams before the join, the same
  * skew cap as the dedup bucket joins). Chunking is pure per-row
  * integer arithmetic — zero shuffle.
  */
object Contamination {

  /** Distinct n-grams over an ALREADY-MATERIALIZED token array column.
    * The lambda must reference a plain attribute, not the tokenization
    * expression: higher-order-function lambdas evaluate interpreted
    * with no common-subexpression elimination, so embedding
    * `tokens(text)` here would re-split the text once per
    * `element_at` reference — n re-splits per gram, O(n · grams)
    * splits per row.
    */
  def distinctNGramsOfTokens(t: Column, n: Int): Column =
    org.apache.spark.sql.graftshim.ColumnExpr.column(
      graft.functions.WordNGrams(
        org.apache.spark.sql.graftshim.ColumnExpr.expr(t), n, distinct = true))

  /** The declarative formulation of [[distinctNGramsOfTokens]] —
    * reference semantics for WordNGramsSpec's bit-equality pin.
    */
  def distinctNGramsOfTokensRegex(t: Column, n: Int): Column = {
    val grams = transform(sequence(lit(1), size(t) - (n - 1)), i =>
      concat_ws(" ", (0 until n).map(k => element_at(t, i + k)): _*))
    when(size(t) < n, array().cast("array<string>"))
      .otherwise(array_distinct(grams))
  }

  /** For every train document sharing at least one word `n`-gram with
    * any benchmark document: (train id, distinct benchmark docs hit,
    * distinct shared grams). Grams occurring in more than
    * `maxGramDocFreq` benchmark documents are dropped before the join
    * (boilerplate grams would both skew the shuffle and produce
    * meaningless "contamination").
    *
    * The TRAIN side's join key is `xxhash64(gram)`, not the gram
    * string: an 8-gram averages ~50-60 bytes, the train side dominates
    * every shuffle in this pipeline, and hashing cuts its bytes ~5×.
    * The BENCH side (small by construction — benchmark suites are
    * thousands of docs against billions of train docs) carries the
    * gram STRING through the join, so the doc-frequency cap and the
    * final distinct-gram count are string-exact — the same quantities
    * the oracle computes. The one remaining collision exposure is a
    * train×bench cross-collision producing a phantom join edge:
    * ~T·B/2^64 expected over T train and B bench grams, a handful at
    * 100 TB scale and ~10^-10 at gate scale.
    */
  def contaminationReport(
      train: DataFrame, bench: DataFrame, idCol: String, textCol: String,
      n: Int = 8, maxGramDocFreq: Int = 1000): DataFrame = {
    def grams(df: DataFrame, as: String) = df
      .select(col(idCol).as(as), TextAnalysis.tokens(col(textCol)).as("__t"))
      .select(col(as), explode(distinctNGramsOfTokens(col("__t"), n)).as("__gram"))
    val b = grams(bench, "bench_id")
      .select(col("bench_id"), col("__gram"), xxhash64(col("__gram")).as("__g"))
    val rare = b.groupBy("__gram")
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxGramDocFreq)
      .select("__gram")
    grams(train, "train_id")
      .select(col("train_id"), xxhash64(col("__gram")).as("__g"))
      .join(b.join(rare, "__gram"), "__g")
      .groupBy("train_id")
      .agg(countDistinct("bench_id").as("n_bench_docs"),
        countDistinct("__gram").as("n_shared_grams"))
  }

  /** Fixed-stride token chunk spans per document: chunk `k` covers
    * tokens `[1 + k·stride, 1 + k·stride + maxTokens)` (1-based),
    * clamped to the document end — the standard sliding-window split
    * (overlap = maxTokens − stride) that turns cleaned documents into
    * model-context-sized sequences. Empty documents yield no chunks.
    */
  def chunkSpans(df: DataFrame, idCol: String, textCol: String,
                 maxTokens: Int, stride: Int): DataFrame = {
    require(maxTokens > 0 && stride > 0 && stride <= maxTokens,
      s"need 0 < stride <= maxTokens, got stride=$stride maxTokens=$maxTokens")
    df.select(col(idCol), TextAnalysis.tokenCount(col(textCol)).as("__n"))
      .filter(col("__n") >= 1)
      .select(col(idCol), col("__n"),
        posexplode(sequence(lit(1), col("__n"), lit(stride)))
          .as(Seq("chunk_id", "tok_start")))
      .select(col(idCol), col("chunk_id"), col("tok_start"),
        least(lit(maxTokens), col("__n") - col("tok_start") + 1).as("tok_len"))
  }
}
