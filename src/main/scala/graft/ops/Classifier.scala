package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Discriminative quality classification — the learned-filter stage of
  * a CCNet/Dolma-style pipeline (a fastText-shaped linear classifier
  * over hashed bag-of-words features, trained ON the engine's own
  * corpus tables). Completes the quality triad: heuristic features
  * ([[TextStats.qualityFeatures]]), generative LM scoring
  * ([[LangModel.scoreDocs]] / [[TextStats.lmPerplexity]]), and this —
  * a trained DISCRIMINATIVE boundary between a labeled "clean" and
  * "dirty" slice.
  *
  * The learner is a BATCH perceptron, chosen deliberately over
  * logistic regression: its update rule is pure integer arithmetic
  * (weights += Σ y·x over the epoch's misclassified rows), so
  * training is exactly reproducible — no learning-rate floats, no
  * sigmoid, no libm — and an independent engine replays it
  * bit-for-bit. Features are [[graft.functions.TextExpressions
  * .hash_embed]] token-count buckets (the hashing trick — no
  * vocabulary state), with a constant bias bucket appended.
  *
  * Shape at scale: each epoch is ONE shuffle-free job over the cached
  * train slice — margins are row-local dot products against the
  * current weights shipped with the task, and each partition's
  * update arrives on the driver as buckets+1 longs; T epochs = T
  * scans of the cached slice. Scoring is one row-local
  * projection with the final weights — zero joins, fuses into
  * whole-stage codegen with the surrounding plan.
  */
object Classifier {

  /** Hashed features with the bias bucket appended: `buckets` token
    * counts + a constant `biasScale`, so the bias trains/applies
    * through the same dot product as every other weight. The scale
    * matters: a unit bias moves `biasScale`× slower than the token
    * buckets (whose per-doc mass is the token count, tens to
    * hundreds), and a threshold-shaped boundary then needs many more
    * epochs than the batch updates can stably deliver — measured on
    * the test corpus, bias=1 oscillates at chance while bias=16
    * separates at 97% in 20 epochs. 16 ≈ the corpus's per-bucket
    * feature mass, the classic put-features-on-one-scale fix.
    */
  private def features(textCol: Column, buckets: Int,
                       biasScale: Int): Column =
    concat(graft.functions.TextExpressions.hash_embed(textCol, buckets),
      array(lit(biasScale)))

  /** Integer margin of one row under literal weights: Σ w_b · x_b
    * over the buckets+1 features. Row-local. The weights are ONE
    * array-typed literal (`typedlit`), not a 65-node `array(lit…)`
    * tree: analysis/optimization cost scales with the expression
    * tree size.
    */
  private def marginExpr(feats: Column, w: Array[Long]): Column =
    aggregate(
      zip_with(feats, typedlit(w.toSeq),
        (c, wb) => c.cast("long") * wb),
      lit(0L), (acc, x) => acc + x)

  /** Train the batch perceptron: T epochs, each one pass over
    * `train`. `labelCol` is boolean (true = positive / keep class,
    * mapped to y = +1; false → −1). Returns the learned weights,
    * length `buckets + 1` (bias last). Integer-exact: the result is
    * independent of partitioning and row order — a batch update sums
    * commutatively, unlike the sequential perceptron.
    */
  def perceptronTrain(train: DataFrame, labelCol: Column,
                      textCol: String = "text",
                      buckets: Int = 64, epochs: Int = 20,
                      biasScale: Int = 16): Array[Long] = {
    require(epochs >= 0, s"epochs must be >= 0, got $epochs")
    val n = buckets + 1
    // each row's label and hashed features, decoded once and cached
    // as plain arrays: the epochs below never re-plan a query
    val feats = train.select(
        when(labelCol, 1L).otherwise(-1L).as("__y"),
        features(col(textCol), buckets, biasScale).as("__x"))
      .filter(col("__x").isNotNull)
      .rdd.map(r => (r.getLong(0), r.getSeq[Int](1).toArray))
      .persist()
    // Each epoch is ONE job with no shuffle: every partition folds its
    // misclassified (y·margin <= 0) rows' y·x into a dense n-long
    // update, and the driver sums the partitions' arrays. No plan, no
    // shuffle, so no conf to pin. q_perceptron_filter at sf0.1 (Bench
    // reps=3, 4 cores, median of 5 runs a side): 2.61 s for a SQL
    // group-by per epoch under a pinned conf -> 0.80 s.
    try {
      var w = Array.fill(n)(0L)
      var t = 0
      while (t < epochs) {
        val cur = w
        val upd = feats.aggregate(new Array[Long](n))(
          { case (acc, (y, x)) =>
            var m = 0L
            var i = 0
            while (i < n) { m += x(i) * cur(i); i += 1 }
            if (y * m <= 0L) {
              i = 0
              while (i < n) { acc(i) += y * x(i); i += 1 }
            }
            acc
          },
          { (a, b) =>
            var i = 0
            while (i < n) { a(i) += b(i); i += 1 }
            a
          })
        // a zero update leaves w, and so every later epoch, unchanged
        if (upd.forall(_ == 0L)) t = epochs
        else {
          w = Array.tabulate(n)(i => cur(i) + upd(i))
          t += 1
        }
      }
      w
    } finally feats.unpersist()
  }

  /** Score every row under trained weights: (id, margin, pred) with
    * `pred = margin > 0` — the keep/drop decision. Row-local.
    */
  def perceptronScore(df: DataFrame, weights: Array[Long],
                      idCol: String = "doc_id",
                      textCol: String = "text",
                      biasScale: Int = 16): DataFrame = {
    val buckets = weights.length - 1
    require(buckets >= 2 && (buckets & (buckets - 1)) == 0,
      s"weights length must be a power of two + 1, got ${weights.length}")
    df.select(col(idCol),
        marginExpr(features(col(textCol), buckets, biasScale), weights)
          .as("margin"))
      .withColumn("pred", col("margin") > 0L)
  }

  /** Train-on-a-slice, score-everything in one call (the gate shape):
    * rows matching `trainPred` train the classifier against
    * `labelCol`; every row is then scored. Output: (id, y — the
    * reference label, margin, pred).
    */
  def perceptronFilter(df: DataFrame, labelCol: Column,
                       trainPred: Column, idCol: String = "doc_id",
                       textCol: String = "text",
                       buckets: Int = 64, epochs: Int = 20,
                       biasScale: Int = 16): DataFrame = {
    val w = perceptronTrain(df.filter(trainPred), labelCol, textCol,
      buckets, epochs, biasScale)
    perceptronScore(df, w, idCol, textCol, biasScale)
      .join(df.select(col(idCol),
        when(labelCol, 1L).otherwise(-1L).as("y")), idCol)
      .select(col(idCol), col("y"), col("margin"), col("pred"))
  }
}
