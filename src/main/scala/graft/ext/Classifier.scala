package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-based quality scoring: a logistic-regression classifier DISTILLED
  * from the rule-based quality screen — the fastText/FineWeb-Edu pattern
  * (cheap rules or an expensive teacher label the corpus, a tiny model
  * generalizes the verdict into a continuous score the pipeline can
  * threshold, bucket, or mixture-weight on). The reference engine has no
  * model-based filtering; this is part of the training-data surface the
  * builder prompt asks for beyond parity.
  *
  * Training is ridge-regularized Newton–Raphson (IRLS — the classical
  * logistic fit), shaped for a 100 TB corpus: the feature table is
  * computed once (narrow, codegen'd — the same signals the rule screen
  * reads) and EACH of the `iters` iterations is ONE map-side-combinable
  * aggregate producing the Hessian and gradient sums (a 5×5 symmetric
  * matrix + 5-vector = 20 doubles for d = 4 features + bias); the driver
  * holds only the weight vector and solves the 5×5 system — never data.
  * Quadratic convergence means ~8 iterations where first-order GD needs
  * hundreds; per-iteration cost is identical (one pass), so the fit is
  * iterations × one shuffle-free job. The L2 ridge (λ on the
  * non-intercept weights) keeps the Hessian positive definite even when
  * hard rule labels make the classes linearly separable — the case where
  * unregularized Newton diverges.
  *
  * Determinism note: σ(x) = 1/(1+e^(−x)) uses Spark's codegen'd `exp`,
  * and the Hessian/gradient sums reduce in partition order, so two runs
  * can differ in final ulps. ClassifierSpec therefore compares the
  * trained weights against a sequential reference at tolerance rather
  * than bit-exactly — the ordered-fold devices used for oracle-exact
  * queries would serialize a corpus-sized fold per iteration, which is
  * exactly the non-scalable shape this module avoids; classifier scores
  * are consumed through thresholds and buckets anyway.
  */
object Classifier {

  /** weights(0) = bias, weights(j+1) multiplies feature f{j}. */
  final case class Model(weights: Array[Double]) {
    def margin(prefix: String = "f"): Column =
      weights.toSeq.zipWithIndex.tail
        .map { case (wj, j) => col(s"$prefix${j - 1}") * lit(wj) }
        .foldLeft(lit(weights(0)): Column)(_ + _)
  }

  /** (id, y, f0..f3) feature rows: y = the rule screen's keep verdict
    * (the distillation label), f0 = token count / 100, f1 = stopword
    * ratio, f2 = within-doc duplicate-token ratio, f3 = mean word length.
    * All narrow codegen'd expressions; `split` yields ≥ 1 element so the
    * ratios never divide by zero under ANSI mode.
    */
  def features(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ws = split(col(textCol), " ")
    val nTok = size(ws)
    docs.select(
      col(idCol),
      (TextOps.qualityVerdict(col(textCol)) === "keep")
        .cast("double").as("y"),
      (nTok.cast("double") / lit(100.0)).as("f0"),
      (size(filter(ws, w => w.isin("the", "a", "of", "and", "in")))
        .cast("double") / nTok.cast("double")).as("f1"),
      ((nTok - size(array_distinct(ws))).cast("double") /
        nTok.cast("double")).as("f2"),
      ((length(col(textCol)) - nTok + 1).cast("double") /
        nTok.cast("double")).as("f3"))
  }

  private val NumFeatures = 4

  /** Fit by ridge-regularized Newton–Raphson:
    *   w ← w + (Xᵀ S X + λR)⁻¹ (Xᵀ(y − p) − λR w)
    * with p = σ(Xw), S = diag(p(1−p)), and R the identity with a zero in
    * the intercept slot (the bias is never shrunk). One aggregate per
    * iteration collects the d+1 gradient sums and the (d+1)(d+2)/2 upper
    * Hessian entries — 20 doubles at d = 4, bounded by construction; the
    * 5×5 solve is driver-local Gaussian elimination. `feats` should be
    * cached/checkpointed by the caller — each iteration re-reads it.
    * `iters` caps the iterations: the loop stops early once a step is at
    * round-off, max |step| ≤ 1e-12 · max(1, max |w|): a further job
    * would only move the weights in their last digits.
    */
  def train(feats: DataFrame, iters: Int = 8,
      lambda: Double = 1e-3): Model = {
    val d1 = NumFeatures + 1
    val w = Array.fill(d1)(0.0)
    var n = -1L
    var it = 0
    var converged = false
    while (it < iters && !converged) {
      val x = (j: Int) => if (j == 0) lit(1.0) else col(s"f${j - 1}")
      val margin = (0 until NumFeatures)
        .map(j => col(s"f$j") * lit(w(j + 1)))
        .foldLeft(lit(w(0)): Column)(_ + _)
      val p = lit(1.0) / (lit(1.0) + exp(-margin))
      val s = p * (lit(1.0) - p)
      val gradCols = (0 until d1)
        .map(j => sum((col("y") - p) * x(j)).as(s"g$j"))
      val hessCols = for (i <- 0 until d1; j <- i until d1)
        yield sum(s * x(i) * x(j)).as(s"h${i}_$j")
      val row = feats
        .agg(count(lit(1)).as("n"), gradCols ++ hessCols: _*)
        .collect()(0) // 1 + 5 + 15 doubles — bounded by construction
      n = row.getLong(0)
      require(n > 0, "cannot train on an empty feature table")
      val g = Array.tabulate(d1)(j =>
        row.getDouble(1 + j) - (if (j == 0) 0.0 else lambda * w(j)))
      val h = Array.ofDim[Double](d1, d1)
      var k = 1 + d1
      for (i <- 0 until d1; j <- i until d1) {
        h(i)(j) = row.getDouble(k); h(j)(i) = h(i)(j); k += 1
      }
      for (j <- 1 until d1) h(j)(j) += lambda
      val step = solve(h, g)
      for (j <- 0 until d1) w(j) += step(j)
      converged = step.map(math.abs).max <=
        1e-12 * math.max(1.0, w.map(math.abs).max)
      it += 1
    }
    Model(w)
  }

  /** Driver-local Gaussian elimination with partial pivoting — the system
    * is (d+1)×(d+1) = 5×5, ridge-regularized positive definite.
    */
  private def solve(a0: Array[Array[Double]],
      b0: Array[Double]): Array[Double] = {
    val m = a0.length
    val a = a0.map(_.clone()); val b = b0.clone()
    for (c <- 0 until m) {
      val piv = (c until m).maxBy(r => math.abs(a(r)(c)))
      val t = a(c); a(c) = a(piv); a(piv) = t
      val tb = b(c); b(c) = b(piv); b(piv) = tb
      require(math.abs(a(c)(c)) > 1e-300, "singular Hessian")
      for (r <- c + 1 until m) {
        val f = a(r)(c) / a(c)(c)
        for (cc <- c until m) a(r)(cc) -= f * a(c)(cc)
        b(r) -= f * b(c)
      }
    }
    val x = new Array[Double](m)
    for (c <- m - 1 to 0 by -1) {
      var acc = b(c)
      for (cc <- c + 1 until m) acc -= a(c)(cc) * x(cc)
      x(c) = acc / a(c)(c)
    }
    x
  }

  /** Score feature rows under a model: the calibrated keep-probability,
    * the thresholded verdict, and agreement with the teaching rules (the
    * audit column a distillation run reports).
    */
  def score(feats: DataFrame, model: Model, idCol: String): DataFrame =
    feats.select(col(idCol), col("y").cast("boolean").as("rule_keep"),
        (lit(1.0) / (lit(1.0) + exp(-model.margin()))).as("score"))
      .withColumn("pred_keep", col("score") >= 0.5)
      .withColumn("agree", col("pred_keep") === col("rule_keep"))
}
