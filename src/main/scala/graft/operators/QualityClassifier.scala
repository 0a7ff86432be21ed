package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Trained quality classifier: full-batch logistic regression over the
  * one-pass text-stats features — the standard DISCRIMINATIVE corpus
  * filter (the GPT-3 appendix-A / LLaMA "quality classifier" stage),
  * complementing the generative scorers already in the engine (q130 DSIR
  * importance weights, q153 trained language ID, q99/q115 LM surprisal).
  *
  * DETERMINISM (the q129 quantization discipline, applied to GD):
  *   - features quantize to 1e-6 units as longs at extraction
  *     ([[featuresQ]]); ln is the only transcendental and is composed
  *     identically in the DuckDB oracle (the q110/q130 convention),
  *   - each iteration quantizes the sigmoid to 1e-6 units BEFORE the
  *     gradient, so every per-document gradient term
  *     (sq − y·10⁶)·xq_j is an EXACT integer — sums are
  *     partition-order-invariant and engine-portable by construction,
  *   - the weight update w_j −= lr·((g/10¹²)/N) runs on exact
  *     integer-derived doubles with lr a binary fraction (default 1/4),
  *     so every IEEE operation is correctly rounded and identical in
  *     any engine — weights stay bit-identical across partitionings and
  *     across the DuckDB replay.
  *
  * SCALE SHAPE: training is T full-batch passes over a localCheckpoint'd
  * feature table of (label, 5 longs) per doc — the corpus text is read
  * ONCE; each pass is one map-side-combined aggregation to 5 numbers.
  * Gradient terms reach ~10¹³ per doc, so the distributed sums run as
  * DECIMAL(38,0) — exact and mergeable past 10²⁵ documents, where a long
  * would overflow around 10⁵ docs of worst-case text. Scoring is a pure
  * per-row projection: shuffle-free, scan-speed, broadcast-free (the
  * model is five literal doubles baked into the plan).
  */
object QualityClassifier {

  /** Feature/sigmoid quantum: 1e-6 units. */
  val Quantum = 1000000L

  /** Feature vector layout (index-aligned with [[featuresQ]]). */
  val FeatureNames: Seq[String] =
    Seq("bias", "ln_tokens", "punct_ratio", "stop_ratio", "mean_word_len")

  /** The five quantized features (1e-6 units) as scalar columns, in
    * [[FeatureNames]] order: bias=10⁶, ln(1+n_tokens), punct_ratio,
    * stop_ratio, mean_word_len. Tokens are the corpus-convention
    * single-space split (empties count, exactly q29's n_tokens); mean
    * word length is the exact integer identity
    * charSum = len(text) − (n−1) for a single-char separator. Ratios
    * guard their integer denominators, so empty text yields a
    * well-defined all-zero (but biased) vector, never NaN.
    * Array-free form: inlining one array through five element_at's trips
    * a Spark UnsafeProjection subexpression-elimination codegen bug —
    * "isNull is not an rvalue" — and falls back to the interpreter;
    * scalar columns keep the projection codegen'd, the q29 shape. */
  private def featureColsQ(text: Column): Seq[Column] = {
    val n = size(split(text, " ")).cast("long") // >= 1 always
    val nChars = length(text).cast("long")
    val punct = when(nChars > 0,
      TextAnalysis.punctRatio(text)).otherwise(lit(0.0))
    val stop = TextAnalysis.stopwordRatio(text) // denom n >= 1
    val meanLen = (nChars - n + 1L).cast("double") / n.cast("double")
    Seq(
      lit(Quantum),
      round(log(lit(1.0) + n.cast("double")) * Quantum).cast("long"),
      round(punct * Quantum).cast("long"),
      round(stop * Quantum).cast("long"),
      round(meanLen * Quantum).cast("long"))
  }

  def featuresQ(text: Column): Column = array(featureColsQ(text): _*)

  /** z = Σ_j w_j·(xq_j/10⁶), fixed left-to-right fold — the SAME
    * composition the oracle writes out, so the double is bit-identical. */
  private def zFromCols(w: Array[Double], xq: Seq[Column]): Column =
    w.indices.map(j => lit(w(j)) * (xq(j).cast("double") /
      Quantum.toDouble)).reduceLeft(_ + _)

  private def zCol(w: Array[Double], xq: Column): Column =
    zFromCols(w, w.indices.map(j => element_at(xq, j + 1)))

  /** T iterations of exact-quantized full-batch gradient descent from
    * w = 0 over `labeled` (needs `labelCol` ∈ {0,1} and `textCol`).
    * Returns the weight vector. `lr` must be a binary fraction for exact
    * cross-engine arithmetic. Deterministic under any partitioning. */
  /** Like [[train]], but returns the weight vector AFTER EVERY GD
    * round (w₁ … w_iters) — the training-trajectory view dataset
    * cartography needs (per-doc confidence across checkpoints). Same
    * arithmetic as train; the last element equals train's result. */
  def trainRounds(labeled: DataFrame, labelCol: String = "y",
      iters: Int = 3, lr: Double = 0.25,
      textCol: String = "text"): Seq[Array[Double]] = {
    val k = FeatureNames.size
    // lazy checkpoint, materialized by the count (a full scan) — the
    // per-iteration gradient aggs then read the frozen feature blocks
    val fx = labeled.select(col(labelCol).cast("long").as("y"),
      featuresQ(col(textCol)).as("xq")).localCheckpoint(eager = false)
    val n = fx.count()
    require(n > 0, "logreg training set is empty")
    var w = Array.fill(k)(0.0)
    val hist = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    for (_ <- 1 to iters) {
      val sq = round(lit(1.0) / (lit(1.0) + exp(-zCol(w, col("xq")))) *
        Quantum.toDouble).cast("long")
      val gCols = (0 until k).map(j =>
        sum((sq - col("y") * Quantum).cast("decimal(38,0)") *
          element_at(col("xq"), j + 1).cast("decimal(38,0)")).as(s"g$j"))
      val g = fx.agg(gCols.head, gCols.tail: _*).collect().head
      w = Array.tabulate(k) { j =>
        val gd = g.getDecimal(j).doubleValue()
        w(j) - lr * ((gd / (Quantum.toDouble * Quantum.toDouble)) / n)
      }
      hist += w.clone()
    }
    fx.unpersist()
    hist.toSeq
  }

  def train(labeled: DataFrame, labelCol: String = "y", iters: Int = 3,
      lr: Double = 0.25, textCol: String = "text"): Array[Double] = {
    val k = FeatureNames.size
    // lazy checkpoint, materialized by the count — see [[trainRounds]]
    val fx = labeled.select(col(labelCol).cast("long").as("y"),
      featuresQ(col(textCol)).as("xq")).localCheckpoint(eager = false)
    val n = fx.count()
    require(n > 0, "logreg training set is empty")
    var w = Array.fill(k)(0.0)
    for (_ <- 1 to iters) {
      val sq = round(lit(1.0) / (lit(1.0) + exp(-zCol(w, col("xq")))) *
        Quantum.toDouble).cast("long")
      // both factors go to decimal BEFORE the multiply: x5 (mean word
      // len) is unbounded, so an extreme doc (one ~10⁷-char word →
      // xq_5 ~ 10¹³) would overflow a LongType product (~10¹⁹); the
      // decimal product matches the oracle's HUGEINT promotion exactly
      val gCols = (0 until k).map(j =>
        sum((sq - col("y") * Quantum).cast("decimal(38,0)") *
          element_at(col("xq"), j + 1).cast("decimal(38,0)")).as(s"g$j"))
      val g = fx.agg(gCols.head, gCols.tail: _*).collect().head
      w = Array.tabulate(k) { j =>
        val gd = g.getDecimal(j).doubleValue()
        w(j) - lr * ((gd / (Quantum.toDouble * Quantum.toDouble)) / n)
      }
    }
    fx.unpersist()
    w
  }

  /** Per-doc raw logit z = w·x rounded 1e-6 — the pre-sigmoid surface
    * temperature scaling rescales. Scan-speed literal-model
    * projection like [[score]]. */
  def logits(docs: DataFrame, w: Array[Double], idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      (round(zFromCols(w, featureColsQ(col(textCol))) * 1000000.0)
        / 1000000.0).as("z"))

  /** Per-doc score under EVERY checkpoint model in ONE scan-speed
    * projection (columns s1..sN, each the q159 rounded sigmoid with
    * that round's weights baked in as literals) — the input to dataset
    * cartography. */
  def scoreTrajectory(docs: DataFrame, ws: Seq[Array[Double]],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val xq = featureColsQ(col(textCol))
    val cols = ws.zipWithIndex.map { case (w, r) =>
      (round(lit(1.0) / (lit(1.0) + exp(-zFromCols(w, xq)))
        * 1000000.0) / 1000000.0).as(s"s${r + 1}")
    }
    docs.select(col(idCol) +: cols: _*)
  }

  /** Per-doc quality score σ(w·x) rounded to 1e-6 (the q29 convention)
    * and the keep flag from the ROUNDED score — pure projection,
    * shuffle-free, model baked in as literals. */
  def score(docs: DataFrame, w: Array[Double], threshold: Double = 0.5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sigma = lit(1.0) /
      (lit(1.0) + exp(-zFromCols(w, featureColsQ(col(textCol)))))
    val sc = round(sigma * 1000000.0) / 1000000.0
    docs.select(col(idCol), sc.as("score"), (sc >= threshold).as("keep"))
  }

  /** The trained model as a table: (j, feature, weight) with the weight
    * rounded 6 dp for presentation (training itself is unrounded). */
  def weightsTable(docs: DataFrame, w: Array[Double]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    w.toSeq.zip(FeatureNames).zipWithIndex
      .map { case ((wj, nm), j) =>
        // compose exactly like the oracle's round(w*1e6)/1e6: scale as a
        // double FIRST, then HALF_UP (away from zero — what both Spark
        // round() and DuckDB round() do; math.rint would tie-to-even)
        (j.toLong, nm, DriverGate.sparkRound(wj * 1000000.0) / 1000000.0) }
      .toDF("j", "feature", "weight")
  }

  /** Calibration (reliability) table: score each labeled row, cut the
    * population into `buckets` EQUAL-COUNT score-rank bins (ntile — the
    * right cut when a young model's scores concentrate in a narrow
    * band, where equal-width bins collapse to one), and report per bin
    * the count, the empirical positive rate, and the mean predicted
    * score — the curve that says whether a higher score MEANS more
    * likely positive. The evaluation every deployed quality gate needs
    * before its threshold is trusted (run it on rows the trainer never
    * saw).
    *
    * Means are composed from EXACT integer sums (labels, 1e-6-quantized
    * scores) divided once — no floating accumulation, so the table is
    * bit-identical under any partitioning and across engines.
    *
    * SCALE: the ntile ranks over a GLOBAL total order (score, id) — a
    * single-partition window by design: this is an evaluation-set
    * statistic, run on a held-out sample, not a corpus operator. The
    * scoring projection itself is scan-speed with the model as
    * literals. */
  def calibrationTable(labeled: DataFrame, w: Array[Double],
      buckets: Int = 10, labelCol: String = "y", idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val sigma = lit(1.0) /
      (lit(1.0) + exp(-zFromCols(w, featureColsQ(col(textCol)))))
    val sc = round(sigma * 1000000.0) / 1000000.0
    // evaluation-set statistic by design (see scaladoc): held-out labeled sample, not a corpus domain
    val byScore = org.apache.spark.sql.expressions.Window
      .orderBy(col("sq"), col(idCol))
    labeled.select(col(idCol), col(labelCol).cast("long").as("y"),
        round(sc * 1000000.0).cast("long").as("sq"))
      .withColumn("bucket", ntile(buckets).over(byScore).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        (round(sum("y").cast("double") / count(lit(1)) * 1000000.0)
          / 1000000.0).as("mean_label"),
        (round(sum("sq").cast("double") / count(lit(1)))
          / 1000000.0).as("mean_score"))
  }

  /** Precision/recall/F1 at a literal threshold sweep — the companion
    * to [[calibrationTable]] that picks the deployment threshold: one
    * scoring projection, the thresholds exploded per row (|T|×
    * multiplier, thresholds are a handful of literals), and one
    * map-side-combined aggregation per threshold. TP/FP/FN are exact
    * integer counts; each metric is one exact division, so the sweep is
    * partition- and engine-invariant. Zero-denominator cells are null
    * (no positives predicted / present), never a fake 0. */
  def prCurve(labeled: DataFrame, w: Array[Double], thresholds: Seq[Double],
      labelCol: String = "y", textCol: String = "text"): DataFrame = {
    val sigma = lit(1.0) /
      (lit(1.0) + exp(-zFromCols(w, featureColsQ(col(textCol)))))
    val sc = round(sigma * 1000000.0) / 1000000.0
    def ratio(num: Column, den: Column): Column =
      when(den > 0, round(num.cast("double") / den.cast("double") *
        1000000.0) / 1000000.0)
    labeled.select(col(labelCol).cast("long").as("y"), sc.as("score"))
      .select(col("y"), col("score"),
        explode(array(thresholds.map(lit): _*)).as("threshold"))
      .groupBy("threshold")
      .agg(
        sum(when(col("score") >= col("threshold") && col("y") === 1, 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("score") >= col("threshold") && col("y") === 0, 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("score") < col("threshold") && col("y") === 1, 1L)
          .otherwise(0L)).as("fn"))
      .select(col("threshold"), col("tp"), col("fp"), col("fn"),
        ratio(col("tp"), col("tp") + col("fp")).as("precision"),
        ratio(col("tp"), col("tp") + col("fn")).as("recall"),
        ratio(lit(2L) * col("tp"),
          lit(2L) * col("tp") + col("fp") + col("fn")).as("f1"))
  }

  /** Best Gini-gain decision stump per feature — the interpretable
    * single-split baseline (CART's first node) against which the logreg
    * weights are sanity-read: for each of the four non-bias features,
    * the threshold whose ≤/> split most reduces class impurity.
    *
    * Thresholds come from a COARSE grid (features bucketed to `coarse`
    * 1e-6 units, i.e. 1e-2 in natural units) — the histogram-split
    * trick every distributed tree trainer (XGBoost/LightGBM hist mode)
    * uses, which bounds the candidate table by the GRID, not the
    * corpus. Split counts are exact integers via one cumulative pass
    * per feature; the Gini algebra touches doubles only in the final
    * projection with +,−,×,÷ (all IEEE-exact), so the per-candidate
    * gain — and therefore the argmax — is bit-identical on any engine.
    *
    * SCALE: one corpus pass exploding 4 features/doc into a grid-sized
    * (feature, bucket) aggregate; windows and argmax run on that grid.
    * The per-feature cumulative window is grid-partitioned (4
    * partitions × ~10³ buckets). */
  def stumpSplits(labeled: DataFrame, labelCol: String = "y",
      textCol: String = "text", coarse: Long = 10000L): DataFrame = {
    val fx = labeled.select(col(labelCol).cast("long").as("y"),
      posexplode(featuresQ(col(textCol))).as(Seq("idx", "xq")))
      .where(col("idx") >= 1) // bias is constant: no split exists
    val cand = fx.groupBy(col("idx"), expr(s"xq div $coarse").as("cb"))
      .agg(sum(col("y")).as("c1"), sum(lit(1L) - col("y")).as("c0"))
    val tots = cand.groupBy("idx").agg(sum(col("c1")).as("p"),
      sum(col("c0") + col("c1")).as("n"))
    val wv = org.apache.spark.sql.expressions.Window
      .partitionBy("idx").orderBy("cb")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = cand
      .withColumn("aL", sum(col("c1")).over(wv))
      .withColumn("nL", sum(col("c0") + col("c1")).over(wv))
      .join(broadcast(tots), "idx")
      .where(col("nL") < col("n")) // last bucket: right side empty
    def d(c: Column) = c.cast("double")
    def sq(c: Column) = c * c
    val (aR, nR) = (col("p") - col("aL"), col("n") - col("nL"))
    val bL = col("nL") - col("aL")
    val bR = nR - aR
    val gp = lit(1.0) - sq(d(col("p")) / d(col("n"))) -
      sq(d(col("n") - col("p")) / d(col("n")))
    val gl = lit(1.0) - sq(d(col("aL")) / d(col("nL"))) -
      sq(d(bL) / d(col("nL")))
    val gr = lit(1.0) - sq(d(aR) / d(nR)) - sq(d(bR) / d(nR))
    val gain = gp - d(col("nL")) / d(col("n")) * gl -
      d(nR) / d(col("n")) * gr
    val byGain = org.apache.spark.sql.expressions.Window
      .partitionBy("idx").orderBy(col("gain").desc, col("cb"))
    cum.withColumn("gain", gain)
      .withColumn("rn", row_number().over(byGain))
      .where(col("rn") === 1)
      .select(
        element_at(array(FeatureNames.map(lit): _*), col("idx") + 1)
          .as("feature"),
        ((col("cb") + 1) * coarse).as("threshold_q"),
        col("nL").as("n_left"), col("aL").as("pos_left"),
        nR.as("n_right"), aR.as("pos_right"),
        (round(col("gain") * 1000000.0) / 1000000.0).as("gini_gain"))
      .orderBy("feature")
  }
}
