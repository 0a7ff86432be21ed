package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed PCA over the embedding column — the standard pre-ANN
  * transform (dimensionality reduction / decorrelation before IVF or
  * product quantization; Jégou et al. 2011 use exactly this front-end).
  *
  * SPLIT OF WORK (the only shape that survives 100 TB):
  *   - the CORPUS-sized work is ONE pass: each row explodes to its
  *     upper-triangle second-moment products and map-side combines into
  *     d·(d+1)/2 exact integer sums — nothing row-sized ever shuffles,
  *     only the ~2k-group partials cross the wire;
  *   - the MODEL-sized work (d×d eigen-solve) runs on the driver over
  *     the collected moments — k·iters d-dim matvecs, microseconds.
  *
  * DETERMINISM: embeddings quantize to 1e-4 longs (the q129 k-means
  * convention) so every moment sum is an exact integer (decimal(38,0) —
  * partition-invariant, overflow-safe past 10²⁰ rows); the covariance,
  * power iteration, normalization, and deflation then use only IEEE
  * +,×,/,sqrt in a fixed fold order — every one correctly rounded and
  * engine-portable, so eigenvalues, loadings, and projections are
  * bit-identical in the DuckDB replay with NO transcendental risk at
  * all (stronger than the ln/exp rows, which lean on library rounding).
  */
object Pca {

  /** Embedding quantum: 1e-4 (the q129 convention). */
  val Quantum = 10000L

  private def quantArr(vecCol: String): Column = expr(
    s"""transform($vecCol, x ->
       |  CAST(round(CAST(x AS DOUBLE) * ${Quantum}.0) AS BIGINT))"""
      .stripMargin)

  /** Exact quantized moment sums in one pass: rows (i, j, spp, sx, n)
    * for 0 <= i <= j < d, where spp = Σ q_i·q_j, sx = Σ q_i (carried on
    * the diagonal rows, 0 elsewhere), n = row count.
    *
    * The corpus pass is a per-partition ACCUMULATOR (the §2.10 typed
    * tier — genuine per-partition imperative logic, the Bpe.segment
    * precedent): each partition folds its rows into one d(d+1)/2-lane
    * long array and emits ONE partial row per lane, so only
    * partitions×2,080 tiny rows reach the decimal aggregation. The
    * earlier explode form materialized 2,080 struct rows PER CORPUS ROW
    * through the hash aggregate — same arithmetic, ~9× the wall at sf1
    * (r13 measured 35.4 s → see DESIGN) — and integer addition is
    * associative, so the final decimal sums (and every hash-checked
    * result downstream) are bit-identical to the explode form and the
    * oracle. Partition-local lanes flush to the output every 2²⁴ rows:
    * |pp| ≤ 10⁸ per row keeps a chunk's lane below 1.7·10¹⁵ — no long
    * overflow on ANY partition size; cross-chunk and cross-partition
    * accumulation happens in decimal(38,0). */
  def moments(vecs: DataFrame, d: Int,
      vecCol: String = "embedding"): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val lanes = d * (d + 1) / 2
    vecs.select(quantArr(vecCol).as("q")).as[Seq[Long]]
      .mapPartitions { it =>
        val FlushRows = 1 << 24
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Int, Int, Long, Long, Long)]
        val spp = new Array[Long](lanes)
        val sx = new Array[Long](d)
        var cnt = 0L
        def flush(): Unit = if (cnt > 0) {
          var idx = 0
          var i = 0
          while (i < d) {
            var j = i
            while (j < d) {
              out += ((i, j, spp(idx), if (i == j) sx(i) else 0L, cnt))
              idx += 1; j += 1
            }
            i += 1
          }
          java.util.Arrays.fill(spp, 0L)
          java.util.Arrays.fill(sx, 0L)
          cnt = 0L
        }
        it.foreach { q =>
          val a = q.toArray
          var idx = 0
          var i = 0
          while (i < d) {
            val qi = a(i)
            sx(i) += qi
            var j = i
            while (j < d) { spp(idx) += qi * a(j); idx += 1; j += 1 }
            i += 1
          }
          cnt += 1
          if (cnt == FlushRows) flush()
        }
        flush()
        out.iterator
      }
      .toDF("i", "j", "pp", "x", "cnt")
      .groupBy("i", "j")
      .agg(sum(col("pp").cast("decimal(38,0)")).as("spp"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("cnt")).as("n"))
  }

  /** Merge moment tables from independent corpus slices: the lane sums
    * are exact decimal integers, so addition is associative and
    * merge(moments(A), moments(B)) == moments(A ∪ B) BIT-FOR-BIT — the
    * property that makes the PCA front-end incrementally maintainable
    * (absorb a new ingest batch without rescanning history; the q72 /
    * q145 mergeable-state contract applied to the model pipeline). */
  def mergeMoments(ms: DataFrame*): DataFrame =
    ms.reduce(_ unionAll _).groupBy("i", "j")
      .agg(sum(col("spp")).as("spp"), sum(col("sx")).as("sx"),
        sum(col("n")).as("n"))

  /** Covariance table (i, j, cov) for i <= j from a [[moments]] table,
    * composed exactly as the oracle writes it:
    * cov = (spp/10⁸)/n − ((sx_i/10⁴)/n)·((sx_j/10⁴)/n). */
  def covarianceFromMoments(m: DataFrame): DataFrame = {
    val diag = m.where(col("i") === col("j"))
      .select(col("i").as("k"), col("sx").cast("double").as("sxd"))
    val qd = Quantum.toDouble
    m.join(broadcast(diag.withColumnRenamed("k", "i")
        .withColumnRenamed("sxd", "sxi")), Seq("i"))
      .join(broadcast(diag.withColumnRenamed("k", "j")
        .withColumnRenamed("sxd", "sxj")), Seq("j"))
      .select(col("i"), col("j"),
        ((col("spp").cast("double") / (qd * qd)) / col("n")
          - ((col("sxi") / qd) / col("n")) * ((col("sxj") / qd) / col("n")))
          .as("cov"))
  }

  def covariance(vecs: DataFrame, d: Int,
      vecCol: String = "embedding"): DataFrame =
    covarianceFromMoments(moments(vecs, d, vecCol))

  /** Pearson correlation matrix from the SAME one-pass exact moment
    * sums as [[covariance]]: corr(i,j) = cov(i,j)/√(var_i·var_j), the
    * diagonal re-entering as a model-sized broadcast. The feature-
    * redundancy readout (which embedding dimensions move together)
    * with no additional corpus work beyond the covariance pass. */
  def correlation(vecs: DataFrame, d: Int,
      vecCol: String = "embedding"): DataFrame = {
    // feeds the diagonal twice plus the main relation — the seam rule
    val c = covariance(vecs, d, vecCol).localCheckpoint()
    val diag = c.where(col("i") === col("j"))
      .select(col("i").as("k"), col("cov").as("v"))
    c.join(broadcast(diag.select(col("k").as("i"), col("v").as("vi"))), Seq("i"))
      .join(broadcast(diag.select(col("k").as("j"), col("v").as("vj"))), Seq("j"))
      .select(col("i"), col("j"),
        (round(col("cov") / (sqrt(col("vi")) * sqrt(col("vj"))) * 1000000.0)
          / 1000000.0).as("corr"))
  }

  /** One collected moments pass → (n, means, full covariance matrix),
    * composed on the driver EXACTLY as [[covariance]] writes it column-
    * side (same divisions, same order), so both routes produce the same
    * doubles. Driver state: d·(d+1)/2 rows — model-sized. */
  def model(vecs: DataFrame, d: Int,
      vecCol: String = "embedding"): (Long, Array[Double], Array[Array[Double]]) = {
    val rows = moments(vecs, d, vecCol).collect()
    val qd = Quantum.toDouble
    var n = 0L
    val sx = new Array[Double](d)
    val spp = Array.ofDim[Double](d, d)
    rows.foreach { r =>
      val (i, j) = (r.getInt(0), r.getInt(1))
      val sppd = r.getDecimal(2).doubleValue()
      spp(i)(j) = sppd
      spp(j)(i) = sppd
      if (i == j) { sx(i) = r.getDecimal(3).doubleValue(); n = r.getLong(4) }
    }
    val means = Array.tabulate(d)(i => (sx(i) / qd) / n)
    val cov = Array.tabulate(d, d) { (i, j) =>
      (spp(i)(j) / (qd * qd)) / n -
        ((sx(i) / qd) / n) * ((sx(j) / qd) / n)
    }
    (n, means, cov)
  }

  /** Driver-side principal directions: top-`k` (Rayleigh quotient,
    * direction) of the symmetric `cov` by power iteration with PER-ROUND
    * re-orthogonalization against the already-found directions (modified
    * Gram-Schmidt inside every matvec round) — so the returned basis is
    * orthonormal BY CONSTRUCTION, not merely at convergence. That
    * distinction matters on near-isotropic spectra (this corpus's
    * embeddings have λ₂/λ₁ ≈ 0.99) where deflation-only power iteration
    * would need thousands of rounds to decouple components. λ_r is the
    * Rayleigh quotient v'Cv on the ORIGINAL covariance — the variance
    * along the direction, exactly what [[project]]'s column variance
    * realizes. Start vector (1, 2, …, d): every component nonzero, so no
    * eigenvector of a generic symmetric matrix is orthogonal to it (e_0
    * would already BE an eigenvector of any diagonal matrix and power
    * iteration could never leave it). Fixed fold order, IEEE +,×,/,sqrt
    * only — bit-reproducible anywhere. */
  def topEigen(cov: Array[Array[Double]], k: Int,
      iters: Int = 40): Seq[(Double, Array[Double])] = {
    val d = cov.length
    val vs = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    (0 until k).foreach { _ =>
      var v = Array.tabulate(d)(i => (i + 1).toDouble)
      for (_ <- 1 to iters) {
        val u = Array.tabulate(d) { i =>
          var acc = 0.0
          var j = 0
          while (j < d) { acc += cov(i)(j) * v(j); j += 1 }
          acc
        }
        vs.foreach { w => // modified GS: dot AFTER previous subtraction
          var dt = 0.0
          var i = 0
          while (i < d) { dt += u(i) * w(i); i += 1 }
          i = 0
          while (i < d) { u(i) -= dt * w(i); i += 1 }
        }
        var s = 0.0
        var i = 0
        while (i < d) { s += u(i) * u(i); i += 1 }
        val norm = math.sqrt(s)
        v = u.map(_ / norm)
      }
      vs += v
    }
    vs.toSeq.map { v =>
      var lambda = 0.0
      for (i <- 0 until d; j <- 0 until d) lambda += v(i) * cov(i)(j) * v(j)
      (lambda, v)
    }
  }

  private def r6(x: Double): Double =
    DriverGate.sparkRound(x * 1000000.0) / 1000000.0

  /** Loadings table (rank, i, loading, lambda) for the top-`k`
    * components, 6 dp presentation rounding (the model itself is
    * unrounded; [[project]] uses the exact vectors). */
  def loadingsTable(vecs: DataFrame, d: Int, k: Int,
      iters: Int = 40, vecCol: String = "embedding"): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val (_, _, cov) = model(vecs, d, vecCol)
    topEigen(cov, k, iters).zipWithIndex.flatMap { case ((lambda, v), rank) =>
      v.zipWithIndex.map { case (l, i) =>
        (rank.toLong, i.toLong, r6(l), r6(lambda)) }
    }.toDF("rank", "i", "loading", "lambda")
  }

  /** Projection of every vector onto the top-`k` mean-centered
    * components: p_r = Σ_i v_ri·(q_i/10⁴ − mean_i), fixed fold, 6 dp
    * presentation rounding. Scan-speed: the model (k·d loadings + d
    * means) is baked into the plan as literals — shuffle-free,
    * broadcast-free, one codegen'd projection. Scalar per-element
    * quantization (no array round-trip — the q158 codegen lesson). */
  def project(vecs: DataFrame, d: Int, k: Int, iters: Int = 40,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (_, means, cov) = model(vecs, d, vecCol)
    val eig = topEigen(cov, k, iters)
    val qd = Quantum.toDouble
    val centered = (0 until d).map { i =>
      round(element_at(col(vecCol), i + 1).cast("double") * qd)
        .cast("long").cast("double") / qd - lit(means(i))
    }
    val projCols = eig.zipWithIndex.map { case ((_, v), r) =>
      val z = (0 until d).map(i => lit(v(i)) * centered(i)).reduceLeft(_ + _)
      (round(z * 1000000.0) / 1000000.0).as(s"p$r")
    }
    vecs.select(col(idCol) +: projCols: _*)
  }
}
