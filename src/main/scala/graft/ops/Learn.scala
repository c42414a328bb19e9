package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** In-engine model fitting — the "train a small model ON the query engine"
  * surface (TPC-H-era engines stop at aggregation; a training-data engine
  * wants the quick scoring models next to the data). Everything here is
  * full-batch, fixed-iteration, and md5/rounding-deterministic: the same
  * replay-stability contract as [[Sampling]] (a backfill or engine swap
  * reproduces the identical weights, which is what makes model-assisted
  * curation auditable).
  */
object Learn {

  /** The gradient-descent trajectory every fitter here shares: z-score
    * the `__x<i>` columns of `raw` against 6 dp-rounded population
    * moments (one aggregate), persist the z-scored base — `__y`, the
    * `keep` columns, then `__z<i>` — and run `iters` full-batch rounds
    * from zero weights, each one aggregate and a `w ← round(w − lr·∇, 6)`
    * snap. The snap is HALF_UP to match SQL round(): rint's half-to-even
    * would diverge from the oracle exactly on a 5e-7 boundary. Returns
    * the base and the (bias :: feature) weights after each round; `op`
    * prefixes the zero-variance error. */
  private def gdFit(raw: DataFrame, keep: Seq[String], featureCols: Seq[String],
                    lr: Double, iters: Int,
                    op: String): (DataFrame, Seq[Array[Double]]) = {
    val k = featureCols.size
    val stats = raw.agg(
      round(avg(col("__x0")), 6).as("m0"),
      (Seq(round(stddev_pop(col("__x0")), 6).as("s0")) ++
        (1 until k).flatMap(i => Seq(
          round(avg(col(s"__x$i")), 6).as(s"m$i"),
          round(stddev_pop(col(s"__x$i")), 6).as(s"s$i")))): _*).head()
    val base = graft.core.CacheRegistry.persist(
      raw.select((col("__y") +: keep.map(col)) ++ (0 until k).map { i =>
        val m = stats.getAs[Double](s"m$i")
        val s = stats.getAs[Double](s"s$i")
        require(s > 0, s"$op: feature ${featureCols(i)} has zero variance")
        ((col(s"__x$i") - lit(m)) / lit(s)).as(s"__z$i")
      }: _*))
    def r6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ws = (1 to iters).scanLeft(Array.fill(k + 1)(0.0)) { (w, _) =>
      val p = sigmoid(logit(w))
      val g = base.agg(
        avg(p - col("__y")).as("g0"),
        (0 until k).map(i =>
          avg((p - col("__y")) * col(s"__z$i")).as(s"g${i + 1}")): _*).head()
      w.zipWithIndex.map { case (wi, j) => r6(wi - lr * g.getAs[Double](s"g$j")) }
    }
    (base, ws.tail)
  }

  /** The linear score `w(0) + Σ w(i+1)·__z<i>` over a [[gdFit]] base. */
  private def logit(w: Array[Double]): Column =
    (0 until w.length - 1).foldLeft(lit(w(0)): Column)((acc, i) =>
      acc + lit(w(i + 1)) * col(s"__z$i"))

  private def sigmoid(z: Column): Column = lit(1.0) / (lit(1.0) + exp(-z))

  /** Full-batch logistic regression by gradient descent, UNROLLED to a
    * fixed iteration count: features are z-scored against 6 dp-rounded
    * population moments, weights start at 0 and update
    * `w ← round(w − lr·∇, 6)` each round — the 6 dp re-round after every
    * update is what makes the trajectory engine-exact (per-row `exp`
    * ulps vanish into the rounding quantum instead of compounding across
    * iterations; the [[Similarity.kmeansFit]] device). The loss uses the
    * overflow-stable softplus form `max(z,0) − y·z + ln(1+e^{−|z|})`;
    * predictions threshold at `z ≥ 0` (≡ p ≥ 0.5, no transcendentals).
    * Rows with a null label or null feature are excluded.
    * Output: ONE row — (n_rows, n_iters, bias, w_<feature>…,
    * log_loss 6 dp, accuracy 6 dp).
    *
    * Scale shape: one standardization aggregate, then ONE full-scan
    * aggregate per iteration (map-side partial gradients — the classic
    * distributed-GD shape); the driver holds only the (k+1)-vector of
    * weights. Iterations are a fixed hyperparameter, so the plan is
    * O(iters) independent scans, each whole-stage codegen'd. */
  def logisticGd(df: DataFrame, featureCols: Seq[String], labelCol: String,
                 lr: Double, iters: Int): DataFrame = {
    require(featureCols.nonEmpty, "logisticGd: need at least one feature")
    require(lr > 0, s"logisticGd: need lr > 0, got $lr")
    require(iters >= 1 && iters <= 50,
      s"logisticGd: need 1 <= iters <= 50, got $iters")
    val y = col(labelCol).cast("double")
    val raw = df.where(featureCols.map(c => col(c).isNotNull).reduce(_ && _)
        && y.isNotNull)
      .select(y.as("__y") +: featureCols.zipWithIndex.map { case (c, i) =>
        col(c).cast("double").as(s"__x$i") }: _*)
    val k = featureCols.size
    val (base, ws) = gdFit(raw, Nil, featureCols, lr, iters, "logisticGd")
    val w = ws.last
    val zF = logit(w)
    val loss = greatest(zF, lit(0.0)) - col("__y") * zF +
      log(lit(1.0) + exp(-abs(zF)))
    base.agg(
      count(lit(1)).as("n_rows"),
      (lit(iters).cast("long").as("n_iters") +:
        lit(w(0)).as("bias") +:
        (0 until k).map(i => lit(w(i + 1)).as(s"w_${featureCols(i)}")) :+
        round(avg(loss), 6).as("log_loss") :+
        round(avg(((zF >= 0).cast("double") === col("__y")).cast("double")), 6)
          .as("accuracy")): _*)
  }

  /** Inverse-propensity-weighted average treatment effect — the
    * cross-sectional causal estimator when assignment was NOT random
    * ([[graft.ops.Quality.didEstimator]]'s no-time-dimension sibling):
    * fit a propensity model `e(x) = P(treated | x)` with the
    * [[logisticGd]] trajectory (z-scored features, 6 dp weight snap per
    * round — engine-exact), clip propensities into `[clip, 1−clip]`
    * (standard positivity guard), weight treated rows by `1/e` and
    * control rows by `1/(1−e)`, and report the Hájek (self-normalized)
    * weighted outcome means and their difference. Per-row weights and
    * weighted outcomes snap to 6 dp micro-integer decimals before the
    * order-sensitive sums, so the estimate is identical on any engine.
    * Also reports each arm's effective sample size `(Σw)²/Σw²` — the
    * overlap diagnostic that says how much the weighting cost. Output:
    * ONE row — (n, n_treat, n_ctrl, ess_treat, ess_ctrl, mean_treat_w,
    * mean_ctrl_w, ate), 6 dp.
    *
    * Scale shape: [[logisticGd]]'s shape — one standardization
    * aggregate, one full-scan gradient aggregate per iteration, then ONE
    * weighted-sum aggregate; the driver holds only the weight vector.
    * Every pass is a map-side-combined scan, no join, no window. */
  def ipwAte(df: DataFrame, featureCols: Seq[String], treatCol: String,
             outcomeCol: String, lr: Double, iters: Int,
             clip: Double = 0.05): DataFrame = {
    require(featureCols.nonEmpty, "ipwAte: need at least one feature")
    require(lr > 0, s"ipwAte: need lr > 0, got $lr")
    require(iters >= 1 && iters <= 50,
      s"ipwAte: need 1 <= iters <= 50, got $iters")
    require(clip > 0 && clip < 0.5, s"ipwAte: need 0 < clip < 0.5, got $clip")
    val y = col(treatCol).cast("boolean").cast("double")
    val out = col(outcomeCol).cast("double")
    val raw = df.where(featureCols.map(c => col(c).isNotNull).reduce(_ && _)
        && y.isNotNull && out.isNotNull)
      .select(y.as("__y") +: out.as("__out") +:
        featureCols.zipWithIndex.map { case (c, i) =>
          col(c).cast("double").as(s"__x$i") }: _*)
    val (base, ws) = gdFit(raw, Seq("__out"), featureCols, lr, iters, "ipwAte")
    // 6 dp-snapped clipped propensity -> per-row weight, also snapped:
    // every sum below runs over exact micro-integer decimals
    val e = round(least(greatest(sigmoid(logit(ws.last)),
      lit(clip)), lit(1.0 - clip)), 6)
    val wt = round(when(col("__y") === 1.0, lit(1.0) / e)
      .otherwise(lit(1.0) / (lit(1.0) - e)), 6)
    val wm = round(wt * lit(1e6)).cast("decimal(38,0)")
    val wym = round(wt * col("__out") * lit(1e6)).cast("decimal(38,0)")
    val w2m = round(wt * wt * lit(1e6)).cast("decimal(38,0)")
    def arm(t: Double, c: Column): Column = sum(when(col("__y") === t, c))
    val red = base.agg(
      count(lit(1)).as("n"),
      count(when(col("__y") === 1.0, 1)).as("n_treat"),
      count(when(col("__y") === 0.0, 1)).as("n_ctrl"),
      arm(1.0, wm).as("__wt1"), arm(1.0, wym).as("__wy1"),
      arm(1.0, w2m).as("__w21"),
      arm(0.0, wm).as("__wt0"), arm(0.0, wym).as("__wy0"),
      arm(0.0, w2m).as("__w20"))
    def d(c: String): Column = col(c).cast("double")
    val mt = d("__wy1") / d("__wt1")
    val mc = d("__wy0") / d("__wt0")
    red.select(col("n"), col("n_treat"), col("n_ctrl"),
      when(col("n_treat") > 0,
        round(d("__wt1") * d("__wt1") / d("__w21") / lit(1e6), 6))
        .as("ess_treat"),
      when(col("n_ctrl") > 0,
        round(d("__wt0") * d("__wt0") / d("__w20") / lit(1e6), 6))
        .as("ess_ctrl"),
      when(col("n_treat") > 0, round(mt, 6)).as("mean_treat_w"),
      when(col("n_ctrl") > 0, round(mc, 6)).as("mean_ctrl_w"),
      when(col("n_treat") > 0 && col("n_ctrl") > 0, round(mt - mc, 6))
        .as("ate"))
  }

  /** Dataset cartography (Swayamdipta et al., EMNLP 2020) — map every
    * training example by its TRAINING DYNAMICS: mean correct-class
    * confidence and confidence variability across the [[logisticGd]]
    * trajectory's per-round weight snapshots (round-r confidence is
    * `p_r` for positives, `1−p_r` for negatives). High-confidence
    * low-variability examples are easy (learnable, possibly redundant);
    * low-confidence low-variability ones are hard (often mislabeled);
    * high-variability ones are ambiguous (the most informative band for
    * curation). The region cuts are RELATIVE, as in the paper's map:
    * the exact lower MEDIANS of the observed confidence and variability
    * distributions (read off the 6 dp-quantized histograms — no fixed
    * threshold survives a weak or strong signal equally). Per-row
    * confidence/variability snap to 6 dp; the reduce sums ride
    * micro-integer longs, so bucket counts and means are engine-exact.
    * Output: one row per bucket — (bucket, n, mean_conf, mean_var),
    * 6 dp.
    *
    * Scale shape: the GD fit is [[logisticGd]]'s O(iters) scans; the
    * map itself is ONE more scan evaluating all `iters` snapshot
    * sigmoids per row (scan-stage expressions, whole-stage codegen)
    * into a bucket hash-agg. The median cuts come off the two
    * quantization-bounded histograms (tiny hash-aggs + windows); only
    * those two scalars reach the driver. */
  def dataCartography(df: DataFrame, featureCols: Seq[String],
                      labelCol: String, lr: Double, iters: Int): DataFrame = {
    require(featureCols.nonEmpty, "dataCartography: need at least one feature")
    require(lr > 0, s"dataCartography: need lr > 0, got $lr")
    require(iters >= 2 && iters <= 50,
      s"dataCartography: need 2 <= iters <= 50, got $iters")
    val y = col(labelCol).cast("double")
    val raw = df.where(featureCols.map(c => col(c).isNotNull).reduce(_ && _)
        && y.isNotNull)
      .select(y.as("__y") +: featureCols.zipWithIndex.map { case (c, i) =>
        col(c).cast("double").as(s"__x$i") }: _*)
    val (base, snapshots) =
      gdFit(raw, Nil, featureCols, lr, iters, "dataCartography")
    val confs = snapshots.map { w =>
      val p = sigmoid(logit(w))
      when(col("__y") === 1.0, p).otherwise(lit(1.0) - p)
    }
    val mean = confs.foldLeft(lit(0.0): Column)(_ + _) / lit(iters.toDouble)
    val variance = confs.map(c => (c - mean) * (c - mean))
      .foldLeft(lit(0.0): Column)(_ + _) / lit(iters.toDouble)
    val conf6 = round(mean, 6)
    val var6 = round(sqrt(variance), 6)
    val mapped = graft.core.CacheRegistry.persist(
      base.select(round(conf6 * lit(1e6)).cast("long").as("__cm"),
        round(var6 * lit(1e6)).cast("long").as("__vm")))
    // exact lower median off the 6dp-quantized histogram (q304 device)
    def median(c: String): Long = {
      import org.apache.spark.sql.expressions.Window
      val grid = mapped.groupBy(col(c)).agg(count(lit(1)).as("__n"))
      val w = Window.orderBy(col(c))
      val all = Window.partitionBy(lit(1))
      grid.select(col(c), sum("__n").over(w).as("__cum"),
          sum("__n").over(all).as("__tot"))
        .where(col("__cum") * 2 >= col("__tot"))
        .agg(min(col(c))).head().getLong(0)
    }
    val medC = median("__cm")
    val medV = median("__vm")
    val bucket = when(col("__vm") >= medV, lit("ambiguous"))
      .when(col("__cm") >= medC, lit("easy_to_learn"))
      .otherwise(lit("hard_to_learn"))
    mapped.select(bucket.as("bucket"), col("__cm"), col("__vm"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum("__cm").as("__sc"),
        sum("__vm").as("__sv"))
      .select(col("bucket"), col("n"),
        round(col("__sc").cast("double") /
          (col("n").cast("double") * lit(1e6)), 6).as("mean_conf"),
        round(col("__sv").cast("double") /
          (col("n").cast("double") * lit(1e6)), 6).as("mean_var"))
  }

  /** Learning-curve forecast — "how much more data buys how much more
    * accuracy": train [[nearestCentroidEval]]'s class-centroid model on
    * nested md5-deterministic fractions of the training split (hex
    * sixteenths of the id hash space, so each subset CONTAINS the
    * smaller ones), evaluate every model on the SAME fixed holdout
    * (`id % holdModulo == 0`), and fit the classical power law
    * `err(n) ≈ a·n^(−b)` by log–log OLS over the curve points (the
    * [[graft.ops.Corpus.heapsLaw]] micro-snap device — exact integer
    * sums, one double tail). `err_at_10x` extrapolates the fitted curve
    * to 10× the full training size — the number a data-acquisition
    * decision actually needs. Zero-error or empty points drop out of
    * the fit; < 2 usable points → null fit. Output: one row per
    * fraction — (frac_16ths, n_train, accuracy, err, decay_b,
    * err_at_10x), the fit repeated on every row, 6 dp.
    *
    * Scale shape: |fractions| independent centroid pipelines (each ONE
    * label hash-agg + broadcast scoring — [[nearestCentroidEval]]'s
    * contract); the curve and fit live on ≤ |fractions| rows. */
  def learningCurve(emb: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, holdModulo: Int,
                    fracs: Seq[Int] = Seq(4, 8, 12, 16)): DataFrame = {
    require(fracs.nonEmpty && fracs.forall(f => f >= 1 && f <= 16),
      s"learningCurve: fractions are hex sixteenths in [1, 16], got $fracs")
    require(fracs.distinct.size == fracs.size,
      s"learningCurve: duplicate fractions in $fracs")
    val hold = col(idCol) % holdModulo === 0
    def mask(f: Int): Column =
      if (f >= 16) lit(true)
      else substring(md5(col(idCol).cast("string")), 1, 1) <
        lit("0123456789abcdef".charAt(f).toString)
    val points = fracs.map { f =>
      val sub = emb.where(hold || mask(f))
      val mart = nearestCentroidEval(sub, idCol, vecCol, labelCol,
        holdModulo)
      val acc = mart.agg(
        coalesce(sum(when(col("label") <=> col("pred_label"), col("n"))),
          lit(0L)).as("__diag"),
        coalesce(sum(col("n")), lit(0L)).as("__tot"))
      val cnt = emb.where(!hold && mask(f) && col(vecCol).isNotNull &&
          col(labelCol).isNotNull)
        .agg(count(lit(1)).as("n_train"))
      acc.crossJoin(cnt).select(lit(f.toLong).as("frac_16ths"),
        col("n_train"),
        when(col("__tot") > 0, col("__diag").cast("double") /
          col("__tot").cast("double")).as("__acc"))
    }
    val pts = graft.core.CacheRegistry.persist(
      points.reduce(_ unionByName _)
        .select(col("frac_16ths"), col("n_train"), col("__acc"),
          (lit(1.0) - col("__acc")).as("__err")))
    val xm = round(log(col("n_train").cast("double")) * lit(1e6))
      .cast("long")
    val ym = round(log(col("__err")) * lit(1e6)).cast("long")
    val fit = pts.where(col("n_train") > 0 && col("__err") > 0)
      .select(xm.as("__x"), ym.as("__y"), col("n_train"))
      .agg(count(lit(1)).as("__k"), sum("__x").as("__sx"),
        sum("__y").as("__sy"), sum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__x") * col("__x")).as("__sxx"),
        max("n_train").as("__nfull"))
    val kD = col("__k").cast("double")
    val sx = col("__sx").cast("double")
    val sy = col("__sy").cast("double")
    val num = kD * col("__sxy").cast("double") - sx * sy
    val den = kD * col("__sxx").cast("double") - sx * sx
    val slope = num / den
    val icept = (sy - slope * sx) / kD / lit(1e6)
    val ok = col("__k") >= 2 && den > 0
    val fitRow = fit.select(
      when(ok, round(-slope, 6)).as("decay_b"),
      when(ok, round(exp(icept + slope *
        log(lit(10.0) * col("__nfull").cast("double"))), 6))
        .as("err_at_10x"))
    pts.select(col("frac_16ths"), col("n_train"),
        round(col("__acc"), 6).as("accuracy"),
        round(col("__err"), 6).as("err"))
      .crossJoin(broadcast(fitRow))
  }

  /** Class-balanced loss weights by EFFECTIVE number of samples (Cui et
    * al., CVPR 2019): near-duplicate samples add less marginal
    * information, so class c's effective count is `(1−β^{n_c})/(1−β)`
    * and its loss weight the inverse, normalized so the k weights sum
    * to k — the principled replacement for raw 1/n_c reweighting on
    * long-tailed label distributions (β → 0 recovers uniform, β → 1
    * recovers 1/n_c). Per-label weights snap to 6 dp micro-integers
    * before the normalization sum (k bounded label rows; the pow's
    * sub-ulp engine wiggle vanishes in the snap). A null label is its
    * own class. Output: (label, n, eff_n, weight), 6 dp.
    *
    * Scale shape: ONE label hash-agg (map-side combine) to counts; the
    * weight algebra runs over k label rows with a broadcast scalar. */
  def classBalancedWeights(df: DataFrame, labelCol: String,
                           beta: Double): DataFrame = {
    require(beta > 0 && beta < 1,
      s"classBalancedWeights: need 0 < beta < 1, got $beta")
    val counts = df.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n"))
    val effN = (lit(1.0) - pow(lit(beta), col("n").cast("double"))) /
      lit(1.0 - beta)
    val raw = counts.select(col("label"), col("n"),
      round(effN, 6).as("eff_n"),
      round(lit(1.0) / effN * lit(1e6)).cast("long").as("__wm"))
    val tot = raw.agg(count(lit(1)).as("__k"),
      coalesce(sum("__wm"), lit(0L)).as("__sw"))
    raw.crossJoin(broadcast(tot))
      .select(col("label"), col("n"), col("eff_n"),
        round(col("__wm").cast("double") * col("__k").cast("double") /
          col("__sw").cast("double"), 6).as("weight"))
  }

  /** Nearest-class-mean classification evaluated on a deterministic
    * holdout: rows with `id % holdModulo == 0` are the test split, the
    * rest train per-label centroids ([[graft.ops.Embeddings.labelCentroids]]'
    * 6 dp-rounded FLOAT means — the [[Similarity.kmeansFit]] replay
    * contract), and every test vector is assigned to the highest-cosine
    * centroid (6 dp round, ties to the lower label). The output is the
    * confusion mart — one row per (label, pred_label) with the count and
    * mean assignment cosine — the fastest "are these embeddings/labels
    * any good" gate a curation pipeline has (Tian et al.'s nearest-class-
    * mean baseline), and the model-quality twin of the geometry-only
    * [[Similarity.silhouette]].
    *
    * Scale shape: training is ONE label-keyed hash-agg over native
    * vector-sum buffers (shuffle carries labels × dim doubles); scoring
    * broadcasts the |labels| centroid table against the test scan, and
    * the per-vector argmax is a window over the bounded ×|labels|
    * fan-out — never a vector×vector join. */
  def nearestCentroidEval(emb: DataFrame, idCol: String, vecCol: String,
                          labelCol: String, holdModulo: Int): DataFrame = {
    import graft.functions.VectorFunctions.{dotF, normF, vectorSumF}
    import org.apache.spark.sql.expressions.Window
    require(holdModulo >= 2,
      s"nearestCentroidEval: need holdModulo >= 2, got $holdModulo")
    val base = emb.where(col(vecCol).isNotNull && col(labelCol).isNotNull)
    val isHold = pmod(col(idCol), lit(holdModulo)) === 0
    val cents = broadcast(base.where(!isHold)
      .groupBy(col(labelCol).as("cent_label"))
      .agg(count(lit(1)).as("__n"), vectorSumF(col(vecCol)).as("__s"))
      .select(col("cent_label"),
        transform(col("__s"), x => round(x / col("__n"), 6).cast("float"))
          .as("cvec"))
      .withColumn("cnorm", normF(col("cvec"))))
    val test = base.where(isHold)
      .select(col(idCol).as("__id"), col(labelCol).as("label"),
        col(vecCol).as("__v"), normF(col(vecCol)).as("__norm"))
    val byVec = Window.partitionBy("__id")
      .orderBy(col("csim").desc, col("cent_label").asc)
    test.crossJoin(cents)
      .withColumn("csim",
        round(dotF(col("__v"), col("cvec")) / (col("__norm") * col("cnorm")), 6))
      .withColumn("__r", row_number().over(byVec))
      .where(col("__r") === 1)
      .groupBy(col("label"), col("cent_label").as("pred_label"))
      // the 6 dp csim is an exact micro-integer: summing LONG micros makes
      // the mean independent of partition/summation order, and the final
      // division is left UNROUNDED — identical integer operands give a
      // bit-identical IEEE quotient on any engine, while a round() here
      // would sit exactly ON a .5 boundary whenever n divides the sum
      // oddly (Spark's BigDecimal HALF_UP and a multiply-floor round
      // disagree precisely there)
      .agg(count(lit(1)).as("n"),
        (sum(round(col("csim") * lit(1000000.0)).cast("long"))
          .cast("double") / (count(lit(1)) * lit(1000000.0))).as("mean_cos"))
  }

  /** Confident-learning label-noise estimate (Northcutt et al. 2021) —
    * "which labels are WRONG", the question [[nearestCentroidEval]]'s
    * confusion mart only hints at. Out-of-sample scores come from the
    * q235 device: rows with `id % holdModulo == 0` are scored by
    * per-label centroids trained on the rest (6 dp-rounded FLOAT means,
    * 6 dp cosines). Per class j the confidence threshold `t_j` is the
    * mean score `s(x, j)` over holdout examples GIVEN label j; an example
    * joins the confident joint `C[given][suspected]` when its score for
    * `suspected` clears `t_suspected` and `suspected` is the
    * highest-scoring class among those it clears (ties to the lower
    * label). Off-diagonal mass is the estimated label-noise rate; rows
    * clearing no threshold ABSTAIN and surface as one row per given
    * label with `suspected_label` NULL carrying their count (frac NULL,
    * flagged false; emitted only when the count is > 0) — abstentions
    * are not evidence, but their mass must be visible or the frac
    * denominators exclude them invisibly. The threshold compare is
    * EXACT: `t_j` is the rational `Σmicros_j / n_j`, and the test
    * `micro·n_j ≥ Σmicros_j` cross-multiplies in decimal(38,0) — no
    * division ever happens, so no engine can disagree at the boundary.
    * Output: (given_label, suspected_label, n, frac [of the given
    * label's confident rows], flagged = given ≠ suspected).
    *
    * Scale shape: the [[nearestCentroidEval]] contract — one label-keyed
    * hash-agg to train, a broadcast |labels| centroid table against the
    * holdout scan (bounded ×|labels| fan-out), ONE more |labels|-row
    * broadcast for the thresholds, a per-id window argmax over ≤|labels|
    * rows, and a final |labels|² hash-agg. Never row×row. */
  def confidentLearning(emb: DataFrame, idCol: String, vecCol: String,
                        labelCol: String, holdModulo: Int): DataFrame = {
    import graft.functions.VectorFunctions.{dotF, normF, vectorSumF}
    import org.apache.spark.sql.expressions.Window
    require(holdModulo >= 2,
      s"confidentLearning: need holdModulo >= 2, got $holdModulo")
    val base = emb.where(col(vecCol).isNotNull && col(labelCol).isNotNull)
    val isHold = pmod(col(idCol), lit(holdModulo)) === 0
    val cents = broadcast(base.where(!isHold)
      .groupBy(col(labelCol).as("cent_label"))
      .agg(count(lit(1)).as("__n"), vectorSumF(col(vecCol)).as("__s"))
      .select(col("cent_label"),
        transform(col("__s"), x => round(x / col("__n"), 6).cast("float"))
          .as("cvec"))
      .withColumn("cnorm", normF(col("cvec"))))
    val test = base.where(isHold)
      .select(col(idCol).as("__id"), col(labelCol).as("given_label"),
        col(vecCol).as("__v"), normF(col(vecCol)).as("__norm"))
    val scored = graft.core.CacheRegistry.persist(test.crossJoin(cents)
      .withColumn("csim",
        round(dotF(col("__v"), col("cvec")) / (col("__norm") * col("cnorm")), 6))
      .select(col("__id"), col("given_label"), col("cent_label"),
        round(col("csim") * lit(1000000.0)).cast("long").as("__sm")))
    // t_j as the exact rational (Σmicros_j, n_j): the clear test
    // cross-multiplies, so the boundary is integer-exact on any engine
    val thr = broadcast(scored
      .where(col("given_label") === col("cent_label"))
      .groupBy(col("cent_label").as("__t_label"))
      .agg(sum(col("__sm")).cast("decimal(38,0)").as("__tsum"),
        count(lit(1)).cast("decimal(38,0)").as("__tn")))
    val byId = Window.partitionBy("__id")
      .orderBy(col("__sm").desc, col("cent_label").asc)
    val confident = scored
      .join(thr, col("cent_label") === col("__t_label"))
      .where(col("__sm").cast("decimal(38,0)") * col("__tn") >= col("__tsum"))
      .withColumn("__r", row_number().over(byId))
      .where(col("__r") === 1)
    val joint = confident
      .groupBy(col("given_label"), col("cent_label").as("suspected_label"))
      .agg(count(lit(1)).as("n"))
    val byGiven = Window.partitionBy("given_label")
    val confidentRows =
      joint.select(col("given_label"), col("suspected_label"), col("n"),
        round(col("n").cast("double") / sum("n").over(byGiven), 6).as("frac"),
        (col("given_label") =!= col("suspected_label")).as("flagged"))
    // abstentions: holdout rows clearing NO threshold never reach `joint`
    // — count them per given label off the persisted scored frame
    // (countDistinct, since scored carries |labels| rows per id) so the
    // caller can see how much of the holdout the estimate ignores
    val totals = scored.groupBy(col("given_label"))
      .agg(countDistinct(col("__id")).as("__tot"))
    val confTotals = joint.groupBy(col("given_label"))
      .agg(sum(col("n")).as("__conf"))
    val labelType = confidentRows.schema("suspected_label").dataType
    val abstained = totals.join(confTotals, Seq("given_label"), "left")
      .select(col("given_label"),
        lit(null).cast(labelType).as("suspected_label"),
        (col("__tot") - coalesce(col("__conf"), lit(0L))).as("n"),
        lit(null).cast("double").as("frac"),
        lit(false).as("flagged"))
      .where(col("n") > 0)
    confidentRows.unionByName(abstained)
  }

  /** Margin-uncertainty active-learning batch with cluster diversity —
    * "which k examples should a human label NEXT", the acquisition step
    * [[confidentLearning]]'s noise audit feeds. Pool rows (`id %
    * holdModulo == 0`, the standing unlabeled-pool device) score against
    * the labeled rows' per-class centroids (6 dp-rounded FLOAT means,
    * 6 dp cosines snapped to micro-LONGs); per example the margin is the
    * EXACT integer gap between its best and second-best class score —
    * small margin = the model can't decide = most informative. Diversity
    * guard: at most `perCluster` picks per nearest-centroid cell (pure
    * uncertainty sampling floods the batch from one boundary), then the
    * global batch is the k smallest margins (ties to the lower id).
    * Output: (vec_id, nearest_label, second_label, sim, margin,
    * pick_rank), pick_rank 1..k.
    *
    * Scale shape: the [[nearestCentroidEval]] contract — broadcast
    * |labels| centroids against the pool scan, a per-id window over
    * ≤ |labels| rows, a per-CLUSTER capped window, and ONE final window
    * over the ≤ perCluster·|labels| capped candidates (bounded by
    * construction, the documented exact-by-contract rule). Needs at
    * least 2 distinct labels (a margin needs a runner-up). */
  def activeLearningBatch(emb: DataFrame, idCol: String, vecCol: String,
                          labelCol: String, holdModulo: Int, k: Int,
                          perCluster: Int): DataFrame = {
    import graft.functions.VectorFunctions.{dotF, normF, vectorSumF}
    import org.apache.spark.sql.expressions.Window
    require(holdModulo >= 2,
      s"activeLearningBatch: need holdModulo >= 2, got $holdModulo")
    require(k >= 1 && perCluster >= 1,
      s"activeLearningBatch: need k >= 1 and perCluster >= 1, got $k/$perCluster")
    val base = emb.where(col(vecCol).isNotNull && col(labelCol).isNotNull)
    val isPool = pmod(col(idCol), lit(holdModulo)) === 0
    val cents = broadcast(base.where(!isPool)
      .groupBy(col(labelCol).as("cent_label"))
      .agg(count(lit(1)).as("__n"), vectorSumF(col(vecCol)).as("__s"))
      .select(col("cent_label"),
        transform(col("__s"), x => round(x / col("__n"), 6).cast("float"))
          .as("cvec"))
      .withColumn("cnorm", normF(col("cvec"))))
    val pool = base.where(isPool)
      .select(col(idCol).as("vec_id"), col(vecCol).as("__v"),
        normF(col(vecCol)).as("__norm"))
    val byId = Window.partitionBy("vec_id")
      .orderBy(col("__sm").desc, col("cent_label").asc)
    val top2 = pool.crossJoin(cents)
      .withColumn("__sm", round(round(dotF(col("__v"), col("cvec"))
        / (col("__norm") * col("cnorm")), 6) * lit(1000000.0)).cast("long"))
      .withColumn("__r", row_number().over(byId))
      .where(col("__r") <= 2)
      .groupBy("vec_id")
      .agg(max(when(col("__r") === 1, col("cent_label"))).as("nearest_label"),
        max(when(col("__r") === 2, col("cent_label"))).as("second_label"),
        max(when(col("__r") === 1, col("__sm"))).as("__sm1"),
        max(when(col("__r") === 2, col("__sm"))).as("__sm2"))
      .where(col("__sm2").isNotNull)
      .withColumn("__margin", col("__sm1") - col("__sm2"))
    val byCell = Window.partitionBy("nearest_label")
      .orderBy(col("__margin").asc, col("vec_id").asc)
    // global pick window runs over ≤ perCluster·|labels| capped rows
    val globalW = Window.orderBy(col("__margin").asc, col("vec_id").asc)
    top2.withColumn("__cr", row_number().over(byCell))
      .where(col("__cr") <= perCluster)
      .withColumn("pick_rank", row_number().over(globalW))
      .where(col("pick_rank") <= k)
      .select(col("vec_id"), col("nearest_label"), col("second_label"),
        round(col("__sm1").cast("double") / lit(1000000.0), 6).as("sim"),
        round(col("__margin").cast("double") / lit(1000000.0), 6)
          .as("margin"),
        col("pick_rank").cast("long").as("pick_rank"))
  }

  /** Split-conformal prediction-interval CONTRACT (Vovk et al.; the
    * distribution-free coverage guarantee as a driver-checked row, the
    * [[graft.ops.Sketches]] contract-family shape): rows with
    * `id % holdModulo == 0` are the holdout, the rest calibrate. The
    * per-group predictor is the calibration mean (6 dp), nonconformity is
    * `|value − mean|`, and `qhat` is the `min(⌈(n+1)·alpha⌉, n)`-th
    * smallest calibration score (exact order statistic, ties by id). For
    * exchangeable data the interval `mean ± qhat` covers a fresh point
    * with probability ≥ alpha — `covered` pins the measured holdout
    * coverage against `alpha − 5·√(alpha(1−alpha)/n_hold)` (5σ binomial
    * slack), so a quantile-rank off-by-one or a split leak flips a
    * boolean the oracle recomputes. Output per group: (group, n_calib,
    * n_hold, mu, qhat, coverage, covered).
    *
    * Scale shape: ONE group-keyed aggregate for the means, one window
    * rank over the calibration split for the order statistic (groups
    * partition the exchange), and one holdout scan against the broadcast
    * (group, mu, qhat) table — nothing joins row×row. */
  /** Multinomial naive Bayes trained and evaluated IN the engine — the
    * fastText-tier text classifier next to [[logisticGd]]: term counts per
    * label with add-one smoothing, `P(t|l) = (c(t,l)+1)/(c_l+V)` over the
    * full train-vocabulary × label grid (absent cells smooth to
    * `1/(c_l+V)` — skipping them would not be naive Bayes), priors from
    * label document counts. Every log-probability is snapped to an exact
    * MICRO-LONG (`round(ln(p)·10⁶)`) before any accumulation, so document
    * scores are integer sums — engine-identical regardless of term order —
    * and the argmax (ties to the smaller label) is replay-stable.
    * Out-of-vocabulary test terms are skipped (the standard closed-vocab
    * convention; they shift every label equally only under equal c_l, so
    * the skip is a modeling choice, documented). Output: the holdout
    * confusion mart (true_label, pred_label, n).
    *
    * Scale shape: training reduces the corpus in ONE (term, label)
    * hash-agg; the grid is |V|·|labels| rows with label totals and V
    * broadcast; scoring joins the test term stream against the grid on
    * the term key — one shuffle each side — and the per-(doc, label)
    * integer sum + argmax are two more hash-aggs. Nothing is ever
    * |docs|². */
  def naiveBayesEval(df: DataFrame, idCol: String, textCol: String,
                     labelCol: String, testPred: Column): DataFrame = {
    val isTest = coalesce(testPred, lit(false))
    val base = df.where(col(labelCol).isNotNull && col(textCol).isNotNull)
    val train = base.where(!isTest)
    val test = base.where(isTest)
    val tl = graft.core.CacheRegistry.persist(
      train.select(col(labelCol).as("__l"),
          explode(split(col(textCol), " ")).as("__t"))
        .where(length(col("__t")) > 0)
        .groupBy("__l", "__t").agg(count(lit(1)).as("__c")))
    val cl = tl.groupBy("__l").agg(sum("__c").as("__cl"))
    val vocab = tl.select("__t").distinct()
    val vSize = vocab.agg(count(lit(1)).as("__v"))
    val priors = train.groupBy(col(labelCol).as("__l"))
      .agg(count(lit(1)).as("__dl"))
    val total = train.agg(count(lit(1)).as("__d"))
    val grid = vocab.crossJoin(cl)
      .join(tl, Seq("__l", "__t"), "left")
      .crossJoin(broadcast(vSize))
      .select(col("__l"), col("__t"),
        round(log((coalesce(col("__c"), lit(0L)) + 1).cast("double") /
          (col("__cl") + col("__v")).cast("double")) * 1000000.0, 0)
          .cast("long").as("__lp"))
    val priorLp = priors.crossJoin(broadcast(total))
      .select(col("__l"),
        round(log(col("__dl").cast("double") / col("__d").cast("double")) *
          1000000.0, 0).cast("long").as("__plp"))
    val docTerms = test.select(col(idCol).as("__doc"),
        col(labelCol).as("__true"),
        explode(split(col(textCol), " ")).as("__t"))
      .where(length(col("__t")) > 0)
      .groupBy("__doc", "__true", "__t").agg(count(lit(1)).as("__tf"))
    val scores = docTerms.join(grid, Seq("__t")) // inner: OOV terms skipped
      .groupBy("__doc", "__true", "__l")
      .agg(sum(col("__tf") * col("__lp")).as("__s"))
      .join(priorLp, Seq("__l"))
      .select(col("__doc"), col("__true"), col("__l"),
        (col("__s") + col("__plp")).as("__score"))
    scores.groupBy("__doc", "__true")
      .agg(min(struct((-col("__score")).as("__neg"), col("__l").as("__lab")))
        .as("__best"))
      .groupBy(col("__true").as("true_label"),
        col("__best.__lab").as("pred_label"))
      .agg(count(lit(1)).as("n"))
  }

  def conformalCoverage(df: DataFrame, idCol: String, groupCol: String,
                        valueCol: String, alpha: Double,
                        holdModulo: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(alpha > 0 && alpha < 1,
      s"conformalCoverage: need 0 < alpha < 1, got $alpha")
    require(holdModulo >= 2,
      s"conformalCoverage: need holdModulo >= 2, got $holdModulo")
    val base = df.where(col(valueCol).isNotNull && col(groupCol).isNotNull)
    val isHold = pmod(col(idCol), lit(holdModulo)) === 0
    val stats = broadcast(base.where(!isHold)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_calib"), round(avg(col(valueCol)), 6).as("mu")))
    val byScore = Window.partitionBy(groupCol)
      .orderBy(col("__s").asc, col(idCol).asc)
    val qhat = broadcast(base.where(!isHold)
      .join(stats, Seq(groupCol))
      .withColumn("__s", abs(col(valueCol) - col("mu")))
      .withColumn("__r", row_number().over(byScore))
      .where(col("__r") ===
        least(ceil((col("n_calib") + lit(1)) * lit(alpha)), col("n_calib")))
      .select(col(groupCol), round(col("__s"), 6).as("qhat")))
    base.where(isHold)
      .join(stats, Seq(groupCol)).join(qhat, Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(max(col("n_calib")).as("n_calib"),
        count(lit(1)).as("n_hold"),
        max(col("mu")).as("mu"),
        max(col("qhat")).as("qhat"),
        round(avg((abs(col(valueCol) - col("mu")) <= col("qhat"))
          .cast("double")), 6).as("coverage"))
      .withColumn("covered",
        col("coverage") >= lit(alpha) -
          lit(5.0) * sqrt(lit(alpha * (1.0 - alpha)) / col("n_hold")))
  }

  /** Bradley–Terry strength ranking from pairwise duels — the
    * arena-leaderboard estimator (model A beats model B → evidence for
    * p_A > p_B; Hunter 2004's MM algorithm), re-expressed as a
    * fixed-iteration relational program. Each MM round is
    * `p_i ← W_i / Σ_j n_ij/(p_i + p_j)` followed by a mean-1
    * renormalization. Determinism device: every order-sensitive double
    * sum is snapped to micro-integers FIRST — the per-opponent term
    * `round(n_ij·10⁶/(p_i+p_j))` and the normalizer's `round(p·10⁶)`
    * accumulate as exact LONGs, so each round's strengths are single
    * divisions of exact integers and the trajectory replays
    * bit-identically in any engine (the [[logisticGd]] /
    * [[Similarity.kmeansFit]] contract, integer-sum variant). Strengths
    * floor at 10⁻⁶ so an all-losses player cannot zero a later round's
    * denominator. Fixed iterations, not convergence — the plan is
    * O(iters) joins, replay-stable.
    *
    * Output: one row per player — (player, games, wins, strength 6 dp,
    * rank), rank by strength desc / player asc (a total order).
    *
    * Scale shape: ONE (winner, loser)-keyed hash-agg reduces the duel
    * log to the directed pair grid (never rescanned); each iteration is
    * two player-keyed broadcast-or-shuffle joins of the grid against the
    * current strengths + one player-keyed hash-agg. The final rank is a
    * single-partition window over one row per PLAYER — bounded by the
    * player vocabulary (models/suppliers/annotators), not the data. */
  def bradleyTerry(duels: DataFrame, winnerCol: String, loserCol: String,
                   iters: Int = 3): DataFrame = {
    require(iters >= 1, s"bradleyTerry: need iters >= 1, got $iters")
    // persisted: the union below scans it twice, and the duel log (the
    // expensive upstream) must not be recomputed per orientation
    val wins = graft.core.CacheRegistry.persist(duels
      .where(col(winnerCol).isNotNull && col(loserCol).isNotNull &&
        col(winnerCol) =!= col(loserCol))
      .groupBy(col(winnerCol).as("__a"), col(loserCol).as("__b"))
      .agg(count(lit(1)).as("__w")))
    // directed grid: both orientations of every dueling pair, with that
    // orientation's win count (0 when all duels went the other way)
    val grid = graft.core.CacheRegistry.persist(
      wins.select(col("__a"), col("__b"), col("__w"))
        .unionByName(wins.select(col("__b").as("__a"), col("__a").as("__b"),
          lit(0L).as("__w")))
        .groupBy("__a", "__b")
        .agg(sum("__w").as("__w"), count(lit(1)).cast("long").as("__dirs"))
        .withColumn("__n", sum("__w").over(
          org.apache.spark.sql.expressions.Window.partitionBy(
            least(col("__a"), col("__b")), greatest(col("__a"), col("__b")))))
        .drop("__dirs"))
    val totals = graft.core.CacheRegistry.persist(
      grid.groupBy(col("__a").as("player"))
        .agg(sum("__n").as("games"), sum("__w").as("wins")))
    var p = totals.select(col("player"), lit(1.0).as("strength"))
    for (_ <- 1 to iters) {
      val cur = p
      val den = grid
        .join(cur.select(col("player").as("__a"), col("strength").as("__pa")),
          Seq("__a"))
        .join(cur.select(col("player").as("__b"), col("strength").as("__pb")),
          Seq("__b"))
        .groupBy(col("__a").as("player"))
        .agg(sum(round(col("__n") * lit(1e6) / (col("__pa") + col("__pb")))
          .cast("long")).as("__den"))
      // CHECKPOINTED, not persisted: cur appears twice in den and raw
      // twice in the next strengths, so the LOGICAL tree quadruples per
      // round — persist cuts re-execution but not the plan, and three
      // rounds of exponential tree cost ~70 s of pure Catalyst time on a
      // 43k-row grid (measured). The eager lineage cut per round is the
      // [[graft.ops.Dedup]] label-propagation contract: O(players) rows
      // materialized per round, plan depth constant in `iters`.
      val raw = graft.core.CacheRegistry.checkpoint(
        totals.join(den, Seq("player"))
          .select(col("player"),
            greatest(round(col("wins").cast("double") * lit(1e6) /
              col("__den").cast("double"), 6), lit(1e-6)).as("__snap")))
      val norm = raw.agg(
        coalesce(sum(round(col("__snap") * lit(1e6)).cast("long")), lit(0L))
          .as("__s"),
        count(lit(1)).as("__c"))
      p = raw.crossJoin(broadcast(norm))
        .select(col("player"),
          greatest(round(col("__snap") * col("__c").cast("double") /
            (col("__s").cast("double") / lit(1e6)), 6), lit(1e-6))
            .as("strength"))
    }
    val byStrength = org.apache.spark.sql.expressions.Window
      .orderBy(col("strength").desc, col("player").asc)
    totals.join(p, Seq("player"))
      .select(col("player"), col("games"), col("wins"), col("strength"))
      .withColumn("rank", row_number().over(byStrength))
  }

  /** Two-feature ridge regression in CLOSED FORM — the regression member
    * of the in-engine model family ([[logisticGd]] classifies,
    * [[bradleyTerry]] ranks): `(X'X + λI')w = X'y` solved by 3×3 Cramer
    * over the intercept-augmented normal equations (λ penalizes the two
    * slopes, never the intercept — the standard convention). Everything
    * reduces to ONE moment aggregate: inputs snap to 6 dp micro-integers
    * so all nine sufficient statistics are exact decimal(38,0) sums
    * (cross-products ride pico scale), the determinants are mirrored
    * double arithmetic in a FIXED expansion order, and the fitted
    * weights re-snap to 6 dp before the residual pass — so R² is a sum
    * of micro-snapped squared residuals of exact inputs against exact
    * weights, bit-identical in any engine. Features are NOT standardized
    * (λ is in raw feature units; standardize upstream if the scales
    * differ wildly). λ > 0 keeps the system positive definite, so no
    * singular-matrix branch exists. Rows with any null are excluded;
    * SST = 0 (constant target) → null R². Output: one row — (n_rows,
    * lambda, bias, w_<x1>, w_<x2>, r2), 6 dp.
    *
    * Scale shape: one full-scan moment aggregate (map-side partials),
    * driver-free Cramer arithmetic on the 1-row result, one residual
    * scan against the broadcast weight row. */
  def ridgeClosedForm(df: DataFrame, x1Col: String, x2Col: String,
                      yCol: String, lambda: Double): DataFrame = {
    require(lambda > 0, s"ridgeClosedForm: need lambda > 0, got $lambda")
    val x1m = round(col(x1Col).cast("double") * lit(1e6)).cast("long")
    val x2m = round(col(x2Col).cast("double") * lit(1e6)).cast("long")
    val ym = round(col(yCol).cast("double") * lit(1e6)).cast("long")
    val base = graft.core.CacheRegistry.persist(
      df.where(col(x1Col).isNotNull && col(x2Col).isNotNull &&
          col(yCol).isNotNull)
        .select(x1m.as("__x1"), x2m.as("__x2"), ym.as("__y")))
    def d38(c: Column): Column = c.cast("decimal(38,0)")
    val mom = base.agg(count(lit(1)).as("__n"),
      sum("__x1").as("__s1"), sum("__x2").as("__s2"), sum("__y").as("__sy"),
      sum(d38(col("__x1")) * col("__x1")).as("__s11"),
      sum(d38(col("__x2")) * col("__x2")).as("__s22"),
      sum(d38(col("__x1")) * col("__x2")).as("__s12"),
      sum(d38(col("__x1")) * col("__y")).as("__s1y"),
      sum(d38(col("__x2")) * col("__y")).as("__s2y"),
      sum(d38(col("__y")) * col("__y")).as("__syy"))
    val nD = col("__n").cast("double")
    def u(c: String): Column = col(c).cast("double") / lit(1e6)
    def uu(c: String): Column = col(c).cast("double") / lit(1e12)
    val (s1, s2, sy) = (u("__s1"), u("__s2"), u("__sy"))
    val (m11, m22, m12) = (uu("__s11") + lambda, uu("__s22") + lambda,
      uu("__s12"))
    val (s1y, s2y, syy) = (uu("__s1y"), uu("__s2y"), uu("__syy"))
    val det = nD * (m11 * m22 - m12 * m12) - s1 * (s1 * m22 - m12 * s2) +
      s2 * (s1 * m12 - m11 * s2)
    val det0 = sy * (m11 * m22 - m12 * m12) - s1 * (s1y * m22 - m12 * s2y) +
      s2 * (s1y * m12 - m11 * s2y)
    val det1 = nD * (s1y * m22 - m12 * s2y) - sy * (s1 * m22 - m12 * s2) +
      s2 * (s1 * s2y - s1y * s2)
    val det2 = nD * (m11 * s2y - s1y * m12) - s1 * (s1 * s2y - s1y * s2) +
      sy * (s1 * m12 - m11 * s2)
    val fit = mom.where(col("__n") > 0)
      .select(col("__n"), col("__sy"), col("__syy"),
        round(det0 / det, 6).as("bias"),
        round(det1 / det, 6).as("__w1"),
        round(det2 / det, 6).as("__w2"))
    val resid = col("__y").cast("double") / lit(1e6) -
      (col("bias") + col("__w1") * (col("__x1").cast("double") / lit(1e6)) +
        col("__w2") * (col("__x2").cast("double") / lit(1e6)))
    // decimal accumulator: Σ r²·10⁶ clears a LONG at ~60k rows of
    // price-scale residuals already
    val sse = base.crossJoin(broadcast(fit))
      .agg(coalesce(sum(round(resid * resid * lit(1e6))
        .cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)")).as("__ssem"))
    val sst = uu("__syy") - u("__sy") * u("__sy") / nD
    fit.crossJoin(broadcast(sse))
      .select(col("__n").as("n_rows"), lit(lambda).as("lambda"),
        col("bias"), col("__w1").as(s"w_$x1Col"), col("__w2").as(s"w_$x2Col"),
        when(sst > 0,
          round(lit(1.0) - col("__ssem").cast("double") / lit(1e6) / sst, 6))
          .as("r2"))
  }

  /** Classifier two-sample test (C2ST, Lopez-Paz & Oquab 2017) — the
    * dataset-shift detector that catches what per-column drift tests
    * miss: train [[logisticGd]] to TELL THE COHORTS APART on cheap
    * features; if its training accuracy clears the binomial noise band
    * around 0.5 (`|acc − ½| > z·√(¼/n)`), the two corpora are
    * distinguishable — a crawl snapshot drifted, a new source leaks a
    * template — even when every marginal looks unchanged. Inherits
    * logisticGd's full determinism contract (6 dp moments, per-round
    * weight re-round, z ≥ 0 predictions); the shift flag compares the
    * same rounded accuracy in both engines. Output: the logisticGd row
    * (n_rows, n_iters, bias, w_<feature>…, log_loss, accuracy) plus
    * `shifted`.
    *
    * Scale shape: [[logisticGd]]'s — one standardization aggregate plus
    * one full-scan gradient aggregate per iteration; the verdict is
    * driver-free arithmetic on the result row. */
  def c2st(df: DataFrame, featureCols: Seq[String], cohortCol: String,
           a: String, bCohort: String, lr: Double, iters: Int,
           z: Double = 1.959964): DataFrame = {
    val base = df.where(col(cohortCol).isin(a, bCohort))
      .withColumn("__is_b", (col(cohortCol) === bCohort).cast("int"))
    logisticGd(base, featureCols, "__is_b", lr, iters)
      .withColumn("shifted",
        abs(col("accuracy") - 0.5) >
          lit(z) * sqrt(lit(0.25) / col("n_rows").cast("double")))
  }

  /** Leave-one-group-out influence of each data shard/source on a
    * nearest-centroid classifier — the cheap, EXACTLY decomposable member
    * of the data-attribution family ("which source helps, which poisons"):
    * centroid sums decompose over groups, so every leave-group-out model
    * is algebra on the per-(label, group) partials — no retraining pass
    * per group, one scan builds every model. For each group g:
    * `influence = acc(full) − acc(without g)` over the FULL evaluation
    * set (positive → the group was helping).
    *
    * Determinism: per-(label, group) vector sums snap to micro-integer
    * LONGs, so each leave-out centroid is a single division of exact
    * integers, 6 dp-rounded and float-roundtripped (the
    * [[nearestCentroidEval]] centroid convention); cosines 6 dp-round
    * before the argmax, ties to the smaller label. A label contributed
    * ENTIRELY by the excluded group vanishes from that model (its rows
    * can only be predicted as other labels); a model with no centroids
    * at all (single-group input) reports null acc/influence. Null
    * groups form their own cohort (null-safe keys throughout). Null
    * vectors/labels excluded. Output per group: (group, n_members,
    * acc_full, acc_loo, influence), 6 dp.
    *
    * Scale shape: ONE (label, group) hash-agg over the corpus (native
    * vector-sum buffers); the leave-out algebra runs on the
    * |labels|·|groups| partial table (exploded per dim — bounded by the
    * model vocabulary, never the data); scoring is one scan
    * cross-joined against the broadcast (model, label) centroid table
    * with a per-(row, model) argmax window. Nothing is ever rows². */
  def sourceInfluence(emb: DataFrame, idCol: String, vecCol: String,
                      labelCol: String, groupCol: String): DataFrame = {
    import graft.functions.VectorFunctions.{dotF, normF, vectorSumF}
    import org.apache.spark.sql.expressions.Window
    val full = "__full__"
    val base = graft.core.CacheRegistry.persist(
      emb.where(col(vecCol).isNotNull && col(labelCol).isNotNull)
        .select(col(idCol).as("__id"), col(groupCol).cast("string").as("__g"),
          col(labelCol).as("__l"), col(vecCol).as("__v")))
    // per-(label, group) micro-snapped sum partials, exploded per dim:
    // |labels|·|groups|·dim rows — model-vocabulary bounded
    val gs = graft.core.CacheRegistry.persist(
      base.groupBy(col("__l"), col("__g"))
        .agg(count(lit(1)).as("__n"), vectorSumF(col("__v")).as("__s"))
        .select(col("__l"), col("__g"), col("__n"),
          posexplode(transform(col("__s"),
            x => round(x * lit(1e6)).cast("long"))))
        .withColumnRenamed("pos", "__dim").withColumnRenamed("col", "__sm"))
    val models = gs.select(col("__g").as("__excl")).distinct()
      .unionByName(gs.sparkSession.range(1).select(lit(full).as("__excl")))
    // leave-out algebra: Σ over contributing groups of the exact partials
    val cent = models.join(gs,
        col("__excl") === full || !(col("__g") <=> col("__excl")))
      .groupBy(col("__excl"), col("__l"), col("__dim"))
      .agg(sum("__sm").as("__smsum"), sum("__n").as("__nsum"))
      .where(col("__nsum") > 0)
      .select(col("__excl"), col("__l"), col("__dim"),
        round(col("__smsum").cast("double") /
          (lit(1e6) * col("__nsum").cast("double")), 6).cast("float")
          .as("__cv"))
    val cents = broadcast(
      cent.groupBy(col("__excl"), col("__l").as("cent_label"))
        .agg(transform(array_sort(collect_list(struct(col("__dim"),
          col("__cv")))), x => x.getField("__cv")).as("cvec"))
        .withColumn("cnorm", normF(col("cvec"))))
    val byVec = Window.partitionBy(col("__id"), col("__excl"))
      .orderBy(col("csim").desc, col("cent_label").asc)
    val preds = base.withColumn("__norm", normF(col("__v")))
      .crossJoin(cents)
      .withColumn("csim",
        round(dotF(col("__v"), col("cvec")) / (col("__norm") * col("cnorm")),
          6))
      .withColumn("__r", row_number().over(byVec))
      .where(col("__r") === 1)
    val acc = graft.core.CacheRegistry.persist(
      preds.groupBy(col("__excl"))
        .agg(count(lit(1)).as("__ne"),
          count(when(col("cent_label") <=> col("__l"), 1)).as("__nc")))
    val accOf = col("__nc").cast("double") / col("__ne").cast("double")
    val fullAcc = acc.where(col("__excl") === full)
      .select(accOf.as("__af"))
    val sizes = base.groupBy(col("__g")).agg(count(lit(1)).as("n_members"))
    sizes
      .join(acc.where(col("__excl") =!= full),
        col("__g") <=> col("__excl"), "left")
      .crossJoin(broadcast(fullAcc))
      .select(col("__g").as(groupCol), col("n_members"),
        round(col("__af"), 6).as("acc_full"),
        round(accOf, 6).as("acc_loo"),
        round(col("__af") - accOf, 6).as("influence"))
  }
}
