package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** In-engine model fitting for the quality-scoring loop: train the
  * hashed-feature linear model whose INFERENCE side is
  * [[Text.hashedLinearScore]] (q152) without leaving the engine — batch
  * gradient descent expressed as repeated aggregations over a cached
  * feature table.
  *
  * Least squares (not logistic) on purpose: every update is +/×/÷ only,
  * no transcendentals, so an external engine replays training step for
  * step and the learned weights are oracle-checkable — the same
  * determinism-first trade the PCA power iteration makes. For a
  * classification-shaped label in {0,1} the fitted scores still rank
  * (linear probability model); plug them into the sigmoid scorer as
  * calibration demands.
  */
object Learning {

  /** Hashed bag-of-words features, (doc_id, bucket, cnt) rows — the
    * sparse design matrix. Bucketing is md5-based
    * ([[Sampling.splitBucket]]) so features are stable across runs,
    * partitionings and engines. One (doc, bucket)-keyed shuffle with
    * map-side combine; rows are three fixed-width columns. */
  def hashedFeatures(docs: DataFrame, idCol: String, textCol: String,
                     buckets: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(Text.tokens(col(textCol))).as("__t"))
      .select(col("doc_id"),
        pmod(Sampling.splitBucket(col("__t")), lit(buckets)).as("bucket"))
      .groupBy("doc_id", "bucket")
      .agg(count(lit(1)).cast("double").as("cnt"))

  /** Fixed-iteration batch gradient descent for min_w Σ_d (y_d − w·x_d)²
    * over [[hashedFeatures]] rows and a (doc_id, y) label frame:
    * w ← w + lr · Σ_d (y_d − w·x_d) x_d / n.
    *
    * Scale: the feature table is localCheckpoint-ed once (fixed-width
    * rows; per-iteration plans are leaf scans, not re-derived
    * pipelines); each iteration is ONE doc-grain shuffle (margins) and
    * one bucket-grain shuffle (gradient, map-side combined into ≤
    * `buckets` groups per partition) — the corpus text is never
    * re-read. Weights live on the driver (buckets doubles) and enter
    * each pass as a broadcast literal array, the same
    * driver/cluster split as the PCA power iteration. Deterministic:
    * zero init, fixed iteration count, no sampling. */
  def trainLinear(features: DataFrame, labels: DataFrame, buckets: Int,
                  lr: Double, iters: Int): Array[Double] = {
    val feats = features.localCheckpoint()
    val n = labels.count().toDouble
    var w = Array.fill(buckets)(0.0)
    for (_ <- 0 until iters) {
      val wArr = array(w.toIndexedSeq.map(lit): _*)
      val margins = feats.groupBy("doc_id")
        .agg(sum(col("cnt") * element_at(wArr, col("bucket") + 1))
          .as("__m"))
      val resid = labels.join(margins, Seq("doc_id"), "left")
        .select(col("doc_id"),
          (col("y") - coalesce(col("__m"), lit(0.0))).as("__r"))
      val grad = feats.join(resid, Seq("doc_id"))
        .groupBy("bucket")
        .agg((sum(col("cnt") * col("__r")) / n).as("__g"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      w = Array.tabulate(buckets)(b => w(b) + lr * grad.getOrElse(b, 0.0))
    }
    // the weights are driver-side now — the checkpointed feature
    // blocks have no further reader
    Scale.releaseLocalCheckpoint(feats)
    w
  }

  /** Weight TABLE (bucket, w) from a driver-side array — the bridge
    * from curated/demo weight vectors into the broadcast-join
    * application path. */
  def weightsDf(spark: org.apache.spark.sql.SparkSession,
                w: Seq[Double]): DataFrame = {
    import spark.implicits._
    w.zipWithIndex.map { case (wv, b) => (b, wv) }.toDF("bucket", "w")
  }

  /** Scale-safe inference: sigmoid(bias + Σ_bucket cnt·w) per doc, with
    * the weights as a TABLE joined broadcast on `bucket` — no literal
    * array in the plan, so a 2^18-bucket production weight table costs
    * one broadcast (a few MB) instead of a plan-size blow-up. Value-
    * identical to [[Text.hashedLinearScore]] over the same bucketing
    * (the sigmoid of the same sum; q152 is oracle-checked through this
    * path). Docs with no feature rows are absent from the result —
    * left-join from the corpus side and coalesce to sigmoid(bias) when
    * token-less docs must score too. */
  def applyLinear(features: DataFrame, weights: DataFrame,
                  bias: Double): DataFrame =
    features.join(broadcast(weights), Seq("bucket"))
      .groupBy("doc_id")
      .agg((lit(bias) + sum(col("cnt") * col("w"))).as("__z"))
      .select(col("doc_id"),
        (lit(1.0) / (lit(1.0) + exp(-col("__z")))).as("score"))

  /** [[trainLinear]] with the weights kept DISTRIBUTED as a (bucket, w)
    * frame across iterations — the production-bucket-count path. Each
    * iteration: margins via a broadcast weight join + one doc-grain
    * shuffle, gradient via one bucket-grain shuffle (map-side
    * combined), weight update via a bucket-grain left join. The driver
    * never holds the weights, so 2^18+ buckets cost a few MB of
    * broadcast per iteration instead of a literal-array plan — the
    * arithmetic (zero init, w ← w + lr·Σ cnt·resid / n) is step-for-
    * step the array version's, and q162 is oracle-checked through this
    * path.
    *
    * Every iteration the weights are EAGERLY localCheckpoint-ed (and
    * only then is the prior pinned frame released — releasing an
    * unmaterialized checkpoint a later plan depends on would lose its
    * blocks): each iteration is a small plan over materialized leaves,
    * which measures faster than letting Catalyst re-optimize an
    * iters-deep nested plan. */
  def trainLinearDist(features: DataFrame, labels: DataFrame,
                      buckets: Int, lr: Double, iters: Int): DataFrame = {
    val spark = features.sparkSession
    // cache UNDER the eager checkpoint: the checkpoint's leaf blocks
    // are per-invocation, but the cached feature pipeline is what an
    // identical later invocation in the session resolves to — its
    // checkpoint then copies warm rows instead of re-tokenizing the
    // corpus (the checkpoint alone re-paid the full feature pass every
    // call; the iteration plans still read the truncated leaf)
    // doc-keyed partitioning established ONCE, under the checkpoint:
    // the per-iteration margin window and label join below both
    // cluster on doc_id, so they reuse the checkpointed layout instead
    // of re-shuffling the feature table every iteration (the old
    // groupBy(doc_id) + two joins paid a doc-grain exchange per pass)
    val feats = features.repartition(col("doc_id")).cache()
      .localCheckpoint()
    // labels feed the count plus every iteration's residual join —
    // pin them co-partitioned so each pass neither re-derives them
    // from the corpus scan nor shuffles them
    val labs = labels.repartition(col("doc_id")).cache()
    val n = labs.count().toDouble
    var w = spark.range(buckets)
      .select(col("id").cast("int").as("bucket"), lit(0.0).as("w"))
    var pinned: Option[DataFrame] = None
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    for (i <- 0 until iters) {
      // margins attached as a window sum over the doc-partitioned
      // feature rows (no doc-grain shuffle, no join-back); residual =
      // y − margin rides the co-partitioned label join. Docs present
      // in `labs` but absent from `feats` contributed nothing to the
      // gradient in the join-back formulation either (no feature rows
      // to multiply), so the inner join is row-for-row the same sum.
      val grad = feats.join(broadcast(w), Seq("bucket"))
        .withColumn("__m", sum(col("cnt") * col("w")).over(byDoc))
        .join(labs, Seq("doc_id"))
        .groupBy("bucket")
        .agg((sum(col("cnt") * (col("y") - col("__m"))) / n).as("__g"))
      w = w.join(grad, Seq("bucket"), "left")
        .select(col("bucket"),
          (col("w") + lit(lr) * coalesce(col("__g"), lit(0.0))).as("w"))
      w = w.localCheckpoint() // eager: materialized before releases
      pinned.foreach(Scale.releaseLocalCheckpoint)
      pinned = if (i == iters - 1) None else Some(w)
    }
    Scale.releaseLocalCheckpoint(feats)
    // the final weights are materialized (the loop checkpoints every
    // iteration), so the label pin has no remaining consumer
    labs.unpersist()
    w
  }

  /** Mean squared error of a weight vector over the same frames —
    * the train-loss gauge a fit loop reports. */
  def mse(features: DataFrame, labels: DataFrame,
          w: Array[Double]): Double = {
    val wArr = array(w.toIndexedSeq.map(lit): _*)
    val margins = features.groupBy("doc_id")
      .agg(sum(col("cnt") * element_at(wArr, col("bucket") + 1)).as("__m"))
    labels.join(margins, Seq("doc_id"), "left")
      .select(pow(col("y") - coalesce(col("__m"), lit(0.0)), 2).as("__e"))
      .agg(avg("__e")).head().getDouble(0)
  }
}
