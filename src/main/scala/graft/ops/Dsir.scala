package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions._
import graft.Persisted

/** DSIR — Data Selection via Importance Resampling (Xie et al., NeurIPS
  * 2023): pick raw-pool documents whose hashed-n-gram distribution matches
  * a target corpus. Two bag-of-hashed-ngrams models (add-alpha smoothed)
  * are fit — p over the target, q over the raw pool — and each raw doc is
  * scored by its log importance weight `log p(doc) − log q(doc) =
  * Σ_grams (log p_b − log q_b)`; selection is Gumbel-top-k over the
  * weights (the paper's soft resample, derandomized here via the shared
  * md5 hash-unit scheme so the DuckDB oracle replays it exactly).
  *
  * 100 TB shape: the two model fits are ONE map-side-combined aggregation
  * each, bounded by the bucket count B (≤ B rows survive the combine
  * regardless of corpus size); the log-likelihood-ratio table is ≤ B rows
  * and broadcast; per-doc scoring is a map-side gram explode into that
  * broadcast join followed by one doc-keyed partial-aggregated shuffle
  * (one row per doc per partition — document text never shuffles);
  * selection is a rank-limit (TakeOrdered), k-bounded. Nothing is
  * quadratic and nothing driver-side exceeds two scalars + k rows.
  */
object Dsir {

  /** Unigram + bigram list of a document, WITH multiplicity — DSIR models
    * count mass, unlike the distinct shingle sets dedup uses. The token
    * array is bound once via the single-element-transform trick (see
    * [[graft.functions.shingles]]) so the tokenizer runs once per doc. */
  def grams(text: Column): Column =
    element_at(transform(array(tokens(text)), ts =>
      concat(ts, transform(
        filter(sequence(lit(0), greatest(size(ts) - 2, lit(0))),
          i => i + 2 <= size(ts)),
        i => concat_ws(" ", slice(ts, i + 1, lit(2)))))), 1)

  /** Exploded hashed features `(id, b)` — one row per gram occurrence,
    * bucket = 60-bit md5 hash mod `buckets`. Map-side only. */
  def features(df: DataFrame, idCol: String, textCol: String,
               buckets: Int): DataFrame =
    df.select(col(idCol).as("id"), explode(grams(col(textCol))).as("g"))
      .select(col("id"), pmod(Dedup.hash60(col("g")), lit(buckets.toLong)).as("b"))

  /** Per-bucket gram counts `(b, c)` of a corpus — the sufficient
    * statistic of the bag-of-hashed-ngrams model. ≤ `buckets` rows after
    * ONE map-side-combined aggregation, and a sum-monoid: counts from
    * corpus shards or micro-batches add into exactly the union's model
    * (the streaming form appends these per batch). */
  def bucketCounts(df: DataFrame, textCol: String, buckets: Int): DataFrame =
    df.select(explode(grams(col(textCol))).as("g"))
      .select(pmod(Dedup.hash60(col("g")), lit(buckets.toLong)).as("b"))
      .groupBy("b").agg(count(lit(1)).as("c"))

  /** Score a frame against two count models, FUSED: the ≤ `buckets`-row
    * smoothed log-likelihood-ratio table
    * (`lr = ln p_target(b) − ln p_raw(b)`, add-alpha over `buckets`
    * outcomes) collects into a dense array (unseen buckets pre-filled
    * with the both-unseen default ratio) and each document sums its
    * grams' ratios in ONE codegen'd doc-local pass
    * ([[graft.functions.NbScoreExpr]] — the same fused scorer the NB
    * classifier rides): no gram rows exist, the frame crosses no
    * shuffle. Zero-gram docs are dropped, matching the exploded
    * formulation this replaced (no feature rows → no output row; the
    * spec gates the two paths equal). logw rounds to 6 places so both
    * engines agree on the value AND on any ordering derived from it. */
  /** Bounded LRU of fitted dense ratio arrays, keyed by (session,
    * canonicalized count plans, buckets, alpha): the model FIT runs
    * Spark jobs eagerly at frame-construction time, and two queries
    * over the same corpus (weights + resample, or bench repetitions)
    * must not refit. Returning the SAME array instance also makes the
    * two scoring plans canonically equal, so the shared persist below
    * deduplicates the scoring pass itself. */
  private val ModelCacheMax = 32
  private val modelCache = new java.util.LinkedHashMap[
      (org.apache.spark.sql.SparkSession,
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Int, Double),
      Array[Double]](16, 0.75f, /*accessOrder=*/ true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[(org.apache.spark.sql.SparkSession,
          org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
          org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Int, Double),
          Array[Double]]): Boolean = size > ModelCacheMax
  }

  /** Fit (or look up) the dense log-likelihood-ratio array of the two
    * count models — ≤ `buckets` doubles, default-filled for unseen
    * buckets. */
  private def denseRatios(targetCounts: DataFrame, rawCounts: DataFrame,
                          buckets: Int, alpha: Double): Array[Double] =
    modelCache.synchronized {
      val key = (targetCounts.sparkSession,
        targetCounts.queryExecution.analyzed.canonicalized,
        rawCounts.queryExecution.analyzed.canonicalized, buckets, alpha)
      val got = modelCache.get(key)
      if (got != null) got
      else {
        // two scalars to the driver — the model normalizers (empty → 0)
        def total(c: DataFrame) =
          c.agg(coalesce(sum("c"), lit(0L))).first().getLong(0).toDouble
        val tn = total(targetCounts)
        val qn = total(rawCounts)
        val defaultLr = math.log(alpha / (tn + alpha * buckets)) -
          math.log(alpha / (qn + alpha * buckets))
        val dense = Array.fill(buckets)(defaultLr)
        targetCounts.withColumnRenamed("c", "tc")
          .join(rawCounts.withColumnRenamed("c", "qc"), Seq("b"), "full_outer")
          .select(col("b"),
            (log((coalesce(col("tc"), lit(0L)) + alpha) / (tn + alpha * buckets)) -
             log((coalesce(col("qc"), lit(0L)) + alpha) / (qn + alpha * buckets)))
              .as("lr"))
          .collect() // ≤ buckets rows — the model, not data
          .foreach(r => dense(r.getAs[Long]("b").toInt) = r.getAs[Double]("lr"))
        modelCache.put(key, dense)
        dense
      }
    }

  private def scoreFused(frame: DataFrame, idCol: String, textCol: String,
                         targetCounts: DataFrame, rawCounts: DataFrame,
                         buckets: Int, alpha: Double): DataFrame = {
    val dense = denseRatios(targetCounts, rawCounts, buckets, alpha)
    val s = graft.functions.MinhashExpressions.nb_score(col(textCol), dense)
    // weights + resample (and bench repetitions) share one scoring pass:
    // the per-doc weight frame is tiny next to the corpus it summarizes
    Persisted(
      frame.select(col(idCol).as("id"), s.as("s"))
        .where(col("s.n_grams") > 0)
        .select(col("id"), col("s.n_grams").as("n_grams"),
          round(col("s.gram_sum"), 6).as("logw")))
  }

  /** Per-raw-doc importance weights `(id, n_grams, logw)`: fit the target
    * model on `target`, the pool model on `raw` itself (the paper's
    * setting), and score every raw doc. */
  def importanceWeights(raw: DataFrame, target: DataFrame,
                        idCol: String, textCol: String,
                        buckets: Int = 4096, alpha: Double = 1.0): DataFrame =
    scoreFused(raw, idCol, textCol,
      bucketCounts(target, textCol, buckets),
      bucketCounts(raw, textCol, buckets),
      buckets, alpha)

  /** Weights of an arbitrary frame against PRE-FIT count models — the
    * amortized/streaming form: the pool counts come from a maintained
    * store (e.g. [[graft.streaming.StreamIngest.dsirPoolCounts]]), the
    * target counts from a one-time fit, and only the frame is tokenized
    * per call. */
  def weightsAgainst(frame: DataFrame, idCol: String, textCol: String,
                     targetCounts: DataFrame, rawCounts: DataFrame,
                     buckets: Int = 4096, alpha: Double = 1.0): DataFrame =
    scoreFused(frame, idCol, textCol, targetCounts, rawCounts, buckets, alpha)

  /** Gumbel-top-k resample: `(rnk, id, logw, key)` for the `k` raw docs
    * with the largest `logw + Gumbel(md5-unit)` key. Adding noise ~
    * Gumbel(0,1) to the log weight and taking top-k samples WITHOUT
    * replacement proportionally to the importance weights (the
    * Gumbel-max trick); `temperature` 0 disables the noise (hard top-k).
    * The key is rounded to 6 places and tie-broken on id so the rank is
    * engine-independent. */
  def resample(raw: DataFrame, target: DataFrame,
               idCol: String, textCol: String, k: Int,
               buckets: Int = 4096, alpha: Double = 1.0,
               temperature: Double = 1.0, salt: String = "dsir"): DataFrame = {
    val w = importanceWeights(raw, target, idCol, textCol, buckets, alpha)
    val u = Sampling.hashUnit(col("id"), salt)
    val keyed = w.withColumn("key",
      round(col("logw") + lit(temperature) * -log(-log(u)), 6))
    val top = keyed.orderBy(col("key").desc, col("id")).limit(k)
    top.withColumn("rnk",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("key").desc, col("id"))).cast("long"))
      .select(col("rnk"), col("id"), col("logw"), col("key"))
  }
}
