package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic sampling / split-assignment operators for training-data
  * pipelines: stable train/valid/test assignment and per-source mixture
  * downsampling.
  *
  * Everything here is a pure column expression over a salted md5 of the row
  * key, which buys three properties `rand()`-based sampling cannot give at
  * 100 TB:
  *  - DETERMINISTIC: re-running the job (or re-reading after a lost
  *    executor's task retry) assigns every row the same split. A `rand()`
  *    split silently re-rolls on task retry — rows can land in BOTH train
  *    and test across attempts.
  *  - PARTITIONING-INDEPENDENT: assignment depends only on the key bytes,
  *    never on row order, partition count, or cluster size, so a 1000-executor
  *    run and a laptop run produce byte-identical splits.
  *  - PORTABLE: md5 is engine-universal, so the split can be recomputed (and
  *    audited) by any other system that reads the same table — the driver's
  *    DuckDB oracle checks exactly this.
  *
  * The hash domain is the first 4 hex chars of the md5 → a uniform bucket in
  * [0, 65536). 16 bits keeps threshold arithmetic exact in every engine's
  * 32-bit integer math while bounding the largest-stratum quantization error
  * at 1/65536 ≈ 0.0015% — negligible against the sampling noise of any real
  * corpus.
  */
object Sampling {

  val Buckets = 65536

  /** Uniform bucket in [0, 65536) from a salted md5 of the key. The salt
    * decorrelates independent sampling decisions over the same key (a doc
    * held out of training by one salt is not systematically held out of
    * every other hash-gated decision).
    */
  def hashBucket(key: Column, salt: String): Column =
    conv(substring(md5(concat(lit(salt), key.cast("string"))), 1, 4), 16, 10)
      .cast("int")

  /** Integer threshold for a percentage of the bucket domain (floor — the
    * same integer the oracle SQL embeds as a literal).
    */
  def pctThreshold(pct: Int): Int = pct * Buckets / 100

  /** Deterministic train/valid/test assignment: train gets `trainPct`%,
    * valid the next `validPct`%, test the rest.
    */
  def datasetSplit(key: Column, salt: String = "graft-split",
      trainPct: Int = 80, validPct: Int = 10): Column = {
    require(trainPct + validPct <= 100, "split percentages exceed 100")
    val b = hashBucket(key, salt)
    when(b < pctThreshold(trainPct), lit("train"))
      .when(b < pctThreshold(trainPct + validPct), lit("valid"))
      .otherwise(lit("test"))
  }

  /** Keep-gate for per-stratum mixture downsampling: true iff the row's
    * bucket falls under its stratum's rate. `rates` maps stratum value →
    * keep fraction in [0,1]; unlisted strata fall back to `defaultRate`.
    * Upsampling (rate > 1) is out of scope for a filter gate — repeat-read
    * the kept stratum instead.
    */
  def stratifiedKeep(key: Column, stratum: Column,
      rates: Map[String, Double], defaultRate: Double,
      salt: String = "graft-mix"): Column = {
    require((rates.values.toSeq :+ defaultRate).forall(r => r >= 0 && r <= 1),
      "keep rates must be fractions in [0,1]")
    val b = hashBucket(key, salt)
    val threshold = rates.foldLeft(lit((defaultRate * Buckets).toInt)) {
      case (acc, (value, rate)) =>
        when(stratum === lit(value), lit((rate * Buckets).toInt)).otherwise(acc)
    }
    b < threshold
  }

  /** Temperature-scaled mixture rates (the mT5/XLM-R language-balancing
    * rule): sampling probability p_i ∝ n_i^alpha over the per-stratum token
    * masses n_i, realized as per-stratum KEEP RATES normalized so the most
    * upweighted stratum keeps everything (no upsampling from a filter gate —
    * [[stratifiedKeep]]'s contract): r_i = n_i^(alpha−1) / max_j n_j^(alpha−1).
    * alpha = 1 reproduces natural proportions (all rates 1), alpha → 0
    * approaches uniform-per-stratum. Returns one row per stratum:
    * (stratumCol, stratum_tokens, p, keep_rate) — at most #strata rows,
    * broadcastable by construction.
    */
  def temperatureRates(docs: org.apache.spark.sql.DataFrame, alpha: Double,
      stratumCol: String, weightCol: String): org.apache.spark.sql.DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    val n = docs.groupBy(col(stratumCol))
      .agg(sum(col(weightCol)).cast("double").as("n"))
    val scored = n.select(col(stratumCol), col("n"),
      pow(col("n"), lit(alpha)).as("pa"),
      pow(col("n"), lit(alpha - 1)).as("s"))
    val tots = scored.agg(sum(col("pa")).as("pt"), max(col("s")).as("mx"))
    scored.crossJoin(broadcast(tots))
      .select(col(stratumCol), col("n").cast("long").as("stratum_tokens"),
        (col("pa") / col("pt")).as("p"),
        (col("s") / col("mx")).as("keep_rate"))
  }

  /** The gate for [[temperatureRates]]: keep each row iff its salted hash
    * bucket falls under floor(keep_rate · 65536) for its stratum — the same
    * deterministic/portable gate as [[stratifiedKeep]], with the rates
    * COMPUTED from the corpus instead of hand-configured. The rate table
    * joins in as a broadcast (#strata rows); the gate stays a narrow filter.
    * The join is null-safe: a NULL stratum is a stratum of its own (it has
    * its own rate row), not a silent drop.
    */
  def temperatureKeep(docs: org.apache.spark.sql.DataFrame, alpha: Double,
      stratumCol: String, weightCol: String, idCol: String,
      salt: String = "graft-tmix"): org.apache.spark.sql.DataFrame = {
    val thr = temperatureRates(docs, alpha, stratumCol, weightCol)
      .select(col(stratumCol).as("_stratum"),
        floor(col("keep_rate") * Buckets).cast("int").as("_thr"))
    docs.join(broadcast(thr), col(stratumCol) <=> col("_stratum"))
      .filter(hashBucket(col(idCol), salt) < col("_thr"))
      .drop("_stratum", "_thr")
  }

  /** Efraimidis–Spirakis weighted-sampling key (2006, "Weighted random
    * sampling with a reservoir"): rows compared by u^(1/w) — here as the
    * monotone-equivalent ln(u)/w, which never under/overflows — with u a
    * DETERMINISTIC salted-md5 uniform in (0,1], so the k largest keys are a
    * weighted sample without replacement that every re-run, task retry and
    * auditing engine reproduces bit-identically (the [[hashBucket]]
    * properties, lifted from fixed-rate gating to weighted top-k). u is the
    * first 52 md5 bits shifted into (0,1] as (x+1)/2^52 — exact in IEEE
    * double, and exactly the arithmetic the DuckDB oracle replays.
    */
  def weightedSampleKey(key: Column, weight: Column,
      salt: String = "graft-wsample"): Column = {
    val u = (conv(substring(md5(concat(lit(salt), key.cast("string"))), 1, 13),
        16, 10).cast("double") + 1.0) / 4503599627370496.0 // 2^52
    log(u) / weight.cast("double")
  }

  /** The k rows of `docs` sampled without replacement with probability
    * proportional to `weightCol` (rows with weight <= 0 are never drawn).
    * Appends the sort key as `es_key`. Scale shape: the key is a pure
    * narrow expression and the selection is orderBy+limit → TakeOrdered
    * (per-partition top-k, no global sort, no full shuffle).
    */
  def weightedSample(docs: org.apache.spark.sql.DataFrame, k: Int,
      weightCol: String, idCol: String = "doc_id",
      salt: String = "graft-wsample"): org.apache.spark.sql.DataFrame = {
    require(k >= 0, s"k must be >= 0, got $k")
    docs.filter(col(weightCol) > 0)
      .withColumn("es_key", weightedSampleKey(col(idCol), col(weightCol), salt))
      .orderBy(col("es_key").desc, col(idCol))
      .limit(k)
  }

  /** Fixed-QUOTA stratified sample: the k rows of each stratum with the
    * smallest (salted-hash-bucket, id) key — deterministic per-language /
    * per-source eval-set construction, the fixed-SIZE counterpart of the
    * fixed-RATE [[stratifiedKeep]] gate. Returns the input columns plus
    * `sample_rank` (1..k within the stratum). Membership and ranks are
    * partitioning-independent (the key is a total order over rows).
    *
    * Scale shape: two-phase top-k. A single `Window.partitionBy(stratum)`
    * would collapse the largest stratum onto one task (the [[tokenBudgetCap]]
    * concern), so phase 1 ranks within (stratum, input partition) — a
    * distributed composite-key window — and keeps only k rows per cell;
    * phase 2 ranks the ≤ k·numPartitions survivors per stratum. Per-stratum
    * top-k equals the top-k of the union of per-cell top-k's, so the
    * pre-prune never changes the answer.
    */
  def quotaSample(docs: org.apache.spark.sql.DataFrame, k: Int,
      stratumCol: String, idCol: String,
      salt: String = "graft-quota"): org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val key = hashBucket(col(idCol), salt)
    val pre = Window.partitionBy(col(stratumCol), col("_pid"))
      .orderBy(key, col(idCol))
    val fin = Window.partitionBy(col(stratumCol)).orderBy(key, col(idCol))
    docs.withColumn("_pid", spark_partition_id())
      .withColumn("_pr", row_number().over(pre))
      .filter(col("_pr") <= k)
      .drop("_pid", "_pr")
      .withColumn("sample_rank", row_number().over(fin))
      .filter(col("sample_rank") <= k)
  }

  /** TOKEN-budget capping per stratum: walk each stratum's rows in
    * deterministic id order and keep rows while the stratum's running token
    * sum stays within `budget` — the token-weighted counterpart of
    * [[stratifiedKeep]] (mixtures are specified in tokens, not documents;
    * a doc-fraction gate over skewed doc lengths misses the token target).
    * Returns the input plus `cum_tokens` (inclusive running sum within the
    * stratum) and `kept` (cum_tokens <= budget). The boundary document that
    * crosses the budget is dropped, not truncated.
    *
    * Scale shape: PrefixScan.inclusiveRunningSum with the stratum as the
    * scan key — a per-stratum `Window.orderBy(id)` would collapse the
    * LARGEST SOURCE (possibly most of the corpus) onto one task. NULL
    * strata form their own stratum (SQL window semantics), never vanish.
    */
  def tokenBudgetCap(docs: org.apache.spark.sql.DataFrame, budget: Long,
      stratumCol: String, idCol: String, lenCol: String,
      numBuckets: Int = 0): org.apache.spark.sql.DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    val slim = docs.select(col(stratumCol), col(idCol), col(lenCol))
    PrefixScan.inclusiveRunningSum(slim, Seq(stratumCol), idCol, lenCol,
        numBuckets) match {
      case None =>
        slim.select(col(stratumCol), col(idCol),
          col(lenCol).cast("long").as(lenCol),
          lit(0L).as("cum_tokens"), lit(false).as("kept")).limit(0)
      case Some(scanned) =>
        scanned.select(col(stratumCol), col(idCol), col("_len").as(lenCol),
          col("_cum").as("cum_tokens"), (col("_cum") <= budget).as("kept"))
    }
  }
}
