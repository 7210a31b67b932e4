package graft.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Embed
import graft.tables.Checkpoints

/** Deterministic retrieval over the triples table (SURVEY.md §3.2/§3.3).
  *
  * Reproduces the reference's LLM-free query semantics:
  *  - scoped retrieval: facts incident to an entity (subject OR object side,
  *    unioned) with vector score ≥ 0.3 (v6/graph_store.py:335-431);
  *  - global vector retrieval: score > 0.25, top 30 (v6/schemas.py:40-43,
  *    util/deterministic_retrieval.py:220);
  *  - relevance threshold 0.65 + cross-source boost +0.15 per extra source,
  *    cap 50 (v6/researcher.py:64,357-414);
  *  - 1-hop expansion at fixed score 0.45 (v6/graph_store.py:549-602);
  *  - keyword search: stop-word-filtered BM25 over fact tokens — the
  *    deterministic analogue of the Lucene fulltext index
  *    (researcher.py:72-102; util/deterministic_retrieval.py:230-283);
  *  - RRF fusion Σ 1/(60+rank) across vector/keyword/graph strategies
  *    (util/deterministic_retrieval.py:48-159).
  *
  * All scoring is column arithmetic over the embedding column — codegen'd, no
  * driver loops; per-strategy rank via window; fusion via groupBy-sum. Scale:
  * the only shuffles are the per-strategy rank windows (partitioned by the
  * single query — for batched multi-query use, partition by query_id) and the
  * fact_id fusion groupBy.
  */
object Retriever {

  case class Config(
      relevanceThreshold: Double = 0.65, // v6/schemas.py:37
      scopedFloor: Double = 0.3,
      globalFloor: Double = 0.25,
      globalTopK: Int = 30,
      scopedTopK: Int = 500, // v6/graph_store.py:340
      maxFactsToScore: Int = 50, // v6/schemas.py:43
      crossSourceBoost: Double = 0.15, // v6/researcher.py:64
      expansionScore: Double = 0.45, // v6/graph_store.py:560
      rrfK: Int = 60)

  /** Stop words from util/deterministic_retrieval.py:166-185 (abridged to the
    * high-frequency core; semantics identical for our token streams).
    */
  private val stopWords = Set(
    "a", "an", "the", "is", "are", "was", "were", "be", "been", "being", "have",
    "has", "had", "do", "does", "did", "will", "would", "could", "should", "may",
    "might", "must", "shall", "can", "to", "of", "in", "for", "on", "with", "at",
    "by", "from", "as", "into", "through", "during", "before", "after", "and",
    "but", "if", "or", "because", "what", "which", "who", "whom", "this", "that",
    "these", "those", "it", "its", "about", "tell", "describe", "explain", "give")

  /** Keyword extraction (P6): lowercase word tokens, drop stop words and
    * short tokens (>2 chars kept).
    */
  def extractKeywords(query: String): Seq[String] =
    "\\b\\w+\\b".r.findAllIn(query.toLowerCase(java.util.Locale.ROOT)).toSeq
      .filter(w => !stopWords.contains(w) && w.length > 2)

  private def factEmbCol: Column = col("embedding")

  /** Cosine of the (broadcast literal) query embedding against the stored
    * fact embedding column. Both sides are pre-normalized (Embed.embed), so
    * the cosine is the plain dot product — computed by the native codegen'd
    * DotProduct expression (one fused loop inside WholeStageCodegen), not the
    * interpreted aggregate(zip_with(...)) lambda.
    */
  private def scoreCol(queryEmb: Array[Double]): Column =
    graft.functions.expr.DotProduct(lit(queryEmb), factEmbCol)

  /** Triples table augmented with a deterministic fact embedding (the
    * "vector index"). Keep the returned frame and pass the SAME object to
    * every query: `search`, `keywordSearch`, `Researcher.research` and
    * `Researcher.researchBatch` materialize it on the first query against
    * that frame object and reuse it on later ones ([[factIndex]]). A frame
    * queried only once pays that materialization on its one query.
    */
  def withFactEmbeddings(triples: DataFrame): DataFrame =
    // a table ingested with persisted fact vectors (IngestApp
    // --fact-embeddings, the reference's fact_embeddings sink) already
    // carries the column — the committed vectors feed retrieval directly,
    // no per-read re-derivation. The embedder is deterministic, so the two
    // paths are value-identical (specced).
    if (triples.columns.contains("embedding")) triples
    else {
      val embedUdf = udf((s: String) => Embed.embed(s))
      triples.withColumn("embedding", embedUdf(col("fact")))
    }

  /** Global vector search: score > floor, top k (v6 global path). */
  def globalSearch(facts: DataFrame, query: String, cfg: Config = Config()): DataFrame = {
    val s = scoreCol(Embed.embed(query))
    facts.withColumn("score", s)
      .filter(col("score") > cfg.globalFloor)
      .orderBy(col("score").desc, col("fact_uuid"))
      .limit(cfg.globalTopK)
      .withColumn("source", lit("global"))
  }

  /** Scoped retrieval: facts incident to entityUuid (subject ∪ object),
    * scored, floored, top-k (J8).
    */
  def scopedSearch(facts: DataFrame, entityUuid: String, query: String,
      cfg: Config = Config()): DataFrame = {
    val s = scoreCol(Embed.embed(query))
    facts.filter(col("subject_uuid") === entityUuid || col("object_uuid") === entityUuid)
      .withColumn("score", s)
      .filter(col("score") >= cfg.scopedFloor)
      .orderBy(col("score").desc, col("fact_uuid"))
      .limit(cfg.scopedTopK)
      .withColumn("source", lit("scoped"))
  }

  /** Threshold + cross-source boost + cap (v6/researcher.py:357-414, A6/A7):
    * union of per-source results → dedupe by fact_uuid keeping max score and
    * the contributing source set → boost → threshold → top maxFactsToScore.
    * Every other column of `results` (`fact`, and e.g. `subject_uuid`) is a
    * per-fact attribute, a function of fact_uuid, and passes through.
    */
  def thresholdAndBoost(results: DataFrame, cfg: Config = Config()): DataFrame = {
    val carried = results.columns.toSeq.filterNot(Set("fact_uuid", "score", "source"))
      .map(c => first(col(c)).as(c))
    results.groupBy(col("fact_uuid"))
      .agg(
        max(col("score")).as("vector_score"),
        collect_set(col("source")).as("sources") +: carried: _*)
      .withColumn("final_score",
        col("vector_score") + lit(cfg.crossSourceBoost) * (size(col("sources")) - 1))
      .filter(col("vector_score") >= cfg.relevanceThreshold)
      .orderBy(col("final_score").desc, col("fact_uuid"))
      .limit(cfg.maxFactsToScore)
  }

  /** 1-hop expansion (J10): all facts incident to the given entities, fixed
    * score 0.45, capped.
    */
  def expandOneHop(facts: DataFrame, entityUuids: Seq[String], maxFacts: Int,
      cfg: Config = Config()): DataFrame = {
    facts.filter(col("subject_uuid").isin(entityUuids: _*) ||
        col("object_uuid").isin(entityUuids: _*))
      .withColumn("score", lit(cfg.expansionScore))
      .orderBy(col("fact_uuid"))
      .limit(maxFacts)
      .withColumn("source", lit("graph"))
  }

  /** Keyword search: BM25 (k1=1.2, b=0.75, Lucene idf) over fact tokens —
    * the deterministic stand-in for the reference's Lucene fulltext path
    * (util/deterministic_retrieval.py:230-283). Raw overlap counting would
    * rank-invert BM25 whenever a common term outvotes a rare one, distorting
    * the RRF fusion input (A8).
    *
    * Corpus stats (N, avgdl, per-term document frequency) come from `stats`
    * when supplied (a [[bm25Stats]] result), else from the frame's
    * [[factIndex]], built once per frame object, whose term-df table is
    * materialized: a query then reads ≤|keywords| rows of it and runs no
    * corpus-wide aggregation.
    */
  private def factTokens = array_remove(split(lower(col("fact")), "\\W+"), "")

  /** Materializable BM25 corpus statistics — the Lucene-index analogue.
    * `termDf` is the per-term document-frequency table a standing deployment
    * persists once per corpus snapshot; `nDocs`/`avgdl` are scalars.
    */
  case class Bm25Stats(nDocs: Long, avgdl: Double, termDf: DataFrame)

  /** One pass over the facts for scalars + one for the per-term df table.
    * Compute once per corpus snapshot, pass to keywordSearch for query-time
    * scoring with zero extra corpus scans.
    */
  def bm25Stats(facts: DataFrame): Bm25Stats = {
    val s = facts.agg(count(lit(1)).as("n"), avg(size(factTokens)).as("avgdl")).first()
    val n = s.getLong(0)
    val avgdl = if (n == 0 || s.isNullAt(1)) 1.0 else math.max(s.getDouble(1), 1.0)
    val df = facts.select(explode(array_distinct(factTokens)).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    Bm25Stats(n, avgdl, df)
  }

  /** What the query path reads instead of a `facts` frame: the frame's rows,
    * materialized once (lineage-truncated, so the parquet scan and any
    * derived columns such as the fact embedding run once), and the BM25
    * statistics of those rows with the term-df table materialized too. The
    * statistics are built on first use, so a frame that only serves
    * `Researcher` calls never pays for them.
    */
  private[query] final class FactIndex(val rows: DataFrame) {
    lazy val bm25: Bm25Stats = {
      val st = bm25Stats(rows)
      st.copy(termDf = Checkpoints.truncate(st.termDf))
    }
  }

  /** Per-frame lock and index; holds no reference to its frame. */
  private final class FactIndexSlot { var index: FactIndex = _ }

  // Keyed by frame IDENTITY (Dataset overrides neither equals nor hashCode):
  // a warehouse rebuilt at the same path is read into a new frame and gets a
  // new entry, never a stale one. Weak keys drop the entry once the caller
  // drops the frame; the index's truncated lineage holds no reference back
  // to its key.
  private val factIndexes = new java.util.WeakHashMap[DataFrame, FactIndexSlot]()

  /** The [[FactIndex]] of `facts`, built on the first query against this
    * frame object. The gain rests on reuse: a caller that queries one frame
    * object many times scans it once, while a frame queried once pays the
    * materialization on that query. Concurrent first queries on one frame
    * build it once (they wait on that frame's slot); other frames build in
    * parallel. A cache the caller put on `facts` stays in place
    * ([[Checkpoints.truncate]]). With a reliable checkpoint dir the rows are
    * written there, and removed per the session's
    * `spark.cleaner.referenceTracking.cleanCheckpoints`.
    */
  private[query] def factIndex(facts: DataFrame): FactIndex = {
    val slot = factIndexes.synchronized {
      factIndexes.computeIfAbsent(facts, _ => new FactIndexSlot)
    }
    slot.synchronized {
      if (slot.index == null)
        slot.index = new FactIndex(Checkpoints.truncate(facts))
      slot.index
    }
  }

  def keywordSearch(facts: DataFrame, query: String, topK: Int = 30,
      k1: Double = 1.2, b: Double = 0.75, stats: Option[Bm25Stats] = None): DataFrame = {
    if (stats.isEmpty) {
      val idx = factIndex(facts)
      return keywordSearch(idx.rows, query, topK, k1, b, Some(idx.bm25))
    }
    val Bm25Stats(n, avgdl, termDf) = stats.get
    val kws = extractKeywords(query).distinct
    def empty = facts.limit(0).withColumn("score", lit(0.0))
      .withColumn("source", lit("keyword"))
    if (kws.isEmpty || n == 0L) return empty
    val dfMap = termDf.filter(col("term").isin(kws: _*))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def idf(t: String): Double = {
      val df = dfMap.getOrElse(t, 0L).toDouble
      math.log(1.0 + (n - df + 0.5) / (df + 0.5)) // Lucene BM25 idf
    }

    val tokens = factTokens
    val dl = size(tokens).cast("double")
    val score = kws.map { t =>
      val tf = size(filter(tokens, x => x === lit(t))).cast("double")
      lit(idf(t)) * tf * (k1 + 1) /
        (tf + lit(k1) * (lit(1 - b) + lit(b) * dl / avgdl))
    }.reduce(_ + _)

    facts.withColumn("score", score)
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("fact_uuid"))
      .limit(topK)
      .withColumn("source", lit("keyword"))
  }

  /** RRF fusion (A8): per-strategy rank → Σ 1/(k+rank) per fact. Input must
    * have (fact_uuid, score, source). Deterministic rank tie-break on
    * fact_uuid mirrors the reference's stable enumerate order.
    */
  def rrfFuse(results: DataFrame, topK: Int, cfg: Config = Config()): DataFrame = {
    val byStrategy = Window.partitionBy(col("source"))
      .orderBy(col("score").desc, col("fact_uuid"))
    results.withColumn("rank", row_number().over(byStrategy))
      .groupBy(col("fact_uuid"))
      .agg(
        sum(lit(1.0) / (lit(cfg.rrfK) + col("rank"))).as("rrf_score"),
        collect_set(col("source")).as("found_by"))
      .orderBy(col("rrf_score").desc, col("fact_uuid"))
      .limit(topK)
  }

  /** Query→entity resolution for graph traversal — the analogue of the
    * reference's `entity_name_only_embeddings` vector index query
    * (deterministic_retrieval.py:285-301: top 5 by cosine against the
    * NAME-ONLY entity vector, floor 0.5, keyword fallback when the vector
    * pass finds nothing). The entity table is orders of magnitude smaller
    * than the fact table, so this is one narrow scan + TakeOrdered; the
    * returned uuids feed `search`'s anchorEntities / expandOneHop.
    */
  def resolveQueryEntities(entities: DataFrame, query: String, topK: Int = 5,
      floor: Double = 0.5): Seq[String] = {
    val qv = lit(graft.functions.Embed.embed(query))
    val hits = entities
      .withColumn("q_score", graft.functions.expr.CosineSimilarity(col("embedding"), qv))
      .filter(col("q_score") > floor)
      .orderBy(col("q_score").desc, col("entity_uuid"))
      .select(col("entity_uuid")).limit(topK)
      .collect().map(_.getString(0)).toSeq
    if (hits.nonEmpty) hits
    else {
      // fallback: full-text keyword match on entity names
      // (deterministic_retrieval.py:303-313)
      val kws = extractKeywords(query).distinct
      if (kws.isEmpty) Seq.empty
      else entities
        .filter(kws.map(k => lower(col("canonical_name")).contains(k)).reduce(_ || _))
        .orderBy(col("entity_uuid"))
        .select(col("entity_uuid")).limit(topK)
        .collect().map(_.getString(0)).toSeq
    }
  }

  /** `search` with the graph-traversal anchors derived FROM the query (the
    * reference's Strategy 3 end-to-end) instead of caller-supplied.
    */
  def searchAuto(facts: DataFrame, entities: DataFrame, query: String,
      topK: Int = 10, cfg: Config = Config()): DataFrame =
    search(facts, query, resolveQueryEntities(entities, query), topK, cfg)

  /** DeterministicRetriever.search analogue (deterministic_retrieval.py:379-402):
    * vector ∥ keyword ∥ graph → RRF(60) → top-k.
    */
  def search(facts: DataFrame, query: String, anchorEntities: Seq[String],
      topK: Int = 10, cfg: Config = Config()): DataFrame = {
    val idx = factIndex(facts)
    val vector = globalSearch(idx.rows, query, cfg).select("fact_uuid", "score", "source")
    fuseWith(idx.rows, idx.bm25, vector, query, anchorEntities, topK, cfg)
  }

  /** RRF of a vector strategy with the keyword and graph strategies over
    * `facts`, keyword-scored with the corpus statistics `bm25`.
    */
  private def fuseWith(facts: DataFrame, bm25: Bm25Stats, vector: DataFrame,
      query: String, anchorEntities: Seq[String], topK: Int, cfg: Config): DataFrame = {
    val keyword = keywordSearch(facts, query, stats = Some(bm25))
      .select("fact_uuid", "score", "source")
    val graph =
      if (anchorEntities.isEmpty)
        vector.limit(0)
      else expandOneHop(facts, anchorEntities, cfg.scopedTopK, cfg)
        .select("fact_uuid", "score", "source")
    rrfFuse(vector.union(keyword).union(graph), topK, cfg)
  }

  /** [[globalSearch]]'s vector strategy served from a PERSISTED IVF index
    * ([[graft.ops.Similarity.buildIvfIndex]]'s committed relations): the
    * query ranks the bounded centroid relation on the driver, reads ONLY its
    * `nprobe` cells from the cell-partitioned assignments table (a
    * partition-pruned scan — never a full pass over the fact vectors), and
    * re-scores the candidates with the exact codegen dot product. Emitted
    * scores are exact; only RECALL is approximate — probing every cell
    * reproduces [[globalSearch]] bit-for-bit (specced), and the recall/scan
    * frontier is the committed IvfRecallProbe curve.
    */
  def globalSearchIndexed(centroids: DataFrame, assignments: DataFrame,
      query: String, nprobe: Int = 4, cfg: Config = Config(),
      idCol: String = "fact_uuid"): DataFrame = {
    val qv = Embed.embed(query)
    val cells = centroids
      .select(col("cell").cast("int"), col("cvec").cast("array<double>"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
      .sortBy { case (cid, c) => (-Embed.cosine(qv, c.toArray), cid) }
      .take(nprobe).map(_._1)
    assignments
      .filter(col("cell").isin(cells.map(Int.box): _*))
      .withColumn("score", scoreCol(qv))
      .filter(col("score") > cfg.globalFloor)
      .orderBy(col("score").desc, col(idCol))
      .limit(cfg.globalTopK)
      .select(col(idCol).as("fact_uuid"), col("score"))
      .withColumn("source", lit("global"))
  }

  /** [[search]] with the global vector strategy served from the persisted
    * index; the keyword and graph strategies are equi-join/filter paths that
    * never needed the full-scan cosine, so they run on `facts` unchanged,
    * without the fact index: the BM25 statistics come from the fact text
    * alone, so neither strategy reads the embedding column.
    */
  def searchIndexed(facts: DataFrame, centroids: DataFrame,
      assignments: DataFrame, query: String, anchorEntities: Seq[String],
      topK: Int = 10, nprobe: Int = 4, cfg: Config = Config()): DataFrame =
    fuseWith(facts, bm25Stats(facts.select("fact_uuid", "fact")),
      globalSearchIndexed(centroids, assignments, query, nprobe, cfg),
      query, anchorEntities, topK, cfg)
}
