package graft.query

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.Embed

/** Deterministic v6 research flow (SURVEY.md §3.2, reference
  * /root/reference/src/querying_system/v6/researcher.py:134-500) — the LLM
  * steps (decompose, gap detect, synthesis) are out of rebuild scope; every
  * retrieval/scoring step is reproduced:
  *
  *  1. hint resolution: entity hints matched against the entity table
  *     (exact alias key, then embedding kNN floor 0.3 — graph_store:208-329);
  *  2. dual-path retrieval: per-entity scoped ∪ per-topic scoped ∪ global
  *     vector search, ALWAYS all paths (researcher:274-326);
  *  3. merge by fact id keeping max score + source set, threshold ≥ 0.65,
  *     cross-source boost +0.15/extra source, cap max_facts_to_score
  *     (researcher:357-414);
  *  4. heuristic gap expansion — when evidence is thin (<5 facts), 1-hop
  *     expand from the top facts' subjects at score 0.45 with the 0.8 merge
  *     penalty (researcher:442-449,617-651); the anchors' subjects are
  *     carried through the step-3 merge, so no join back to the facts;
  *  5. evidence cap per question type (15; 40 for enumeration).
  *
  * The result is the evidence set a synthesizer would consume, as a
  * DataFrame (fact_uuid, fact, final_score, sources).
  */
object Researcher {

  case class Config(
      retriever: Retriever.Config = Retriever.Config(),
      resolveFloor: Double = 0.3, // graph_store.py:219
      expansionMergePenalty: Double = 0.8, // researcher.py:640
      thinEvidence: Int = 5, // researcher.py:445
      topKEvidence: Int = 15, // v6/schemas.py:40
      topKEvidenceEnumeration: Int = 40,
      refinementTopK: Int = 20) // refinement_search_top_k, researcher.py:703-860

  /** The vector hint/semantic resolution scores against: the reference's
    * v6 hint resolver queries the `entity_name_embeddings` index, whose
    * vectors embed `"{name}: {summary}"` (graph_store.py:217,
    * pipeline.py:952-965) — NOT the name-only vector (that one backs the
    * deterministic retriever's query→entity traversal,
    * deterministic_retrieval.py:296; see Retriever.resolveQueryEntities).
    * Falls back to the name-only `embedding` on minimal/legacy schemas.
    */
  private[query] def semanticEmb(entities: DataFrame) =
    if (entities.columns.contains("name_embedding")) col("name_embedding")
    else col("embedding")

  /** Step 1: resolve entity name hints → entity uuids (exact alias-key match
    * first, else embedding cosine ≥ floor, top-1 per hint).
    */
  def resolveHints(entities: DataFrame, hints: Seq[String],
      cfg: Config = Config()): DataFrame = {
    if (hints.isEmpty) return entities.limit(0)
      .select(col("entity_uuid"), col("canonical_name"), lit("").as("hint"))
    val spark = entities.sparkSession
    import spark.implicits._
    val hintDf = hints.map(h => (h, h.trim.toLowerCase(java.util.Locale.ROOT), Embed.embed(h)))
      .toDF("hint", "hint_key", "hint_emb")
    val scored = entities.crossJoin(broadcast(hintDf))
      .withColumn("exact",
        lower(col("canonical_name")) === col("hint_key") ||
          exists(col("aliases"), a => lower(a) === col("hint_key")))
      .withColumn("sim",
        graft.functions.expr.CosineSimilarity(semanticEmb(entities), col("hint_emb")))
      .withColumn("score", when(col("exact"), lit(2.0)).otherwise(col("sim")))
      .filter(col("exact") || col("sim") >= cfg.resolveFloor)
    val top1 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("hint")).orderBy(col("score").desc, col("entity_uuid"))
    scored.withColumn("rn", row_number().over(top1)).filter(col("rn") === 1)
      .select(col("entity_uuid"), col("canonical_name"), col("hint"))
  }

  /** Steps 2-5. `facts` must carry an `embedding` column
    * (Retriever.withFactEmbeddings). Topic hints are ontology labels.
    *
    * Retrieval reads the frame's fact index (Retriever.factIndex, built on
    * the first query against the frame object). The merged, thresholded,
    * boosted and capped evidence (≤ maxFactsToScore rows) is collected ONCE;
    * the thin-evidence decision, the expansion anchors and the final cap all
    * come from those rows, so a question with enough evidence runs no Spark
    * job after that collect.
    */
  def research(facts: DataFrame, entities: DataFrame, question: String,
      entityHints: Seq[String] = Nil, topicHints: Seq[String] = Nil,
      enumeration: Boolean = false, cfg: Config = Config()): DataFrame = {
    val spark = facts.sparkSession
    val indexed = Retriever.factIndex(facts).rows
    val resolvedRows = resolveHints(entities, entityHints, cfg)
      .select(col("entity_uuid"), col("hint")).collect()
    val resolved = resolvedRows.map(_.getString(0)).toSeq.distinct
    val resolvedHints = resolvedRows.map(_.getString(1)).toSet

    // step 2: dual path — scoped per entity ∪ topic-scoped ∪ global (always);
    // subject_uuid rides along for the expansion anchors
    val partCols = Seq(col("fact_uuid"), col("fact"), col("subject_uuid"),
      col("score"), col("source"))
    val parts = Seq.newBuilder[DataFrame]
    resolved.foreach { e =>
      parts += Retriever.scopedSearch(indexed, e, question, cfg.retriever).select(partCols: _*)
    }
    topicHints.foreach { t =>
      parts += GraphLookup.topicScoped(indexed, t, question, cfg.retriever.scopedFloor)
        .select(partCols: _*)
    }
    parts += Retriever.globalSearch(indexed, question, cfg.retriever).select(partCols: _*)
    val union = parts.result().reduce(_ union _)

    // step 3: merge + threshold + boost + cap — ONE bounded driver collect
    // (≤ maxFactsToScore rows, in (final_score desc, fact_uuid) order)
    val merged = Retriever.thresholdAndBoost(union, cfg.retriever)
      .select(col("fact_uuid"), col("fact"), col("final_score"),
        array_sort(col("sources")).as("sources"), col("vector_score"), col("subject_uuid"))
    val evidence = merged.collect()
    def local(rows: Seq[Row]) = spark.createDataFrame(rows.asJava, merged.schema)
    val outCols = Seq(col("fact_uuid"), col("fact"), col("final_score"), col("sources"))
    val k = if (enumeration) cfg.topKEvidenceEnumeration else cfg.topKEvidence

    // step 4: heuristic gap expansion when evidence is thin, anchored on the
    // top facts' subjects. step 4b (v6 step 7 analogue): deterministic
    // REFINEMENT. The reference detects a vague answer (confidence < 0.85)
    // and re-searches with targeted queries at refinement_search_top_k=20,
    // merging with the 0.8 penalty, one pass (researcher.py:703-860). The
    // confidence gate is LLM; the deterministic trigger here is the same
    // thin-evidence floor plus at least one UNRESOLVED entity hint to target:
    // each such hint runs one targeted global search (the hint text as the
    // query), and the recovered facts merge under the penalty.
    val thin = evidence.length < cfg.thinEvidence
    val expand = thin && evidence.nonEmpty
    val unresolved = entityHints.filterNot(resolvedHints)
    val refine = thin && unresolved.nonEmpty
    // step 5 without expansion or refinement: the collected rows are already
    // ordered, so the evidence cap is their prefix
    if (!expand && !refine) return local(evidence.take(k).toSeq).select(outCols: _*)

    val scored = local(evidence.toSeq).select(col("fact_uuid"), col("fact"),
      col("vector_score"), col("sources"), col("final_score"))
    val expanded =
      if (!expand) scored
      else {
        val anchors = evidence.take(3).map(_.getAs[String]("subject_uuid"))
          .filter(_ != null).toSeq.distinct
        val extra = Retriever.expandOneHop(indexed, anchors,
            cfg.retriever.scopedTopK, cfg.retriever)
          .join(scored.select(col("fact_uuid")), Seq("fact_uuid"), "left_anti")
          .select(col("fact_uuid"), col("fact"),
            // merge penalty on expansion-score facts (researcher.py:640)
            (col("score") * cfg.expansionMergePenalty).as("vector_score"),
            array(col("source")).as("sources"))
          .withColumn("final_score", col("vector_score"))
        scored.unionByName(extra)
      }
    val refined =
      if (!refine) expanded
      else {
        val targeted = unresolved.map { h =>
          Retriever.globalSearch(indexed, h,
              cfg.retriever.copy(globalTopK = cfg.refinementTopK))
            .select(col("fact_uuid"), col("fact"), col("score"))
        }.reduce(_ unionByName _)
          .groupBy(col("fact_uuid"))
          .agg(max(col("score")).as("score"), first(col("fact")).as("fact"))
          .join(expanded.select(col("fact_uuid")), Seq("fact_uuid"), "left_anti")
          .select(col("fact_uuid"), col("fact"),
            (col("score") * cfg.expansionMergePenalty).as("vector_score"),
            array(lit("refinement")).as("sources"))
          .withColumn("final_score", col("vector_score"))
        expanded.unionByName(targeted)
      }

    // step 5: evidence cap by question type
    refined
      .select(col("fact_uuid"), col("fact"), col("final_score"),
        array_sort(col("sources")).as("sources"))
      .orderBy(col("final_score").desc, col("fact_uuid"))
      .limit(k)
  }

  /** Full question-driven flow: deterministic decomposition (entity hints,
    * topic hints, question type — Decomposer) feeding `research`, so the v6
    * pipeline runs from a bare question with NO pre-supplied hints (the
    * reference's decomposer step, shared/decomposer.py:97-165).
    */
  def researchQuestion(facts: DataFrame, entities: DataFrame, question: String,
      ontology: Seq[graft.model.OntologyTopic] = Nil, cfg: Config = Config()): DataFrame = {
    val d = Decomposer.decompose(question, ontology)
    research(facts, entities, question, d.entityHints, d.topicHints,
      enumeration = d.questionType == Decomposer.Enumeration, cfg)
  }

  /** Batched multi-question research — the whole v6 flow (steps 1-5 plus gap
    * expansion and refinement) for a TABLE of questions in one declarative
    * job, partitioned by query_id throughout: the deployment shape for
    * scoring thousands of questions against a 100 TB fact table, where the
    * single-question `research` path's per-hint driver loop and bounded
    * collects would serialize. Exact per-question parity with `research` is
    * asserted by ResearcherSpec.
    *
    * `questions`: (query_id, question, entity_hints array<string>,
    * topic_hints array<string>, enumeration boolean) — a SMALL table (it is
    * broadcast against facts). Returns (query_id, fact_uuid, fact,
    * final_score, sources).
    *
    * Shapes: hint resolution is one crossJoin of entities × broadcast
    * exploded hints + a (query_id, hint) rank window; every retrieval path
    * is an equi-join of facts against a broadcast query-side table (the
    * scoped OR-predicate becomes subject-side ∪ object-side equi-joins;
    * topic scoping explodes the fact's own topics array — narrow — for an
    * equi-join on the label); per-question top-k caps are rank windows over
    * (query_id[, entity]) after the floor filters, so the only wide
    * shuffles are keyed by query_id × bounded candidate sets, never the
    * fact table. The thin-evidence trigger for expansion/refinement is a
    * per-query count — plain aggregation, no driver action at all.
    *
    * The multi-consumer intermediates (questions+embeddings, hint
    * resolution, the merged `scored` evidence — each bounded per question)
    * are lineage-truncated once, so the fact-table scans behind them run a
    * bounded number of times instead of once per downstream broadcast
    * subquery (ResearcherSpec asserts the bound with a scan-counting
    * accumulator). Those scans read the frame's fact index
    * (Retriever.factIndex), so the source table itself is read once per
    * frame object, not once per batch.
    */
  def researchBatch(facts: DataFrame, entities: DataFrame, questions: DataFrame,
      cfg: Config = Config()): DataFrame = {
    val spark = facts.sparkSession
    val indexed = Retriever.factIndex(facts).rows
    val embedUdf = udf((s: String) => Embed.embed(s))
    val W = org.apache.spark.sql.expressions.Window
    val rcfg = cfg.retriever

    // the question table is tiny and broadcast into every retrieval path —
    // truncate once so each broadcast build doesn't re-run the embed UDF
    val qs = graft.tables.Checkpoints.truncate(
      questions.select(col("query_id"), col("question"),
          col("entity_hints"), col("topic_hints"), col("enumeration"))
        .withColumn("q_emb", embedUdf(col("question"))))

    // ---- step 1: batched hint resolution (exact alias key, else cosine) ----
    val hintRows = qs.select(col("query_id"), explode(col("entity_hints")).as("hint"))
      .withColumn("hint_key", lower(trim(col("hint"))))
      .withColumn("hint_emb", embedUdf(col("hint")))
    val resolvedTop = W.partitionBy(col("query_id"), col("hint"))
      .orderBy(col("r_score").desc, col("entity_uuid"))
    val resolved = entities.crossJoin(broadcast(hintRows))
      .withColumn("exact",
        lower(col("canonical_name")) === col("hint_key") ||
          exists(col("aliases"), a => lower(a) === col("hint_key")))
      .withColumn("sim",
        graft.functions.expr.CosineSimilarity(semanticEmb(entities), col("hint_emb")))
      .withColumn("r_score", when(col("exact"), lit(2.0)).otherwise(col("sim")))
      .filter(col("exact") || col("sim") >= cfg.resolveFloor)
      .withColumn("rn", row_number().over(resolvedTop)).filter(col("rn") === 1)
      .select(col("query_id"), col("hint"), col("entity_uuid"))
    // resolved feeds both the scoped keys and the unresolved-hint anti-join;
    // truncate so the entities × hints resolution scan runs once, not twice
    val resolvedT = graft.tables.Checkpoints.truncate(resolved)

    // ---- step 2: dual-path retrieval, all paths per question ----
    val factCols = Seq(col("query_id"), col("fact_uuid"), col("fact"),
      col("score"), col("source"))

    // scoped: per (question, resolved entity) — OR-incidence as two
    // equi-joins, deduped per (query, entity, fact)
    val scopedKeys = resolvedT.join(qs.select(col("query_id"), col("q_emb")), Seq("query_id"))
      .select(col("query_id"), col("entity_uuid").as("e_uuid"), col("q_emb"))
      .distinct()
    def scopedSide(side: String) =
      indexed.join(broadcast(scopedKeys), col(side) === col("e_uuid"))
    val scopedRank = W.partitionBy(col("query_id"), col("e_uuid"))
      .orderBy(col("score").desc, col("fact_uuid"))
    val scoped = scopedSide("subject_uuid").unionByName(scopedSide("object_uuid"))
      .dropDuplicates("query_id", "e_uuid", "fact_uuid")
      .withColumn("score", graft.functions.expr.DotProduct(col("q_emb"), col("embedding")))
      .filter(col("score") >= rcfg.scopedFloor)
      .withColumn("rn", row_number().over(scopedRank))
      .filter(col("rn") <= rcfg.scopedTopK)
      .withColumn("source", lit("scoped"))
      .select(factCols: _*)

    // topic-scoped: explode the fact's topics (narrow) for an equi-join
    val topicKeys = qs.select(col("query_id"), col("q_emb"),
        explode(col("topic_hints")).as("topic")).distinct()
    val topicScoped = indexed.select(col("fact_uuid"), col("fact"), col("embedding"),
        explode(col("topics")).as("topic"))
      .join(broadcast(topicKeys), Seq("topic"))
      .withColumn("score", graft.functions.expr.DotProduct(col("q_emb"), col("embedding")))
      .filter(col("score") >= rcfg.scopedFloor)
      .withColumn("source", lit("topic"))
      .select(factCols: _*)

    // global: floor-filter then per-question rank (the floor is what keeps
    // the rank window's per-query partitions bounded)
    val globalRank = W.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("fact_uuid"))
    val global = indexed.crossJoin(broadcast(qs.select(col("query_id"), col("q_emb"))))
      .withColumn("score", graft.functions.expr.DotProduct(col("q_emb"), col("embedding")))
      .filter(col("score") > rcfg.globalFloor)
      .withColumn("rn", row_number().over(globalRank))
      .filter(col("rn") <= rcfg.globalTopK)
      .withColumn("source", lit("global"))
      .select(factCols: _*)

    // ---- step 3: merge + threshold + boost + cap, per question ----
    val capRank = W.partitionBy(col("query_id"))
      .orderBy(col("final_score").desc, col("fact_uuid"))
    // scored feeds FOUR consumers (evCount, anchors, extra's anti-join,
    // expanded) — without truncation each broadcast subquery re-derives the
    // scoped ∪ topic ∪ global union, i.e. re-scans the fact table per
    // consumer. Bounded: ≤ maxFactsToScore rows per question.
    val scored = graft.tables.Checkpoints.truncate(
      scoped.unionByName(topicScoped).unionByName(global)
        .groupBy(col("query_id"), col("fact_uuid"))
        .agg(max(col("score")).as("vector_score"),
          collect_set(col("source")).as("sources"),
          first(col("fact")).as("fact"))
        .withColumn("final_score",
          col("vector_score") + lit(rcfg.crossSourceBoost) * (size(col("sources")) - 1))
        .filter(col("vector_score") >= rcfg.relevanceThreshold)
        .withColumn("rn", row_number().over(capRank))
        .filter(col("rn") <= rcfg.maxFactsToScore)
        .drop("rn"))

    // ---- step 4: gap expansion for thin questions (count < thinEvidence) —
    // the trigger is a per-query aggregate, not a driver action
    val evCount = scored.groupBy(col("query_id")).agg(count(lit(1)).as("n_ev"))
    // refinement triggers on ANY thin question (count < floor, including 0);
    // anchor-based expansion additionally needs at least one fact to anchor
    // on — exactly the single-question path's `top.isEmpty` guard
    val thinAll = qs.select(col("query_id"))
      .join(evCount, Seq("query_id"), "left")
      .withColumn("n_ev", coalesce(col("n_ev"), lit(0L)))
      .filter(col("n_ev") < cfg.thinEvidence)
    val thin = thinAll.filter(col("n_ev") > 0L).select(col("query_id"))
    val anchors = scored.join(broadcast(thin), Seq("query_id"))
      .withColumn("rn", row_number().over(capRank)).filter(col("rn") <= 3)
      .join(indexed.select(col("fact_uuid"), col("subject_uuid")), Seq("fact_uuid"), "left")
      .filter(col("subject_uuid").isNotNull)
      .select(col("query_id"), col("subject_uuid").as("a_uuid")).distinct()
    def expandSide(side: String) =
      indexed.join(broadcast(anchors), col(side) === col("a_uuid"))
    val expandRank = W.partitionBy(col("query_id")).orderBy(col("fact_uuid"))
    val extra = expandSide("subject_uuid").unionByName(expandSide("object_uuid"))
      .dropDuplicates("query_id", "fact_uuid")
      .withColumn("rn", row_number().over(expandRank))
      .filter(col("rn") <= rcfg.scopedTopK)
      .join(scored.select(col("query_id"), col("fact_uuid")),
        Seq("query_id", "fact_uuid"), "left_anti")
      .select(col("query_id"), col("fact_uuid"), col("fact"),
        lit(rcfg.expansionScore * cfg.expansionMergePenalty).as("vector_score"),
        array(lit("graph")).as("sources"))
      .withColumn("final_score", col("vector_score"))
    val expanded = scored
      .select(col("query_id"), col("fact_uuid"), col("fact"),
        col("vector_score"), col("sources"), col("final_score"))
      .unionByName(extra)

    // ---- step 4b: refinement — thin questions with unresolved hints run one
    // targeted global search per hint at refinementTopK, merged with penalty
    val unresolvedHints = hintRows
      .join(resolvedT.select(col("query_id"), col("hint")), Seq("query_id", "hint"), "left_anti")
      .join(broadcast(thinAll.select(col("query_id"))), Seq("query_id"))
      .select(col("query_id"), col("hint"), col("hint_emb"))
    val refineRank = W.partitionBy(col("query_id"), col("hint"))
      .orderBy(col("score").desc, col("fact_uuid"))
    val targeted = indexed.crossJoin(broadcast(unresolvedHints))
      .withColumn("score", graft.functions.expr.DotProduct(col("hint_emb"), col("embedding")))
      .filter(col("score") > rcfg.globalFloor)
      .withColumn("rn", row_number().over(refineRank))
      .filter(col("rn") <= cfg.refinementTopK)
      .groupBy(col("query_id"), col("fact_uuid"))
      .agg(max(col("score")).as("score"), first(col("fact")).as("fact"))
      .join(expanded.select(col("query_id"), col("fact_uuid")),
        Seq("query_id", "fact_uuid"), "left_anti")
      .select(col("query_id"), col("fact_uuid"), col("fact"),
        (col("score") * cfg.expansionMergePenalty).as("vector_score"),
        array(lit("refinement")).as("sources"))
      .withColumn("final_score", col("vector_score"))
    val refined = expanded.unionByName(targeted)

    // ---- step 5: per-question evidence cap by question type ----
    val kCol = when(col("enumeration"), cfg.topKEvidenceEnumeration)
      .otherwise(cfg.topKEvidence)
    refined
      .join(broadcast(qs.select(col("query_id"), col("enumeration"))), Seq("query_id"))
      .withColumn("rn", row_number().over(capRank))
      .filter(col("rn") <= kCol)
      .select(col("query_id"), col("fact_uuid"), col("fact"), col("final_score"),
        array_sort(col("sources")).as("sources"))
  }

  /** ENUMERATION drilldown — deterministic analogue of the reference's step 5
    * entity expansion (v6/researcher.py:502-615: the LLM selects ≤10 entities
    * and expands 3 facts each; here selection = top entities by incident-fact
    * count within the evidence set). Returns the extra facts, labeled.
    */
  def enumerationDrilldown(facts: DataFrame, evidence: DataFrame,
      maxEntities: Int = 10, factsPerEntity: Int = 3): DataFrame = {
    val ev = evidence.select(col("fact_uuid"))
    val evFacts = facts.join(ev, Seq("fact_uuid"), "left_semi")
    val topEntities = evFacts
      .select(explode(array(col("subject_uuid"), col("object_uuid"))).as("drill_uuid"))
      .groupBy(col("drill_uuid")).agg(count(lit(1)).as("n_incident"))
      .orderBy(col("n_incident").desc, col("drill_uuid"))
      .limit(maxEntities)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("drill_uuid")).orderBy(col("fact_uuid"))
    facts
      .join(org.apache.spark.sql.functions.broadcast(topEntities),
        facts("subject_uuid") === col("drill_uuid") ||
          facts("object_uuid") === col("drill_uuid"))
      .join(ev, Seq("fact_uuid"), "left_anti") // only NEW facts
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= factsPerEntity)
      .select(col("fact_uuid"), col("fact"), col("drill_uuid").as("entity_uuid"),
        lit("enumeration").as("source"))
  }
}
