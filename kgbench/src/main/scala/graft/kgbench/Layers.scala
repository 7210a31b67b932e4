package graft.kgbench

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.assemble.TripleAssembler
import graft.canon.{ConnectedComponents, EntityDedup}
import graft.chunk.TurnChunker
import graft.extract.TripleExtractor
import graft.link.{EntityLinker, TopicResolver}
import graft.model._
import graft.pipeline.Ingest
import graft.query._
import graft.synth.TranscriptGen
import graft.tables.SnapshotLog

/** Calls into the library's layers, one span per call.
  *
  * The build and append here are the traced forms of `Ingest.run` and
  * `Ingest.runIncremental`: the same public stage functions called in the
  * same order with the same arguments, each stage's output materialized at
  * its boundary so its work lands in its own span. Untraced runs call
  * `Ingest.run` / `Ingest.runIncremental` themselves. The query operations
  * are written once: with tracing off their spans do nothing and the calls
  * are exactly the public composites (`researchQuestion`, `searchAuto`).
  */
final class Layers(ctx: Ctx) {
  import ctx.spark.implicits._
  private val spark = ctx.spark
  private val tr = ctx.tracer

  private def materialize[T](ds: Dataset[T], rowsKey: String): Dataset[T] = {
    val p = ds.persist(StorageLevel.MEMORY_AND_DISK)
    tr.attr(rowsKey, p.count().toDouble)
    p
  }

  /** Dedup of one corpus' mentions. The pending / edges / components spans
    * profile the sub-stages `dedup` runs internally (it union-finds small
    * pending tables in one process); they are extra work of traced runs.
    */
  private def canon(mentions: Dataset[Mention], cfg: EntityDedup.Config)
      : (Dataset[Entity], DataFrame) = tr.span("canon") {
    val pending = tr.span("canon.pending", extra = true) {
      materialize(EntityDedup.pendingEntities(spark, mentions, cfg), "pending_rows")
    }
    val edges = tr.span("canon.edges", extra = true) {
      materialize(EntityDedup.candidateEdges(spark, pending, cfg), "edge_rows")
    }
    tr.span("canon.cc", extra = true) {
      tr.attr("component_rows", ConnectedComponents.run(spark, edges).count().toDouble)
    }
    edges.unpersist(); pending.unpersist()
    tr.span("canon.dedup") {
      val (e, r) = EntityDedup.dedup(spark, mentions, cfg)
      (materialize(e, "entity_rows"), materialize(r, "remap_rows"))
    }
  }

  /** Traced `Ingest.run` into an empty warehouse. */
  def tracedBuild(turns: Dataset[Turn], dir: String, cfg: Ingest.Config): Unit = {
    val log = new SnapshotLog(spark, dir)
    def commit(name: String, df: DataFrame, partitionBy: Seq[String] = Nil,
        bloomKeys: Seq[String] = Nil, aux: Seq[Seq[String]] = Nil): DataFrame =
      tr.span("tables.commit") {
        tr.attr(s"commit.$name", 1)
        log.commit(name, df, partitionBy, bloomKeys, aux)
        log.read(name).get
      }
    val chunks = tr.span("chunk") { materialize(TurnChunker.chunk(spark, turns, cfg.chunker), "rows_out") }
    val chunksDf = commit("chunks", chunks.toDF(), Seq("group_id"), Seq("chunk_uuid"))
    chunks.unpersist()
    val raw = tr.span("extract") {
      materialize(TripleExtractor.extract(spark, chunksDf.as[Chunk]), "rows_out")
    }
    val rawDf = commit("raw_triples", raw.toDF(), Seq("group_id"))
    raw.unpersist()
    val mentions = tr.span("extract.mentions") {
      materialize(TripleExtractor.mentions(spark, rawDf.as[RawTriple]), "rows_out")
    }
    val mentionsDf = commit("mentions", mentions.toDF(), Seq("group_id"))
    mentions.unpersist()
    val (e, r) = canon(mentionsDf.as[Mention], cfg.dedup)
    commit("entities", e.toDF(), Seq("group_id"), Seq("entity_uuid"))
    val remapDf = commit("entity_remap", r)
    e.unpersist(); r.unpersist()
    val topics = tr.span("link.topics") {
      val names = rawDf.select(explode(concat($"topics",
          when(lower($"subject_type") === "topic", array($"subject")).otherwise(array()),
          when(lower($"object_type") === "topic", array($"object")).otherwise(array())))
          .as("name"), $"group_id")
        .distinct()
      materialize(TopicResolver.resolve(spark, names, cfg.ontology, cfg.topics), "rows_out")
    }
    val topicsDf = commit("topics", topics)
    topics.unpersist()
    val triples = tr.span("assemble") {
      materialize(TripleAssembler.assemble(spark, rawDf.as[RawTriple], remapDf, topicsDf,
        cfg.assembler).toDF(), "rows_out")
    }
    commit("triples", triples, Seq("group_id"), Seq("fact_uuid"), Ingest.TripleLookupBlooms)
    triples.unpersist()
  }

  /** Traced `Ingest.runIncremental` into an existing warehouse. Each merge
    * span records the (segments scanned, segments live) of its merge.
    */
  def tracedAppend(turns: Dataset[Turn], dir: String, cfg: Ingest.Config): Unit = {
    val log = new SnapshotLog(spark, dir)
    val existing = log.read("entities").get
    val chunks = tr.span("chunk") { materialize(TurnChunker.chunk(spark, turns, cfg.chunker), "rows_out") }
    val raw = tr.span("extract") { materialize(TripleExtractor.extract(spark, chunks), "rows_out") }
    val mentions = tr.span("extract.mentions") {
      materialize(TripleExtractor.mentions(spark, raw), "rows_out")
    }
    val (newEntities, remap) = canon(mentions, cfg.dedup)
    val linked = tr.span("link.entity_link") {
      val l = materialize(EntityLinker.link(spark, newEntities.toDF(), existing, cfg.linker), "rows_out")
      tr.attr("matched_rows", l.filter(!$"is_new").count().toDouble)
      l
    }
    val finalRemap = remap
      .join(linked.select($"entity_uuid".as("canonical_uuid"),
        $"resolved_uuid", $"resolved_name"), Seq("canonical_uuid"))
      .select($"entity_uuid", $"resolved_uuid".as("canonical_uuid"),
        $"resolved_name".as("canonical_name"), $"name")
    val topics = tr.span("link.topics") {
      val names = raw.toDF().select(explode($"topics").as("name"), $"group_id").distinct()
      materialize(TopicResolver.resolve(spark, names, cfg.ontology, cfg.topics), "rows_out")
    }
    val triples = tr.span("assemble") {
      val t0 = TripleAssembler.assemble(spark, raw, finalRemap, topics, cfg.assembler).toDF()
      val t =
        if (log.read("triples").exists(_.columns.contains("embedding"))) Retriever.withFactEmbeddings(t0)
        else t0
      materialize(t, "rows_out")
    }
    def merge(name: String)(f: => Unit): Unit = tr.span("tables.merge") {
      f
      log.lastMergeScan.foreach { case (s, n) =>
        tr.attr(s"$name.scanned", s); tr.attr(s"$name.live", n)
      }
    }
    merge("entities") {
      log.mergeUpsert("entities", Ingest.foldLinkedEntities(spark, linked, existing.columns.toSeq),
        Seq("entity_uuid"), Seq("group_id"))
    }
    merge("triples") {
      log.mergeAppend("triples", triples, Seq("fact_uuid"), Seq("group_id"),
        auxBloomKeys = Ingest.TripleLookupBlooms)
    }
    merge("chunks") {
      log.mergeAppend("chunks", chunks.toDF(), Seq("chunk_uuid"), Seq("group_id"))
    }
    Seq(chunks, raw, mentions, newEntities, remap, linked, topics, triples).foreach(_.unpersist())
  }

  // ---- reads ------------------------------------------------------------------

  /** Entity uuid and canonical name for a surface form (QueryApp's resolve). */
  def resolve(entities: DataFrame, name: String): Option[(String, String)] =
    tr.span("query.resolve") {
      GraphLookup.resolveEntity(entities, name).orderBy($"entity_uuid").limit(1).collect()
        .headOption.map(r => (r.getString(0), r.getString(1)))
    }

  /** explore_neighbors through the bloom-indexed point lookup (QueryApp's
    * `neighbors`). Returns the incident-fact relation and the neighbor rows.
    */
  def neighbors(log: SnapshotLog, uuid: String): (DataFrame, Array[Row]) = {
    val incident = tr.span("tables.lookup") {
      val df = log.readForAnyKeys("triples",
        Seq(Seq("subject_uuid") -> Seq(Seq(uuid)), Seq("object_uuid") -> Seq(Seq(uuid)))).get
      log.lastLookupScan.foreach { case (s, n) => tr.attr("scanned", s); tr.attr("live", n) }
      df
    }
    val rows = tr.span("query.neighbors") { GraphLookup.exploreNeighbors(incident, uuid).collect() }
    (incident, rows)
  }

  def entityInfo(entities: DataFrame, canonicalName: String): Array[Row] =
    tr.span("query.entity") { GraphLookup.getEntityInfo(entities, canonicalName).collect() }

  // ---- queries ----------------------------------------------------------------

  /** `Researcher.researchQuestion`, decomposed into its two calls. */
  def research(facts: DataFrame, entities: DataFrame, q: String): Array[Row] = {
    val d = tr.span("query.decompose") { Decomposer.decompose(q, TranscriptGen.ontology) }
    if (tr.enabled) tr.span("query.resolve", extra = true) {
      Researcher.resolveHints(entities, d.entityHints).collect()
    }
    val rows = tr.span("query.retrieve") {
      Researcher.research(facts, entities, q, d.entityHints, d.topicHints,
        enumeration = d.questionType == Decomposer.Enumeration).collect()
    }
    tr.attr("result_rows", rows.length)
    rows
  }

  /** `Retriever.searchAuto`, decomposed into its two calls. */
  def search(facts: DataFrame, entities: DataFrame, q: String): Array[Row] = {
    val anchors = tr.span("query.resolve") { Retriever.resolveQueryEntities(entities, q) }
    val rows = tr.span("query.retrieve") { Retriever.search(facts, q, anchors).collect() }
    tr.attr("result_rows", rows.length)
    rows
  }

  /** `Researcher.researchBatch` over k questions, hints from the decomposer. */
  def researchBatch(facts: DataFrame, entities: DataFrame, qs: Seq[String]): Array[Row] = {
    val questions = tr.span("query.decompose") {
      qs.zipWithIndex.map { case (q, i) =>
        val d = Decomposer.decompose(q, TranscriptGen.ontology)
        (i.toLong, q, d.entityHints, d.topicHints, d.questionType == Decomposer.Enumeration)
      }.toDF("query_id", "question", "entity_hints", "topic_hints", "enumeration")
    }
    val rows = tr.span("query.retrieve") { Researcher.researchBatch(facts, entities, questions).collect() }
    tr.attr("result_rows", rows.length)
    rows
  }
}
