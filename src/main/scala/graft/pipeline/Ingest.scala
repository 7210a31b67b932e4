package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.assemble.TripleAssembler
import graft.canon.EntityDedup
import graft.chunk.TurnChunker
import graft.extract.TripleExtractor
import graft.link.{EntityLinker, TopicResolver}
import graft.model._
import graft.query.Retriever
import graft.synth.TranscriptGen
import graft.tables.{Checkpoints, SnapshotLog}

/** End-to-end knowledge-graph construction over a transcripts table
  * (SURVEY.md §3.1): chunk → extract → collect/dedup/canonicalize → link →
  * topic-resolve → assemble → commit partitioned tables with per-stage
  * snapshots and per-partition lineage.
  *
  * One private stage sequence (`stages`) fixes that order for every entry
  * point; an entry point only chooses where the stage outputs go:
  *  - `runInMemory`: no table layer (tests, bench, oracle queries);
  *  - `run`: every stage one committed table, and a relaunched run resumes
  *    from the last committed snapshot (`SnapshotLog.computeIfAbsent`) —
  *    the reference's phase barriers (asyncio.gather fan-ins,
  *    pipeline.py:1378,1548,1688) as tables;
  *  - `runFused`: `run` without the chunks table;
  *  - `runIncremental`: an additional corpus linked against the committed
  *    entity table and merged into the existing tables.
  *
  * Extraction route: the FUSED single-pass extractor
  * (`TripleExtractor.extractFused`) exactly when the entry point
  * materializes no chunk table — `runInMemory` under the fused identity
  * precondition (windowSize == 1, no markdown header stacks: the defaults;
  * spec-asserted row-identical to extract(chunk(turns))) and `runFused`.
  * `run` and `runIncremental` extract from the chunks they store.
  */
object Ingest {

  /** Aux lookup blooms committed with every triples segment: the 1-hop
    * adjacency surface (explore_neighbors, get_chunks_by_edge, entity
    * provenance) is point lookups by subject/object uuid, which are NOT the
    * table's merge key — these let `SnapshotLog.readForAnyKeys` open only
    * the segments incident to the requested entity. Built in the same
    * single key-column read-back pass as the fact_uuid merge bloom.
    */
  val TripleLookupBlooms: Seq[Seq[String]] =
    Seq(Seq("subject_uuid"), Seq("object_uuid"))

  case class Result(
      chunks: DataFrame,
      rawTriples: DataFrame,
      entities: DataFrame,
      triples: DataFrame)

  case class Config(
      chunker: TurnChunker.Config = TurnChunker.Config(),
      dedup: EntityDedup.Config = EntityDedup.Config(),
      linker: EntityLinker.Config = EntityLinker.Config(),
      topics: TopicResolver.Config = TopicResolver.Config(),
      assembler: TripleAssembler.Config = TripleAssembler.Config(),
      ontology: Seq[OntologyTopic] = TranscriptGen.ontology,
      // attach fact vectors to the triples, persisted in the committed table
      // (the reference ingests fact embeddings into its vector store,
      // pipeline.py:974-1005 + the fact_embeddings index) — retrieval then
      // reads the column instead of re-deriving per read. Default off: the
      // embedder is deterministic, so derive-at-read is value-identical and
      // the table stays 64 doubles/row slimmer. Increments follow the
      // committed table's layout instead.
      factEmbeddings: Boolean = false,
      groupId: String = "default")

  /** Run without the table layer (used by tests/bench). Only the raw-triple
    * stage is persisted: its downstream consumers (mentions, topic names,
    * assembly) would otherwise re-run the chunk-window shuffle and regex
    * extraction each. Chunks are not an input of the triple stream on the
    * fused route, and have a single consumer (extraction) otherwise, so
    * `Result.chunks` stays lazy — an action that materializes only
    * `.triples` pays ONE corpus pass on the fused route.
    */
  def runInMemory(spark: SparkSession, turns: Dataset[Turn],
      cfg: Config = Config()): Result =
    stages(spark, turns, cfg, InMemory)

  /** Full run with committed snapshots + lineage + resume.
    * Tables: chunks, raw_triples, mentions, entities, entity_remap, topics,
    * triples — all partitioned by group_id (tenant pruning, SURVEY.md §1.1)
    * except the small remap/topic tables.
    */
  def run(spark: SparkSession, turns: Dataset[Turn], warehouseDir: String,
      cfg: Config = Config()): Result =
    stages(spark, turns, cfg, Committed(new SnapshotLog(spark, warehouseDir), chunkTable = true))

  /** Triples-only committed run: the raw-triple table is computed by the
    * FUSED single-pass extractor straight off the turn stream and the
    * corpus-sized chunks table is never materialized — at 10^12 turns that
    * is ~1× corpus bytes of write volume saved, and no chunk-window
    * shuffle/stats pass at all. Provenance still resolves per triple via the
    * carried (conv_id, turn_idx, chunk_uuid); deployments that need chunk
    * TEXT provenance (J12 lookups, v7 chunk-centric retrieval) use `run`.
    * Fused semantics are windowSize=1 without markdown header stacks; other
    * chunker configs must take `run`.
    */
  def runFused(spark: SparkSession, turns: Dataset[Turn], warehouseDir: String,
      cfg: Config = Config()): Result = {
    require(cfg.chunker.windowSize == 1 && !cfg.chunker.markdownHeaders,
      "runFused implements windowSize=1 / markdownHeaders=false semantics; " +
        "use run() for windowed or header-stack configs")
    stages(spark, turns, cfg, Committed(new SnapshotLog(spark, warehouseDir), chunkTable = false))
  }

  /** Incremental ingest of an additional corpus into an EXISTING warehouse
    * (J4 entity linking, reference entity_registry.py:134-218): the new
    * corpus is chunked/extracted/deduped on its own, then its canonical
    * entities are linked against the committed entity table — matches adopt
    * the existing uuid/name, new ones append (MERGE semantics). New triples
    * and chunks append idempotently on fact_uuid / chunk_uuid.
    *
    * `conv_id` is the store-wide conversation key (chunk/fact uuids derive
    * from it): the additional corpus must carry fresh conv ids for
    * genuinely new conversations — a re-submitted conv_id deduplicates by
    * uuid (idempotent re-ingest) rather than storing divergent content.
    */
  def runIncremental(spark: SparkSession, turns: Dataset[Turn], warehouseDir: String,
      cfg: Config = Config()): Result = {
    val log = new SnapshotLog(spark, warehouseDir)
    val existing = log.read("entities").getOrElse(
      throw new IllegalStateException("runIncremental needs a committed entities table"))
    stages(spark, turns, cfg, Incremental(log, existing))
  }

  /** Where one entry point's stage outputs go. */
  private sealed trait Sink
  /** Lazy frames; raw triples persisted, entities/remap/topics truncated. */
  private case object InMemory extends Sink
  /** Every stage a committed, resume-aware table; without `chunkTable` no
    * chunks table is written and extraction takes the fused route.
    */
  private final case class Committed(log: SnapshotLog, chunkTable: Boolean) extends Sink
  /** Linked against `existing`, then merged into `log`'s tables. */
  private final case class Incremental(log: SnapshotLog, existing: DataFrame) extends Sink

  /** The one stage sequence: chunk → raw triples → mentions → dedup (→ link,
    * incremental only) → topics → assemble (→ fact embeddings).
    */
  private def stages(spark: SparkSession, turns: Dataset[Turn], cfg: Config,
      sink: Sink): Result = {
    import spark.implicits._
    val committed = sink match { case Committed(log, _) => Some(log); case _ => None }
    def stage(name: String, partitionBy: Seq[String] = Nil, bloomKeys: Seq[String] = Nil,
        auxBloomKeys: Seq[Seq[String]] = Nil)(f: => DataFrame): DataFrame =
      committed.fold(f)(_.computeIfAbsent(name, partitionBy, bloomKeys, auxBloomKeys)(f))

    val chunks = sink match {
      case Committed(_, false) => spark.emptyDataset[Chunk]
      // feeds extraction and the chunks merge
      case _: Incremental =>
        TurnChunker.chunk(spark, turns, cfg.chunker).persist(StorageLevel.MEMORY_AND_DISK)
      case _ => stage("chunks", Seq("group_id"), bloomKeys = Seq("chunk_uuid")) {
        TurnChunker.chunk(spark, turns, cfg.chunker).toDF()
      }.as[Chunk]
    }
    val fused = sink match {
      case InMemory => cfg.chunker.windowSize == 1 && !cfg.chunker.markdownHeaders
      case Committed(_, chunkTable) => !chunkTable
      case _: Incremental => false
    }
    val raw0 = stage("raw_triples", Seq("group_id")) {
      (if (fused) TripleExtractor.extractFused(spark, turns,
          cfg.chunker.minChars, cfg.chunker.groupId)
        else TripleExtractor.extract(spark, chunks)).toDF()
    }.as[RawTriple]
    // raw feeds mentions, topic names and assembly; committed runs read the
    // stage table instead
    val raw = if (committed.isEmpty) raw0.persist(StorageLevel.MEMORY_AND_DISK) else raw0

    val mentions = stage("mentions", Seq("group_id")) {
      TripleExtractor.mentions(spark, raw).toDF()
    }.as[Mention]

    val (entities0, remap0) = committed match {
      // entities + entity_remap are one stage: resume only when both committed
      case Some(log) => (log.read("entities"), log.read("entity_remap")) match {
        case (Some(e), Some(r)) => (e, r)
        case _ =>
          val (e, r) = EntityDedup.dedup(spark, mentions, cfg.dedup)
          log.commit("entities", e.toDF(), Seq("group_id"), bloomKeys = Seq("entity_uuid"))
          log.commit("entity_remap", r)
          (log.read("entities").get, log.read("entity_remap").get)
      }
      case None =>
        val (e, r) = EntityDedup.dedup(spark, mentions, cfg.dedup)
        (e.toDF(), r)
    }

    // incremental: remap each mention name through the link result to the
    // resolved (existing or new) entity
    val (linked, remap1) = sink match {
      case Incremental(_, existing) =>
        val l = EntityLinker.link(spark, entities0, existing, cfg.linker)
        (Some(l), remap0
          .join(l.select($"entity_uuid".as("canonical_uuid"),
            $"resolved_uuid", $"resolved_name"), Seq("canonical_uuid"))
          .select($"entity_uuid", $"resolved_uuid".as("canonical_uuid"),
            $"resolved_name".as("canonical_name"), $"name"))
      case _ => (None, remap0)
    }

    val topics0 = stage("topics") {
      TopicResolver.resolve(spark, topicNames(raw.toDF()), cfg.ontology, cfg.topics)
    }

    // in memory, entities/remap/topics are tiny (≈ distinct names); eagerly
    // truncating their lineage (the analogue of the committed stage tables)
    // stops assembly's broadcast subqueries from re-running the whole
    // chunk+extract subtree — measured as a repeated multi-second broadcast
    // build. The three are mutually independent, so they materialize in ONE
    // job (truncateAll) instead of three sequential driver rounds.
    val (entities, remap, topics) = sink match {
      case InMemory =>
        val Seq(e, r, t) = Checkpoints.truncateAll(entities0, remap1, topics0)
        (e, r, t)
      case _ => (entities0, remap1, topics0)
    }

    val triples = stage("triples", Seq("group_id"), bloomKeys = Seq("fact_uuid"),
        auxBloomKeys = TripleLookupBlooms) {
      val t = TripleAssembler.assemble(spark, raw, remap, topics, cfg.assembler).toDF()
      val embed = sink match {
        // segment schemas must agree across increments: follow the COMMITTED
        // table's layout, regardless of this run's flag
        case Incremental(log, _) => log.read("triples").exists(_.columns.contains("embedding"))
        case _ => cfg.factEmbeddings
      }
      if (embed) Retriever.withFactEmbeddings(t) else t
    }

    sink match {
      case Incremental(log, existing) =>
        log.mergeUpsert("entities", foldLinkedEntities(spark, linked.get, existing.columns),
          Seq("entity_uuid"), Seq("group_id"))
        log.mergeAppend("triples", triples, Seq("fact_uuid"), Seq("group_id"),
          auxBloomKeys = TripleLookupBlooms)
        log.mergeAppend("chunks", chunks.toDF(), Seq("chunk_uuid"), Seq("group_id"))
        // the merges have committed: release this corpus' cached frames
        chunks.unpersist(); raw.unpersist()
        Result(chunks.toDF(), raw.toDF(), log.read("entities").get, log.read("triples").get)
      case _ => Result(chunks.toDF(), raw.toDF(), entities, triples)
    }
  }

  /** Topic surface forms of a raw-triple table, one row per (name,
    * group_id): the topics array ∪ topic-typed subjects ∪ topic-typed
    * objects, in one pass over raw (not a 3-way union = 3 scans). Assembly
    * resolves topic-typed sides against the topic table with an inner join,
    * so a side missing here drops its fact.
    */
  private def topicNames(raw: DataFrame): DataFrame =
    raw.select(explode(concat(col("topics"),
        when(lower(col("subject_type")) === "topic", array(col("subject"))).otherwise(array()),
        when(lower(col("object_type")) === "topic", array(col("object"))).otherwise(array())))
        .as("name"), col("group_id"))
      .distinct()

  /** Fold EntityLinker output into one upsert row per resolved uuid
    * (entity_registry.py:252-333 merge-on-match): matched rows REPLACE the
    * committed entity (same uuid/name/embedding, merged summary, appended
    * aliases); new rows append. Several new entities can link to ONE
    * existing uuid, so the fold is deterministic per uuid: the EXISTING
    * summary merges exactly ONCE, then each linked row's OWN summary in
    * sorted order — folding the per-row pre-merged `resolved_summary`s
    * would repeat the existing text once per linked row. Alias/chunk sets
    * union; scalar columns take the max_by(name, summary) row's values.
    */
  private[graft] def foldLinkedEntities(spark: SparkSession, linked: DataFrame,
      entityCols: Seq[String]): DataFrame = {
    import spark.implicits._
    val mergeAllUdf = udf((ex: String, ss: Seq[String]) =>
      ss.sorted.foldLeft(Option(ex).getOrElse(""))((acc, s) =>
        graft.functions.Norm.mergeSummaries(acc, s)))
    val entityRows0 = linked
      .withColumn("own_summary", $"summary")
      .withColumn("ex_summary", $"resolved_ex_summary")
      .withColumn("entity_uuid", $"resolved_uuid")
      .withColumn("canonical_name", $"resolved_name")
      .withColumn("name", $"resolved_name")
      .withColumn("summary", $"resolved_summary")
      .withColumn("aliases", $"resolved_aliases")
      .withColumn("embedding", $"resolved_embedding")
      .drop("resolved_uuid", "resolved_name", "resolved_ex_summary",
        "resolved_summary", "resolved_aliases", "resolved_embedding", "is_new")
      .select((entityCols.map(col) :+ $"own_summary" :+ $"ex_summary"): _*)
    val scalarCols = entityCols.filterNot(c =>
      Set("entity_uuid", "summary", "aliases", "source_chunks").contains(c))
    val folded = entityRows0.groupBy($"entity_uuid")
      .agg(
        max_by(struct(scalarCols.map(col): _*), struct($"name", $"summary")).as("c"),
        // all rows of a matched uuid carry the SAME committed ex summary
        // (max = that value; null for brand-new uuids)
        mergeAllUdf(max($"ex_summary"), collect_set($"own_summary")).as("summary"),
        array_distinct(flatten(collect_list($"aliases"))).as("aliases"),
        slice(array_distinct(flatten(collect_list($"source_chunks"))), 1, 20)
          .as("source_chunks"))
      .select(entityCols.map(c =>
        if (scalarCols.contains(c)) col(s"c.$c").as(c) else col(c)): _*)
    // the semantic vector tracks the MERGED (name, summary) pair — recompute
    // it after the fold (the name-only `embedding` is unchanged by a summary
    // merge and stays as committed). Guarded: linking against a legacy
    // warehouse committed before the dual-embedding column keeps its schema.
    if (entityCols.contains("name_embedding")) {
      val nameEmbUdf = udf((n: String, s: String) =>
        graft.functions.Embed.semantic(n, s))
      folded.withColumn("name_embedding", nameEmbUdf($"name", $"summary"))
    } else folded
  }
}
