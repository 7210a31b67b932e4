package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.pipeline.Ingest
import graft.synth.TranscriptGen
import graft.tables.SnapshotLog

/** Golden-triple E2E (SURVEY.md §5.2-3): seeded transcripts → full pipeline →
  * (subject, predicate, object, date) set vs the independently-derived golden
  * fixture; P/R ≥ 0.95 per BASELINE.json. Plus resume/lineage (north rule).
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = TranscriptGen.Config(numConvs = 8, turnsPerConv = 30, skew = 4)

  private def key(df: org.apache.spark.sql.DataFrame) =
    df.select($"conv_id", lower($"subject").as("s"), $"predicate".as("p"),
      lower($"object").as("o"), coalesce($"date_context", lit("")).as("d"))
      .distinct().collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3), r.getString(4)))
      .toSet

  test("E2E: pipeline triples match golden fixture with P/R >= 0.95") {
    val turns = TranscriptGen.transcripts(spark, cfg)
    val result = Ingest.runInMemory(spark, turns)
    val got = key(result.triples)
    val expected = key(
      TranscriptGen.goldenTriples(spark, cfg).toDF()
        .withColumnRenamed("object", "object")) // golden has same column names
    assert(expected.nonEmpty && got.nonEmpty)
    val tp = (got intersect expected).size.toDouble
    val precision = tp / got.size
    val recall = tp / expected.size
    info(f"precision=$precision%.4f recall=$recall%.4f got=${got.size} expected=${expected.size}")
    assert(precision >= 0.95, f"precision $precision%.4f < 0.95; sample miss: " +
      (got diff expected).take(3).mkString("; "))
    assert(recall >= 0.95, f"recall $recall%.4f < 0.95; sample miss: " +
      (expected diff got).take(3).mkString("; "))
  }

  test("per-turn text equality under stable (conv_id, turn_idx) ordering") {
    val a = TranscriptGen.transcripts(spark, cfg).orderBy($"conv_id", $"turn_idx")
      .collect()
    val b = TranscriptGen.transcripts(spark, cfg).repartition(17)
      .orderBy($"conv_id", $"turn_idx").collect()
    assert(a.length === b.length)
    a.zip(b).foreach { case (x, y) => assert(x === y) }
  }

  test("topics resolve to ontology labels (synonyms map to canonical)") {
    val turns = TranscriptGen.transcripts(spark, cfg)
    val result = Ingest.runInMemory(spark, turns)
    val labels = result.triples.select(explode($"topics").as("t")).distinct()
      .collect().map(_.getString(0)).toSet
    val valid = TranscriptGen.ontology.map(_.label).toSet
    assert(labels.nonEmpty)
    assert(labels.subsetOf(valid), s"unresolved topic labels: ${labels -- valid}")
  }

  test("snapshot commit / resume: second run reuses committed stages byte-identically") {
    val dir = Files.createTempDirectory("graft-wh").toString
    val small = TranscriptGen.Config(numConvs = 4, turnsPerConv = 20, skew = 2)
    val turns = TranscriptGen.transcripts(spark, small)
    val r1 = Ingest.run(spark, turns, dir)
    val t1 = r1.triples.orderBy($"fact_uuid").collect()
    // relaunch: all stages committed → must read back, not recompute
    val log = new SnapshotLog(spark, dir)
    val snapBefore = log.latestSnapshot("triples").get
    val r2 = Ingest.run(spark, turns, dir)
    val t2 = r2.triples.orderBy($"fact_uuid").collect()
    assert(log.latestSnapshot("triples").get === snapBefore, "resume must not re-commit")
    assert(t1.toSeq === t2.toSeq)
    // lineage rows exist per stage with row counts
    val lin = log.lineage("triples").get
    assert(lin.agg(sum($"output_rows")).collect().head.getLong(0) === t1.length.toLong)
  }

  test("committed-path parity: Ingest.run stage tables yield the same triples as runInMemory") {
    val small = TranscriptGen.Config(numConvs = 5, turnsPerConv = 25, skew = 3)
    val turns = TranscriptGen.transcripts(spark, small)
    val inMem = Ingest.runInMemory(spark, turns).triples
      .orderBy($"fact_uuid").collect()
    val dir = Files.createTempDirectory("graft-parity").toString
    val committed = Ingest.run(spark, turns, dir).triples
      .orderBy($"fact_uuid").collect()
    assert(inMem.length === committed.length && inMem.nonEmpty)
    inMem.zip(committed).foreach { case (a, b) => assert(a === b) }
  }

  test("determinism under parallelism + skew: triple set identical across partitionings") {
    // heavily skewed corpus: conv 0 is 12× the others (north-star skew case)
    val skewed = TranscriptGen.Config(numConvs = 5, turnsPerConv = 25, skew = 12)
    def tripleSet(partitions: Int): Set[String] = {
      val turns = TranscriptGen.transcripts(spark, skewed).repartition(partitions)
      Ingest.runInMemory(spark, turns).triples
        .select($"fact_uuid").collect().map(_.getString(0)).toSet
    }
    val a = tripleSet(3)
    val b = tripleSet(16)
    assert(a === b, "output must not depend on partitioning")
    assert(a.nonEmpty)
  }

  test("fused triples-only run: identical triples table, no chunks table written") {
    val small = TranscriptGen.Config(numConvs = 5, turnsPerConv = 25, skew = 3)
    val turns = TranscriptGen.transcripts(spark, small)
    val dirA = Files.createTempDirectory("graft-fusedA").toString
    val full = Ingest.run(spark, turns, dirA).triples.orderBy($"fact_uuid").collect()
    val dirB = Files.createTempDirectory("graft-fusedB").toString
    // fused path has no layout requirement — hand it an arbitrary repartition
    val fusedRes = Ingest.runFused(spark, turns.repartition(7), dirB)
    val fused = fusedRes.triples.orderBy($"fact_uuid").collect()
    assert(full.length === fused.length && full.nonEmpty)
    full.zip(fused).foreach { case (a, b) => assert(a === b) }
    val log = new SnapshotLog(spark, dirB)
    assert(log.latestSnapshot("chunks").isEmpty,
      "fused run must not materialize the chunks table")
    assert(fusedRes.chunks.isEmpty)
    // windowed / header-stack configs are outside fused semantics → rejected
    intercept[IllegalArgumentException] {
      Ingest.runFused(spark, turns, dirB,
        Ingest.Config(chunker = graft.chunk.TurnChunker.Config(windowSize = 2)))
    }
  }

  test("persisted fact vectors (factEmbeddings): committed == derived; increments follow the layout") {
    import graft.query.Retriever
    val small = TranscriptGen.Config(numConvs = 5, turnsPerConv = 25, skew = 3)
    val turns = TranscriptGen.transcripts(spark, small)
    val dir = Files.createTempDirectory("graft-factemb").toString
    val r = Ingest.run(spark, turns, dir, Ingest.Config(factEmbeddings = true))
    assert(r.triples.columns.contains("embedding"),
      "the committed triples table must carry the fact vectors")
    // committed vectors are value-identical to the derive-at-read path
    val committed = r.triples.select($"fact_uuid", $"embedding").collect()
      .map(x => x.getString(0) -> x.getSeq[Double](1)).toMap
    val derived = Retriever.withFactEmbeddings(r.triples.drop("embedding"))
      .select($"fact_uuid", $"embedding").collect()
    assert(derived.nonEmpty)
    derived.foreach(x => assert(committed(x.getString(0)) === x.getSeq[Double](1)))
    // read path SKIPS re-derivation when the column is already present
    // (same plan object back, no added projection)
    assert(Retriever.withFactEmbeddings(r.triples) eq r.triples)
    // an increment ingested WITHOUT the flag still follows the committed
    // layout (segment schemas must agree for the merge-on-read union)
    val inc = TranscriptGen.Config(numConvs = 3, turnsPerConv = 25, skew = 1, seed = 99L)
    val r2 = Ingest.runIncremental(spark, TranscriptGen.transcripts(spark, inc), dir)
    assert(r2.triples.columns.contains("embedding"))
    assert(r2.triples.filter($"embedding".isNull).count() === 0,
      "every segment, including the increment's, carries vectors")
    // and retrieval runs straight off the committed column
    val q = r2.triples.orderBy($"fact_uuid").select($"fact").first().getString(0)
    val hits = Retriever.search(Retriever.withFactEmbeddings(r2.triples), q,
      Seq.empty, topK = 5).collect()
    assert(hits.nonEmpty)
    // in memory the flag attaches the same vectors as derive-at-read
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy($"fact_uuid").collect().toSeq
    val inMem = Ingest.runInMemory(spark, turns, Ingest.Config(factEmbeddings = true)).triples
    assert(inMem.columns.contains("embedding"))
    val expected = rows(Retriever.withFactEmbeddings(Ingest.runInMemory(spark, turns).triples))
    assert(expected.nonEmpty && rows(inMem) === expected)
  }

  test("partial resume: killing after chunks commit resumes from raw_triples") {
    val dir = Files.createTempDirectory("graft-wh2").toString
    val small = TranscriptGen.Config(numConvs = 3, turnsPerConv = 15, skew = 2)
    val turns = TranscriptGen.transcripts(spark, small)
    val log = new SnapshotLog(spark, dir)
    // simulate a killed job that only committed the chunks stage
    log.commit("chunks", graft.chunk.TurnChunker.chunk(spark, turns).toDF(), Seq("group_id"))
    val r = Ingest.run(spark, turns, dir)
    assert(log.latestSnapshot("chunks").get === 1L, "chunks stage must be reused")
    assert(log.latestSnapshot("triples").nonEmpty)
    assert(r.triples.count() > 0)
  }

  test("resume from raw_triples keeps a fact whose topic-typed subject is in no topics array") {
    import graft.model.RawTriple
    val dir = Files.createTempDirectory("graft-topicside").toString
    val turns = TranscriptGen.transcripts(spark,
      TranscriptGen.Config(numConvs = 2, turnsPerConv = 10, skew = 1))
    // "Rising Prices" is a synonym of the ontology label "Inflation" and
    // appears in no row's topics array, only as a topic-typed subject
    def raw(turn: Int, fact: String, s: String, sType: String, rel: String, o: String,
        topics: Seq[String]) =
      RawTriple(s"chunk-$turn", "conv-x", turn, "default", fact, s, sType, rel, o,
        "Organization", null, topics)
    val log = new SnapshotLog(spark, dir)
    log.commit("raw_triples", Seq(
      raw(0, "Rising Prices squeezed Granite Foods LLC.", "Rising Prices", "Topic",
        "squeezed", "Granite Foods LLC", Nil),
      raw(1, "Apex Systems Inc partnered with Granite Foods LLC.", "Apex Systems Inc",
        "Organization", "partnered with", "Granite Foods LLC", Seq("Cloud Services")))
      .toDS().toDF(), Seq("group_id"))

    val triples = Ingest.run(spark, turns, dir).triples
    assert(log.latestSnapshot("raw_triples").get === 1L, "raw_triples must be resumed")
    val topicUuid = log.read("topics").get.filter($"name" === "Rising Prices")
      .select($"topic_uuid").as[String].collect()
    assert(topicUuid.length === 1, "the topic-typed subject must reach topic resolution")
    val kept = triples.filter($"fact" === "Rising Prices squeezed Granite Foods LLC.")
      .select($"subject_uuid", $"subject").collect()
    assert(kept.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq((topicUuid.head, "Inflation")))
  }
}
