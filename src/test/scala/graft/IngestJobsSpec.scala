package graft

import java.nio.file.Files

import graft.pipeline.Ingest
import graft.synth.TranscriptGen

/** Spark job counts of every `Ingest` entry point on one fixed small corpus.
  * The entry points share one stage sequence; these pins show that each
  * still runs the plans it ran before they shared it (a stage that gains a
  * materialization, a lost persist or a changed extraction route moves a
  * count).
  */
class IngestJobsSpec extends SparkSpec {

  private val corpus = TranscriptGen.Config(numConvs = 4, turnsPerConv = 20, skew = 2, seed = 7)
  private val increment = TranscriptGen.Config(numConvs = 3, turnsPerConv = 20, skew = 1, seed = 707)

  private def tmp(name: String) = Files.createTempDirectory(name).toString

  test("job counts: run, resume, runFused, runIncremental, runInMemory") {
    val turns = TranscriptGen.transcripts(spark, corpus)
    val dir = tmp("graft-jobs")
    val counts = Seq(
      "run" -> jobsOf(Ingest.run(spark, turns, dir))._2,
      "resume" -> jobsOf(Ingest.run(spark, turns, dir))._2,
      "runFused" -> jobsOf(Ingest.runFused(spark, turns, tmp("graft-jobs-fused")))._2,
      "runIncremental" -> jobsOf(Ingest.runIncremental(spark,
        TranscriptGen.transcripts(spark, increment), dir))._2,
      "runInMemory.triples.count" -> jobsOf(Ingest.runInMemory(spark, turns).triples.count())._2)
    info(counts.map { case (k, v) => s"$k=$v" }.mkString(" "))
    assert(counts === Seq("run" -> 37, "resume" -> 0, "runFused" -> 30,
      "runIncremental" -> 59, "runInMemory.triples.count" -> 20))
  }
}
