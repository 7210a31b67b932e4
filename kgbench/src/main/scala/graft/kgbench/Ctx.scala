package graft.kgbench

import java.io.File
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Turn
import graft.synth.TranscriptGen

/** What one workload run hands back to `Main`. `endToEnd` are the metrics
  * every workload reports (BENCHMARK.json `end_to_end`); `named` are the
  * workload's own end-to-end metrics, printed by name; `layers` is filled
  * only by traced runs. `notes` are printed with the report.
  */
final case class Outcome(
    attempted: Int,
    failed: Int,
    failures: Seq[String],
    endToEnd: Seq[Metric],
    named: Seq[Metric],
    layers: Seq[Metric],
    notes: Seq[String])

/** Shared state of one benchmark process: the session, the tracer, the
  * listener (traced runs only) and the run's scratch directory.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val work: String, val tracer: Tracer, val groups: Option[GroupCounters]) {

  private val failures = scala.collection.mutable.ArrayBuffer[String]()

  def path(name: String): String = Paths.get(work, name).toString

  /** A path under the scratch directory that does not exist yet. */
  def freshDir(name: String): String = { delete(path(name)); path(name) }

  def delete(p: String): Unit = FileUtils.deleteDirectory(new File(p))

  def copyTree(src: String, dst: String): Unit = {
    delete(dst)
    FileUtils.copyDirectory(new File(src), new File(dst))
  }

  private def files(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toVector.sortBy(_.toString)
    finally s.close()
  }

  def treeBytes(root: String): Long = files(root).map(Files.size).sum

  /** SHA-256 over every file's relative path and bytes, in path order. */
  def treeDigest(root: String): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val base = Paths.get(root)
    files(root).foreach { f =>
      md.update(base.relativize(f).toString.getBytes("UTF-8"))
      md.update(Files.readAllBytes(f))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Record one output check; a false `ok` is a failed check. */
  def check(ok: Boolean, what: => String): Boolean = {
    if (!ok) failures += what
    ok
  }

  def failureLog: Seq[String] = failures.toSeq

  // ---- inputs ---------------------------------------------------------------

  /** A TranscriptGen corpus of about `turns` turns; 200-turn conversations
    * and a long first conversation (skew 8), as in the generator's default
    * shape.
    */
  def corpusConfig(turns: Int, genSeed: Long): TranscriptGen.Config = {
    val perConv = 200
    val skew = 8
    TranscriptGen.Config(numConvs = math.max((turns - skew * perConv) / perConv + 1, 2),
      turnsPerConv = perConv, skew = skew, seed = genSeed)
  }

  /** Generate a corpus and write it as parquet. `sorted` lays it out
    * storage-ordered (each conversation in one file, ordered by turn), the
    * precondition of the chunker's `sortedInput` route. `convPrefix` makes
    * the conversation ids of an increment distinct from every earlier one.
    */
  def writeCorpus(cfg: TranscriptGen.Config, dir: String, sorted: Boolean,
      convPrefix: String = ""): Unit = {
    import spark.implicits._
    val t0 = TranscriptGen.transcripts(spark, cfg)
    val t = if (convPrefix.isEmpty) t0 else t0.map(r => r.copy(conv_id = convPrefix + r.conv_id))
    val parts = spark.sparkContext.defaultParallelism
    val laid =
      if (sorted) t.repartition(parts, col("conv_id")).sortWithinPartitions("conv_id", "turn_idx")
      else t.coalesce(parts)
    laid.write.parquet(dir)
  }

  def readCorpus(dir: String): Dataset[Turn] = {
    import spark.implicits._
    spark.read.parquet(dir).as[Turn]
  }

  // ---- traced-run helpers ---------------------------------------------------

  /** Counters of a set of spans (their own job groups only). */
  def counters(spans: Seq[Span]): Counters = {
    val c = new Counters
    groups.foreach(g => spans.foreach(s => c += g(s.group)))
    c
  }

  def drain(): Unit = org.apache.spark.kgbenchshim.ListenerBusDrain(spark.sparkContext)
}
