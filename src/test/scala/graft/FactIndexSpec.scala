package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.Ingest
import graft.query.{Researcher, Retriever}
import graft.synth.TranscriptGen
import graft.tables.SnapshotLog

/** The query path's per-frame fact index: built once per `facts` frame
  * object by the first query, reused by later ones, never shared across
  * frames.
  */
class FactIndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val built = {
    val cfg = TranscriptGen.Config(numConvs = 6, turnsPerConv = 25, skew = 3)
    val r = Ingest.runInMemory(spark, TranscriptGen.transcripts(spark, cfg))
    (Retriever.withFactEmbeddings(r.triples).cache(), r.entities.cache())
  }

  /** `facts` with a row-evaluation counter: every evaluation of a fact row
    * (a scan of the fact table) bumps the accumulator once.
    */
  private def ticked(facts: DataFrame) = {
    val evals = spark.sparkContext.longAccumulator("fact-row-evals")
    val tick = udf { (_: String) => evals.add(1L); true }.asNondeterministic()
    (facts.filter(tick($"fact_uuid")), evals)
  }

  /** Spark jobs `body` starts on this thread. A marker job in its own group
    * flushes the listener bus, so every job start of `body` has been seen.
    */
  private def jobsOf[T](body: => T): (T, Int) = {
    val group = s"fact-index-spec-${System.nanoTime()}"
    val jobs = new AtomicInteger(0)
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.jobGroup.id")).foreach {
          case `group` => jobs.incrementAndGet()
          case g if g == group + "-flush" => flushed.countDown()
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(group + "-flush", "listener-bus flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(30, TimeUnit.SECONDS), "listener bus did not flush")
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }

  test("warm queries: search runs <= 3 jobs, non-thin research <= 5") {
    val (facts, entities) = built
    val qs = facts.orderBy($"fact_uuid").select($"fact", $"subject").limit(3).collect()
    // warm: the first query on the frame builds its index
    Retriever.search(facts, qs(0).getString(0), Retriever.resolveQueryEntities(entities,
      qs(0).getString(0))).collect()

    val q = qs(1).getString(0)
    val anchors = Retriever.resolveQueryEntities(entities, q)
    assert(anchors.nonEmpty, "fixture assumption: the graph strategy must run")
    val (hits, searchJobs) = jobsOf(Retriever.search(facts, q, anchors).collect())
    assert(hits.nonEmpty)
    assert(searchJobs <= 3, s"warm search ran $searchJobs jobs")

    // a non-thin question: enough merged evidence that neither expansion nor
    // refinement runs (no "graph"/"refinement" source in the result)
    def research(f: org.apache.spark.sql.Row) = Researcher.research(facts, entities,
      f.getString(0), entityHints = Seq(f.getString(1))).collect()
    def nonThin(ev: Array[org.apache.spark.sql.Row]) =
      ev.length >= Researcher.Config().thinEvidence &&
        ev.forall(_.getSeq[String](3).forall(s => s != "graph" && s != "refinement"))
    val candidates = facts.orderBy($"fact_uuid").select($"fact", $"subject").limit(20).collect()
    val rich = candidates.find(f => nonThin(research(f)))
    assert(rich.nonEmpty, "fixture assumption: some fact question has non-thin evidence")
    val (ev, researchJobs) = jobsOf(research(rich.get))
    assert(nonThin(ev))
    assert(researchJobs <= 5, s"warm non-thin research ran $researchJobs jobs")
  }

  test("a frame that only serves research builds no BM25 statistics") {
    val (facts, entities) = built
    val f = facts.orderBy($"fact_uuid").select($"fact", $"subject").first()
    val frame = facts.filter($"fact_uuid".isNotNull)
    def research() = Researcher.research(frame, entities, f.getString(0),
      entityHints = Seq(f.getString(1))).collect()
    val (cold, coldJobs) = jobsOf(research())
    val (warm, warmJobs) = jobsOf(research())
    assert(cold.toSeq === warm.toSeq)
    // the cold call adds only the row materialization, not the term-df build
    assert(coldJobs <= warmJobs + 1, s"cold research $coldJobs jobs, warm $warmJobs")
  }

  test("searchIndexed builds no fact index and evaluates no fact embedding") {
    val (facts, _) = built
    val (cents, assigned) = graft.ops.Similarity.buildIvfIndex(facts,
      nCentroids = 6, kmeansIters = 1, idCol = "fact_uuid", vecCol = "embedding")
    val embedded = spark.sparkContext.longAccumulator("fact-embeddings")
    val countingEmbed = udf { (s: String) => embedded.add(1L); graft.functions.Embed.embed(s) }
    val frame = facts.drop("embedding").withColumn("embedding", countingEmbed($"fact"))
    val q = "Quantum Dynamics acquisitions"
    val hits = Retriever.searchIndexed(frame, cents, assigned, q, Nil, topK = 5, nprobe = 6)
      .collect()
    assert(hits.nonEmpty)
    assert(embedded.value === 0L, "keyword + graph strategies must not read the embedding column")
  }

  test("with a reliable checkpoint dir, indexing a cached frame keeps the caller's cache") {
    val (facts, _) = built
    val sc = spark.sparkContext
    // SparkContext offers no public way to unset the dir; restore it after
    val setDir = classOf[org.apache.spark.SparkContext]
      .getMethod("checkpointDir_$eq", classOf[Option[_]])
    val saved = sc.getCheckpointDir
    val frame = facts.filter($"fact_uuid".isNotNull).cache()
    try {
      sc.setCheckpointDir(Files.createTempDirectory("graft-factindex-ckpt").toString)
      frame.count()
      Retriever.keywordSearch(frame, "acquisitions and partnerships").collect()
      assert(frame.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
        "the index must not unpersist the caller's cached frame")
    } finally {
      setDir.invoke(sc, saved)
      frame.unpersist()
    }
  }

  test("index and BM25 stats are built once: later queries add zero fact-row evaluations") {
    val (facts, entities) = built
    val nFacts = facts.count()
    val (frame, evals) = ticked(facts)
    val qs = facts.orderBy($"fact_uuid").select($"fact", $"subject").limit(3).collect()

    Retriever.search(frame, qs(0).getString(0), Nil).collect()
    assert(evals.value === nFacts, "the first query materializes the frame once")
    Researcher.research(frame, entities, qs(1).getString(0),
      entityHints = Seq(qs(1).getString(1))).collect()
    Retriever.keywordSearch(frame, qs(2).getString(0)).collect()
    assert(evals.value === nFacts, "2nd and 3rd queries must not re-read the fact table")
  }

  test("two threads querying one frame build one index and get identical rows") {
    val (facts, entities) = built
    val nFacts = facts.count()
    val (frame, evals) = ticked(facts)
    val f = facts.orderBy($"fact_uuid").select($"fact", $"subject").first()
    val start = new CountDownLatch(1)
    val results = new Array[Seq[String]](2)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 2).map { i =>
      new Thread(() =>
        try {
          start.await()
          val hits = Retriever.search(frame, f.getString(0), Nil).collect()
            .map(r => s"${r.getString(0)}:${r.getDouble(1)}").toSeq
          val ev = Researcher.research(frame, entities, f.getString(0),
            entityHints = Seq(f.getString(1))).collect().map(_.toString).toSeq
          results(i) = hits ++ ev
        } catch { case t: Throwable => errors.add(t) })
    }
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join(120000))
    assert(errors.isEmpty, errors)
    assert(results(0) != null && results(0).nonEmpty)
    assert(results(0) === results(1))
    assert(evals.value === nFacts, s"one index build expected, got ${evals.value} row evaluations")
  }

  test("a fresh frame after runIncremental sees the appended fact; the old frame keeps its snapshot") {
    val dir = Files.createTempDirectory("graft-factindex").toString
    Ingest.run(spark, TranscriptGen.transcripts(spark,
      TranscriptGen.Config(numConvs = 4, turnsPerConv = 20, skew = 2, seed = 42)), dir)
    val log = new SnapshotLog(spark, dir)
    val before = Retriever.withFactEmbeddings(log.read("triples").get)
    val beforeIds = before.select($"fact_uuid").as[String].collect().toSet
    // index the old frame before the append
    Retriever.search(before, "acquisitions and partnerships", Nil).collect()

    Ingest.runIncremental(spark, TranscriptGen.transcripts(spark,
      TranscriptGen.Config(numConvs = 3, turnsPerConv = 20, skew = 2, seed = 1042)), dir)
    val after = Retriever.withFactEmbeddings(log.read("triples").get)
    val appended = after.filter(!$"fact_uuid".isin(beforeIds.toSeq: _*))
      .orderBy($"fact_uuid").select($"fact_uuid", $"fact").first()
    val (id, q) = (appended.getString(0), appended.getString(1))

    def found(facts: DataFrame) =
      Retriever.search(facts, q, Nil).collect().map(_.getString(0)).contains(id)
    assert(found(after), "the fresh frame must return the appended fact")
    assert(!found(before), "the old frame's index must keep its own snapshot")
  }

  test("the index does not keep its frame alive") {
    val (facts, _) = built
    def indexedThenDropped(): java.lang.ref.WeakReference[DataFrame] = {
      val frame = facts.filter($"fact_uuid".isNotNull)
      Retriever.keywordSearch(frame, "acquisitions").collect()
      new java.lang.ref.WeakReference(frame)
    }
    val ref = indexedThenDropped()
    var tries = 0
    while (ref.get != null && tries < 50) { System.gc(); Thread.sleep(20); tries += 1 }
    assert(ref.get == null, "an indexed frame must be collectable once the caller drops it")
  }
}
