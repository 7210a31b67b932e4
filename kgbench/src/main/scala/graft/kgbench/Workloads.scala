package graft.kgbench

import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.chunk.TurnChunker
import graft.functions.Norm
import graft.pipeline.Ingest
import graft.query.{GraphLookup, Retriever}
import graft.synth.TranscriptGen
import graft.tables.SnapshotLog

/** Input sizes. They are small because every run starts a fresh JVM and
  * Spark session, and a run's set-up, warm pass and measured window must
  * fit a few tens of seconds on a 4-core machine. At these sizes the
  * pipeline's per-job fixed cost is a large share of every operation.
  */
object Sizes {
  val BuildTurns = 60000 // bulk_build corpus
  val StandingTurns = 10000 // standing warehouse of append_and_read and query_mix
  val BatchConvs = 5 // append batch: 5 conversations of 200 turns
  val QuestionSets = 6 // query_mix question sets: two per cycle, the last for the warm pass
}

/** One append increment: its parquet input, the conversation-id prefix its
  * rows carry, an entity its facts mention, and its golden
  * (conv_id, predicate, date) keys.
  */
private final case class Batch(dir: String, prefix: String, touched: String,
    goldenKeys: Set[Seq[String]])

/** The three workloads. Each: set-up (charged to `setup_s`, which counts
  * from JVM start and includes one uncounted warm pass of the workload's
  * operation), a measured loop that runs until the measured operation time
  * reaches `--seconds`, and output checks made outside the timed calls.
  */
final class Workloads(ctx: Ctx, jvmStartMs: Long) {
  import ctx.spark.implicits._
  private val spark = ctx.spark
  private val tr = ctx.tracer
  private val layers = new Layers(ctx)
  private val sortedCfg = Ingest.Config(chunker = TurnChunker.Config(sortedInput = true))

  private def sinceJvmStart: Double = (System.currentTimeMillis() - jvmStartMs) / 1000.0

  /** Runs `op(i)` until the measured seconds it returns add up to the
    * budget, stopping only after whole cycles of `cycle` ops. An op that
    * throws counts as attempted and failed; the loop also ends when wall
    * time passes four budgets, so failing ops cannot spin it forever.
    */
  private final class Loop {
    var attempted = 0
    var failed = 0
    var measured = 0.0
    private val gc0 = gcSeconds

    def run(cycle: Int = 1)(op: Int => (Double, Boolean)): Unit = {
      val wall0 = System.nanoTime()
      var i = 0
      while (i % cycle != 0 ||
          (measured < ctx.seconds && (System.nanoTime() - wall0) / 1e9 < 4 * ctx.seconds)) {
        attempted += 1
        Try(op(i)) match {
          case Success((s, ok)) => measured += s; if (!ok) failed += 1
          case Failure(e) =>
            failed += 1
            ctx.check(ok = false, s"op $i threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        i += 1
      }
    }

    def gcPerOp: Double = (gcSeconds - gc0) / math.max(attempted, 1)
  }

  private def gcSeconds: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0
  }

  /** The `end_to_end` metrics every workload reports: `setup_s`; median and
    * tail latency of the workload's principal operation (`principal`: a
    * build, an append + read, a question answered by research or search);
    * and operations completed per measured second (`ops` of them).
    */
  private def outcome(loop: Loop, setupS: Double, principal: Seq[Double], ops: Int,
      named: Seq[Metric], layerMetrics: => Seq[Metric], notes: Seq[String] = Nil): Outcome = {
    val (label, tail) = if (principal.isEmpty) ("none", 0.0) else Stats.tail(principal)
    val endToEnd = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("op_s_p50", Stats.medianOr0(principal), "s"),
      Metric("ops_per_s", if (loop.measured > 0) ops / loop.measured else 0.0, "1/s"),
      Metric("op_s_tail", tail, "s"))
    val ratio = Metric("failed_op_ratio", loop.failed.toDouble / math.max(loop.attempted, 1), "ratio")
    Outcome(loop.attempted, loop.failed, ctx.failureLog, endToEnd, named :+ ratio,
      if (tr.enabled) { ctx.drain(); layerMetrics :+ Metric("jvm.gc_s", loop.gcPerOp, "s") }
      else Nil,
      Seq(s"op_s_tail is the $label of ${principal.size} latencies",
        "op_s_p50 latencies (s): " + principal.map(x => f"$x%.3f").mkString(" ")) ++ notes)
  }

  // ===========================================================================
  // bulk_build
  // ===========================================================================

  private def tripleKeys(df: DataFrame): Set[Seq[String]] =
    df.select($"conv_id", lower($"subject"), $"predicate", lower($"object"),
        coalesce($"date_context", lit(""))).distinct().collect()
      .map(r => Seq.tabulate(5)(r.getString)).toSet

  private def entityKeys(df: DataFrame): Set[Seq[String]] =
    df.select($"canonical_name", $"entity_type", $"aliases", $"group_id").collect()
      .map(r => Seq(r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet

  def bulkBuild(): Outcome = {
    val cfg = ctx.corpusConfig(Sizes.BuildTurns, ctx.seed)
    val corpusDir = ctx.path("corpus")
    ctx.writeCorpus(cfg, corpusDir, sorted = true)
    val turns = ctx.readCorpus(corpusDir)
    val inputBytes = ctx.treeBytes(corpusDir)
    // warm pass: two builds; build time still falls noticeably after the first
    for (_ <- 1 to 2) {
      Ingest.run(spark, turns, ctx.freshDir("warm"), sortedCfg)
      ctx.delete(ctx.path("warm"))
    }
    val setupS = sinceJvmStart

    lazy val goldenT = tripleKeys(TranscriptGen.goldenTriples(spark, cfg).toDF())
    lazy val goldenE = entityKeys(TranscriptGen.goldenEntities(spark, cfg))
    val storedBytes = ArrayBuffer[Double]()
    def checkBuild(dir: String, what: String): Boolean = {
      val log = new SnapshotLog(spark, dir)
      val t = tripleKeys(log.read("triples").get)
      val e = entityKeys(log.read("entities").get
        .withColumn("aliases", array_join(array_sort($"aliases"), "|")))
      storedBytes += ctx.treeBytes(dir).toDouble
      ctx.check(t == goldenT, s"$what: ${(t diff goldenT).size} pipeline-only and " +
          s"${(goldenT diff t).size} golden-only triple keys") &
        ctx.check(e == goldenE, s"$what: ${(e diff goldenE).size} pipeline-only and " +
          s"${(goldenE diff e).size} golden-only entities")
    }

    val plain = ArrayBuffer[Double]()
    val traced = ArrayBuffer[Double]()
    val liveSegments = ArrayBuffer[Double]()
    val loop = new Loop
    loop.run() { i =>
      val dir = ctx.freshDir(s"build-$i")
      val (_, s) = ctx.timed(tr.trace("plain.build")(Ingest.run(spark, turns, dir, sortedCfg)))
      plain += s
      var ok = checkBuild(dir, s"build $i")
      ctx.delete(dir)
      var measured = s
      if (tr.enabled) {
        val tdir = ctx.freshDir(s"traced-build-$i")
        val (_, ts) = ctx.timed(tr.trace("build")(layers.tracedBuild(turns, tdir, sortedCfg)))
        traced += ts
        measured += ts
        ok &= checkBuild(tdir, s"traced build $i")
        liveSegments += new SnapshotLog(spark, tdir).history("triples").filter($"live").count().toDouble
        // the append path's layers (linking, merges, lookups) on the new warehouse
        val b = batch(i)
        val (_, as) = ctx.timed(tr.trace("append")(layers.tracedAppend(ctx.readCorpus(b.dir), tdir,
          Ingest.Config())))
        ok &= checkAppend(tdir, b, i)
        val (rs, readOk) = readAfterAppend(tdir, b, i)
        measured += as + rs
        ok &= readOk
        ctx.delete(tdir)
        ctx.delete(b.dir)
      }
      (measured, ok)
    }

    val turnsPerS = if (plain.isEmpty) 0.0 else cfg.totalTurns / Stats.median(plain.toSeq)
    val named = Seq(
      Metric("build_turns_per_s", turnsPerS, "turns/s"),
      Metric("stored_bytes_per_input_byte", Stats.medianOr0(storedBytes.toSeq) / inputBytes, "B/B"),
      Metric("corpus_turns", cfg.totalTurns.toDouble, "count"),
      Metric("input_bytes", inputBytes.toDouble, "B"))
    outcome(loop, setupS, plain.toSeq, plain.size, named, {
      val lm = new LayerMetrics(ctx)
      lm.pipeline(build = Set("build"), append = Set("append")) ++ lm.tables(liveSegments.toSeq) ++ lm.queries ++
        lm.jobCounts ++ Seq(
          Metric("trace.overhead_ratio",
            if (traced.isEmpty) 0.0 else Stats.median(traced.toSeq) / Stats.median(plain.toSeq) - 1, "ratio"),
          Metric("trace.traced_build_turns_per_s",
            if (traced.isEmpty) 0.0 else cfg.totalTurns / Stats.median(traced.toSeq), "turns/s"),
          lm.coverage(Set("build")),
          lm.taskCpuPerOp)
    })
  }

  // ===========================================================================
  // standing warehouse (append_and_read, query_mix)
  // ===========================================================================

  /** Build the standing warehouse from a seeded corpus; returns its path. */
  private def standing(): String = {
    val cfg = ctx.corpusConfig(Sizes.StandingTurns, ctx.seed)
    val corpusDir = ctx.path("standing-corpus")
    ctx.writeCorpus(cfg, corpusDir, sorted = true)
    val dir = ctx.path("standing")
    Ingest.run(spark, ctx.readCorpus(corpusDir), dir, sortedCfg)
    dir
  }

  // ===========================================================================
  // append_and_read
  // ===========================================================================

  /** Batch i: fresh conversations whose ids carry a per-batch prefix, so no
    * conversation of the warehouse or of another batch is re-submitted.
    */
  private def batch(i: Int): Batch = {
    val cfg = TranscriptGen.Config(numConvs = Sizes.BatchConvs, turnsPerConv = 200, skew = 1,
      seed = ctx.seed * 1000003L + i)
    val prefix = s"s${ctx.seed}b$i-"
    val dir = ctx.freshDir(s"batch-$i")
    ctx.writeCorpus(cfg, dir, sorted = false, convPrefix = prefix)
    val occ = TranscriptGen.occurrences(spark, cfg).orderBy($"conv_id").first()
    val golden = TranscriptGen.goldenTriples(spark, cfg).toDF()
      .select(concat(lit(prefix), $"conv_id"), $"predicate", coalesce($"date_context", lit("")))
      .distinct().collect().map(r => Seq.tabulate(3)(r.getString)).toSet
    Batch(dir, prefix, Norm.normalizeEntityName(occ.subj_used), golden)
  }

  /** Neighbors + entity read of the batch's touched entity; checks that the
    * batch's facts are readable and reach the neighbor result.
    */
  private def readAfterAppend(wh: String, b: Batch, i: Int): (Double, Boolean) = {
    val log = new SnapshotLog(spark, wh)
    val ((canon, incident, nbrs, info), s) = ctx.timed {
      val entities = log.read("entities").get
      val (canon, incident, nbrs) = tr.trace("op.neighbors") {
        val (uuid, canon) = layers.resolve(entities, b.touched).getOrElse(
          throw new IllegalStateException(s"batch $i: touched entity '${b.touched}' not found"))
        val (incident, rows) = layers.neighbors(log, uuid)
        (canon, incident, rows)
      }
      (canon, incident, nbrs, tr.trace("op.entity")(layers.entityInfo(entities, canon)))
    }
    val mine = incident.filter($"conv_id".startsWith(b.prefix))
      .select($"predicate", $"subject_uuid", $"object_uuid").collect()
    val reached = mine.exists { f =>
      nbrs.exists(n => n.getAs[String]("predicate") == f.getString(0) &&
        Set(f.getString(1), f.getString(2)).contains(n.getAs[String]("neighbor_uuid")))
    }
    val ok = ctx.check(reached, s"batch $i: neighbors of '${b.touched}' hold no fact of the batch") &
      ctx.check(info.length == 1 && info.head.getString(0) == canon,
        s"batch $i: entity info for '$canon' returned ${info.length} rows")
    (s, ok)
  }

  /** The batch's facts: present, readable by fact_uuid point lookup, and
    * the same (conv, predicate, date) keys as the generator's golden set.
    */
  private def checkAppend(wh: String, b: Batch, i: Int): Boolean = {
    val log = new SnapshotLog(spark, wh)
    val rows = log.read("triples").get.filter($"conv_id".startsWith(b.prefix))
      .select($"fact_uuid", $"conv_id", $"predicate", coalesce($"date_context", lit(""))).collect()
    val uuids = rows.map(_.getString(0)).distinct.toSeq
    val readable = if (uuids.isEmpty) 0L
      else log.readForKey("triples", "fact_uuid", uuids).get.select($"fact_uuid").distinct().count()
    val keys = rows.map(r => Seq(r.getString(1), r.getString(2), r.getString(3))).toSet
    ctx.check(uuids.nonEmpty && readable == uuids.size,
        s"batch $i: ${uuids.size} new facts, $readable readable by fact_uuid") &
      ctx.check(keys == b.goldenKeys, s"batch $i: ${(keys diff b.goldenKeys).size} " +
        s"pipeline-only and ${(b.goldenKeys diff keys).size} golden-only fact keys")
  }

  def appendAndRead(): Outcome = {
    val base = standing()
    val digest = ctx.treeDigest(base)
    // warm pass: one append + read on a throwaway copy
    val warm = ctx.path("warm")
    ctx.copyTree(base, warm)
    val wb = batch(-1)
    Ingest.runIncremental(spark, ctx.readCorpus(wb.dir), warm)
    tr.untraced(readAfterAppend(warm, wb, -1))
    ctx.delete(warm)
    val wh = ctx.path("wh")
    ctx.copyTree(base, wh)
    val identical = ctx.check(ctx.treeDigest(wh) == digest, "warehouse copy differs from the standing warehouse")
    val setupS = sinceJvmStart

    val plainAppendS = ArrayBuffer[Double]()
    val tracedAppendS = ArrayBuffer[Double]()
    val readS = ArrayBuffer[Double]()
    val cycleS = ArrayBuffer[Double]()
    /** Append batch `i` (through `Ingest.runIncremental`, or its traced
      * composition), check it and read it back: (append s, read s, ok).
      */
    def appendOnce(i: Int, traced: Boolean): (Double, Double, Boolean) = {
      val b = batch(i)
      val turns = ctx.readCorpus(b.dir)
      val (_, s) = ctx.timed {
        if (traced) tr.trace("append")(layers.tracedAppend(turns, wh, Ingest.Config()))
        else tr.trace("plain.append")(Ingest.runIncremental(spark, turns, wh))
      }
      val appended = checkAppend(wh, b, i)
      val (rs, readOk) = readAfterAppend(wh, b, i)
      ctx.delete(b.dir)
      (s, rs, appended && readOk)
    }
    val loop = new Loop
    loop.run() { i =>
      val (s, rs, ok) = appendOnce(2 * i, traced = false)
      plainAppendS += s
      readS += rs
      cycleS += s + rs
      // traced runs follow each untraced append with a traced one
      val (ts, trs, tok) = if (tr.enabled) appendOnce(2 * i + 1, traced = true) else (0.0, 0.0, true)
      if (tr.enabled) tracedAppendS += ts
      (s + rs + ts + trs, ok && tok && identical)
    }

    val named = Seq(
      Metric("append_s_p50", Stats.medianOr0(plainAppendS.toSeq), "s"),
      Metric("read_after_append_ms_p50", Stats.medianOr0(readS.toSeq) * 1000, "ms"),
      Metric("appends", plainAppendS.size.toDouble, "count"))
    outcome(loop, setupS, cycleS.toSeq, cycleS.size, named, {
      val lm = new LayerMetrics(ctx)
      lm.pipeline(build = Set.empty, append = Set("append")) ++ lm.tables(Nil) ++ lm.queries ++ lm.jobCounts ++ Seq(
        Metric("trace.overhead_ratio",
          if (tracedAppendS.isEmpty || plainAppendS.isEmpty) 0.0
          else Stats.median(tracedAppendS.toSeq) / Stats.median(plainAppendS.toSeq) - 1, "ratio"),
        Metric("trace.traced_build_turns_per_s", 0.0, "turns/s"),
        lm.coverage(Set("append")),
        lm.taskCpuPerOp)
    })
  }

  // ===========================================================================
  // query_mix
  // ===========================================================================

  private val kinds = Seq("research", "search", "neighbors", "entity", "research_batch")

  def queryMix(): Outcome = {
    val wh = standing()
    val log = new SnapshotLog(spark, wh)
    val triples = log.read("triples").get
    val entities = log.read("entities").get
    val facts = Retriever.withFactEmbeddings(triples)
    // Questions are facts' own texts, one per predicate (the generator's
    // fact templates), so every cycle asks the same kinds of question
    // whatever the seed. Set r = the (r+1)-th fact of each predicate in a
    // seeded order; cycle c researches set 2c and searches set 2c + 1, the
    // warm pass uses the last set.
    val byRank = triples
      .withColumn("rank", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy($"predicate").orderBy(xxhash64($"fact_uuid", lit(ctx.seed)), $"fact_uuid")))
      .filter($"rank" <= Sizes.QuestionSets)
      .select($"rank", $"predicate", $"fact", $"subject").collect()
      .groupBy(_.getInt(0))
      .map { case (r, rows) => r -> rows.sortBy(_.getString(1)).map(x => (x.getString(2), x.getString(3))).toSeq }
    def questions(set: Int): Seq[(String, String)] = byRank(1 + Math.floorMod(set, Sizes.QuestionSets))
    val factText = triples.select($"fact_uuid", $"fact").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val perCycle = questions(0).size
    // one cycle, in a seeded order, of (kind, question set, question):
    // research on each question of its first set and search on each of its
    // second, one read of each research question's subject (neighbors for
    // the first three, entity for the rest), one research_batch over the
    // research questions
    def cycle(c: Int): Seq[(String, Int, Int)] =
      new scala.util.Random(ctx.seed * 1000003L + c).shuffle(
        (0 until perCycle).flatMap(j => Seq(("research", 2 * c, j), ("search", 2 * c + 1, j),
          (if (j < 3) "neighbors" else "entity", 2 * c, j))) :+ (("research_batch", 2 * c, 0)))
    val cycleLen = cycle(0).size

    val byKind = kinds.map(_ -> ArrayBuffer[Double]()).toMap
    var batchChecked = false

    def op(kind: String, qs: Seq[(String, String)], j: Int): (Double, Boolean) = {
      val (q, subject) = qs(j)
      kind match {
        case "research" =>
          val (rows, s) = ctx.timed(tr.trace("op.research")(layers.research(facts, entities, q)))
          (s, ctx.check(rows.exists(_.getAs[String]("fact") == q), s"research '$q': own fact missing"))
        case "search" =>
          val (rows, s) = ctx.timed(tr.trace("op.search")(layers.search(facts, entities, q)))
          (s, ctx.check(rows.exists(r => factText.get(r.getAs[String]("fact_uuid")).contains(q)),
            s"search '$q': own fact missing"))
        case "neighbors" =>
          val ((uuid, rows), s) = ctx.timed(tr.trace("op.neighbors") {
            val (uuid, _) = layers.resolve(entities, subject).getOrElse(
              throw new IllegalStateException(s"entity '$subject' not found"))
            (uuid, layers.neighbors(log, uuid)._2)
          })
          val full = GraphLookup.exploreNeighbors(triples, uuid).collect()
          (s, ctx.check(rows.nonEmpty && rows.toSet == full.toSet,
            s"neighbors of '$subject': bloom-pruned result differs from the full scan"))
        case "entity" =>
          val (rows, s) = ctx.timed(tr.trace("op.entity")(layers.entityInfo(entities, subject)))
          (s, ctx.check(rows.length == 1 && rows.head.getString(0) == subject,
            s"entity '$subject': ${rows.length} rows"))
        case "research_batch" =>
          val texts = qs.map(_._1)
          val (rows, s) = ctx.timed(tr.trace("op.research_batch")(layers.researchBatch(facts, entities, texts)))
          val own = texts.zipWithIndex.forall { case (qq, k) =>
            rows.exists(r => r.getAs[Long]("query_id") == k && r.getAs[String]("fact") == qq)
          }
          var ok = ctx.check(own, s"research_batch: a question's own fact is missing")
          if (!batchChecked) {
            batchChecked = true
            def key(rs: Array[Row]) = rs.map(r => (r.getAs[String]("fact_uuid"),
              math.round(r.getAs[Double]("final_score") * 1e9))).toSet
            val single = tr.untraced(layers.research(facts, entities, texts.head))
            ok &= ctx.check(key(rows.filter(_.getAs[Long]("query_id") == 0)) == key(single),
              "research_batch differs from single research on its first question")
          }
          (s, ok)
      }
    }

    // warm pass: every kind once
    kinds.foreach(k => tr.untraced(op(k, questions(-1), 0)))
    val setupS = sinceJvmStart
    val all = ArrayBuffer[Double]()
    val overhead = ArrayBuffer[Double]()
    val loop = new Loop
    var ops = cycle(0)
    loop.run(cycle = cycleLen) { i =>
      if (i % cycleLen == 0) ops = cycle(i / cycleLen)
      val (k, set, j) = ops(i % cycleLen)
      val qs = questions(set)
      // traced runs repeat each query untraced, alternately before and after
      // the traced call, for the tracing overhead
      def untimed() = tr.untraced(op(k, qs, j))._1
      val before = if (tr.enabled && i % 2 == 0) Some(untimed()) else None
      val (s, ok) = op(k, qs, j)
      byKind(k) += s
      all += s
      if (tr.enabled) overhead += s / before.getOrElse(untimed()) - 1
      (s, ok)
    }

    def p50(k: String) = Stats.medianOr0(byKind(k).toSeq)
    val named = Seq(
      Metric("research_s_p50", p50("research"), "s"),
      Metric("search_s_p50", p50("search"), "s"),
      Metric("neighbors_ms_p50", p50("neighbors") * 1000, "ms"),
      Metric("entity_ms_p50", p50("entity") * 1000, "ms"),
      Metric("research_batch_questions_per_s",
        if (byKind("research_batch").isEmpty) 0.0 else perCycle / p50("research_batch"), "1/s"),
      Metric("queries_per_s", if (loop.measured > 0) all.size / loop.measured else 0.0, "1/s"))
    val (tailLabel, tail) = if (all.isEmpty) ("none", 0.0) else Stats.tail(all.toSeq)
    outcome(loop, setupS, (byKind("research") ++ byKind("search")).toSeq, all.size,
        named :+ Metric("query_s_tail", tail, "s"), {
      val lm = new LayerMetrics(ctx)
      lm.pipeline(build = Set.empty, append = Set.empty) ++ lm.tables(Nil) ++ lm.queries ++ lm.jobCounts ++ Seq(
        Metric("trace.overhead_ratio", Stats.medianOr0(overhead.toSeq), "ratio"),
        Metric("trace.traced_build_turns_per_s", 0.0, "turns/s"),
        lm.coverage(kinds.map("op." + _).toSet),
        lm.taskCpuPerOp)
    }, Seq(s"query_s_tail is the $tailLabel of ${all.size} query latencies"))
  }
}
