package graft.kgbench

/** Per-layer metrics of a traced run, computed from its spans and the
  * listener's counters. A trace is one build, append or query operation;
  * each metric is the median over the traces that exercise its layer, and 0
  * when none of the run's traces does. Times are self times: a span's
  * duration minus the part its child spans cover.
  */
final class LayerMetrics(ctx: Ctx) {
  private val tr = ctx.tracer

  private val queryKinds = Seq("research", "search", "neighbors", "entity", "research_batch")

  private def perTrace(roots: Set[String])(f: Seq[Span] => Option[Double]): Double =
    Stats.medianOr0(tr.roots.filter(r => roots(r.name)).flatMap(r => f(tr.inTrace(r.traceId))))

  private def named(ss: Seq[Span], names: Seq[String]): Seq[Span] =
    ss.filter(s => names.contains(s.name))

  /** The spans and all their descendants within one trace. */
  private def subtree(ss: Seq[Span], top: Seq[Span]): Seq[Span] = {
    val ids = scala.collection.mutable.Set(top.map(_.id): _*)
    ss.sortBy(_.id).foreach(s => if (ids(s.parent)) ids += s.id)
    ss.filter(s => ids(s.id))
  }

  private def self(names: String*)(ss: Seq[Span]): Option[Double] =
    named(ss, names) match {
      case Seq() => None
      case m => Some(m.map(tr.selfSeconds).sum)
    }

  private def attr(name: String, key: String)(ss: Seq[Span]): Option[Double] =
    named(ss, Seq(name)).flatMap(_.attrs.get(key)) match {
      case Seq() => None
      case xs => Some(xs.sum)
    }

  private def counter(names: String*)(f: Counters => Double)(ss: Seq[Span]): Option[Double] =
    named(ss, names) match {
      case Seq() => None
      case m => Some(f(ctx.counters(subtree(ss, m))))
    }

  private def ratio(a: Seq[Span] => Option[Double], b: Seq[Span] => Option[Double])(
      ss: Seq[Span]): Option[Double] =
    for (x <- a(ss); y <- b(ss) if y > 0) yield x / y

  private def m(name: String, unit: String, roots: Set[String])(f: Seq[Span] => Option[Double]) =
    Metric(name, perTrace(roots)(f), unit)

  /** Pipeline layers. Stages both paths run (chunk, extract, canon,
    * topics, assemble) are taken from the `build` traces when there are
    * any, else from the `append` traces; linking and merges only from
    * `append` traces.
    */
  def pipeline(build: Set[String], append: Set[String]): Seq[Metric] = {
    val roots = if (build.nonEmpty) build else append
    def p(name: String, unit: String)(f: Seq[Span] => Option[Double]) = m(name, unit, roots)(f)
    def a(name: String, unit: String)(f: Seq[Span] => Option[Double]) = m(name, unit, append)(f)
    val shuffled = (c: Counters) => c.shuffleBytes.toDouble
    Seq(
      p("chunk.self_s", "s")(self("chunk")),
      p("chunk.rows_out", "count")(attr("chunk", "rows_out")),
      p("chunk.shuffle_bytes", "B")(counter("chunk")(shuffled)),
      p("extract.self_s", "s")(self("extract", "extract.mentions")),
      p("extract.task_cpu_s", "s")(counter("extract", "extract.mentions")(_.cpuNs / 1e9)),
      p("extract.rows_out", "count")(attr("extract", "rows_out")),
      p("extract.triples_per_chunk", "ratio")(ratio(attr("extract", "rows_out"), attr("chunk", "rows_out"))),
      p("extract.mentions_rows_out", "count")(attr("extract.mentions", "rows_out")),
      p("canon.pending_self_s", "s")(self("canon.pending")),
      p("canon.edges_self_s", "s")(self("canon.edges")),
      p("canon.cc_self_s", "s")(self("canon.cc")),
      p("canon.dedup_self_s", "s")(self("canon.dedup")),
      p("canon.edges_per_pending", "ratio")(
        ratio(attr("canon.edges", "edge_rows"), attr("canon.pending", "pending_rows"))),
      p("canon.merge_ratio", "ratio")(ss =>
        ratio(attr("canon.dedup", "entity_rows"), attr("canon.pending", "pending_rows"))(ss).map(1 - _)),
      p("canon.spill_bytes", "B")(counter("canon")(_.spillBytes.toDouble)),
      p("link.topics_self_s", "s")(self("link.topics")),
      a("link.entity_link_self_s", "s")(self("link.entity_link")),
      a("link.match_ratio", "ratio")(
        ratio(attr("link.entity_link", "matched_rows"), attr("link.entity_link", "rows_out"))),
      p("assemble.self_s", "s")(self("assemble")),
      p("assemble.rows_out", "count")(attr("assemble", "rows_out")),
      p("assemble.kept_ratio", "ratio")(ratio(attr("assemble", "rows_out"), attr("extract", "rows_out"))),
      p("assemble.shuffle_bytes", "B")(counter("assemble")(shuffled)),
      p("tables.commit_self_s", "s")(self("tables.commit")),
      a("tables.merge_self_s", "s")(self("tables.merge")),
      p("tables.bytes_written", "B")(counter("tables.commit", "tables.merge")(_.outputBytes.toDouble)),
      a("tables.merge_segments_scanned_ratio", "ratio")(
        ratio(attr("tables.merge", "triples.scanned"), attr("tables.merge", "triples.live"))))
  }

  /** Point-lookup pruning, and the live segment count of the triples table
    * (from the builds when given, else as seen by the lookups).
    */
  def tables(buildLiveSegments: Seq[Double]): Seq[Metric] = {
    val lookups = Set("op.neighbors")
    Seq(
      m("tables.lookup_segments_scanned_ratio", "ratio", lookups)(
        ratio(attr("tables.lookup", "scanned"), attr("tables.lookup", "live"))),
      if (buildLiveSegments.nonEmpty)
        Metric("tables.live_segments", Stats.median(buildLiveSegments), "count")
      else m("tables.live_segments", "count", lookups)(attr("tables.lookup", "live")))
  }

  /** Query layers over every query operation. */
  def queries: Seq[Metric] = {
    val ops = queryKinds.map("op." + _).toSet
    val retrieving = Set("op.research", "op.search")
    Seq(
      m("query.decompose_self_s", "s", ops)(self("query.decompose")),
      m("query.resolve_self_s", "s", ops)(self("query.resolve")),
      m("query.retrieve_self_s", "s", ops)(self("query.retrieve")),
      m("query.rows_examined_per_result", "ratio", retrieving) { ss =>
        val rows = ss.filter(_.parent < 0).flatMap(_.attrs.get("result_rows")).sum
        if (rows <= 0) None else Some(ctx.counters(ss.filterNot(_.extra)).inputRecords / rows)
      })
  }

  /** Exact job and stage counts per build, append and query operation.
    * Builds and appends are counted on their untraced calls; query
    * operations on their traced calls without the extra profiling spans.
    */
  def jobCounts: Seq[Metric] = {
    def jobs(root: String) = perTrace(Set(root))(ss => Some(ctx.counters(ss.filterNot(_.extra)).jobs.toDouble))
    def stages(root: String) =
      perTrace(Set(root))(ss => Some(ctx.counters(ss.filterNot(_.extra)).stages.toDouble))
    Seq(
      Metric("pipeline.jobs_per_build", jobs("plain.build"), "count"),
      Metric("pipeline.jobs_per_append", jobs("plain.append"), "count")) ++
      queryKinds.map(k => Metric(s"query.jobs_per_op.$k", jobs(s"op.$k"), "count")) ++
      queryKinds.map(k => Metric(s"spark.stages_per_op.$k", stages(s"op.$k"), "count"))
  }

  /** Share of each traced operation's wall time covered by its layer spans. */
  def coverage(roots: Set[String]): Metric =
    m("trace.span_coverage", "ratio", roots) { ss =>
      ss.find(_.parent < 0).filter(_.seconds > 0).map(r => tr.covered(tr.children(r)) / r.seconds)
    }

  /** Task CPU seconds per traced operation (mean over every trace). */
  def taskCpuPerOp: Metric = {
    val all = tr.roots.flatMap(r => tr.inTrace(r.traceId))
    Metric("spark.task_cpu_s", ctx.counters(all).cpuNs / 1e9 / math.max(tr.roots.size, 1), "s")
  }
}
