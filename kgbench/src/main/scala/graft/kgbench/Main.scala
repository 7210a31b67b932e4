package graft.kgbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in this JVM:
  *
  *   Main --workload bulk_build|append_and_read|query_mix --seed N
  *        --seconds S --trace 0|1 --work DIR [--cores N] [--spans FILE]
  *
  * Prints a human-readable report, then one JSON line with every metric
  * (end-to-end, the workload's named metrics and, traced, the per-layer
  * ones) and the output-check verdict. `kgbench/run.py` builds, launches
  * and reduces this to the benchmark's result line.
  */
object Main {

  private def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("kgbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Paths.get(work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(work, "spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    v.toString
  }

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def metrics(ms: Seq[Metric]): String =
    ms.map(m => s"${str(m.name)}: {${str("value")}: ${num(m.value)}, ${str("unit")}: ${str(m.unit)}}")
      .mkString("{", ", ", "}")

  private def spansJson(ctx: Ctx): String = {
    val tr = ctx.tracer
    val t0 = tr.spans.headOption.map(_.startNs).getOrElse(0L)
    tr.spans.map { s =>
      val c = ctx.counters(Seq(s))
      Seq(
        "trace" -> str(s.traceId), "id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> str(s.name), "start_ms" -> num((s.startNs - t0) / 1e6),
        "end_ms" -> num((s.endNs - t0) / 1e6), "self_s" -> num(tr.selfSeconds(s)),
        "extra" -> s.extra.toString,
        "attrs" -> s.attrs.map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString("{", ", ", "}"),
        "jobs" -> c.jobs.toString, "stages" -> c.stages.toString, "tasks" -> c.tasks.toString,
        "task_cpu_s" -> num(c.cpuNs / 1e9), "task_run_s" -> num(c.runMs / 1e3),
        "shuffle_read_bytes" -> c.shuffleReadBytes.toString,
        "shuffle_write_bytes" -> c.shuffleWriteBytes.toString,
        "spill_bytes" -> c.spillBytes.toString, "input_records" -> c.inputRecords.toString,
        "output_bytes" -> c.outputBytes.toString)
        .map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
    }.mkString("[\n", ",\n", "\n]\n")
  }

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = need("workload")
    val trace = need("trace") == "1"
    val work = need("work")
    val cores = opts.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = session(cores, work)
    try {
      val groups = if (trace) {
        val g = new GroupCounters
        spark.sparkContext.addSparkListener(g)
        Some(g)
      } else None
      val ctx = new Ctx(spark, need("seed").toLong, need("seconds").toDouble, work,
        new Tracer(trace, spark.sparkContext), groups)
      val w = new Workloads(ctx, jvmStartMs)
      val out = workload match {
        case "bulk_build" => w.bulkBuild()
        case "append_and_read" => w.appendAndRead()
        case "query_mix" => w.queryMix()
        case other => throw new IllegalArgumentException(s"unknown workload '$other'")
      }
      opts.get("spans").filter(_ => trace).foreach { p =>
        Files.write(Paths.get(p), spansJson(ctx).getBytes(UTF_8))
      }

      println(s"workload $workload  seed ${ctx.seed}  trace ${if (trace) 1 else 0}  local[$cores]")
      (out.endToEnd ++ out.named ++ out.layers).foreach(m => println(f"  ${m.name}%-40s ${m.value}%16.6f ${m.unit}"))
      out.notes.foreach(n => println(s"  note: $n"))
      out.failures.foreach(f => println(s"  FAILED CHECK: $f"))
      println(Seq(
        s"${str("workload")}: ${str(workload)}",
        s"${str("correct")}: ${out.failures.isEmpty}",
        s"${str("attempted")}: ${out.attempted}",
        s"${str("failed")}: ${out.failed}",
        s"${str("end_to_end")}: ${metrics(out.endToEnd)}",
        s"${str("named")}: ${metrics(out.named)}",
        s"${str("layers")}: ${metrics(out.layers)}",
        s"${str("notes")}: ${out.notes.map(str).mkString("[", ", ", "]")}",
        s"${str("failures")}: ${out.failures.map(str).mkString("[", ", ", "]")}")
        .mkString("{", ", ", "}"))
    } finally spark.stop()
  }
}
