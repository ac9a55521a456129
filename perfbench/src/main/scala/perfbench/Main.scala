package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

object Log {
  def err(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** The benchmark's workloads: one query per stage, chosen so that a run fits
  * the run budget (LAYERS.md). The nightly chain's merge stage also runs one
  * cycle against the orders archive. */
object Workloads {
  val nightlyStages: Seq[(String, Seq[String])] = Seq(
    "etl.ingest" -> Seq("q21_text_clean"),
    "etl.merge" -> Seq("q06_incremental_merge"),
    "etl.dims" -> Seq("q07_dim_product"),
    "etl.facts" -> Seq("q02_fact_order"),
    "etl.reports" -> Seq("q04_summary_report"))

  val curationStages: Seq[(String, Seq[String])] = Seq(
    "operators.dedup" -> Seq("dd09_decontaminate"),
    "operators.ann" -> Seq("ann02_ivf_topk"),
    "functions.text" -> Seq("tx04_fingerprint"))

  // warmPasses: untimed passes before the window. After one, each pass still
  // ran up to 25% faster than the one before while the JIT compiled Spark's
  // code. A count, not a time, so a loaded host gets the same warm-up; three
  // curation passes take about as long as two nightly ones.
  def apply(name: String): Workload = name match {
    case "warehouse_nightly" =>
      new QueryWorkload(name, nightlyStages, warmPasses = 2,
        (ctx, out, tables) => Inputs.nightly(ctx.spark, ctx.source, out, ctx.seed, factSample = 10, tables),
        archive = Some(new OrdersArchive(sampleOf = 6, files = 8, historyVersions = 128,
          updatesPerMerge = 300, insertsPerMerge = 100, lookupsPerCycle = 2)),
        archiveStage = "etl.merge")
    case "corpus_curation" =>
      new QueryWorkload(name, curationStages, warmPasses = 3,
        (ctx, out, tables) => Inputs.curation(ctx.spark, ctx.source, out, ctx.seed, tables))
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

/** Runs one workload in one Spark session and writes its figures as JSON.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --source <dir> --work <dir> --out <file> [--corrupt]
  *
  * Set-up (timed as `setup_s`): session start, the median of two input
  * generations and table creations, and the warm-up. Then a closed loop with
  * one client runs passes until they have taken `--seconds`. A pass's time is
  * its wall time less the share the host stole from this machine's vCPUs
  * ([[HostCpu.interval]]): on a shared host that share came and went from
  * run to run and moved wall times by up to 2.5x. `pass_s` is the fastest
  * pass of the window: passes still speed up as the JIT compiles Spark's
  * code, and other tenants' load only ever slows one down. With `--trace 1`
  * the window is split: an untraced half, then a half with the listeners
  * attached, whose difference is the tracing overhead. `--corrupt` offsets
  * every expected checksum, for the benchmark's own tests. */
object Main {
  // two, not three: a third cost 4-8 s per run of a run budget that the
  // warm passes need more
  val Preparations = 2

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def flag(name: String) = args.contains(s"--$name")
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Path.of(opts("work")).toAbsolutePath
    val out = Path.of(opts("out")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // the benchmark runs a full GC between passes; a periodic one would
      // land inside a timed pass
      .config("spark.cleaner.periodicGC.interval", "60min")
      // a nightly pass generates about 200 classes; in Spark's default
      // 100-entry code cache they evict each other, so every pass compiled
      // them all again and the JIT spent 11-16 s of CPU per 6 s pass on
      // them, time the host's load stretched unevenly from run to run
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val ctx = new Ctx(spark, opts("source"), work, seed, flag("corrupt"))
    val wl = Workloads(workload)
    try {
      val prepS = (0 until Preparations).map { k =>
        val p0 = System.nanoTime()
        wl.prepare(ctx, k)
        (System.nanoTime() - p0) / 1e9
      }
      val w0 = System.nanoTime()
      wl.warmUp(ctx)
      val warmS = (System.nanoTime() - w0) / 1e9
      wl.expectations(ctx)
      // untimed passes complete the warm-up: code generation and JIT for
      // the checksum actions and statements
      val p0 = System.nanoTime()
      (1 to wl.warmPasses).foreach { i => wl.pass(ctx, -i); settle(ctx) }
      ctx.rec.clear()
      val warmPassS = (System.nanoTime() - p0) / 1e9
      val setupS = sessionS + Stats.median(prepS) + warmS + warmPassS
      Log.err(f"setup: session $sessionS%.2f s, preparations ${prepS.map(s => f"$s%.2f").mkString("/")} s, " +
        f"warm-up $warmS%.2f + $warmPassS%.2f s (${wl.warmPasses} passes)")

      val metrics =
        if (!trace) {
          window(ctx, wl, seconds)
          endToEnd(ctx, setupS)
        } else {
          window(ctx, wl, seconds / 2)
          val untraced = Stats.median(ctx.rec.passes.toSeq)
          val untracedOps = ctx.rec.ops.toList
          ctx.rec.clear()
          val tracer = new Tracer(spark)
          ctx.tracer = Some(tracer)
          tracer.attach()
          val tw0 = System.nanoTime()
          tracer.span("workload", workload) { window(ctx, wl, seconds / 2) }
          val wallS = (System.nanoTime() - tw0) / 1e9
          tracer.detach()
          tracer.writeJson(out.resolveSibling(out.getFileName.toString.stripSuffix(".json") + "-spans.json"))
          val layers = perLayer(ctx, wl, tracer, wallS, cores) ++
            Map("trace.overhead_frac" -> (Stats.median(ctx.rec.passes.toSeq) - untraced) / untraced)
          ctx.rec.ops.prependAll(untracedOps)
          layers
        }
      Log.err(f"window: ${ctx.rec.passes.length} passes of ${ctx.rec.passes.map(p => f"$p%.2f").mkString("/")} s " +
        f"(wall ${ctx.rec.wallPasses.map(p => f"$p%.2f").mkString("/")} s, " +
        f"${ctx.rec.stealS}%.1f s stolen of ${ctx.rec.busyS + ctx.rec.stealS}%.1f), " +
        f"heap after each ${ctx.rec.heapMb.map(m => f"$m%.1f").mkString("/")} MB")
      val ops = ctx.rec.ops
      val oracle = wl.oracle.map { case (inputs, dumps) =>
        Json.obj(Seq("inputs" -> Json.str(inputs), "dumps" -> Json.str(dumps.toString),
          "runs" -> Json.obj(ops.filter(_.kind == "query").groupBy(_.name).map {
            case (q, os) => q -> os.length.toString })))
      }.getOrElse("null")
      val result = Json.obj(Seq(
        "workload" -> Json.str(workload),
        "attempted" -> ops.length.toString,
        "failed" -> ops.count(!_.ok).toString,
        "metrics" -> Json.obj(metrics.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
        "oracle" -> oracle))
      Files.createDirectories(out.getParent)
      Files.writeString(out, result + "\n")
    } finally {
      val s0 = System.nanoTime()
      spark.stop()
      Log.err(f"session stop: ${(System.nanoTime() - s0) / 1e9}%.2f s")
    }
  }

  /** Closed loop, one client: passes back to back until they have taken
    * `seconds` of wall time (at least one). Between passes, untimed,
    * [[settle]] runs. */
  private def window(ctx: Ctx, wl: Workload, seconds: Double): Unit = {
    var i = 0
    while (i == 0 || ctx.rec.wallPasses.sum < seconds) {
      val h0 = HostCpu.sample()
      ctx.span("pass", s"pass-$i") { wl.pass(ctx, i) }
      val (wall, unstolen, busy, steal) = HostCpu.interval(h0, HostCpu.sample())
      ctx.rec.passes += unstolen
      ctx.rec.wallPasses += wall
      ctx.rec.busyS += busy
      ctx.rec.stealS += steal
      ctx.rec.heapMb += settle(ctx)
      i += 1
    }
  }

  /** Releases the finished pass's blocks, runs a full GC, lets Spark's
    * ContextCleaner drain what the GC freed, and returns the used heap in
    * MB after a second full GC — so neither cleanup nor collection lands
    * inside the next pass. */
  private def settle(ctx: Ctx): Double = {
    ctx.releaseBlocks()
    System.gc()
    Thread.sleep(150)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def endToEnd(ctx: Ctx, setupS: Double): Map[String, Double] = Map(
    "setup_s" -> setupS,
    "pass_s" -> ctx.rec.passes.min,
    "retained_heap_mb" -> Stats.median(ctx.rec.heapMb.toSeq))

  /** The per-layer metrics this workload exercises; run.py reports the
    * others of BENCHMARK.json's list as 0. */
  private def perLayer(ctx: Ctx, wl: Workload, tracer: Tracer, wallS: Double,
      cores: Int): Map[String, Double] = {
    val passes = ctx.rec.passes.length.toDouble
    val c = tracer.totalCounters
    val mb = 1048576.0
    val spark = Map(
      "spark.plan_s" -> tracer.totalPlanSeconds / passes,
      "spark.jobs" -> c.jobs / passes,
      "spark.stages" -> c.stages / passes,
      "spark.tasks" -> c.tasks / passes,
      "spark.sched_delay_s" -> c.schedDelayMs / 1000.0 / passes,
      "spark.task_s" -> c.taskMs / 1000.0 / passes,
      "spark.busy_frac" -> c.taskMs / 1000.0 / (wallS * cores),
      "spark.shuffle_write_mb" -> c.shuffleWriteBytes / mb / passes,
      "spark.shuffle_read_mb" -> c.shuffleReadBytes / mb / passes,
      "spark.spill_mb" -> c.spillBytes / mb / passes,
      "spark.gc_s" -> c.gcMs / 1000.0 / passes,
      "spark.stage_reuse_frac" ->
        (if (c.stages + c.skippedStages == 0) 0.0 else c.skippedStages.toDouble / (c.stages + c.skippedStages)),
      "spark.task_retries" -> c.taskRetries.toDouble)
    val scans = tracer.countersWhere(_.kind == "query")
    val tables = Map(
      "tables.load_s" -> ctx.rec.buildMs.sum / 1000.0 / passes,
      "tables.scan_mb" -> scans.inputBytes / mb / passes,
      "tables.scan_rows" -> scans.inputRows / passes)
    def jobsPer(kind: String) = {
      val n = ctx.rec.ops.count(_.kind == kind)
      if (n == 0) 0.0 else tracer.countersWhere(s => s.kind == "statement" && s.name == kind).jobs.toDouble / n
    }
    val sources = Map(
      "sources.jobs_per_lookup" -> jobsPer("lookup"),
      "sources.jobs_per_history_read" -> jobsPer("history"))
    val self = tracer.selfSecondsByKind.map { case (k, s) => s"self.${k}_s" -> s / passes }
    val host = Map(
      "host.pass_wall_s" -> Stats.median(ctx.rec.wallPasses.toSeq),
      "host.steal_frac" -> ctx.rec.stealS / math.max(1e-9, ctx.rec.busyS + ctx.rec.stealS))
    val errors = Map("run.error_rate" ->
      ctx.rec.ops.count(!_.ok).toDouble / math.max(1, ctx.rec.ops.length))
    spark ++ tables ++ sources ++ self ++ host ++ errors ++ wl.layerMetrics(ctx)
  }
}
