package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftnative.GraftExtensions

/** Runs one workload and writes its result line.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> --result <file> [--spans <file>] [--ops <file>]
  *      [--commit <id>]
  * }}}
  *
  * A run sets up the workload's state once (timed: `setup_s`), then runs
  * `round(--seconds / nominal cycle time)` closed-loop cycles (at least
  * [[MinCycles]]), so every run of a workload does the same work.
  * Untraced, the result holds the end-to-end metrics; traced, the
  * per-layer metrics, and the spans go to `--spans`. `--ops` receives the
  * median time of a cycle and of each op type, from which the tracing
  * overhead is computed.
  */
object Main {
  /** Spark op types whose jobs, stages, tasks and driver gaps are kept. */
  val SparkOps = Seq("commit", "replicate", "index_refresh", "text_search",
    "vector_topk", "range_scan", "time_travel", "dedup", "knn_join", "diff", "merge")

  /** How far (ms) an op's jobs may reach outside the op's own interval:
    * both clocks tick in whole milliseconds.
    */
  val GapToleranceMs = 2L

  /** Fewest measured cycles in a run. The nearest-rank median of four is
    * the second fastest, which neither one nor two slow cycles can move.
    */
  val MinCycles = 4

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val code =
      try run(opt)
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] run failed: $e")
          e.printStackTrace()
          2
      }
    System.exit(code)
  }

  private def run(opt: Map[String, String]): Int = {
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val nproc = Runtime.getRuntime.availableProcessors
    // half the cores run tasks: the measured calls are driver-bound, and
    // the other half keeps the driver, GC and JIT threads off the task
    // threads' cores, which narrows the run-to-run spread
    val cores = math.max(1, nproc / 2)
    val loadStart = loadAvg()
    val run0 = Steal.ticks()

    val builder = SparkSession.builder().master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    graft.Tables.requiredConfs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftExtensions.install(spark)

    val rec = new Recorder(spark, traced)
    val checks = new Checks
    val corpus = new Corpus(seed)
    val dir = work.resolve("tables").toString
    val w: Workload = workload match {
      case "ingest_curate" => new IngestCurate(spark, rec, corpus, checks, dir)
      case "query_mix" => new QueryMix(spark, rec, corpus, checks, dir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val t0 = System.nanoTime()
    val setup0 = Steal.ticks()
    rec.span("setup")(w.setup())
    val setupRawS = (System.nanoTime() - t0) / 1e9
    val setupS = setupRawS * (1 - Steal.share(setup0, Steal.ticks()))
    // the same work every run: --seconds buys a whole number of cycles at
    // the workload's nominal pace
    val cycles = math.max(MinCycles, math.round(seconds / w.nominalCycleS).toInt)
    // one untimed cycle first, so the JIT and Spark's code generation have
    // seen every call of a cycle before any is timed
    rec.span("warmup")(w.cycle(0))
    rec.measuring = true
    try for (i <- 1 to cycles) rec.cycle(w.cycle(i))
    catch {
      case e: OpFailed =>
        checks(false, s"measurement stopped after ${rec.cycleMs.size} cycles: ${e.getMessage}")
    }
    rec.measuring = false
    val bytesRatio = rec.span("size")(sizeRatio(spark, w, work.resolve("plain")))
    val layerFacts = w.finish() ++ tableFacts(w)
    val loadEnd = loadAvg()
    val steal = 100 * Steal.share(run0, Steal.ticks())

    val metrics: Seq[(String, Double, String)] =
      if (!traced) endToEnd(rec, setupS, bytesRatio)
      else {
        BenchBus.drain(spark.sparkContext)
        perLayer(rec, checks, layerFacts)
      }
    opt.get("spans").foreach(p => write(Paths.get(p), Spans.toJson(rec.spans.toSeq)))
    opt.get("ops").foreach(p => write(Paths.get(p), opTimes(rec)))

    val ok = checks.failures.isEmpty && rec.failed == 0 && rec.cyclesDropped == 0 &&
      metrics.forall(m => !m._2.isNaN)
    val env = envStamp(nproc, cores, loadStart, loadEnd, steal,
      opt.getOrElse("commit", "unknown"))
    println(s"[perfbench] env $env")
    println(f"[perfbench] wall as measured, steal included: setup $setupRawS%.3f s, " +
      f"cycle p50 ${Stats.median(rec.cycleRawMs.toSeq)}%.1f ms")
    println(f"[perfbench] $workload seed=$seed trace=${if (traced) 1 else 0} " +
      s"attempted=${rec.attempted} failed=${rec.failed} checks_passed=${checks.passed} " +
      s"checks_failed=${checks.failures.size} cycles=${rec.cycleMs.size} " +
      s"cycles_dropped=${rec.cyclesDropped}")
    val json = metrics.map { case (n, v, u) =>
      s""""$n":{"value":${if (v.isNaN) "null" else v.toString},"unit":"$u"}"""
    }.mkString("{", ",", "}")
    write(Paths.get(opt("result")),
      s"""{"correct":$ok,"attempted":${math.max(rec.attempted, 1)},""" +
        s""""failed":${rec.failed},"metrics":$json}""" + "\n")
    spark.stop()
    if (ok) 0 else 1
  }

  /** Median ms of a cycle (steal taken out) and of each op type, as JSON. */
  private def opTimes(rec: Recorder): String = {
    val ops = rec.latencyMs.map { case (k, v) => s""""$k":${Stats.median(v.toSeq)}""" }
    s"""{"cycle_p50_ms":${Stats.median(rec.cycleMs.toSeq)},""" +
      s""""op_p50_ms":${ops.mkString("{", ",", "}")}}""" + "\n"
  }

  /** The untraced run's metrics: what a user of the workload sees. */
  def endToEnd(rec: Recorder, setupS: Double,
               bytesRatio: Double): Seq[(String, Double, String)] = {
    println(s"[perfbench] samples: cycle ms ${rec.cycleMs.map(c => f"$c%.0f").mkString(" ")}; " +
      "per op type, count and median ms: " + rec.latencyMs.map { case (k, v) =>
        f"$k=${v.size}/${Stats.median(v.toSeq)}%.0f" }.mkString(" "))
    Seq(
      ("setup_s", setupS, "s"),
      ("cycle_p50_ms", Stats.median(rec.cycleMs.toSeq), "ms"),
      ("bytes_per_user_byte", bytesRatio, "ratio"))
  }

  /** The traced run's metrics, named by module, measured at call sites. */
  def perLayer(rec: Recorder, checks: Checks,
               facts: Map[String, Double]): Seq[(String, Double, String)] = {
    def p50(span: String, measuredOnly: Boolean = true): Double =
      orZero(Stats.median(rec.spanMs(span, measuredOnly)))
    val ops = rec.ops.toSeq
    def perOp(f: OpRecord => Double, kinds: Set[String] = Set.empty): Double = {
      val sel = if (kinds.isEmpty) ops else ops.filter(o => kinds(o.kind))
      orZero(Stats.mean(sel.map(f)))
    }
    val secs = rec.cycleMs.sum / 1e3
    val layer = Seq(
      ("format.append_ms", p50("format.append"), "ms"),
      ("format.commit_ms", p50("format.commit"), "ms"),
      ("format.load_ms", p50("format.load", measuredOnly = false), "ms"),
      ("format.mutate_ms", orZero(Stats.median(rec.spanMs("format.update") ++
        rec.spanMs("format.pop"))), "ms"),
      ("format.commit_reads", perOp(_.commitReads.toDouble), "count"),
      ("format.files_live", facts.getOrElse("format.files_live", 0.0), "count"),
      ("format.table_bytes", facts.getOrElse("format.table_bytes", 0.0), "bytes"),
      ("format.files_pruned", perOp(_.prunedFiles.toDouble, Set("range_scan")), "count"),
      ("format.scan_ms", p50("format.scan"), "ms"),
      ("format.snapshot_ms", p50("format.snapshot"), "ms"),
      ("format.rows_per_s", facts.getOrElse("format.rows_written", 0.0) / secs, "rows/s"),
      ("versioning.checkout_ms", p50("versioning.checkout"), "ms"),
      ("versioning.diff_ms", p50("versioning.diff"), "ms"),
      ("versioning.merge_ms", p50("versioning.merge"), "ms"),
      ("versioning.delete_branch_ms", p50("versioning.delete_branch"), "ms"),
      ("streaming.replicate_ms", p50("streaming.replicate"), "ms"),
      ("streaming.batches", facts.getOrElse("streaming.batches", 0.0), "count"),
      ("streaming.rows_applied", facts.getOrElse("streaming.rows_applied", 0.0), "count"),
      ("inverted.update_ms", p50("inverted.update"), "ms"),
      ("inverted.search_ms", p50("inverted.search"), "ms"),
      ("inverted.filter_indexed_ms", p50("inverted.filter_indexed"), "ms"),
      ("inverted.hits", facts.getOrElse("inverted.hits", 0.0), "count"),
      ("inverted.stale_fallbacks", facts.getOrElse("inverted.stale_fallbacks", 0.0), "count"),
      ("vector.update_ms", p50("vector.update"), "ms"),
      ("vector.search_ms", p50("vector.search"), "ms"),
      ("vector.load_ms", p50("vector.load"), "ms"),
      ("vector.knn_join_ms", p50("vector.knn_join"), "ms"),
      ("vector.recall_at_10", facts.getOrElse("vector.recall_at_10", 0.0), "fraction"),
      ("dedup.minhash_ms", p50("dedup.minhash"), "ms"),
      ("dedup.pairs", facts.getOrElse("dedup.pairs", 0.0), "count"),
      ("dedup.rows_per_s", facts.getOrElse("dedup.rows", 0.0) / secs, "rows/s"))

    // Spark execution per op, from the listener: (jobs, stages, tasks,
    // executor cpu ms, shuffle read, shuffle write, driver gap ms)
    val log = rec.jobLog.get
    var worstReachMs = 0L
    val perOpSpark = ops.map { o =>
      val (jobs, stages, tasks, cpuMs, shR, shW, ivs) = log.forOp(o.id)
      val closed = ivs.map { case (s, e) => (s, if (e < 0) o.endMs else e) }
      val inside = Stats.unionLength(Stats.clip(closed, o.startMs, o.endMs))
      worstReachMs = math.max(worstReachMs, Stats.unionLength(closed) - inside)
      o.kind -> Seq(jobs.toDouble, stages.toDouble, tasks.toDouble, cpuMs, shR.toDouble,
        shW.toDouble, (o.endMs - o.startMs - inside).toDouble)
    }
    val sparkFields = Seq(("jobs", "count"), ("stages", "count"), ("tasks", "count"),
      ("executor_cpu_ms", "ms"), ("shuffle_read_bytes", "bytes"),
      ("shuffle_write_bytes", "bytes"), ("driver_gap_ms", "ms"))
    val spark = SparkOps.flatMap { kind =>
      val mine = perOpSpark.collect { case (`kind`, v) => v }
      sparkFields.zipWithIndex.map { case ((n, u), i) =>
        (s"spark.$kind.$n", orZero(Stats.median(mine.map(_(i)))), u)
      }
    }
    checks(worstReachMs <= GapToleranceMs,
      s"trace: a job ran ${worstReachMs} ms outside its op (tolerance $GapToleranceMs ms); " +
        "driver gap + job union would not add up to the op's wall time")
    val nOps = math.max(ops.size, 1)
    // the tracer's own diagnostics, not metrics of the engine
    println(f"[perfbench] tracer: ${rec.spans.size} spans, bookkeeping " +
      f"${rec.traceSelfNs / 1e6 / nOps}%.3f ms per call, jobs reach at most " +
      s"$worstReachMs ms outside their op (tolerance $GapToleranceMs ms)")

    val all = rec.latencyMs.values.flatten.toSeq
    val jvm = Seq(
      ("jvm.cycle_cpu_ms", orZero(Stats.median(rec.cycleCpuMs.toSeq)), "ms"),
      ("jvm.gc_ms", ops.map(_.gcMs).sum.toDouble / nOps, "ms"),
      ("jvm.heap_peak_mb", rec.heapPeakBytes / 1048576.0, "MB"),
      ("trace.op_p50_ms", orZero(Stats.median(all)), "ms"),
      ("trace.op_tail_ms",
        orZero(Stats.percentile(all, Stats.tailPercentile(all.size))), "ms"))
    layer ++ spark ++ jvm
  }

  private def orZero(v: Double): Double = if (v.isNaN) 0.0 else v

  /** Live files and bytes of the workload's table, after its last round. */
  private def tableFacts(w: Workload): Map[String, Double] =
    Map("format.files_live" -> w.table.describeFiles.select("file").distinct().count().toDouble,
      "format.table_bytes" -> du(Paths.get(w.tableRoot)).toDouble)

  /** On-disk bytes of the table root over the bytes of its snapshot
    * written once as plain parquet.
    */
  private def sizeRatio(spark: SparkSession, w: Workload, plain: Path): Double = {
    w.table.toDF.write.mode("overwrite").parquet(plain.toString)
    val r = du(Paths.get(w.tableRoot)).toDouble / du(plain)
    graft.QueryCleanup.deleteRecursively(plain.toString)
    r
  }

  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  private def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** nproc, the local[N] width, -Xmx, the source commit and the 1-minute
    * load at start and end, judged by the repo's own capture rule.
    */
  private def envStamp(nproc: Int, cores: Int, loadStart: Double, loadEnd: Double,
                       stealPct: Double, commit: String): String = {
    val verdict = graft.BenchLine.envVerdict(loadStart, loadEnd, -1, -1)
    val xmxMb = Runtime.getRuntime.maxMemory / 1048576
    f"""{"nproc":$nproc,"local":"local[$cores]","xmx_mb":$xmxMb,"commit":"$commit",""" +
      f""""load_start":$loadStart%.2f,"load_end":$loadEnd%.2f,"cpu_steal_pct":$stealPct%.1f,""" +
      f""""env_verdict":"$verdict"}"""
  }

  private def write(p: Path, s: String): Unit = {
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, s.getBytes("UTF-8"))
    ()
  }
}
