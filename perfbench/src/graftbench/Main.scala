package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.GraftExtensions

/** Entry point of one benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --cores <n> [--trace-out <file>]`
  * (`--setup-only 1` stops after set-up; the build uses it to record the
  * class-data archive).
  *
  * Sets a session up several times (the median is `setup_s`, the first, cold
  * one `cold_setup_s`), generates the workload's inputs from the seed, runs
  * the workload's untimed warm passes, then runs passes in a closed loop
  * with one client until their time adds up to `--seconds`, checking
  * every pass's outputs outside the timed interval. Prints one line
  * `PERFBENCH_RESULT <json>`.
  *
  * With `--trace 1` passes alternate between untraced and traced; traced
  * passes record spans around every layer call and materialize lazy layers
  * inside their span. The per-layer figures come from the traced passes and
  * the tracing overhead from the difference between the two kinds. */
object Main {
  val SetupRepeats = 3

  val Workloads: Seq[Workload] = Seq(SnapshotExport, CdcReplay, LinkGraph)

  /** Per-layer metrics with their units; each is reported on every workload,
    * 0 where the workload does not use the layer. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.bounds_ms" -> "ms", "sources.chunk_ms" -> "ms",
    "sources.rows_read_per_row_out" -> "ratio", "sources.chunk_rows_max_over_mean" -> "ratio",
    "functions.convert_ms" -> "ms",
    "cdc.envelope_ms" -> "ms", "cdc.compact_ms" -> "ms", "cdc.compact_shuffle_bytes" -> "B",
    "plans.topone_rewrites" -> "count",
    "sinks.write_ms" -> "ms", "sinks.files_written" -> "count", "sinks.manifest_ms" -> "ms",
    "storage.offset_puts" -> "count", "storage.offset_put_ms" -> "ms",
    "streaming.ingest_ms" -> "ms", "streaming.batches" -> "count",
    "streaming.batch_ms_p50" -> "ms", "streaming.batch_ms_tail" -> "ms",
    "streaming.batch_tail_pct" -> "pct", "streaming.batch_samples" -> "count",
    "streaming.add_batch_ms" -> "ms", "streaming.fixed_phase_frac" -> "ratio",
    "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
    "streaming.latest_offset_ms" -> "ms", "streaming.state_rows" -> "count",
    "streaming.state_commit_ms" -> "ms", "streaming.dup_rows_dropped_frac" -> "ratio",
    "operators.scc_rounds" -> "count", "operators.scc_ms" -> "ms",
    "operators.bfs_rounds" -> "count", "operators.bfs_ms" -> "ms",
    "operators.pagerank_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.shuffle_write_bytes" -> "B", "spark.spill_bytes" -> "B",
    "spark.executor_run_ms" -> "ms", "spark.executor_cpu_ms" -> "ms", "spark.gc_ms" -> "ms",
    "spark.task_wait_ms" -> "ms", "spark.build_ms" -> "ms", "spark.exec_ms" -> "ms",
    "trace.untraced_pass_ms" -> "ms", "trace.traced_pass_ms" -> "ms",
    "trace.overhead_ms" -> "ms", "trace.overhead_frac" -> "ratio")

  /** Span name -> per-layer time metric (sum of that span's durations in a pass). */
  private val SpanTimes: Seq[(String, String)] = Seq(
    "sources.bounds" -> "sources.bounds_ms", "sources.chunk" -> "sources.chunk_ms",
    "functions.convert" -> "functions.convert_ms",
    "cdc.envelope" -> "cdc.envelope_ms", "cdc.compact" -> "cdc.compact_ms",
    "sinks.write" -> "sinks.write_ms", "sinks.manifest" -> "sinks.manifest_ms",
    "storage.offsets" -> "storage.offset_put_ms", "streaming.ingest" -> "streaming.ingest_ms",
    "operators.scc" -> "operators.scc_ms", "operators.bfs" -> "operators.bfs_ms",
    "operators.pagerank" -> "operators.pagerank_ms")

  private val SpanRounds: Seq[(String, String)] = Seq(
    "operators.scc" -> "operators.scc_rounds",
    "operators.bfs" -> "operators.bfs_rounds")

  final case class PassRec(index: Int, startMs: Long, endMs: Long, ms: Double, traced: Boolean,
      errors: Seq[String], heapAfterGcMb: Seq[Double])

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = Workloads.find(_.name == opts("workload")).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${opts("workload")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = opts("work")
    val cores = opts("cores").toInt
    val load0 = loadavg()
    val cpu0 = cpuTimes()
    val t00 = System.nanoTime()
    def progress(msg: String): Unit =
      System.err.println(f"[perfbench] ${(System.nanoTime() - t00) / 1e9}%.2fs $msg")

    val setups = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (1 to SetupRepeats).foreach { i =>
      val t0 = System.nanoTime()
      spark = session(cores, work)
      progress(s"session $i")
      warmup(spark, s"$work/warmup")
      setups += (System.nanoTime() - t0) / 1e9
      progress(s"setup $i")
      if (i < SetupRepeats) spark.stop()
    }
    if (opts.get("setup-only").contains("1")) { spark.stop(); return }

    val runId = java.util.UUID.randomUUID().toString
    val tracer = new Tracer(spark, runId, installed = trace)
    val tg = System.nanoTime()
    val inst = workload.prepare(spark, seed, s"$work/data")
    val genS = (System.nanoTime() - tg) / 1e9
    progress("inputs generated")

    val heap = new HeapAfterGc
    // between passes, untimed: a full collection, a pause for Spark's
    // ContextCleaner to drop the blocks of frames that collection found
    // unreachable, and a second collection, so every pass starts from the
    // same heap; these forced collections are not part of the heap figure
    def settle(): Unit = { System.gc(); Thread.sleep(250); System.gc() }
    def runPass(i: Int, traced: Boolean): PassRec = {
      tracer.pass = i
      tracer.setEnabled(traced)
      val startMs = System.currentTimeMillis()
      val up0 = heap.now()
      val t0 = System.nanoTime()
      val err =
        try { tracer.span("pass")(inst.pass(tracer)); None }
        catch { case NonFatal(e) => Some(s"pass threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
      val ms = (System.nanoTime() - t0) / 1e6
      val up1 = heap.now()
      val endMs = System.currentTimeMillis()
      tracer.setEnabled(false)
      val errors = err.toSeq ++ (if (err.isEmpty) safely(inst.check()) else Nil)
      settle()
      val gcs = heap.afterGcMb(up0, up1)
      progress(f"pass $i ${ms}%.0f ms traced=$traced errors=${errors.size} gcs=${gcs.size}")
      PassRec(i, startMs, endMs, ms, traced, errors, gcs)
    }

    // the workload's warm passes, then the timed phase: passes until their
    // time adds up to `--seconds`
    val tw = System.nanoTime()
    val warm = (1 to workload.warmPasses).map(i => runPass(-i, traced = false))
    val warmS = (System.nanoTime() - tw) / 1e9

    val minPasses = if (trace) 4 else 1
    val passes = ArrayBuffer.empty[PassRec]
    while (passes.size < minPasses || passes.map(_.ms).sum < seconds * 1000) {
      // untraced, traced, traced, untraced, ...: a JIT warm-up trend
      // weighs on both kinds alike
      passes += runPass(passes.size, traced = trace && Set(1, 2)(passes.size % 4))
    }
    val finalErrors = safely(inst.finalCheck())
    tracer.drain()
    progress("final check")

    val failures = (warm ++ passes).filter(_.errors.nonEmpty)
    val failed = failures.size + (if (finalErrors.nonEmpty) 1 else 0)
    val attempted = warm.size + passes.size + 1
    val untraced = passes.toSeq.filter(p => !p.traced && p.errors.isEmpty)
    val load1 = loadavg()
    val cpu1 = cpuTimes()
    // share of the machine's CPU time the hypervisor gave to other guests
    val stealShare = (cpu0, cpu1) match {
      case (Some((s0, t0)), Some((s1, t1))) if t1 > t0 => (s1 - s0).toDouble / (t1 - t0)
      case _ => -1.0
    }

    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        Seq(
          ("setup_s", Util.median(setups.toSeq), "s"),
          ("cold_setup_s", setups.head, "s"),
          ("records_per_s", Util.median(untraced.map(p => inst.recordsPerPass / (p.ms / 1000)).toSeq), "1/s"),
          ("peak_live_heap_mb", passes.flatMap(_.heapAfterGcMb).maxOption.getOrElse(Double.NaN), "MB"),
          ("stored_bytes_per_record", inst.storedBytes.toDouble / inst.recordsPerPass, "B"))
      } else {
        val figures = layerMetrics(tracer, passes.toSeq, inst) ++ inst.layerFigures
        PerLayer.map { case (n, u) => (n, figures.getOrElse(n, 0.0), u) }
      }

    val traceOut = opts.get("trace-out").filter(_ => trace)
    val meta = Seq(
      "workload" -> q(workload.name), "seed" -> seed.toString, "trace" -> trace.toString,
      "run_id" -> q(runId), "cores_used" -> cores.toString,
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "java_version" -> q(System.getProperty("java.version")),
      "java_vm" -> q(System.getProperty("java.vm.name")),
      "spark_version" -> q(spark.version),
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "shuffle_partitions" -> q(spark.conf.get("spark.sql.shuffle.partitions")),
      "loadavg_start" -> q(load0), "loadavg_end" -> q(load1),
      "load_exceeds_cores" -> Seq(load0, load1).exists(l => runnable(l) > cores).toString,
      "cpu_steal_share" -> f"$stealShare%.4f",
      "setup_s" -> arr(setups.toSeq), "generate_s" -> f"$genS%.3f",
      "warm_passes" -> warm.size.toString, "warm_s" -> f"$warmS%.3f",
      "passes" -> passes.size.toString,
      "pass_ms" -> arr(passes.map(_.ms).toSeq), "pass_traced" -> passes.map(_.traced).mkString("[", ",", "]"),
      "pass_gcs" -> passes.map(_.heapAfterGcMb.size).mkString("[", ",", "]"),
      "pass_heap_after_gc_max_mb" -> arr(passes.map(_.heapAfterGcMb.maxOption.getOrElse(0.0)).toSeq),
      "records_per_pass" -> inst.recordsPerPass.toString,
      "inputs" -> inst.inputSizes.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}"),
      "errors" -> (failures.flatMap(p => p.errors.map(e => s"pass ${p.index}: $e")) ++
        finalErrors.map(e => s"final: $e")).map(q).mkString("[", ",", "]"),
      "trace_file" -> traceOut.map(q).getOrElse("null"))
    val metaJs = meta.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
    traceOut.foreach { f =>
      Files.createDirectories(Paths.get(f).getParent)
      Files.write(Paths.get(f), tracer.json(metaJs).getBytes(StandardCharsets.UTF_8))
    }
    val metricJs = metrics.map { case (n, v, u) =>
      s"${q(n)}:{${q("value")}:${num(v)},${q("unit")}:${q(u)}}"
    }.mkString("{", ",", "}")
    println(s"""PERFBENCH_RESULT {"correct":${failed == 0},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":$metricJs,"meta":$metaJs}""")
    spark.stop()
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/streaming")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Untimed-in-the-loop warmup that is part of set-up: a parquet round
    * trip and a graft kernel through the session's extensions. */
  def warmup(spark: SparkSession, dir: String): Unit = {
    spark.range(2000).selectExpr("id", "graft_ln(cast(id + 1 as double)) as l")
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).groupBy((org.apache.spark.sql.functions.col("id") % 7).as("k"))
      .count().collect()
  }

  private def layerMetrics(t: Tracer, passes: Seq[PassRec], inst: Instance): Map[String, Double] = {
    val traced = passes.filter(p => p.traced && p.errors.isEmpty).map(_.index).toSet
    val spans = t.allSpans.filter(s => traced(s.pass))
    val byPass = spans.groupBy(_.pass).values.toSeq
    def med(f: Seq[Span] => Double): Double = Util.median(byPass.map(f))
    def named(ss: Seq[Span], n: String) = ss.filter(_.name == n)
    def total(ss: Seq[Span]): Counters = { val c = new Counters; ss.foreach(s => c.add(s.counters)); c }
    val m = scala.collection.mutable.Map.empty[String, Double]
    SpanTimes.foreach { case (s, n) => m(n) = med(ss => named(ss, s).map(_.durNs).sum / 1e6) }
    SpanRounds.foreach { case (s, n) => m(n) = med(ss => total(named(ss, s)).materializeJobs.toDouble) }
    m("cdc.compact_shuffle_bytes") = med(ss => total(named(ss, "cdc.compact")).shuffleWriteBytes.toDouble)
    m("sources.rows_read_per_row_out") = med(ss => total(ss).recordsRead.toDouble / inst.recordsPerPass)
    m("spark.jobs") = med(ss => total(ss).jobs.toDouble)
    m("spark.stages") = med(ss => total(ss).stages.toDouble)
    m("spark.tasks") = med(ss => total(ss).tasks.toDouble)
    m("spark.shuffle_write_bytes") = med(ss => total(ss).shuffleWriteBytes.toDouble)
    m("spark.spill_bytes") = med(ss => total(ss).spillBytes.toDouble)
    m("spark.executor_run_ms") = med(ss => total(ss).runMs.toDouble)
    m("spark.executor_cpu_ms") = med(ss => total(ss).cpuNs / 1e6)
    m("spark.gc_ms") = med(ss => total(ss).gcMs.toDouble)
    m("spark.task_wait_ms") = med(ss => total(ss).taskWaitMs.toDouble)
    val layers = (ss: Seq[Span]) => ss.filter(_.parent >= 0)
    m("spark.build_ms") = med(ss => layers(ss).map(_.buildNs).sum / 1e6)
    m("spark.exec_ms") = med(ss => layers(ss).map(_.execNs).sum / 1e6)

    // micro-batches of every timed pass, traced or not: the tail needs samples
    val timed = passes.filter(_.errors.isEmpty)
    def passOf(b: StreamBatch) = timed.find(p => b.startMs >= p.startMs && b.startMs <= p.endMs)
    val batches = t.allBatches.filter(passOf(_).isDefined)
    if (batches.nonEmpty) {
      val ms = batches.map(_.batchMs.toDouble)
      def phase(k: String) = batches.map(_.durations.getOrElse(k, 0L).toDouble).sum / batches.size
      m("streaming.batches") = Util.median(batches.groupBy(passOf(_).get.index).values.map(_.size.toDouble).toSeq)
      m("streaming.batch_ms_p50") = Util.median(ms)
      Util.tail(ms).foreach { case (p, v, _) =>
        m("streaming.batch_ms_tail") = v; m("streaming.batch_tail_pct") = p
      }
      m("streaming.batch_samples") = ms.size
      m("streaming.add_batch_ms") = phase("addBatch")
      // share of batch time outside addBatch (offsets, planning, WAL,
      // commit): per-batch costs that do not grow with the batch's rows
      m("streaming.fixed_phase_frac") = 1.0 -
        batches.map(_.durations.getOrElse("addBatch", 0L)).sum.toDouble / math.max(1L, batches.map(_.batchMs).sum)
      m("streaming.wal_commit_ms") = phase("walCommit")
      m("streaming.commit_offsets_ms") = phase("commitOffsets")
      m("streaming.query_planning_ms") = phase("queryPlanning")
      m("streaming.latest_offset_ms") = phase("latestOffset")
      m("streaming.state_rows") = batches.map(_.stateRows).max.toDouble
      m("streaming.state_commit_ms") = batches.map(_.stateCommitMs).sum.toDouble / batches.size
      m("streaming.dup_rows_dropped_frac") =
        batches.map(_.droppedDuplicates).sum.toDouble / math.max(1L, batches.map(_.inputRows).sum)
    }
    val tracedMs = passes.filter(p => p.traced && p.errors.isEmpty).map(_.ms)
    val untracedMs = passes.filter(p => !p.traced && p.errors.isEmpty).map(_.ms)
    if (tracedMs.nonEmpty && untracedMs.nonEmpty) {
      m("trace.traced_pass_ms") = Util.median(tracedMs)
      m("trace.untraced_pass_ms") = Util.median(untracedMs)
      m("trace.overhead_ms") = m("trace.traced_pass_ms") - m("trace.untraced_pass_ms")
      m("trace.overhead_frac") = m("trace.overhead_ms") / m("trace.untraced_pass_ms")
    }
    m.toMap
  }

  private def safely(f: => Seq[String]): Seq[String] =
    try f catch { case NonFatal(e) => Seq(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }

  private def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.UTF_8).trim
    catch { case NonFatal(_) => "" }

  /** Runnable tasks other than the reader, from loadavg's "running/total". */
  private def runnable(l: String): Int =
    l.split("\\s+").lift(3).flatMap(_.split("/").headOption).flatMap(_.toIntOption)
      .map(_ - 1).getOrElse(0)

  /** (steal, total) jiffies of the machine from /proc/stat's cpu line. */
  private def cpuTimes(): Option[(Long, Long)] =
    try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat")), StandardCharsets.UTF_8)
      val v = f.linesIterator.next().split("\\s+").drop(1).map(_.toLong)
      Some((if (v.length > 7) v(7) else 0L, v.take(8).sum))
    } catch { case NonFatal(_) => None }

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def arr(xs: Seq[Double]): String = xs.map(x => f"$x%.3f").mkString("[", ",", "]")
}
