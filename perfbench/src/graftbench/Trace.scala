package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Engine work attributed to one span: what the SparkListener saw for the
  * jobs, stages and tasks that ran while the span was open. */
final class Counters {
  var jobs = 0L
  var materializeJobs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var taskWaitMs = 0L
  var recordsRead = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; materializeJobs += o.materializeJobs; stages += o.stages
    tasks += o.tasks; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; taskWaitMs += o.taskWaitMs; recordsRead += o.recordsRead
  }
}

/** One timed call into a layer. Wall-clock millis place engine events in
  * the span; nanoTime gives its duration. `buildNs`/`execNs` split a layer
  * that returns a DataFrame into building it (which for fixpoint operators
  * already runs jobs) and materializing it. */
final class Span(val id: Int, val name: String, val parent: Int, val pass: Int,
    val startMs: Long, val startNs: Long) {
  var endMs: Long = Long.MaxValue
  var endNs: Long = 0L
  var buildNs: Long = 0L
  var execNs: Long = 0L
  val counters = new Counters
  def durNs: Long = endNs - startNs
  def contains(ms: Long): Boolean = ms >= startMs && ms <= endMs
}

/** One streaming micro-batch as reported by StreamingQueryProgress. */
final case class StreamBatch(
    startMs: Long,
    batchMs: Long,
    durations: Map[String, Long],
    inputRows: Long,
    stateRows: Long,
    stateCommitMs: Long,
    droppedDuplicates: Long)

/** Spans around the benchmark's calls into graft's layers, kept in memory
  * and written out when the run ends. Spans are recorded only while
  * `setEnabled(true)` holds; streaming micro-batches are recorded whenever the listeners
  * are installed. With listeners not installed the tracer costs nothing.
  *
  * Each span sets a Spark job group named after its id, so a SparkListener
  * can attribute jobs to it. Jobs started on threads that do not inherit the
  * group (a streaming query's own thread) fall back to the innermost span
  * whose wall-clock interval holds the job's submission time; with one
  * client in a closed loop that span is the one that caused the job. */
final class Tracer(spark: SparkSession, val runId: String, val installed: Boolean) {
  private val sc = spark.sparkContext
  @volatile private var on = false
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, java.lang.Long]()
  private val batches = ArrayBuffer.empty[StreamBatch]
  var pass = 0

  def setEnabled(b: Boolean): Unit = on = b && installed

  def allSpans: Seq[Span] = synchronized(spans.toList)
  def allBatches: Seq[StreamBatch] = synchronized(batches.toList)

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val s = open(name)
      try f finally { s.execNs = System.nanoTime() - s.startNs; close(s) }
    }

  /** A layer call returning a lazy DataFrame. In a traced pass the frame is
    * materialized inside the span, so its execution time lands on this
    * layer rather than on whichever later layer runs the first action. */
  def lazyLayer(name: String)(build: => DataFrame): DataFrame =
    if (!on) build
    else {
      val s = open(name)
      try {
        val t0 = System.nanoTime()
        val df = build
        val t1 = System.nanoTime()
        val m = df.localCheckpoint(eager = true)
        s.buildNs = t1 - t0
        s.execNs = System.nanoTime() - t1
        m
      } finally close(s)
    }

  private def open(name: String): Span = {
    val s = synchronized {
      val sp = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), pass,
        System.currentTimeMillis(), System.nanoTime())
      spans += sp
      sp
    }
    stack = s :: stack
    sc.setJobGroup(s"pb-${s.id}", name, interruptOnCancel = false)
    s
  }

  private def close(s: Span): Unit = {
    s.endNs = System.nanoTime()
    s.endMs = System.currentTimeMillis()
    stack = stack.tail
    stack.headOption match {
      case Some(p) => sc.setJobGroup(s"pb-${p.id}", p.name, interruptOnCancel = false)
      case None => sc.clearJobGroup()
    }
  }

  private def spanAt(group: Option[String], ms: Long): Option[Span] = synchronized {
    group.filter(_.startsWith("pb-")).map(g => spans(g.drop(3).toInt))
      .orElse(spans.reverseIterator.find(_.contains(ms)))
  }

  private object EngineListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      spanAt(group, e.time).foreach { s =>
        // a fixpoint round is one materialization job: GraftBridge's fused
        // checkpoint+count or Dataset.localCheckpoint, issued from graft's
        // code (Spark names the job after the first frame outside Spark);
        // the tracer's own materializations are not rounds
        val materialize = e.stageInfos.exists { st =>
          st.name.startsWith("localCheckpoint") && !st.name.contains("Trace.scala")
        }
        s.counters.synchronized {
          s.counters.jobs += 1
          if (materialize) s.counters.materializeJobs += 1
        }
        e.stageIds.foreach(id => stageSpan.put(id, s))
      }
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t => stageSubmitMs.put(e.stageInfo.stageId, t))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { s =>
        s.counters.synchronized(s.counters.stages += 1)
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val m = e.taskMetrics
        val wait = Option(stageSubmitMs.get(e.stageId))
          .map(t => math.max(0L, e.taskInfo.launchTime - t)).getOrElse(0L)
        s.counters.synchronized {
          val c = s.counters
          c.tasks += 1
          c.taskWaitMs += wait
          if (m != null) {
            c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            c.runMs += m.executorRunTime
            c.cpuNs += m.executorCpuTime
            c.gcMs += m.jvmGCTime
            c.recordsRead += m.inputMetrics.recordsRead
          }
        }
      }
  }

  private object StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val states = p.stateOperators.toSeq
      val b = StreamBatch(
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.batchDuration,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows,
        states.map(_.numRowsTotal).sum,
        states.map(_.commitTimeMs).sum,
        states.map(st => Option(st.customMetrics.get("numDroppedDuplicateRows"))
          .map(_.longValue).getOrElse(0L)).sum)
      Tracer.this.synchronized(batches += b)
    }
  }

  if (installed) {
    sc.addSparkListener(EngineListener)
    spark.streams.addListener(StreamListener)
  }

  /** Wait until the listeners have seen every event posted so far. */
  def drain(): Unit = if (installed) org.apache.spark.perfbenchshim.ListenerBusDrain.drain(sc)

  /** Spans with self time (duration minus the time covered by children). */
  def json(meta: String): String = {
    val all = allSpans
    val childNs = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durNs).sum }
    def ms(ns: Long): String = f"${ns / 1e6}%.3f"
    val spanJs = all.map { s =>
      val c = s.counters
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"pass":${s.pass},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"dur_ms":${ms(s.durNs)},""" +
        s""""self_ms":${ms(s.durNs - childNs.getOrElse(s.id, 0L))},""" +
        s""""build_ms":${ms(s.buildNs)},"exec_ms":${ms(s.execNs)},""" +
        s""""jobs":${c.jobs},"materialize_jobs":${c.materializeJobs},"stages":${c.stages},""" +
        s""""tasks":${c.tasks},"shuffle_write_bytes":${c.shuffleWriteBytes},""" +
        s""""spill_bytes":${c.spillBytes},"executor_run_ms":${c.runMs},""" +
        s""""executor_cpu_ms":${ms(c.cpuNs)},"gc_ms":${c.gcMs},""" +
        s""""task_wait_ms":${c.taskWaitMs},"records_read":${c.recordsRead}}"""
    }
    val batchJs = allBatches.map { b =>
      val d = b.durations.toSeq.sorted.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s"""{"start_ms":${b.startMs},"batch_ms":${b.batchMs},"input_rows":${b.inputRows},""" +
        s""""state_rows":${b.stateRows},"state_commit_ms":${b.stateCommitMs},""" +
        s""""dropped_duplicates":${b.droppedDuplicates},"duration_ms":{$d}}"""
    }
    s"""{"run_id":"$runId","meta":$meta,"spans":[${spanJs.mkString(",\n")}],""" +
      s""""stream_batches":[${batchJs.mkString(",\n")}]}"""
  }
}
