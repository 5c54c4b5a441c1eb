package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cdc.Envelope
import graft.streaming.EventsIngest

/** A change log (create, updates, optional delete per key; update counts
  * Zipf-skewed across keys with a seeded exponent) staged as small files of
  * 600 events, seeded ones of them delivered twice. One pass lands it with
  * the replay-safe streaming ingest (one micro-batch per file, stateful
  * dedup on the event id), builds the change envelope with before images,
  * and compacts it to latest state and SCD-2 history. Fixed costs per
  * micro-batch dominate, and the cdc layer runs as a keyed-shuffle reader. */
object CdcReplay extends Workload {
  val name = "cdc_replay"
  val Keys = 800
  val Events = 6000
  val StagedFiles = 10
  val Replays = 2

  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("key", LongType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("ts_ms", LongType, nullable = false),
    StructField("balance", LongType),
    StructField("status", StringType)))

  private val Statuses = Array("open", "active", "frozen", "closed")
  private val Ops = Array("c", "u", "d")

  final case class Ev(eventId: Long, key: Long, seq: Long, op: String, tsMs: Long,
      balance: Long, status: String)

  def prepare(spark: SparkSession, seed: Long, dir: String): Instance = {
    val r = Util.rng(seed)
    val zipf = 0.8 + 0.3 * r.nextDouble()
    val deleteShare = 0.05 + 0.05 * r.nextDouble()
    // key ids are sparse and shuffled so hot keys spread over partitions
    val keyIds = r.shuffle((0 until Keys).map(i => 10000L + 7L * i)).toArray
    val weights = Array.tabulate(Keys)(i => 1.0 / math.pow(i + 1, zipf))
    val cum = weights.scanLeft(0.0)(_ + _).tail
    val total = cum.last
    def zipfKey(): Int = {
      val x = r.nextDouble() * total
      val i = java.util.Arrays.binarySearch(cum, x)
      if (i >= 0) i else -i - 1
    }
    val deleted = r.shuffle((0 until Keys).toList).take((Keys * deleteShare).toInt).toSet
    // (time, key index, kind): creates in the first half of the window,
    // updates after their key's create, deletes after everything else
    val horizon = 1000000L
    val createAt = Array.fill(Keys)((r.nextDouble() * horizon / 2).toLong)
    val raw = mutable.ArrayBuffer.empty[(Long, Int, Int)]
    (0 until Keys).foreach(k => raw += ((createAt(k), k, 0)))
    val nDeletes = deleted.size
    (0 until Events - Keys - nDeletes).foreach { _ =>
      val k = math.min(zipfKey(), Keys - 1)
      raw += ((createAt(k) + 1 + (r.nextDouble() * (horizon - createAt(k) - 1)).toLong, k, 1))
    }
    deleted.foreach(k => raw += ((horizon + 1 + r.nextInt(1000), k, 2)))
    val ordered = raw.sortBy(e => (e._1, e._3, e._2))
    // event time strictly increases with the log position, so (key, ts_ms)
    // totally orders each key's changes
    val evs = ordered.zipWithIndex.map { case ((_, k, kind), i) =>
      Ev(5000000L + 3L * i, keyIds(k), i.toLong, Ops(kind), 1700000000000L + 10L * i + r.nextInt(10),
        r.nextInt(1000000).toLong, Statuses(r.nextInt(Statuses.length)))
    }.toArray

    // stage: contiguous slices in event order, one parquet file each, then
    // the replayed copies; modification times pin the delivery order
    val staged = s"$dir/staged"
    Util.deleteRecursive(staged)
    Files.createDirectories(Paths.get(staged))
    val per = (evs.length + StagedFiles - 1) / StagedFiles
    val tmp = s"$dir/stage_tmp"
    val base = System.currentTimeMillis() - 3600000L
    val names = (0 until StagedFiles).map { f =>
      val slice = evs.slice(f * per, math.min(evs.length, (f + 1) * per)).toSeq
        .map(e => Row(e.eventId, e.key, e.seq, e.op, e.tsMs, e.balance, e.status))
      Util.frame(spark, slice, schema, 1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val dst = Paths.get(staged, f"batch-$f%03d.parquet")
      Files.move(part, dst, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime.fromMillis(base + f * 1000L))
      dst
    }
    Util.deleteRecursive(tmp)
    r.shuffle(names.indices.toList).take(Replays).zipWithIndex.foreach { case (f, i) =>
      val dst = Paths.get(staged, f"replay-$i%03d.parquet")
      Files.copy(names(f), dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(base + (StagedFiles + i) * 1000L))
    }
    new Inst(spark, dir, staged, evs, zipf, deleteShare)
  }

  final class Inst(spark: SparkSession, dir: String, staged: String, evs: Array[Ev],
      zipf: Double, deleteShare: Double) extends Instance {
    private val landing = s"$dir/landing"
    private val ckpt = s"$dir/ckpt"
    private val latestOut = s"$dir/latest"
    private val historyOut = s"$dir/history"

    def inputSizes: Seq[(String, Long)] = Seq(
      "events" -> evs.length.toLong, "keys" -> Keys.toLong, "files" -> StagedFiles.toLong,
      "replayed_files" -> Replays.toLong, "zipf_x100" -> math.round(zipf * 100),
      "delete_share_pct" -> math.round(deleteShare * 100),
      "staged_bytes" -> Util.dirBytes(staged))
    def recordsPerPass: Long = evs.length.toLong

    private def envelope(landed: org.apache.spark.sql.DataFrame) =
      Envelope.changeEnvelope(landed, "key", Seq(col("seq")), col("op"), col("ts_ms"),
        "accounts", Seq("balance", "status"))
    private def latest(env: org.apache.spark.sql.DataFrame) =
      Envelope.latestState(env, Seq("key"), Seq(col("ts_ms")))
    private def history(env: org.apache.spark.sql.DataFrame) =
      Envelope.scd2History(env, Seq("key"), Seq(col("ts_ms")), col("ts_ms"))

    def pass(t: Tracer): Unit = {
      val landed = t.span("streaming.ingest") {
        EventsIngest.ingestReplaySafe(spark, staged, landing, ckpt, Seq("event_id"), schema)
      }
      val env = t.lazyLayer("cdc.envelope")(envelope(landed))
      val current = t.lazyLayer("cdc.compact")(latest(env))
      t.span("sinks.write")(current.write.mode("overwrite").parquet(latestOut))
      val hist = t.lazyLayer("cdc.compact")(history(env))
      t.span("sinks.write")(hist.write.mode("overwrite").parquet(historyOut))
    }

    private lazy val fold: Map[Long, Ev] = evs.groupBy(_.key).map { case (k, es) => k -> es.maxBy(_.seq) }

    def check(): Seq[String] = {
      val errs = mutable.ArrayBuffer.empty[String]
      val landed = spark.read.parquet(landing)
      val agg = landed.agg(count(lit(1)), countDistinct(col("event_id"))).head()
      if (agg.getLong(0) != evs.length || agg.getLong(1) != evs.length)
        errs += s"landed ${agg.getLong(0)} rows (${agg.getLong(1)} distinct) of ${evs.length} events"
      val got = spark.read.parquet(latestOut)
        .select("key", "ts_ms", "op", "after_balance", "after_status", "before_balance").collect()
      if (got.length != fold.size) errs += s"latest state has ${got.length} keys, change log ${fold.size}"
      val byKey = evs.groupBy(_.key)
      val bad = got.count { row =>
        fold.get(row.getLong(0)).forall { e =>
          val prev = byKey(e.key).filter(_.seq < e.seq).sortBy(_.seq).lastOption.map(_.balance)
          row.getLong(1) != e.tsMs || row.getString(2) != e.op || row.getLong(3) != e.balance ||
          row.getString(4) != e.status || Option(row.get(5)).map(_.asInstanceOf[Long]) != prev
        }
      }
      if (bad > 0) errs += s"$bad keys' latest state differs from the fold of the change log"
      val h = spark.read.parquet(historyOut)
        .agg(count(lit(1)), sum(when(col("is_current"), 1L).otherwise(0L))).head()
      if (h.getLong(0) != evs.length || h.getLong(1) != fold.size)
        errs += s"history has ${h.getLong(0)} versions (${h.getLong(1)} current), want ${evs.length} (${fold.size})"
      errs.toSeq
    }

    def storedBytes: Long =
      Seq(landing, ckpt, latestOut, historyOut).map(Util.dirBytes).sum

    override def layerFigures: Map[String, Double] = {
      val landed = spark.read.parquet(landing)
      val env = envelope(landed)
      val plans = Seq(latest(env), history(env))
      Map(
        "plans.topone_rewrites" -> plans.count(Util.topOneRewritten).toDouble,
        "sinks.files_written" -> (Util.dataFiles(latestOut) + Util.dataFiles(historyOut)).toDouble)
    }
  }
}
