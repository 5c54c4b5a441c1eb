package graftbench

import java.time.{Instant, LocalDate, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cdc.Envelope
import graft.functions.Converters
import graft.sinks.BatchedSink
import graft.sources.SnapshotScan
import graft.storage.PersistedMap

/** Reader's core path over a generated primary-key table: bounds discovery,
  * chunked scan, Debezium converters, snapshot envelope and message key, the
  * size-capped batched sink with its manifest, and one offset put per acked
  * batch. Write-heavy and shuffle-light.
  *
  * The key space is sparse (seeded mean gap) below a dense hot insert range
  * (seeded share of the rows), so uniform-width chunks and keyset batches
  * are skewed the way a live table's are. */
object SnapshotExport extends Workload {
  val name = "snapshot_export"
  val Rows = 40000
  val Chunks = 32
  val Batches = 48
  val WriteTasks = 8
  val SampleSize = 256
  override val warmPasses = 3

  private val schema = StructType(Seq(
    StructField("pk", LongType, nullable = false),
    StructField("amount", DecimalType(12, 2)),
    StructField("price_str", StringType),
    StructField("created_at", TimestampType),
    StructField("birth", DateType),
    StructField("attrs", StringType),
    StructField("flags", LongType),
    StructField("note", StringType)))

  private val Tiers = Array("bronze", "silver", "gold", "platinum")

  /** Ground truth for one generated row. */
  final case class Truth(pk: Long, cents: Long, priceCents: Long, micros: Long,
      birthDay: Long, score: Long, tier: String, flags: Long)

  def money(cents: Long): String = {
    val dollars = java.text.NumberFormat.getIntegerInstance(java.util.Locale.US).format(cents / 100)
    f"$$$dollars.${cents % 100}%02d"
  }

  def prepare(spark: SparkSession, seed: Long, dir: String): Instance = {
    val r = Util.rng(seed)
    val hotShare = 0.15 + 0.1 * r.nextDouble()
    val gap = 4 + r.nextInt(5)
    val nHot = (Rows * hotShare).toInt
    var pk = 1000L + r.nextInt(1000)
    val truth = Array.tabulate(Rows) { i =>
      pk += (if (i < Rows - nHot) 1 + r.nextInt(2 * gap - 1) else 1)
      if (i == Rows - nHot) pk += 50L * gap * Batches
      Truth(pk, r.nextInt(100000000).toLong, r.nextInt(500000000).toLong,
        1420070400000000L + (r.nextDouble() * 3.1e14).toLong, -7300L + r.nextInt(21900),
        r.nextInt(10000).toLong, Tiers(r.nextInt(Tiers.length)), r.nextInt(1 << 20).toLong)
    }
    val rows = truth.toSeq.map { t =>
      Row(t.pk, java.math.BigDecimal.valueOf(t.cents, 2), money(t.priceCents),
        Instant.EPOCH.plusNanos(t.micros * 1000L), LocalDate.ofEpochDay(t.birthDay),
        s"""{"score":${t.score},"tier":"${t.tier}"}""", t.flags, s"order note ${t.pk % 977}")
    }
    val input = s"$dir/orders"
    Util.frame(spark, rows, schema, 8).write.mode("overwrite").parquet(input)
    new Inst(spark, dir, input, truth, hotShare, gap)
  }

  private val zoned = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS").withZone(ZoneOffset.UTC)

  final class Inst(spark: SparkSession, dir: String, input: String, truth: Array[Truth],
      hotShare: Double, gap: Int) extends Instance {
    private val out = s"$dir/sink"
    private val offsets = s"$dir/offsets/orders.tsv"
    private var manifest: Array[Row] = Array.empty
    private var chunkSkew = 0.0

    def inputSizes: Seq[(String, Long)] = Seq(
      "rows" -> Rows.toLong, "hot_share_pct" -> math.round(hotShare * 100), "mean_key_gap" -> gap.toLong,
      "input_bytes" -> Util.dirBytes(input))
    def recordsPerPass: Long = Rows.toLong

    private val afterCols = Seq("amount_unscaled", "price", "created_us", "created_zoned",
      "birth_days", "score", "tier", "uuid", "flag3", "flag_pop")

    def convert(chunked: DataFrame): DataFrame = chunked.select(
      col("pk"), col("chunk_id"), col("created_at"),
      Converters.unscaledLong(col("amount"), 2).as("amount_unscaled"),
      Converters.moneyToDecimal(col("price_str")).as("price"),
      Converters.epochMicros(col("created_at")).as("created_us"),
      Converters.zonedTimestamp(col("created_at")).as("created_zoned"),
      Converters.epochDays(col("birth")).as("birth_days"),
      Converters.jsonFieldLong(col("attrs"), "$.score").as("score"),
      Converters.jsonField(col("attrs"), "$.tier").as("tier"),
      Converters.uuidFromKey(col("pk")).as("uuid"),
      Converters.bitAt(col("flags"), 3).as("flag3"),
      Converters.popCount(col("flags")).as("flag_pop"))

    def batchSpan(b: SnapshotScan.PkBounds): Long = math.max(1L, (b.span + Batches - 1) / Batches)

    def pass(t: Tracer): Unit = {
      val src = spark.read.parquet(input)
      val (bounds, quantiles) = t.span("sources.bounds") {
        (SnapshotScan.pkBounds(src, "pk"), SnapshotScan.quantileBoundaries(src, "pk", Chunks))
      }
      val chunked = t.lazyLayer("sources.chunk") {
        SnapshotScan.chunkedSingleScan(src, "pk", bounds, Chunks)
      }
      val converted = t.lazyLayer("functions.convert")(convert(chunked))
      val env = t.lazyLayer("cdc.envelope") {
        Envelope.snapshotEnvelope(converted, "pk", Converters.epochMillis(col("created_at")),
          "orders", afterCols)
          .withColumn("message_key", Envelope.messageKeyJson(converted, Seq("pk")))
      }
      val manifestDf = t.span("sinks.write") {
        BatchedSink.writeBatched(env, "pk", batchSpan(bounds), out, WriteTasks)
      }
      manifest = t.span("sinks.manifest")(manifestDf.collect())
      t.span("storage.offsets") {
        val m = PersistedMap(offsets)
        m.put("orders/chunks", quantiles.mkString(","))
        manifest.foreach { r =>
          m.put(s"orders/batch/${r.getLong(0)}", s"${r.getLong(1)},${r.getLong(2)},${r.getLong(3)}")
        }
      }
    }

    def offsetPuts: Long = manifest.length + 1L

    private lazy val expected: Map[Long, (Long, Long, Long)] = {
      val b = SnapshotScan.PkBounds(truth.head.pk, truth.last.pk)
      val w = batchSpan(b)
      truth.groupBy(_.pk / w).map { case (k, ts) => k -> (ts.length.toLong, ts.head.pk, ts.last.pk) }
    }

    def check(): Seq[String] = {
      val got = manifest.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      val errs = mutable.ArrayBuffer.empty[String]
      if (got != expected) {
        val bad = (got.keySet ++ expected.keySet).count(k => got.get(k) != expected.get(k))
        errs += s"manifest differs from the key-space fold in $bad of ${expected.size} batches"
      }
      val acked = got.values.map(_._1).sum
      if (acked != Rows) errs += s"manifest acks $acked rows, table has $Rows"
      val stored = PersistedMap(offsets).snapshot
      val missing = got.count { case (k, (n, lo, hi)) => !stored.get(s"orders/batch/$k").contains(s"$n,$lo,$hi") }
      if (missing > 0) errs += s"$missing acked batches have no matching offset entry"
      errs.toSeq
    }

    override def finalCheck(): Seq[String] = {
      val errs = mutable.ArrayBuffer.empty[String]
      val r = new scala.util.Random(truth.length)
      val sample = Seq.fill(SampleSize)(truth(r.nextInt(truth.length))).map(t => t.pk -> t).toMap
      val rows = spark.read.parquet(out).where(col("pk").isin(sample.keys.toSeq: _*))
        .select((Seq("pk", "op", "message_key") ++ afterCols.map("after_" + _)).map(col): _*)
        .collect()
      if (rows.length != sample.size) errs += s"sink holds ${rows.length} of ${sample.size} sampled keys"
      var bad = 0
      rows.foreach { row =>
        val t = sample(row.getLong(0))
        val micros = t.micros
        val z = zoned.format(Instant.EPOCH.plusNanos(micros * 1000L))
          .replaceAll("0+$", "").replaceAll("\\.$", "") + "Z"
        val want = Seq[Any]("r", s""""payload":{"pk":${t.pk}}}""", t.cents,
          java.math.BigDecimal.valueOf(t.priceCents, 2), micros, z, t.birthDay, t.score, t.tier,
          Util.md5Hex(t.pk.toString).patch(20, "-", 0).patch(16, "-", 0).patch(12, "-", 0).patch(8, "-", 0),
          (t.flags >> 3) & 1L, java.lang.Long.bitCount(t.flags).toLong)
        val gotVals = (1 until row.length).map(row.get)
        val ok = gotVals.zip(want).zipWithIndex.forall {
          case ((g, w: String), 1) => g.asInstanceOf[String].endsWith(w)
          case ((g: java.math.BigDecimal, w: java.math.BigDecimal), _) => g.compareTo(w) == 0
          case ((g, w), _) => g == w
        }
        if (!ok) bad += 1
      }
      if (bad > 0) errs += s"$bad of ${rows.length} sampled rows decode to other values than the generator wrote"

      // chunk assignment against the key-space arithmetic, and its skew
      val src = spark.read.parquet(input)
      val b = SnapshotScan.pkBounds(src, "pk")
      val counts = SnapshotScan.chunkedSingleScan(src, "pk", b, Chunks)
        .groupBy("chunk_id").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val w = SnapshotScan.chunkWidth(b, Chunks)
      val want = truth.groupBy(t => (t.pk - b.min) / w).map { case (k, ts) => k -> ts.length.toLong }
      if (counts != want) errs += "chunk row counts differ from the key-space arithmetic"
      chunkSkew = counts.values.max.toDouble / (Rows.toDouble / counts.size)
      errs.toSeq
    }

    def storedBytes: Long = Util.dirBytes(out) + Util.dirBytes(s"$dir/offsets")

    override def layerFigures: Map[String, Double] = Map(
      "sources.chunk_rows_max_over_mean" -> chunkSkew,
      "sinks.files_written" -> Util.dataFiles(out).toDouble,
      "storage.offset_puts" -> offsetPuts.toDouble)
  }
}
