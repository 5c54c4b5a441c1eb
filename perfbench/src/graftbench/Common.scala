package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.RowNumber
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window => WindowNode}
import org.apache.spark.sql.types.StructType

/** A workload: generates its inputs from a seed and returns an instance that
  * runs one closed-loop operation per `pass` and checks its outputs against
  * the generator's ground truth. */
trait Workload {
  def name: String
  def prepare(spark: SparkSession, seed: Long, dir: String): Instance

  /** Untimed passes before the timed phase. A count rather than a time, so
    * every run measures at the same point of the JVM's warm-up (a pass after
    * one warm pass fewer is measurably slower); short passes need more. */
  def warmPasses: Int = 1
}

trait Instance {
  /** Sizes of the generated inputs, for the run's metadata. */
  def inputSizes: Seq[(String, Long)]

  /** Records one pass processes (the numerator of records_per_s). */
  def recordsPerPass: Long

  /** One closed-loop operation through graft's layers. */
  def pass(t: Tracer): Unit

  /** Output checks after a pass (untimed); each entry is one mismatch. */
  def check(): Seq[String]

  /** Heavier checks made once, after the timed phase. */
  def finalCheck(): Seq[String] = Nil

  /** Bytes the last pass left on disk (sink output, landing, checkpoints). */
  def storedBytes: Long

  /** Per-layer figures this workload measures itself, outside the spans
    * (plan shapes, files written). */
  def layerFigures: Map[String, Double] = Map.empty
}

object Util {
  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  def dataFiles(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.count { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && n.endsWith(".parquet")
      }.toLong
      finally s.close()
    }
  }

  def deleteRecursive(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
        .foreach(f => Files.deleteIfExists(f))
      finally s.close()
    }
  }

  /** The generator for `seed`. java.util.Random's first draws barely differ
    * between nearby seeds, so the seed is mixed first. */
  def rng(seed: Long): scala.util.Random =
    new scala.util.Random(new java.util.SplittableRandom(seed).nextLong())

  def frame(spark: SparkSession, rows: Seq[Row], schema: StructType, slices: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, slices), schema)

  private def rowNumberWindows(p: LogicalPlan): Int = p.collect {
    case w: WindowNode if w.windowExpressions.exists(_.exists(_.isInstanceOf[RowNumber])) => w
  }.size

  /** True when the analyzed plan has a row_number window that the optimized
    * plan no longer has: the top-one rewrite fired. Plans only, no jobs. */
  def topOneRewritten(df: DataFrame): Boolean = {
    val qe = df.queryExecution
    rowNumberWindows(qe.analyzed) > 0 && rowNumberWindows(qe.optimizedPlan) == 0
  }

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile (p in 0..100) of a sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt
    s(math.min(s.length - 1, math.max(0, rank - 1)))
  }

  /** The highest of a fixed percentile ladder that still has at least
    * `beyond` samples above its value: (percentile, value, samples above). */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double, Int)] =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).iterator.map { p =>
      val v = percentile(xs, p)
      (p, v, xs.count(_ > v))
    }.find(_._3 >= beyond)

  def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    d.map(b => f"${b & 0xff}%02x").mkString
  }
}
