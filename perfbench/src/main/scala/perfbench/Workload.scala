package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** One workload: untimed set-up, then closed-loop steps. A step is the
  * unit a user waits for; its output check runs off the clock. */
trait Workload {
  /** Generate the inputs and stage what the steps read. */
  def setup(): Unit

  /** Drop what earlier steps left in Spark's cache before the next step:
    * graft caches some intermediate relations without releasing them, and
    * a later call over the same files would be answered from that cache
    * instead of doing the step's work. */
  def resetCaches(): Unit

  /** One timed step. With a traced tracer it records spans. */
  def step(tr: Tracer): Unit

  /** Check the last step's outputs (off the clock); None when they are
    * right, else what is wrong. */
  def check(): Option[String]

  /** Input rows one step consumes. */
  def rowsPerStep: Long

  /** On-disk bytes of the workload's outputs, and of its inputs. */
  def storedBytes: Long
  def inputBytes: Long

  /** Per-layer figures beyond the span counters, taken right after the
    * first traced step from that step and its spans. */
  def layerExtras(first: Map[String, SpanStats]): Map[String, Double]
}

/** Workloads run one after another as one: a step is every part's step,
  * in order, and the figures are the parts' sums. */
final class Composite(parts: Workload*) extends Workload {
  def setup(): Unit = parts.foreach(_.setup())
  def resetCaches(): Unit = parts.foreach(_.resetCaches())
  def step(tr: Tracer): Unit = parts.foreach(_.step(tr))
  def check(): Option[String] = parts.flatMap(_.check()).headOption
  def rowsPerStep: Long = parts.map(_.rowsPerStep).sum
  def storedBytes: Long = parts.map(_.storedBytes).sum
  def inputBytes: Long = parts.map(_.inputBytes).sum
  def layerExtras(first: Map[String, SpanStats]): Map[String, Double] =
    parts.map(_.layerExtras(first)).reduce(_ ++ _)
}

object Workload {
  def apply(name: String, spark: SparkSession, work: String, seed: Long,
      expectDigest: Option[String]): Workload = name match {
    // the morning run: the day's ETL, then the curation pass on top of it
    case "etl_curate" => new Composite(new EtlDaily(spark, work, seed),
      new DedupCurate(spark, work, seed, expectDigest))
    case "store_nightly" => new StoreNightly(spark, work, seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** An order-free digest of a frame's rows, in one job: the row count,
    * the exact sum of per-row 64-bit hashes and, for each of `keys`, its
    * number of distinct values. */
  def digest(df: DataFrame, keys: String*): Seq[Any] =
    df.agg(count(lit(1)), (coalesce(
      sum(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)")),
      lit(0).cast("decimal(38,0)")) +: keys.map(k => countDistinct(col(k)))): _*)
      .head().toSeq

  /** An order-free digest of collected rows. */
  def digestRows(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach { s =>
      md.update(s.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}
