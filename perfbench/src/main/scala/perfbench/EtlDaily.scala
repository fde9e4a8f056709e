package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Etl
import graft.sources.Tables
import graft.streaming.UpsertSink

/** The morning ETL run. One step is one business day: the A15 daily report
  * (A1-A4 validators plus the report) is collected, a seed-chosen ~2% of
  * orders arrives re-priced and is merged into the persistent orders
  * snapshot, and the orders and lineitem entities are synced from the
  * report's cutoff. Never touches DedupOps or the stores. */
final class EtlDaily(spark: SparkSession, work: String, seed: Long)
    extends Workload {

  private val in = s"$work/in"
  private val snapshot = s"$work/orders_snapshot"
  private val tables = Set("customer", "part", "orders", "lineitem")

  private var day = 0
  private val applied = mutable.ArrayBuffer.empty[String]
  private var report: Array[Row] = Array.empty
  private var synced = 0L
  private var batchRows = 0L
  private var rows = 0L

  def rowsPerStep: Long = rows

  def setup(): Unit = {
    Main.phase("generate")(Gen.writeTables(spark, seed, Gen.Default, in, tables))
    val counts = tables.toSeq.map(t => Tables.load(spark, in, t).count())
    // the report reads the four tables; the merge reads the snapshot
    rows = counts.sum + counts(tables.toSeq.indexOf("orders"))
    Tables.orders(spark, in).withColumn("o_version", lit(0L))
      .write.parquet(snapshot)
  }

  /** Day `d`'s arriving batch: a seed-chosen ~2% of orders, re-priced by
    * up to ±10%, written as a file before the day starts. */
  private def writeBatch(d: Int): String = {
    val path = s"$work/batches/day=$d"
    val h = xxhash64(col("o_orderkey"), lit(seed), lit(d.toLong))
    Tables.orders(spark, in)
      .filter(pmod(h, lit(50L)) === 0)
      .withColumn("o_totalprice", round(col("o_totalprice") *
        (lit(1.0) + (pmod(h, lit(201L)) - 100) / 1000.0), 2))
      .withColumn("o_version", lit(d.toLong))
      .coalesce(1).write.parquet(path)
    path
  }

  def step(tr: Tracer): Unit = {
    day += 1
    // the batch file is the day's input, so it is generated off the clock
    val batchPath = Main.offClock(writeBatch(day))
    val batch = spark.read.parquet(batchPath)
    report = tr.span("etl.report")(
      Etl.dailyEtlReport(spark, in).collect())
    tr.span("upsert.merge")(
      UpsertSink.mergeBatch(batch, "o_orderkey", "o_version", snapshot))
    applied += batchPath
    synced = tr.span("etl.sync") {
      Etl.syncEntity(spark, in, "orders", Etl.DailyEtlCutoff).collect().length +
        Etl.syncEntity(spark, in, "lineitem", Etl.DailyEtlCutoff).collect().length
    }.toLong
    batchRows = Main.offClock(batch.count())
  }

  /** The report balances (n_entrada = n_cargados + n_rechazados on every
    * row, and the total row sums the steps); the snapshot has unique keys
    * and equals one merge of the base and every applied batch. */
  def check(): Option[String] = {
    val steps = report.filter(_.getAs[Long]("paso") < 5L)
    val total = report.find(_.getAs[Long]("paso") == 5L)
    def sumOf(c: String) = steps.map(_.getAs[Long](c)).sum
    val snap = spark.read.parquet(snapshot)
    val base = Tables.orders(spark, in).withColumn("o_version", lit(0L))
    val latest = spark.read.parquet(applied.toSeq: _*)
      .withColumn("_rn", row_number().over(Window.partitionBy("o_orderkey")
        .orderBy(col("o_version").desc)))
      .filter(col("_rn") === 1).drop("_rn")
    val expect = Etl.merge(base, latest, "o_orderkey")
      .select(snap.columns.map(col).toIndexedSeq: _*)
    val Seq(n, d, keys) = Workload.digest(snap, "o_orderkey")
    if (steps.length != 4 || total.isEmpty) Some("report shape")
    else if (report.exists(r => r.getAs[Long]("n_entrada") !=
        r.getAs[Long]("n_cargados") + r.getAs[Long]("n_rechazados")))
      Some("report row does not balance")
    else if (Seq("n_entrada", "n_cargados", "n_rechazados", "n_advertencias")
        .exists(c => total.get.getAs[Long](c) != sumOf(c)))
      Some("report total is not the sum of its steps")
    else if (!report.forall(_.getAs[Boolean]("paso_ok"))) Some("a step loaded nothing")
    else if (synced <= 0) Some("sync returned no rows")
    else if (keys != n) Some(s"snapshot keys not unique ($keys keys, $n rows)")
    else if (Workload.digest(expect) != Seq(n, d))
      Some("snapshot differs from a one-shot merge of base and batches")
    else None
  }

  def resetCaches(): Unit = spark.catalog.clearCache()

  def storedBytes: Long = Gen.duBytes(snapshot)
  def inputBytes: Long = Gen.duBytes(in)

  def layerExtras(first: Map[String, SpanStats]): Map[String, Double] = {
    val total = report.find(_.getAs[Long]("paso") == 5L)
    Map(
      "upsert.bytes_per_changed_row" ->
        first.get("upsert.merge").map(_.outputBytes.toDouble / batchRows)
          .getOrElse(0.0),
      "etl.rows_rejected" ->
        total.map(_.getAs[Long]("n_rechazados").toDouble).getOrElse(0.0),
      "etl.rows_warned" ->
        total.map(_.getAs[Long]("n_advertencias").toDouble).getOrElse(0.0))
  }
}
