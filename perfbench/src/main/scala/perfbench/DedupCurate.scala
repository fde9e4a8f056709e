package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.DedupOps
import graft.sources.Tables

/** One curation pass over a seed-chosen ~90% sample of the corpus, written
  * once in set-up: the C18 component loop and keeper pick
  * (dedupCanonical), edit-distance verification of the simhash-band
  * candidates, and the transitivity census. The outputs are collected to
  * the driver and nothing is written, so the pass is read-only. The two
  * kernel timings call the registered SQL functions on inputs cached in
  * set-up from the sample itself. Bypasses Etl, UpsertSink and the stores. */
final class DedupCurate(spark: SparkSession, work: String, seed: Long,
    expectDigest: Option[String]) extends Workload {

  private val corpus = s"$work/corpus"
  private val sample = s"$work/sample"

  private var pairs: DataFrame = _
  private var docs: DataFrame = _
  private var nPairs = 0L
  private var nDocs = 0L
  private var firstDigest: Option[String] = None
  private var lastDigest = ""
  private var candidates = 0L
  private var verified = 0L

  def rowsPerStep: Long = nDocs

  def setup(): Unit = {
    Main.phase("generate") {
      Gen.writeTables(spark, seed, Gen.Default, corpus, Set("documents"))
      Tables.documents(spark, corpus)
        .filter(pmod(xxhash64(col("doc_id"), lit(seed)), lit(10L)) =!= 0)
        .coalesce(1).write.parquet(s"$sample/documents.parquet")
    }
    Main.phase("kernel inputs") {
      graft.functions.Kernels.register(spark)
      val norm = Tables.documents(spark, sample)
        .select(col("doc_id"), lower(trim(col("text"))).as("norm"))
      // the sample's simhash-band candidate pairs with both texts, and the
      // sample's normalized texts
      pairs = DedupOps.dedupSimhashBand(spark, sample)
        .join(norm.select(col("doc_id").as("doc_a"), col("norm").as("t_a")), "doc_a")
        .join(norm.select(col("doc_id").as("doc_b"), col("norm").as("t_b")), "doc_b")
        .select("t_a", "t_b").cache()
      docs = norm.select("norm").cache()
      nPairs = pairs.count()
      nDocs = docs.count()
    }
  }

  /** The three curation plans; returns their collected outputs. */
  private def curate(tr: Tracer): Seq[Row] = {
    val canon = tr.span("dedup.canonical")(
      DedupOps.dedupCanonical(spark, sample).collect())
    val edit = tr.span("dedup.edit_distance")(
      DedupOps.dedupEditDistance(spark, sample).collect())
    val trans = tr.span("dedup.transitivity")(
      DedupOps.dedupTransitivity(spark, sample).collect())
    candidates = edit.length.toLong
    verified = edit.count(_.getAs[Boolean]("es_casi_duplicado")).toLong
    canon.toSeq ++ edit ++ trans
  }

  /** The two kernels over their cached inputs; returns one summary row
    * each. */
  private def kernels(tr: Tracer): Seq[Row] = Seq(
    tr.span("kernels.lev")(
      pairs.selectExpr("graft_lev_capped(t_a, t_b) AS d")
        .agg(count(lit(1)), sum("d")).head()),
    tr.span("kernels.minhash")(
      docs.selectExpr("graft_minhash_rows(norm) AS m")
        .agg(count(lit(1)), sum(xxhash64(col("m")).cast("decimal(38,0)"))).head()))

  def step(tr: Tracer): Unit =
    lastDigest = Workload.digestRows(curate(tr) ++ kernels(tr))

  /** Every pass gives pass 1's digest; at the default seed that digest is
    * the recorded one. */
  def check(): Option[String] = {
    System.err.println(s"[perfbench] curation pass digest $lastDigest")
    if (firstDigest.isEmpty) firstDigest = Some(lastDigest)
    if (candidates == 0) Some("no candidate pairs")
    else if (firstDigest.get != lastDigest)
      Some(s"pass digest $lastDigest differs from pass 1's ${firstDigest.get}")
    else if (expectDigest.exists(_ != lastDigest))
      Some(s"pass digest $lastDigest differs from the recorded ${expectDigest.get}")
    else None
  }

  /** Keeps the kernels' inputs cached: they are set-up state. */
  def resetCaches(): Unit = {
    spark.catalog.clearCache()
    pairs.cache().count(): Unit
    docs.cache().count(): Unit
  }

  /** The pass writes nothing, and its sample is set-up state: no bytes
    * count towards the stored/input ratio. */
  def storedBytes: Long = 0L
  def inputBytes: Long = 0L

  def layerExtras(first: Map[String, SpanStats]): Map[String, Double] = Map(
    "dedup.verify_yield" -> verified.toDouble / candidates,
    "kernels.lev_us_per_pair" ->
      first.get("kernels.lev").map(_.taskS * 1e6 / nPairs).getOrElse(0.0),
    "kernels.minhash_us_per_doc" ->
      first.get("kernels.minhash").map(_.taskS * 1e6 / nDocs).getOrElse(0.0))
}
