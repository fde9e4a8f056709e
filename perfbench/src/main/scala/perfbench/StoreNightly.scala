package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{AnnArtifacts, DedupArtifacts, Nightly, SketchArtifacts,
  StreamArtifacts}
import graft.sources.{Feeds, Tables}

/** The nightly store maintenance over the stream-gate index and the ANN
  * index (staged from the generated corpus and vectors) and the day-grain
  * sketch families. One step is one `Nightly.runDay` over a
  * seed-generated ingest day (a seed-chosen 3% of events re-stamped to
  * the day, `Feeds.incomingDocs` under fresh ids, a seed-chosen 10% of
  * vectors under fresh ids), followed by a verified read-back of the
  * stream-gate index. With `MaxSlices` = 2, compaction fires on every
  * night after the first (a night merges only slices older than itself,
  * so the first night after a build never compacts), so every night after
  * the warm-up has the same shape.
  *
  * The traced step runs runDay's public steps one by one, in runDay's
  * order, on a copy of the store taken after the first night. The two
  * stores run the same days, each in order, and must carry the same
  * manifests after each day both have run. */
final class StoreNightly(spark: SparkSession, work: String, seed: Long)
    extends Workload {

  private val MaxSlices = 2
  private val DayEpoch0 = 19800L // the days after the generated event month
  private val NanosPerDay = 86400000000000L
  private val IdStride = 1000000000L

  private val in = s"$work/in"
  private val tables = Set("events", "documents", "embeddings")
  import StoreNightly.Store
  private val timed = Store(s"$work/store")
  private val traced = Store(s"$work/store_traced")

  // the day-grain sketch families: the ones runDay maintains
  private val sketchFamilies = Seq("qsketch_day", "cms_day", "hll_day")
  private val streamFamilies = StreamArtifacts.Families
  private val annFamilies = Seq("flat", "ivf_cells", "pq_codes",
    "ivf_centroids", "pq_codebook")

  private var timedDay = 0
  private var tracedDay = 0
  private val written = mutable.Set.empty[Int]
  private val timedManifests = mutable.Map.empty[Int, Seq[String]]
  private val tracedManifests = mutable.Map.empty[Int, Seq[String]]
  private var dayRows = 0L
  private var dayBytes = 0L
  private var lastReport: Array[Row] = Array.empty
  private var lastStats: Array[Row] = Array.empty
  private var lastStore = timed
  private var problem: Option[String] = None
  private var compactions = 0L

  def rowsPerStep: Long = dayRows

  def setup(): Unit = {
    Main.phase("generate")(Gen.writeTables(spark, seed, Gen.Default, in, tables))
    Main.phase("stage stream")(StreamArtifacts.write(spark, in, timed.stream))
    Main.phase("stage ann")(AnnArtifacts.write(spark, in, timed.ann))
  }

  private def epoch(d: Int): Long = DayEpoch0 + d

  private def dayDir(d: Int) = s"$work/days/day=$d"

  /** Day `d`'s ingest frames; the first store to reach the day writes its
    * files, off the clock. The day has the same size under every seed:
    * the 3% of events and the 10% of vectors with the smallest seeded
    * hash. */
  private def dayFrames(d: Int): Seq[DataFrame] = {
    if (!written(d)) Main.offClock(writeDay(d))
    written += d
    Seq("events", "docs", "vectors").map(f => spark.read.parquet(s"${dayDir(d)}/$f"))
  }

  private def writeDay(d: Int): Unit = {
    val dir = dayDir(d)
    val ids = lit((d + 1).toLong * IdStride)
    def pick(df: DataFrame, id: String, share: Double) =
      df.orderBy(xxhash64(col(id), lit(seed), lit(d.toLong)), col(id))
        .limit((share * df.count()).toInt)
    pick(Tables.events(spark, in), "event_id", 0.03)
      .select((lit(epoch(d)) * NanosPerDay + col("ts") % NanosPerDay).as("ts"),
        col("value"), col("user_id"))
      .coalesce(1).write.parquet(s"$dir/events")
    Feeds.incomingDocs(spark, in)
      .select((col("doc_id") + ids).as("doc_id"), col("text"), col("source"))
      .coalesce(1).write.parquet(s"$dir/docs")
    pick(Tables.embeddings(spark, in), "vec_id", 0.10)
      .select((col("vec_id") + ids).as("vec_id"), col("label"), col("embedding"))
      .coalesce(1).write.parquet(s"$dir/vectors")
    dayBytes = Gen.duBytes(dir)
    dayRows = Seq("events", "docs", "vectors")
      .map(f => spark.read.parquet(s"$dir/$f").count()).sum
  }

  private def manifests(s: Store): Seq[String] = {
    def read(path: String) = {
      val p = java.nio.file.Paths.get(path, "_graft_manifest.json")
      if (java.nio.file.Files.exists(p)) new String(
        java.nio.file.Files.readAllBytes(p), "UTF-8") else s"missing $path"
    }
    sketchFamilies.map(f => read(s"${s.sketch}/$f")) ++
      streamFamilies.map(f => read(s"${s.stream}/$f")) ++
      annFamilies.map(f => read(s"${s.ann}/$f"))
  }

  private def copyStore(from: Store, to: Store): Unit = {
    val src = java.nio.file.Paths.get(from.root)
    val dst = java.nio.file.Paths.get(to.root)
    val st = java.nio.file.Files.walk(src)
    try st.forEach { p =>
      val q = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q)
    } finally st.close()
  }

  def step(tr: Tracer): Unit = {
    problem = None
    if (!tr.on) {
      timedDay += 1
      val Seq(ev, docs, vecs) = dayFrames(timedDay)
      lastStore = timed
      lastReport = Nightly.runDay(spark, epoch(timedDay), timed.sketch,
        timed.stream, timed.ann, ev, docs, vecs, MaxSlices).collect()
      lastStats = StreamArtifacts.streamIndexStats(spark, timed.stream).collect()
      Main.offClock {
        timedManifests(timedDay) = manifests(timed)
        if (timedDay == 1) {
          copyStore(timed, traced)
          tracedDay = 1
          tracedManifests(1) = timedManifests(1)
        }
      }
    } else {
      tracedDay += 1
      val Seq(ev, docs, vecs) = dayFrames(tracedDay)
      val s = traced
      lastStore = traced
      val d = epoch(tracedDay)
      tr.span("store.recover") {
        StreamArtifacts.recover(spark, s.stream); AnnArtifacts.recover(spark, s.ann)
      }
      tr.span("store.sketch_append") {
        SketchArtifacts.appendQsketchDay(spark, s.sketch, d, ev)
        SketchArtifacts.appendCmsDay(spark, s.sketch, d, ev)
        SketchArtifacts.appendHllDay(spark, s.sketch, d, ev)
      }
      tr.span("store.stream_append")(StreamArtifacts.appendDay(spark, s.stream, d, docs))
      tr.span("store.ann_append")(AnnArtifacts.appendDay(spark, s.ann, d, vecs))
      val before = Main.offClock(manifests(s))
      val fired = tr.span("store.compact") {
        Seq(StreamArtifacts.compactIfNeeded(spark, s.stream, MaxSlices, d),
          AnnArtifacts.compactIfNeeded(spark, s.ann, MaxSlices, d))
      }
      compactions = fired.count(identity).toLong
      Main.offClock {
        tracedManifests(tracedDay) = manifests(s)
        if (tracedManifests(tracedDay) != before)
          problem = Some("compaction changed a canonical digest")
      }
      lastStats = tr.span("store.read")(
        StreamArtifacts.streamIndexStats(spark, s.stream).collect())
    }
    // the two stores agree on every day both have run
    val d = math.min(timedDay, tracedDay)
    if (problem.isEmpty && d > 1 &&
        tracedManifests.get(d) != timedManifests.get(d))
      problem = Some(s"day $d: traced store's manifests differ from runDay's")
  }

  /** Every family reads back verified against its manifest, the night's
    * report says every append landed, and the read-back saw all four
    * gate families. A verified read after a compacting night also proves
    * compaction kept the canonical digest the appends stamped. */
  def check(): Option[String] = {
    val s = lastStore
    try {
      sketchFamilies.foreach(f => DedupArtifacts.readVerified(spark, s"${s.sketch}/$f"))
      AnnArtifacts.flat(spark, s.ann); AnnArtifacts.cells(spark, s.ann)
      AnnArtifacts.pqCodes(spark, s.ann); AnnArtifacts.centroids(spark, s.ann)
      AnnArtifacts.pqCodebook(spark, s.ann)
      if (problem.isDefined) problem
      else if (s == timed && !lastReport.forall(_.getAs[Boolean]("ok")))
        Some("a runDay step landed no rows")
      else if (lastStats.length != 4 || lastStats.exists(_.getAs[Long]("n_rows") <= 0))
        Some("stream index read-back incomplete")
      else None
    } catch { case e: Exception => Some(s"verified read failed: ${e.getMessage}") }
  }

  def resetCaches(): Unit = spark.catalog.clearCache()

  def storedBytes: Long = Gen.duBytes(timed.root)
  def inputBytes: Long = Gen.duBytes(in) + Gen.duBytes(s"$work/days")

  def layerExtras(first: Map[String, SpanStats]): Map[String, Double] = Map(
    "store.bytes_per_input_byte" -> first.values.map(_.outputBytes).sum
      .toDouble / dayBytes,
    "store.compactions" -> compactions.toDouble)
}

object StoreNightly {
  private final case class Store(root: String) {
    val sketch = s"$root/sketch"; val stream = s"$root/stream"
    val ann = s"$root/ann"
  }
}
