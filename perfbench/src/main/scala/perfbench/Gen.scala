package perfbench

import java.time.LocalDateTime
import java.util.SplittableRandom

import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{SaveMode, SparkSession}

/** Seeded synthetic inputs in the shape of graft's table universe (the
  * TPC-H-like star schema, the events stream, the document corpus and the
  * embedding table). The same seed always gives the same rows and the same
  * files. Value ranges follow the schema the library's loaders and
  * validators expect; the corpus draws words from a 30-word vocabulary and
  * plants near-duplicates (an earlier document plus a " dup" suffix), so
  * the dedup plans have candidate pairs and clusters to work on. */
object Gen {

  /** Row counts of one generated universe. */
  final case class Scale(customers: Int, parts: Int, orders: Int,
      events: Int, docs: Int, vectors: Int)

  val Default: Scale = Scale(customers = 1500, parts = 2000, orders = 15000,
    events = 10000, docs = 1000, vectors = 500)

  /** Files per table: a fixed count keeps the written layout, and with it
    * every scan's task count, independent of the machine. */
  private val Files = 4

  final case class Customer(c_custkey: Long, c_name: String,
      c_nationkey: Int, c_acctbal: Double, c_mktsegment: String)
  final case class Part(p_partkey: Long, p_name: String, p_brand: String,
      p_type: String, p_size: Int, p_retailprice: Double)
  final case class Order(o_orderkey: Long, o_custkey: Long,
      o_orderstatus: String, o_totalprice: Double, o_orderdate: LocalDateTime,
      o_orderpriority: String)
  final case class LineItem(l_orderkey: Long, l_partkey: Long,
      l_suppkey: Long, l_linenumber: Int, l_quantity: Double,
      l_extendedprice: Double, l_discount: Double, l_tax: Double,
      l_returnflag: String, l_linestatus: String, l_shipdate: LocalDateTime)
  final case class Event(event_id: Long, ts: LocalDateTime, user_id: Long,
      event_type: String, value: Double, props: String)
  final case class Doc(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)
  final case class Vec(vec_id: Long, embedding: Array[Float], label: Int)

  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  private val Adjectives = Array("large", "hot", "blue", "small", "shiny",
    "green", "dark", "light")
  private val Nouns = Array("ring", "bolt", "gear", "nut", "pipe", "valve")
  private val Types = Array("ECONOMY", "LARGE", "MEDIUM", "SMALL", "STANDARD")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val OrderStatuses = Array("F", "O", "P")
  private val ReturnFlags = Array("A", "N", "R")
  private val LineStatuses = Array("F", "O")
  private val EventTypes = Array("click", "error", "purchase", "signup", "view")
  private val Langs = Array("en", "en", "en", "es", "de", "fr", "zh")
  private val Vocab = ("a agg batch big column customer data filter fast " +
    "group hash join key line merge order part query row scan slow small " +
    "sort spark stream table the value vector window").split(" ")

  private val OrderDay0 = LocalDateTime.of(1995, 1, 1, 0, 0)
  private val OrderDays = 2404 // up to 2001-08-01
  private val EventT0 = LocalDateTime.of(2024, 1, 1, 0, 0)
  private val EventSeconds = 30L * 86400L

  private def rng(seed: Long, table: Int) =
    new SplittableRandom(seed * 1000003L + table)

  private def cents(x: Double): Double = math.round(x * 100.0) / 100.0

  def customers(seed: Long, s: Scale): Seq[Customer] = {
    val r = rng(seed, 1)
    (0 until s.customers).map { i =>
      Customer(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        cents(r.nextDouble(-999.99, 9999.99)), Segments(r.nextInt(5)))
    }
  }

  def parts(seed: Long, s: Scale): Seq[Part] = {
    val r = rng(seed, 2)
    (0 until s.parts).map { i =>
      Part(i.toLong, s"${Adjectives(r.nextInt(8))} ${Nouns(r.nextInt(6))}",
        s"Brand#${1 + r.nextInt(25)}", Types(r.nextInt(5)), 1 + r.nextInt(50),
        cents(900.0 + (i % 1000) / 10.0 + r.nextInt(100)))
    }
  }

  /** Orders and their lines; every order carries 1 to 7 lines shipped
    * within 120 days of the order date, and its total is the sum of its
    * lines. */
  def ordersAndLines(seed: Long, s: Scale): (Seq[Order], Seq[LineItem]) = {
    val r = rng(seed, 3)
    val lines = Vector.newBuilder[LineItem]
    val orders = (0 until s.orders).map { o =>
      val date = OrderDay0.plusDays(r.nextInt(OrderDays + 1).toLong)
      var total = 0.0
      val nLines = 1 + r.nextInt(7)
      (1 to nLines).foreach { ln =>
        val qty = (1 + r.nextInt(50)).toDouble
        val part = r.nextInt(s.parts).toLong
        val price = cents(qty * (900.0 + r.nextDouble() * 1100.0))
        val disc = r.nextInt(11) / 100.0
        total += price * (1.0 - disc)
        lines += LineItem(o.toLong, part, r.nextInt(1000).toLong, ln, qty,
          price, disc, r.nextInt(9) / 100.0, ReturnFlags(r.nextInt(3)),
          LineStatuses(r.nextInt(2)), date.plusDays(1L + r.nextInt(120)))
      }
      Order(o.toLong, r.nextInt(s.customers).toLong,
        OrderStatuses(r.nextInt(3)), cents(total), date,
        Priorities(r.nextInt(5)))
    }
    (orders, lines.result())
  }

  def events(seed: Long, s: Scale): Seq[Event] = {
    val r = rng(seed, 4)
    (0 until s.events).map { i =>
      val at = EventT0.plusNanos(
        (r.nextDouble() * EventSeconds * 1e6).toLong * 1000L)
      Event(i.toLong, at, r.nextInt(s.customers).toLong,
        EventTypes(r.nextInt(5)), cents(-math.log(1.0 - r.nextDouble()) * 50.0),
        s"""{"k": ${r.nextInt(100)}}""")
    }
  }

  /** Random word sequences of 10 to 100 words; about one document in
    * twenty is an earlier document with " dup" appended, so near-duplicate
    * families (and chains of them) occur at every size. */
  def docs(seed: Long, s: Scale): Seq[Doc] = {
    val r = rng(seed, 5)
    val texts = new Array[String](s.docs)
    (0 until s.docs).map { i =>
      val t =
        if (i > 0 && r.nextInt(20) == 0) texts(r.nextInt(i)) + " dup"
        else Seq.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.length)))
          .mkString(" ")
      texts(i) = t
      Doc(i.toLong, t, Langs(r.nextInt(Langs.length)), s"src${i % 20}",
        t.length.toLong)
    }
  }

  /** 64-dimensional vectors around ten label centres. */
  def vectors(seed: Long, s: Scale): Seq[Vec] = {
    val r = rng(seed, 6)
    val centres = Array.fill(10, 64)(r.nextDouble(-0.2, 0.2))
    (0 until s.vectors).map { i =>
      val label = r.nextInt(10)
      Vec(i.toLong, Array.tabulate(64)(d =>
        (centres(label)(d) + r.nextDouble(-0.1, 0.1)).toFloat), label)
    }
  }

  /** Write the named tables as `<dir>/<table>.parquet`, each as `Files`
    * files in key order: one job per table, no shuffle. */
  def writeTables(spark: SparkSession, seed: Long, s: Scale, dir: String,
      tables: Set[String]): Unit = {
    def put[T <: Product : ClassTag : TypeTag](name: String, rows: => Seq[T]): Unit =
      if (tables(name))
        spark.createDataFrame(spark.sparkContext.parallelize(rows, Files))
          .write.mode(SaveMode.Overwrite).parquet(s"$dir/$name.parquet")
    put("customer", customers(seed, s))
    put("part", parts(seed, s))
    lazy val (o, l) = ordersAndLines(seed, s)
    put("orders", o)
    put("lineitem", l)
    put("events", events(seed, s))
    put("documents", docs(seed, s))
    put("embeddings", vectors(seed, s))
  }

  /** Bytes of every regular file under `path` (0 when it does not exist). */
  def duBytes(path: String): Long = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val st = java.nio.file.Files.walk(root)
      try st.filter(p => java.nio.file.Files.isRegularFile(p))
        .mapToLong(p => java.nio.file.Files.size(p)).sum()
      finally st.close()
    }
  }
}
