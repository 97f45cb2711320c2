package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Date

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator. Every row the engine sees is made here from
  * the workload seed; nothing is read from outside the run's own work
  * directory. Sizes grow past a base batch by KEY-SHIFTING (each new
  * batch takes the next unused key range, so keyed verbs always meet a
  * unique key) and by SALTED COPIES (a corpus document re-offered with
  * one word changed, or an embedding re-offered with tiny noise). */
final class Gen(seed: Long) {
  private val rng = new scala.util.Random(seed)

  def nextInt(n: Int): Int = rng.nextInt(n)
  def nextLong(lo: Long, hi: Long): Long = lo + (rng.nextDouble() * (hi - lo)).toLong
  def pick[T](xs: scala.collection.IndexedSeq[T]): T = xs(rng.nextInt(xs.size))

  // ---- orders: the keyed commit-log table ---------------------------------

  private val statuses = Vector("F", "O", "P")
  private val priorities =
    Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** One order row. `day` is days since 1992-01-01; dates advance with
    * the batch so a version's files cover a narrow date band, the way a
    * time-ordered ingest lays them out. */
  def order(key: Long, day: Int): Gen.Order = Gen.Order(
    key, 1L + rng.nextInt(15000), statuses(rng.nextInt(3)),
    100L + rng.nextInt(50000000), day + rng.nextInt(3),
    priorities(rng.nextInt(5)), f"Clerk#${rng.nextInt(1000)}%09d",
    words(4))

  /** `n` fresh orders on keys `[keyBase, keyBase + n)`. */
  def orders(keyBase: Long, n: Int, day: Int): Vector[Gen.Order] =
    Vector.tabulate(n)(i => order(keyBase + i, day))

  /** A changed copy of `o`: same key and status, new price and comment. */
  def reprice(o: Gen.Order): Gen.Order =
    o.copy(cents = 100L + rng.nextInt(50000000), comment = words(4))

  // ---- events: the schema-drifting TimeFly dataset -------------------------

  def events(keyBase: Long, n: Int, users: Int, withChannel: Boolean)
      : Vector[Gen.Event] =
    Vector.tabulate(n) { i =>
      Gen.Event(keyBase + i, rng.nextInt(users).toLong,
        Gen.kinds(rng.nextInt(Gen.kinds.size)), rng.nextInt(100000).toLong,
        if (withChannel) Some(Gen.channels(rng.nextInt(3))) else None)
    }

  // ---- corpus: documents and embeddings -------------------------------------

  /** A synthetic vocabulary large enough that two fresh documents share
    * no word 3-gram, so a fresh document is never a near-duplicate. */
  private val vocab: Vector[String] = {
    val syl = Vector("ka", "lo", "mi", "ne", "tu", "ra", "vo", "si", "pe",
      "gu", "da", "ze", "bo", "fi", "hu", "jo", "wa", "xi", "ye", "qu")
    Vector.tabulate(8000)(i =>
      syl(i % 20) + syl((i / 20) % 20) + syl((i / 400) % 20))
  }

  def words(n: Int): String =
    Vector.fill(n)(vocab(rng.nextInt(vocab.size))).mkString(" ")

  def doc(id: Long, nWords: Int): Gen.Doc = Gen.Doc(id, words(nWords))

  /** Salted copy: one word replaced. With 40-word documents the copy
    * keeps about 0.85 word-3-gram Jaccard with its source, far above the
    * gate's 0.6 threshold. */
  def saltedDoc(src: Gen.Doc, newId: Long): Gen.Doc = {
    val ws = src.text.split(' ')
    ws(rng.nextInt(ws.length)) = "salt" + vocab(rng.nextInt(vocab.size))
    Gen.Doc(newId, ws.mkString(" "))
  }

  def vec(id: Long, dim: Int): Gen.Vec =
    Gen.Vec(id, Array.fill(dim)(rng.nextGaussian().toFloat))

  /** Copy with relative noise 1e-3: cosine to the source stays > 0.999. */
  def noisyVec(src: Gen.Vec, newId: Long): Gen.Vec =
    Gen.Vec(newId, src.v.map(x =>
      (x + 1e-3 * rng.nextGaussian()).toFloat))
}

object Gen {
  val Epoch: Date = Date.valueOf("1992-01-01")
  def dateOf(day: Int): Date = Date.valueOf(Epoch.toLocalDate.plusDays(day.toLong))
  val kinds = Vector("view", "click", "cart", "buy")
  val channels = Vector("web", "app", "mail")

  final case class Order(key: Long, cust: Long, status: String,
      cents: Long, day: Int, priority: String, clerk: String,
      comment: String) {
    def price: Double = cents / 100.0
    def date: Date = dateOf(day)
    /** Logical size: fixed-width fields at their width, strings at their
      * UTF-8 length. The denominator of write amplification. */
    def bytes: Long = 8 + 8 + 8 + 4 + utf8(status) + utf8(priority) +
      utf8(clerk) + utf8(comment)
  }

  final case class Event(id: Long, user: Long, kind: String, value: Long,
      channel: Option[String]) {
    def bytes: Long = 8 + 8 + 8 + utf8(kind) + channel.map(utf8).getOrElse(0)
  }

  final case class Doc(id: Long, text: String) {
    def bytes: Long = 8 + utf8(text)
  }

  final case class Vec(id: Long, v: Array[Float]) {
    def bytes: Long = 8 + 4L * v.length
  }

  def utf8(s: String): Int = s.getBytes(UTF_8).length

  val orderSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", DateType),
    StructField("o_orderpriority", StringType),
    StructField("o_clerk", StringType),
    StructField("o_comment", StringType)))

  def ordersDf(spark: SparkSession, rows: Seq[Order]): DataFrame =
    frame(spark, orderSchema, rows.map(o => Row(o.key, o.cust, o.status,
      o.price, o.date, o.priority, o.clerk, o.comment)))

  def eventsDf(spark: SparkSession, rows: Seq[Event],
      withChannel: Boolean): DataFrame = {
    val base = Seq(
      StructField("event_id", LongType, nullable = false),
      StructField("user_id", LongType),
      StructField("kind", StringType),
      StructField("value", LongType))
    val schema = StructType(
      if (withChannel) base :+ StructField("channel", StringType) else base)
    frame(spark, schema, rows.map { e =>
      val f = Seq[Any](e.id, e.user, e.kind, e.value)
      Row.fromSeq(if (withChannel) f :+ e.channel.orNull else f)
    })
  }

  def docsDf(spark: SparkSession, rows: Seq[Doc]): DataFrame =
    frame(spark, StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType))),
      rows.map(d => Row(d.id, d.text)))

  def vecsDf(spark: SparkSession, rows: Seq[Vec]): DataFrame =
    frame(spark, StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false)))),
      rows.map(r => Row(r.id, r.v.toSeq)))

  private def frame(spark: SparkSession, schema: StructType,
      rows: Seq[Row]): DataFrame = {
    val l = new java.util.ArrayList[Row](rows.size)
    rows.foreach(l.add)
    spark.createDataFrame(l, schema)
  }
}
