package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.lake.{CommitLog, LakeManager, TimeFly, WriteMode}

/** `serve`: read-only traffic on a static lake built during setup — a
  * CommitLog table with many small versions and trusted FileStats, and a
  * TimeFly dataset whose snapshots hold schema-heterogeneous fragments.
  * The lake stays below CommitLog's 64-entry resolve cache (see the
  * README); the literal-varying SQL and lookups keep Spark's 100-entry
  * codegen cache busy. No writes. */
final class Serve(c: Ctx) extends Workload {
  import Serve._
  private val spark = c.spark
  private val tr = c.tr
  private val gen = c.gen

  private val Versions = if (c.small) 5 else 12
  private val VersionRows = if (c.small) 200 else 1000
  private val Snapshots = if (c.small) 3 else 4
  private val SnapshotRows = if (c.small) 200 else 2000
  private val root = s"${c.work}/lake"
  private var lm: LakeManager = _
  private var log: CommitLog = _
  private var tf: TimeFly = _

  // ---- the model ------------------------------------------------------------
  private val orders = mutable.ArrayBuffer[Gen.Order]()
  /** version -> rows committed through it */
  private val rowsAt = mutable.ArrayBuffer[Int](0)
  private var snapIds = Vector[String]()
  /** snapshot index -> events in it */
  private val eventsAt = mutable.ArrayBuffer[Int]()
  private val events = mutable.ArrayBuffer[Gen.Event]()
  private var setupBytes0 = 0L

  def setup(): Unit = {
    lm = tr.span("LakeManager.init")(LakeManager(spark, root).init())
    tr.span("LakeManager.addCommitLog")(lm.addCommitLog("orders"))
    // a bulk load: a plain handle, so no SQL view refresh per commit,
    // and the stats sidecar built once at the end
    val loader = CommitLog(spark, s"$root/orders").init()
    (1 to Versions).foreach { v =>
      val b = gen.orders(orders.size + 1L, VersionRows, v)
      tr.span("CommitLog.append")(loader.append(Gen.ordersDf(spark, b)))
      orders ++= b
      rowsAt += orders.size
      setupBytes0 += b.map(_.bytes).sum
    }
    log = lm.commitLog("orders")
    tr.span("CommitLog.buildStats")(log.buildStats())
    tr.span("LakeManager.registerViews")(lm.registerViews())
    tf = tr.span("LakeManager.addDataset")(lm.addDataset("events"))
    (0 until Snapshots).foreach { s =>
      val drift = s >= Snapshots / 2
      val b = gen.events(events.size + 1L, SnapshotRows, Users, drift)
      tr.span("LakeWriter.append") {
        tf.writer(WriteMode.Append).write(Gen.eventsDf(spark, b, drift))
      }
      snapIds :+= tr.span("TimeFly.snapshot")(tf.addSnapshot())
      events ++= b
      eventsAt += events.size
      setupBytes0 += b.map(_.bytes).sum
    }
  }

  def cycle: Vector[String] = Cycle
  def cycleSeconds: Double = 7.5

  /** The next pick in [1, total] from the i-th of n equal strata. Time
    * travel and snapshot reads cost more the more files their version
    * holds, so each cycle reads from every stratum, and successive
    * cycles walk each stratum in turn: every run reads the same versions
    * in the same order, so its work does not depend on the seed. */
  private val visits = mutable.Map[(Int, Int), Int]().withDefaultValue(0)
  private def pickIn(i: Int, n: Int, total: Int): Int = {
    val lo = total * (i - 1) / n
    val k = visits((i, n))
    visits((i, n)) = k + 1
    1 + lo + k % (total * i / n - lo)
  }

  /** The as-of string that resolves to snapshot `s`: the first snapshot
    * whose id is after it. */
  private def asOf(s: Int): String =
    if (s == 0) "19700101_000000" else snapIds(s - 1)

  private def ordersIn(p: Gen.Order => Boolean, upto: Int = orders.size) = {
    var n, sc = 0L
    var i = 0
    while (i < upto) {
      val o = orders(i)
      if (p(o)) { n += 1; sc += o.cents }
      i += 1
    }
    (n, sc)
  }

  def op(kind: String): Op = kind match {
    case "point" | "miss" =>
      val k = if (kind == "miss") orders.size + 1L + gen.nextInt(1000)
        else gen.nextLong(1, orders.size + 1L)
      new Op(kind, 0, 0, () => {
        val got = tr.span("CommitLog.readFiltered") {
          c.collectLongs(log.readFiltered(s"o_orderkey = $k")
            .select(Ingest.cents(col("o_totalprice"))))
        }
        Op.Result(got.size, () => Op.expect(s"lookup $k", got,
          orders.lift((k - 1).toInt).map(_.cents).toSeq))
      })
    case "range" =>
      val lo = gen.nextInt(Versions - RangeDays + 1)
      val hi = lo + RangeDays
      val (from, to) = (Gen.dateOf(lo), Gen.dateOf(hi))
      new Op("range", 0, 0, () => {
        val got = tr.span("CommitLog.readFiltered") {
          sums(log.readFiltered(s"o_orderdate >= DATE'$from' AND " +
            s"o_orderdate < DATE'$to'"))
        }
        Op.Result(got._1, () => Op.expect(s"range [$from, $to)", got,
          ordersIn(o => o.day >= lo && o.day < hi)))
      })
    case k if k.startsWith("asof") =>
      val v = pickIn(k.last.asDigit, 4, Versions)
      new Op("asof", 0, 0, () => {
        val got = tr.span("CommitLog.read_asof")(sums(log.read(Some(v.toLong))))
        Op.Result(got._1, () => Op.expect(s"as of v$v", got,
          ordersIn(_ => true, rowsAt(v))))
      })
    case "sql_select" =>
      val lo = gen.nextInt(400000) * 100L
      val hi = lo + 5000000L
      new Op("sql_select", 0, 0, () => {
        val got = tr.span("LakeManager.sql_select") {
          lm.sql("SELECT count(*), coalesce(sum(CAST(round(o_totalprice * " +
            s"100) AS BIGINT)), 0) FROM orders WHERE o_totalprice >= " +
            s"${lo / 100.0} AND o_totalprice < ${hi / 100.0}").head()
        }
        val res = (got.getLong(0), got.getLong(1))
        Op.Result(1, () => Op.expect(s"price band [$lo, $hi)", res,
          ordersIn(o => o.cents >= lo && o.cents < hi)))
      })
    case k if k.startsWith("distinct") =>
      val s = pickIn(k.last.asDigit, 2, Snapshots) - 1
      new Op("distinct", 0, 0, () => {
        val got = tr.span("LakeReader.load") {
          tf.reader(Some(asOf(s))).unified().distinctOn(Seq("user_id"))
            .load().count()
        }
        Op.Result(got, () => Op.expect(s"distinct users at snapshot $s", got,
          events.take(eventsAt(s)).map(_.user).distinct.size.toLong))
      })
    case k if k.startsWith("tf_asof") =>
      val s = pickIn(k.last.asDigit, 2, Snapshots) - 1
      new Op("tf_asof", 0, 0, () => {
        val got = tr.span("TimeFly.read_asof") {
          val r = tf.read(Some(asOf(s)))
            .agg(count(lit(1)), coalesce(sum(col("value")), lit(0L))).head()
          (r.getLong(0), r.getLong(1))
        }
        val evs = events.take(eventsAt(s))
        Op.Result(got._1, () => Op.expect(s"events at snapshot $s", got,
          (evs.size.toLong, evs.map(_.value).sum)))
      })
    case "history" =>
      new Op("history", 0, 0, () => {
        val got = tr.span("CommitLog.history") {
          log.history().agg(count(lit(1)), sum(col("n_rows"))).head()
        }
        val res = (got.getLong(0), got.getLong(1))
        Op.Result(res._1, () => Op.expect("history (versions, rows)", res,
          (Versions.toLong, orders.size.toLong)))
      })
  }

  private def sums(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(Ingest.cents(col("o_totalprice"))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  def finalChecks(): Seq[(Int, String)] = Nil

  def roots: Seq[String] = Seq(root)
  def liveFiles(): Seq[String] =
    log.filePaths(log.liveFiles()) ++
      graft.lake.SchemaTools.listDataFiles(spark, tf.currentPath)
  def commits(): Long = log.latestVersion()
  def setupBytes: Long = setupBytes0
  override def extra: Map[String, Double] =
    Map("lookup_live_files" -> log.liveFiles().size.toDouble)
}

object Serve {
  val Users = 5000
  val RangeDays = 3
  /** Kinds are deterministic per cycle: which lookup misses (its scan
    * prunes to no file) and which stratum of versions or snapshots a
    * read lands in (the digit); the seed picks keys, versions,
    * snapshots and literals within them. */
  val Cycle: Vector[String] = Vector("point", "range", "asof1", "point",
    "sql_select", "distinct1", "miss", "asof3", "tf_asof1", "history",
    "point", "asof2", "distinct2", "asof4", "tf_asof2")
}
