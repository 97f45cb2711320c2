package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.lake.{CommitLog, LakeManager}

/** `ingest`: write-only commit traffic on a hive-partitioned CommitLog
  * table keyed on the unique `o_orderkey`. Mostly 5k-row appends, with
  * keyed upserts, SQL MERGE and copy-on-write SQL DELETE through
  * LakeManager.sql, and a periodic optimize(); the default
  * auto-checkpoint stays on. */
final class Ingest(c: Ctx) extends Workload {
  import Ingest._
  private val spark = c.spark
  private val tr = c.tr
  private val gen = c.gen

  private val AppendRows = if (c.small) 500 else 5000
  private val ChangeRows = if (c.small) 40 else 400
  private val root = s"${c.work}/lake"
  private var lm: LakeManager = _
  private var log: CommitLog = _

  // ---- the model ------------------------------------------------------------
  private val live = mutable.LongMap[Gen.Order]()
  private var nextKey = 1L
  private var day = 0
  private var version = 0L
  private var sumKey, sumCents = 0L
  /** version -> (rows, sum of keys, sum of cents, op that made it) */
  private val byVersion = mutable.LongMap[(Long, Long, Long, Int)]()

  private def put(o: Gen.Order): Unit = {
    live.put(o.key, o).foreach { old => sumKey -= old.key; sumCents -= old.cents }
    sumKey += o.key; sumCents += o.cents
  }
  private def remove(k: Long): Unit =
    live.remove(k).foreach { old => sumKey -= old.key; sumCents -= old.cents }
  private def committed(v: Long): Option[String] = {
    val err = Op.expect("committed version", v, version + 1)
    version = v
    byVersion(v) = (live.size.toLong, sumKey, sumCents, c.opIndex)
    err
  }

  private def freshBatch(n: Int): Vector[Gen.Order] = {
    val b = gen.orders(nextKey, n, day)
    nextKey += n; day += 1
    b
  }

  /** Key range [lo, hi) of the latest append: change batches and
    * deletes land there, as late corrections to fresh data do, so each
    * rewrites the same number of files whatever keys the seed draws. */
  private var hot = (1L, 1L)

  /** A change batch: `n` distinct hot keys repriced plus `n / 4` new. */
  private def changeBatch(n: Int): Vector[Gen.Order] = {
    val keys = mutable.LinkedHashSet[Long]()
    while (keys.size < n) keys += gen.nextLong(hot._1, hot._2)
    val upd = keys.toVector.flatMap(live.get).map(gen.reprice)
    upd ++ freshBatch(n / 4)
  }

  def setup(): Unit = {
    lm = tr.span("LakeManager.init")(LakeManager(spark, root).init())
    log = tr.span("LakeManager.addCommitLog") {
      lm.addCommitLog("orders").initPartitioned(Seq("o_orderstatus"))
    }
  }

  def cycle: Vector[String] = Cycle
  def cycleSeconds: Double = 12.5

  def op(kind: String): Op = kind match {
    case "append" =>
      val b = freshBatch(AppendRows)
      hot = (b.head.key, b.last.key + 1)
      new Op("append", b.size, b.map(_.bytes).sum, () => {
        val v = tr.span("CommitLog.append")(log.append(Gen.ordersDf(spark, b)))
        Op.Result(0, () => { b.foreach(put); committed(v) })
      })
    case "upsert" =>
      val b = changeBatch(ChangeRows)
      new Op("upsert", b.size, b.map(_.bytes).sum, () => {
        val (v, _) = tr.span("CommitLog.upsert") {
          log.upsert(Gen.ordersDf(spark, b), Seq("o_orderkey"))
        }
        Op.Result(0, () => { b.foreach(put); committed(v) })
      })
    case "sql_merge" =>
      val b = changeBatch(ChangeRows)
      new Op("sql_merge", b.size, b.map(_.bytes).sum, () => {
        Gen.ordersDf(spark, b).createOrReplaceTempView("orders_changes")
        tr.span("LakeManager.sql_merge") {
          lm.sql("MERGE INTO orders t USING orders_changes s " +
            "ON t.o_orderkey = s.o_orderkey " +
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
        }
        val v = log.latestVersion()
        Op.Result(0, () => { b.foreach(put); committed(v) })
      })
    case "sql_delete" =>
      // a range of hot keys, so the delete always commits
      val lo = gen.nextLong(hot._1, hot._2 - DeleteSpan)
      val hi = lo + DeleteSpan
      new Op("sql_delete", 0, 0, () => {
        tr.span("LakeManager.sql_delete") {
          lm.sql(s"DELETE FROM orders WHERE o_orderkey >= $lo AND " +
            s"o_orderkey < $hi")
        }
        val v = log.latestVersion()
        Op.Result(0, () => {
          (lo until hi).foreach(remove)
          committed(v)
        })
      })
    case "optimize" =>
      new Op("optimize", 0, 0, () => {
        val v = tr.span("CommitLog.optimize")(log.optimize(targetFiles = c.cores))
        Op.Result(0, () => v.fold(Option("optimize did not commit"))(committed))
      })
  }

  /** Every version's rows, key sum and price sum through time travel,
    * the newest version's point lookups, history and a SQL count. */
  def finalChecks(): Seq[(Int, String)] = {
    val out = mutable.ArrayBuffer[(Int, String)]()
    val vs = byVersion.keys.toVector.sorted
    val sample = (vs.takeRight(1) :+ gen.pick(vs)).distinct
    sample.foreach { v =>
      val (n, sk, sc, opIdx) = byVersion(v)
      val got = tr.span("CommitLog.read_asof")(checksum(log.read(Some(v))))
      Op.expect(s"v$v (rows, key sum, cents sum)", got, (n, sk, sc))
        .foreach(e => out += opIdx -> e)
    }
    val lastOp = byVersion(version)._4
    val keys = Vector.fill(2)(gen.nextLong(1, nextKey))
    keys.foreach { k =>
      val got = tr.span("CommitLog.readFiltered") {
        c.collectLongs(log.readFiltered(s"o_orderkey = $k")
          .select(cents(col("o_totalprice"))))
      }
      Op.expect(s"lookup $k", got, live.get(k).map(_.cents).toSeq)
        .foreach(e => out += lastOp -> e)
    }
    val h = tr.span("CommitLog.history")(log.history().count())
    Op.expect("history rows", h, version).foreach(e => out += lastOp -> e)
    val n = tr.span("LakeManager.sql_select") {
      lm.sql("SELECT count(*) FROM orders").head().getLong(0)
    }
    Op.expect("SQL count", n, live.size.toLong).foreach(e => out += lastOp -> e)
    out.toSeq
  }

  def roots: Seq[String] = Seq(root)
  def liveFiles(): Seq[String] = log.filePaths(log.liveFiles())
  def commits(): Long = log.latestVersion()
  def setupBytes: Long = 0L
}

object Ingest {
  val DeleteSpan = 100
  /** Mostly appends (five of nine); one optimize per cycle keeps
    * compaction in the tail. */
  val Cycle: Vector[String] = Vector("append", "upsert", "append",
    "sql_merge", "append", "sql_delete", "append", "append", "optimize")

  def cents(c: org.apache.spark.sql.Column) =
    round(c * 100).cast("bigint")

  /** (rows, sum of keys, sum of price in cents) of a frame of orders. */
  def checksum(df: DataFrame): (Long, Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(col("o_orderkey")), lit(0L)),
      coalesce(sum(cents(col("o_totalprice"))), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }
}
