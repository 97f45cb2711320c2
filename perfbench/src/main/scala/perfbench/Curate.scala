package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.lake.{LakeManager, TimeFly, WriteMode}

/** `curate`: corpus ingest through the near-dup gates into TimeFly
  * datasets. Each batch mixes fresh rows with salted copies and exact
  * re-offers of rows the lake already holds, so the gates' decisions are
  * known by construction: only the fresh rows may land. Documents go
  * through DeltaNearDup, embeddings through DeltaSemantic; a
  * distinctOn read-back follows writes and the documents are
  * snapshotted every cycle; the final checks replay a batch to check
  * the gate is idempotent. */
final class Curate(c: Ctx) extends Workload {
  import Curate._
  private val spark = c.spark
  private val tr = c.tr
  private val gen = c.gen

  private val SeedRows = if (c.small) 200 else 1000
  private val Fresh = if (c.small) 24 else 120
  private val Salted = Fresh / 2
  private val Exact = Fresh / 6
  private val root = s"${c.work}/lake"
  private var docsTf: TimeFly = _
  private var vecsTf: TimeFly = _
  private val docGate = WriteMode.DeltaNearDup(Seq("doc_id"), "text")
  private val vecGate = WriteMode.DeltaSemantic(Seq("vec_id"), "embedding", Dim)

  // ---- the model ------------------------------------------------------------
  private val docs = mutable.ArrayBuffer[Gen.Doc]()
  private val vecs = mutable.ArrayBuffer[Gen.Vec]()
  private var nextId = 1L
  private var docIdSum, vecIdSum = 0L
  private var lastDocBatch = Vector[Gen.Doc]()
  private var setupBytes0 = 0L
  private var offered = 0L
  /** Rows the datasets hold at the end, as read back by the checks. */
  private var landed = 0L

  private def id(): Long = { nextId += 1; nextId - 1 }

  /** Fresh rows, salted copies of kept rows, exact re-offers of kept
    * rows — in that order; only the first `fresh` may land. */
  private def docBatch(): Vector[Gen.Doc] =
    Vector.fill(Fresh)(gen.doc(id(), DocWords)) ++
      Vector.fill(Salted)(gen.saltedDoc(gen.pick(docs), id())) ++
      Vector.fill(Exact)(gen.pick(docs))

  private def vecBatch(): Vector[Gen.Vec] =
    Vector.fill(Fresh)(gen.vec(id(), Dim)) ++
      Vector.fill(Salted)(gen.noisyVec(gen.pick(vecs), id())) ++
      Vector.fill(Exact)(gen.pick(vecs))

  def setup(): Unit = {
    val lm = tr.span("LakeManager.init")(LakeManager(spark, root).init())
    docsTf = tr.span("LakeManager.addDataset")(lm.addDataset("docs"))
    vecsTf = tr.span("LakeManager.addDataset")(lm.addDataset("vecs"))
    val d = Vector.fill(SeedRows)(gen.doc(id(), DocWords))
    val v = Vector.fill(SeedRows)(gen.vec(id(), Dim))
    // through the gates, so their sidecars exist; an empty target
    // takes the whole batch unscored
    tr.span("LakeWriter.neardup")(docsTf.writer(docGate).write(Gen.docsDf(spark, d)))
    tr.span("LakeWriter.semantic")(vecsTf.writer(vecGate).write(Gen.vecsDf(spark, v)))
    keepDocs(d); keepVecs(v)
    tr.span("TimeFly.snapshot")(docsTf.addSnapshot())
    setupBytes0 = d.map(_.bytes).sum + v.map(_.bytes).sum
  }

  private def keepDocs(d: Seq[Gen.Doc]): Unit = { docs ++= d; docIdSum += d.map(_.id).sum }
  private def keepVecs(v: Seq[Gen.Vec]): Unit = { vecs ++= v; vecIdSum += v.map(_.id).sum }

  def cycle: Vector[String] = Cycle
  def cycleSeconds: Double = 10.0

  private def writeDocs(b: Vector[Gen.Doc]): Unit =
    tr.span("LakeWriter.neardup")(docsTf.writer(docGate).write(Gen.docsDf(spark, b)))

  def op(kind: String): Op = kind match {
    case "neardup" =>
      val b = docBatch()
      new Op("neardup", b.size, b.map(_.bytes).sum, () => {
        writeDocs(b)
        offered += b.size
        keepDocs(b.take(Fresh))
        lastDocBatch = b
        Op.Result(0, Op.Ok)
      })
    case "semantic" =>
      val b = vecBatch()
      new Op("semantic", b.size, b.map(_.bytes).sum, () => {
        tr.span("LakeWriter.semantic")(vecsTf.writer(vecGate).write(Gen.vecsDf(spark, b)))
        offered += b.size
        keepVecs(b.take(Fresh))
        Op.Result(0, Op.Ok)
      })
    case "readback" =>
      new Op("readback", 0, 0, () => {
        val r = tr.span("LakeReader.load") {
          docsTf.reader().distinctOn(Seq("doc_id")).load()
            .agg(count(lit(1)), coalesce(sum(col("doc_id")), lit(0L))).head()
        }
        val got = (r.getLong(0), r.getLong(1))
        Op.Result(got._1, () => Op.expect("documents (rows, id sum)", got,
          (docs.size.toLong, docIdSum)))
      })
    case "snapshot" =>
      new Op("snapshot", 0, 0, () => {
        tr.span("TimeFly.snapshot")(docsTf.addSnapshot())
        Op.Result(0, Op.Ok)
      })
  }

  /** Replaying the last document batch lands nothing, and both
    * datasets hold exactly the model's rows. */
  def finalChecks(): Seq[(Int, String)] = {
    writeDocs(lastDocBatch)
    def ids(tf: TimeFly, col0: String): (Long, Long) = {
      val r = tr.span("TimeFly.read")(tf.read()
        .agg(count(lit(1)), coalesce(sum(col(col0)), lit(0L))).head())
      (r.getLong(0), r.getLong(1))
    }
    val (d, v) = (ids(docsTf, "doc_id"), ids(vecsTf, "vec_id"))
    landed = d._1 + v._1
    Seq(
      Op.expect("documents (rows, id sum)", d, (docs.size.toLong, docIdSum)),
      Op.expect("embeddings (rows, id sum)", v, (vecs.size.toLong, vecIdSum))
    ).flatten.map(c.opIndex -> _)
  }

  def roots: Seq[String] = Seq(root)
  def liveFiles(): Seq[String] =
    Seq(docsTf, vecsTf).flatMap(t =>
      graft.lake.SchemaTools.listDataFiles(spark, t.currentPath))
  def commits(): Long = docsTf.availableSnapshots().size.toLong
  def setupBytes: Long = setupBytes0
  override def extra: Map[String, Double] =
    Map("gate_offered" -> offered.toDouble,
      "gate_kept" -> (landed - 2L * SeedRows).toDouble)
}

object Curate {
  val Dim = 64
  val DocWords = 40
  val Cycle: Vector[String] = Vector("neardup", "semantic", "readback",
    "neardup", "snapshot")
}
