package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One operation of a workload's mix. `body` issues the calls into the
  * engine (timed as the op's latency) and returns the rows it served
  * plus a `verify` thunk, run after the clock stops, that compares the
  * engine's answer with the generator's model and returns the mismatch,
  * if any. */
final class Op(val kind: String, val rowsIn: Long, val bytesIn: Long,
    val body: () => Op.Result)

object Op {
  final case class Result(rowsOut: Long, verify: () => Option[String])

  val Ok: () => Option[String] = () => None

  def expect(what: String, got: Any, want: Any): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")
}

/** What a workload gives the runner. */
trait Workload {
  /** Build the lake and every input the window needs. */
  def setup(): Unit
  /** The op of kind `kind`; the seed varies its keys, literals and
    * payloads. */
  def op(kind: String): Op
  /** The window's mix: kinds issued in this order, cycling, so every
    * run of the same length issues the same mix. */
  def cycle: Vector[String]
  /** Wall seconds one cycle takes on a quiet 4-CPU host; the window
    * runs `--seconds` / this many cycles (at least one). */
  def cycleSeconds: Double
  /** Deferred checks after the window: (index of the op whose effect is
    * wrong, message). */
  def finalChecks(): Seq[(Int, String)]
  /** Directories holding the lake, for the storage walk. */
  def roots: Seq[String]
  /** Live data files of the lake's served versions. */
  def liveFiles(): Seq[String]
  /** Commits in the lake's logs. */
  def commits(): Long
  /** Logical bytes of the rows setup offered to the lake. */
  def setupBytes: Long
  /** Extra result fields (e.g. the gate's kept ratio). */
  def extra: Map[String, Double] = Map.empty
}

/** Shared plumbing for the workloads. `small` shrinks every size for
  * the traced run's sweep (see Main). */
final class Ctx(val spark: SparkSession, val tr: Trace, val gen: Gen,
    val work: String, val cores: Int, val small: Boolean) {
  /** Index of the op being run, for deferred-check attribution. */
  var opIndex: Int = 0

  def collectLongs(df: DataFrame): Seq[Long] =
    df.collect().toSeq.map((r: Row) => if (r.isNullAt(0)) 0L else r.getLong(0))
}

object Storage {
  /** Data files (parquet) and their bytes under `roots`, plus every byte
    * on disk under them. */
  final case class Walk(dataFiles: Long, diskBytes: Long)

  def walk(roots: Seq[String]): Walk = {
    var files, bytes = 0L
    roots.map(Paths.get(_)).filter(Files.exists(_)).foreach { r =>
      val s = Files.walk(r)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).foreach {
        p: Path =>
          bytes += Files.size(p)
          val n = p.getFileName.toString
          if (n.endsWith(".parquet") && !n.startsWith(".")) files += 1
      } finally s.close()
    }
    Walk(files, bytes)
  }

  def sizeOf(paths: Seq[String]): Long =
    paths.map(p => Paths.get(new java.net.URI(
      if (p.startsWith("file:")) p else "file://" + p).getPath))
      .filter(Files.exists(_)).map(Files.size(_)).sum
}

/** CPU clocks of the benchmark JVM. An op's cost is the CPU time the
  * whole process spent while it ran (the client, Spark's executor
  * threads, GC) minus the JIT compiler threads' share: compilation is a
  * warm-up artefact whose timing varies from run to run. CPU time
  * leaves out the time the host steals from this machine's virtual
  * CPUs, which on a shared host moves wall-clock latencies by up to 2x
  * between runs. */
object Cpu {
  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of every thread of the process, dead ones included. */
  def processNs(): Long = os.getProcessCpuTime

  /** The JIT compiler threads' schedstat files (first field: ns on a
    * CPU). The JVM runs with a fixed set of compiler threads
    * (-XX:-UseDynamicNumberOfCompilerThreads), so this list is taken
    * once. Empty where /proc has no schedstat. */
  private lazy val jitThreads: Seq[Path] = {
    val tasks = Paths.get("/proc/self/task")
    if (!Files.isDirectory(tasks)) Nil
    else {
      val s = Files.list(tasks)
      try s.iterator().asScala.toVector.filter { t =>
        val name = try Files.readString(t.resolve("comm")).trim
          catch { case _: java.io.IOException => "" }
        name.startsWith("C1 CompilerThre") || name.startsWith("C2 CompilerThre")
      }.map(_.resolve("schedstat")).filter(Files.isReadable(_))
      finally s.close()
    }
  }

  /** CPU time of the JIT compiler threads. */
  def jitNs(): Long = jitThreads.map { p =>
    try Files.readString(p).trim.split(' ')(0).toLong
    catch { case _: java.io.IOException | _: NumberFormatException => 0L }
  }.sum
}

/** A fixed Spark job that calls no engine code: a small Parquet write,
  * its read-back and a shuffle aggregate, the kinds of work the lake's
  * ops do. It measures how fast the host runs Spark at the moment. */
object Reference {
  val Rows = 60000L
  val Groups = 101

  /** Runs the job once; the error if its answer is wrong. */
  def run(spark: SparkSession, dir: String, cores: Int): Option[String] = {
    import org.apache.spark.sql.functions._
    spark.range(0, Rows, 1, cores)
      .selectExpr(s"id % $Groups AS k", "id * 7 AS v", "cast(id * 31 AS STRING) AS pad")
      .write.mode("overwrite").parquet(dir)
    val got = spark.read.parquet(dir).groupBy("k").agg(sum("v"))
      .collect().map(_.getLong(1)).sum
    Op.expect("reference sum", got, 7L * Rows * (Rows - 1) / 2)
  }
}
