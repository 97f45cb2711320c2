package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Span recorder and the Spark-side ledger, all from the benchmark's own
  * code: nothing inside the engine is instrumented.
  *
  *  - Spans nest op -> layer call; each records wall clock bounds and
  *    the deltas of the synchronous counters sampled at its edges
  *    (Janino compiles and compile time, GC time, Hadoop file-system
  *    bytes written).
  *  - A SparkListener records every job's interval, task count and
  *    shuffle bytes written; a QueryExecutionListener records every executed query's
  *    Catalyst phase times and the files and bytes its scans listed.
  *    Both arrive on Spark's listener bus after the fact, so they are
  *    kept raw and attributed to spans by time when the run ends: with
  *    one client, a job or query belongs to the innermost span open at
  *    its start.
  *
  * Everything stays in memory and is written once, by [[dump]].
  * Disabled, `span` just runs its body and no listener is registered. */
final class Trace(spark: SparkSession, val on: Boolean) {
  import Trace._

  /** Label carried by every span opened from now on (setup, warmup,
    * window, check, sweep). */
  var phase: String = "setup"

  private val epochMs = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Wall clock in epoch milliseconds at nanosecond resolution — the
    * clock Spark stamps its events with, so the two line up. */
  def now(): Double = epochMs + (System.nanoTime() - nano0) / 1e6

  private val spans = ArrayBuffer[SpanRec]()
  private var stack: List[SpanRec] = Nil

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = new SpanRec(spans.size, stack.headOption.fold(-1)(_.id), name,
        phase, counters())
      spans += s
      stack = s :: stack
      s.t0 = now()
      try body
      finally {
        s.t1 = now()
        s.c1 = counters()
        stack = stack.tail
      }
    }

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val queries = new java.util.concurrent.ConcurrentLinkedQueue[QueryRec]()
  private val listenerNs = new AtomicLong()

  private def timed(f: => Unit): Unit = {
    val t = System.nanoTime()
    try f finally listenerNs.addAndGet(System.nanoTime() - t)
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val j = new JobRec(e.jobId, e.time.toDouble)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      jobs.put(e.jobId, j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(jobs.get(e.jobId)).foreach(_.t1 = e.time.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
        .foreach { j =>
          j.synchronized {
            j.tasks += 1
            val m = e.taskMetrics
            if (m != null) j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          }
        }
    }
  }

  private val queryListener = new QueryExecutionListener
      with AdaptiveSparkPlanHelper {
    override def onSuccess(func: String, qe: QueryExecution, ns: Long)
        : Unit = timed {
      val ph = qe.tracker.phases
      def ms(p: String): Double =
        ph.get(p).fold(0.0)(s => (s.endTimeMs - s.startTimeMs).toDouble)
      val t = ph.get(QueryPlanningTracker.PLANNING)
        .fold(System.currentTimeMillis() - ns / 1e6)(_.startTimeMs.toDouble)
      var files, bytes = 0L
      foreach(qe.executedPlan) { (p: SparkPlan) =>
        p.metrics.get("numFiles").foreach(m => files += m.value)
        p.metrics.get("filesSize").foreach(m => bytes += m.value)
      }
      queries.add(QueryRec(t, ms(QueryPlanningTracker.ANALYSIS),
        ms(QueryPlanningTracker.OPTIMIZATION),
        ms(QueryPlanningTracker.PLANNING), files, bytes))
    }
    override def onFailure(func: String, qe: QueryExecution,
        ex: Exception): Unit = ()
  }

  if (on) {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(queryListener)
  }

  /** Write spans, jobs and queries as one JSON document. Call after the
    * SparkContext has stopped: stopping drains the listener bus, so
    * every event of the run is in. */
  def dump(path: String): Unit = {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    root.put("listener_ms", listenerNs.get() / 1e6)
    val sa = root.putArray("spans")
    spans.foreach { s =>
      val n = sa.addObject()
      n.put("id", s.id); n.put("parent", s.parent); n.put("name", s.name)
      n.put("phase", s.phase); n.put("t0", s.t0); n.put("t1", s.t1)
      CounterNames.indices.foreach(i =>
        n.put(CounterNames(i), s.c1(i) - s.c0(i)))
    }
    val ja = root.putArray("jobs")
    jobs.values().asScala.toSeq.sortBy(_.id).foreach { j =>
      val n = ja.addObject()
      n.put("id", j.id); n.put("t0", j.t0)
      n.put("t1", if (j.t1 > 0) j.t1 else j.t0)
      n.put("tasks", j.tasks); n.put("shuffle_write_bytes", j.shuffleWrite)
    }
    val qa = root.putArray("queries")
    queries.asScala.toSeq.sortBy(_.t).foreach { q =>
      val n = qa.addObject()
      n.put("t", q.t)
      n.put("analysis_ms", q.analysisMs)
      n.put("optimization_ms", q.optimizationMs)
      n.put("planning_ms", q.planningMs)
      n.put("scan_files", q.scanFiles); n.put("scan_bytes", q.scanBytes)
    }
    Trace.write(m, root, path)
  }
}

object Trace {
  val CounterNames: Vector[String] =
    Vector("compiles", "compile_ms", "gc_ms", "fs_bytes_written")

  /** The synchronous counters, in [[CounterNames]] order. Janino
    * compiles and the file-system statistics are JVM-global, so with one
    * client a span's delta is the work done on its behalf (local-mode
    * tasks run in this JVM too). */
  def counters(): Array[Double] = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
    val written = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum
    Array(CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      CodeGenerator.compileTime / 1e6, gc.toDouble, written.toDouble)
  }

  final class SpanRec(val id: Int, val parent: Int, val name: String,
      val phase: String, val c0: Array[Double]) {
    var t0, t1 = 0.0
    var c1: Array[Double] = c0
  }

  final class JobRec(val id: Int, val t0: Double) {
    var t1 = 0.0
    var tasks, shuffleWrite = 0L
  }

  final case class QueryRec(t: Double, analysisMs: Double,
      optimizationMs: Double, planningMs: Double, scanFiles: Long,
      scanBytes: Long)

  def write(m: ObjectMapper, n: ObjectNode, path: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      m.writeValueAsBytes(n))
}
