package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one closed-loop client issuing a workload's
  * seeded ops into the lake API for a fixed window, each timed from
  * outside and checked against the generator's model.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --cores C --work DIR --out RESULT.json [--small 1]
  *
  * Writes raw samples to RESULT.json (and, traced, the span ledger to
  * DIR/trace.json); perfbench/run.py turns them into the reported
  * metrics. `--small 1` shrinks every size, for quick checks. */
object Main {
  final case class Sample(kind: String, phase: String, ms: Double,
      cpuMs: Double, jitMs: Double, refMs: Double, rowsIn: Long, bytesIn: Long, rowsOut: Long, var err: Option[String])

  /** Reference job runs per window (see Reference). */
  val RefRuns = 8

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val work = a("work")
    val cores = a("cores").toInt
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def progress(what: String): Unit = System.err.println(
      f"[perfbench] $what at ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s")
    progress("session up")

    val tr = new Trace(spark, traced)
    val seed = a("seed").toLong
    def workload(name: String, c: Ctx): Workload = name match {
      case "ingest" => new Ingest(c)
      case "serve" => new Serve(c)
      case "curate" => new Curate(c)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val ctx = new Ctx(spark, tr, new Gen(seed), work, cores,
      small = a.get("small").contains("1"))
    val w = workload(a("workload"), ctx)

    val samples = ArrayBuffer[Sample]()
    /** CPU milliseconds of one run of the reference job (Reference), and
      * the bytes it wrote, which the lake's write figures leave out. */
    var refBytes = 0.0
    def reference(): Double = {
      val (cpu0, jit0, fs0) = (Cpu.processNs(), Cpu.jitNs(), Trace.counters()(3))
      Reference.run(spark, s"$work/reference", cores).foreach(e =>
        throw new IllegalStateException(e))
      refBytes += Trace.counters()(3) - fs0
      ((Cpu.processNs() - cpu0) - (Cpu.jitNs() - jit0)) / 1e6
    }
    /** Runs `op`, timed and checked; with `ref`, the reference job runs
      * just before it, so the op's cost can be read against the host's
      * speed at that moment. */
    def run(op: Op, c: Ctx = ctx, ref: Boolean = false): Unit = {
      val refMs = if (ref) reference() else 0.0
      c.opIndex = samples.size
      val t = System.nanoTime()
      val (cpu0, jit0) = (Cpu.processNs(), Cpu.jitNs())
      val r = try Right(tr.span("op." + op.kind)(op.body()))
        catch { case NonFatal(e) => Left(s"${op.kind} threw: $e") }
      val ms = (System.nanoTime() - t) / 1e6
      val jitMs = (Cpu.jitNs() - jit0) / 1e6
      val cpuMs = (Cpu.processNs() - cpu0) / 1e6 - jitMs
      val err = r.fold(Some(_), res =>
        try res.verify() catch { case NonFatal(e) => Some(s"check threw: $e") })
      samples += Sample(op.kind, tr.phase, ms, cpuMs, jitMs, refMs, op.rowsIn,
        op.bytesIn, r.fold(_ => 0L, _.rowsOut), err)
    }
    val fs0 = Trace.counters()
    w.setup()
    progress("lake built")
    // one untimed, checked cycle: every op kind has loaded its classes
    // and compiled its hot code, and the window starts from the state a
    // cycle leaves behind; then the reference job, likewise
    tr.phase = "warmup"
    w.cycle.foreach(k => run(w.op(k)))
    (1 to 3).foreach(_ => reference())
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    val setupCpuS = (Cpu.processNs() - Cpu.jitNs()) / 1e9

    progress("warm-up done")
    tr.phase = "window"
    val t0 = System.nanoTime()
    // a fixed number of whole cycles, as many as fill `seconds` on a
    // quiet 4-CPU host: every run does the same work, however fast the
    // machine is while it runs
    val cycles = math.max(1, math.round(seconds / w.cycleSeconds).toInt)
    val ops = cycles * w.cycle.size
    // the reference job about RefRuns times, spread over the window
    val refEvery = math.max(1, ops / RefRuns)
    (0 until ops).foreach(i =>
      run(w.op(w.cycle(i % w.cycle.size)), ref = i % refEvery == 0))
    val windowS = (System.nanoTime() - t0) / 1e9

    progress("window done")
    tr.phase = "check"
    val deferred =
      try w.finalChecks()
      catch { case NonFatal(e) => Seq(samples.size - 1 -> s"final checks threw: $e") }
    def fail(deferred: Seq[(Int, String)]): Unit = deferred.foreach {
      case (idx, e) =>
        val s = samples(idx.max(0).min(samples.size - 1))
        if (s.err.isEmpty) s.err = Some(e)
    }
    fail(deferred)
    val fs1 = Trace.counters()
    val walk = Storage.walk(w.roots)
    val live = w.liveFiles()
    val storage = Map(
      "fs_bytes_written" -> (fs1(3) - fs0(3) - refBytes),
      "user_bytes" -> (w.setupBytes + samples.map(_.bytesIn).sum).toDouble,
      "disk_bytes" -> walk.diskBytes.toDouble,
      "live_bytes" -> Storage.sizeOf(live).toDouble,
      "files_live" -> live.size.toDouble,
      "files_on_disk" -> walk.dataFiles.toDouble,
      "commits" -> w.commits().toDouble)
    // Spark's ContextCleaner drops the blocks of unreachable frames
    // only after a GC has queued them; let it run before measuring
    System.gc(); Thread.sleep(500); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      1048576.0

    // Traced runs only: small instances of the other workloads, one
    // cycle each, so every layer of the per-layer table is measured on
    // every workload. Untimed for the end-to-end metrics, taken above.
    val sweepExtra = scala.collection.mutable.Map[String, Double]()
    if (traced) {
      tr.phase = "sweep"
      Seq("ingest", "serve", "curate").filterNot(_ == a("workload"))
        .foreach { name =>
          val sc = new Ctx(spark, tr, new Gen(seed + 1), s"$work/sweep-$name",
            cores, small = true)
          val sw = workload(name, sc)
          try {
            sw.setup()
            sw.cycle.foreach(k => run(sw.op(k), sc))
            fail(sw.finalChecks())
            sweepExtra ++= sw.extra
          } catch {
            case NonFatal(e) => fail(Seq(samples.size - 1 -> s"sweep $name threw: $e"))
          }
        }
    }

    val m = new ObjectMapper()
    val root = m.createObjectNode()
    root.put("workload", a("workload")); root.put("seed", a("seed").toLong)
    root.put("cores", cores); root.put("traced", traced)
    root.put("setup_s", setupS); root.put("window_s", windowS)
    root.put("setup_cpu_s", setupCpuS)
    root.put("heap_live_mb", heapMb)
    val st = root.putObject("storage")
    storage.foreach { case (k, v) => st.put(k, v) }
    val ex = root.putObject("extra")
    w.extra.foreach { case (k, v) => ex.put(k, v) }
    val sx = root.putObject("sweep_extra")
    sweepExtra.foreach { case (k, v) => sx.put(k, v) }
    val opsOut = root.putArray("ops")
    samples.foreach { s =>
      val n = opsOut.addObject()
      n.put("kind", s.kind); n.put("phase", s.phase); n.put("ms", s.ms)
      n.put("cpu_ms", s.cpuMs); n.put("jit_ms", s.jitMs)
      n.put("ref_cpu_ms", s.refMs)
      n.put("rows_in", s.rowsIn); n.put("bytes_in", s.bytesIn)
      n.put("rows_out", s.rowsOut)
      s.err.foreach(n.put("err", _))
    }
    progress("measured")
    spark.stop()
    if (traced) tr.dump(s"$work/trace.json")
    Trace.write(m, root, a("out"))
  }
}
