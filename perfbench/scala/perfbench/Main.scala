package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up one workload, run its fixed
  * warm-up, then a closed loop of seeded ops (one client thread) for the
  * given seconds. Writes the raw per-op record as JSON for `run.py`.
  *
  * Arguments: workload seed seconds trace(0|1) k workDir resultFile
  * launchEpochMs dataDir. */
object Main {
  private def procStat(): Array[Long] =
    Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).take(8).map(_.toLong)

  private val jitThreads = mutable.Map.empty[String, Boolean]

  /** CPU time of the live threads of this JVM, by thread id, in ns: the
    * first field of /proc/self/task/<tid>/schedstat, which the kernel counts
    * without the time the host stole from the vCPU. The JIT compiler's
    * threads are kept apart (`jit = true`): a fresh JVM compiles for minutes,
    * and their share of an op varies fivefold from op to op. */
  private def threadCpuNs(jit: Boolean = false): Map[String, Long] = {
    val tasks = Files.list(Paths.get("/proc/self/task"))
    try tasks.iterator().asScala.flatMap { t =>
      val tid = t.getFileName.toString
      try {
        val isJit = jitThreads.getOrElseUpdate(tid,
          Files.readString(t.resolve("comm")).matches("C\\d CompilerThre(?s).*"))
        if (isJit != jit) None
        else Some(tid -> Files.readString(t.resolve("schedstat")).split(' ')(0).toLong)
      } catch { case NonFatal(_) => None } // the thread ended meanwhile
    }.toMap
    finally tasks.close()
  }

  /** CPU ms spent between two snapshots by threads alive at the second; a
    * thread that started in between counts from its start. */
  private def cpuMs(before: Map[String, Long], after: Map[String, Long]): Double =
    after.map { case (t, ns) => ns - before.getOrElse(t, 0L) }.sum / 1e6

  /** CPU time of the whole process so far, in s, ended threads included
    * (utime + stime of /proc/self/stat, 1/100 s). */
  private def processCpuS(): Double = {
    val stat = Files.readString(Paths.get("/proc/self/stat"))
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
    (f(11).toLong + f(12).toLong) / 100.0
  }

  /** CPU ms of one fixed piece of JVM work on this thread: boxing, hashing,
    * string building and a sort, over 20,000 entries. The harness runs it
    * between the engine calls of timed ops, outside their clocks and CPU
    * counts; its median over a run is that run's measure of how fast the
    * host ran code (see perfbench/README.md, "Reference kernel"). */
  private def referenceKernelMs(): Double = {
    val threads = ManagementFactory.getThreadMXBean
    val t0 = threads.getCurrentThreadCpuTime
    val m = new java.util.HashMap[java.lang.Long, String]()
    var i = 0
    while (i < 20000) { m.put(java.lang.Long.valueOf(i * 2654435761L), "k" + i); i += 1 }
    val values = new java.util.ArrayList[String](m.values())
    java.util.Collections.sort(values)
    if (values.get(values.size / 2).isEmpty) throw new IllegalStateException("kernel")
    (threads.getCurrentThreadCpuTime - t0) / 1e6
  }

  /** Live heap: full GCs until it stops shrinking. Spark's ContextCleaner
    * frees broadcast and shuffle blocks only after a GC has cleared their
    * owners, on its own thread, so one GC can leave them counted. */
  private def heapMb(): Double = {
    def used = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0 }
    var last = used
    var rounds = 0
    var done = false
    while (!done && rounds < 8) {
      Thread.sleep(250)
      val now = used
      done = now > last - 1.0
      last = math.min(last, now)
      rounds += 1
    }
    last
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString
    } + "\""

  private def obj(m: collection.Map[String, Double]): String =
    m.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, kS, workS, resultS, launchS, dataS) = args
    val seed = seedS.toLong
    val trace = traceS == "1"
    val k = kS.toInt
    val work = Paths.get(workS)
    val spark = SparkSession.builder()
      .master(s"local[$k]")
      .config("spark.sql.shuffle.partitions", k.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Spark's status store keeps the last 1000 jobs and queries even
      // without a UI; a short history keeps the live heap a measure of the
      // engine rather than of how many ops a run happened to complete
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = System.currentTimeMillis()

    val tracer = if (trace) Some(new Tracer(spark, k)) else None
    val steps = mutable.ArrayBuffer.empty[Map[String, Double]]
    val step = new Step {
      def apply(name: String)(body: Calls => Map[String, Double]): Unit = {
        val calls = new Calls(tracer)
        tracer.foreach(_.begin(name))
        val s = System.nanoTime()
        val counters = body(calls)
        val ms = (System.nanoTime() - s) / 1e6
        steps += tracer.fold(counters)(_.end(ms, counters)) ++
          calls.ms.map { case (c, v) => s"call:$c" -> v } + ("wall_ms" -> ms)
      }
    }
    for (_ <- 0 until 30) referenceKernelMs() // compiled before it is used
    val w = Workload(workload, spark, seed, work, Paths.get(dataS))
    val materializeS = w.setup(step)
    val rnd = new Random(seed)
    val errors = mutable.ArrayBuffer.empty[String]
    var i = 0
    def runOp(calls: Calls): OpResult = {
      val r = try w.op(i, rnd, calls) catch {
        case NonFatal(e) => OpResult("error", ok = false, 0, error = e.toString.take(300))
      }
      i += 1
      if (!r.ok && errors.size < 5) errors += s"op $i ${r.kind}: ${r.error}"
      r
    }
    val warm0 = System.nanoTime()
    var warmFailed = 0
    val warmMs = mutable.ArrayBuffer.empty[Double]
    for (_ <- 0 until w.warmupOps) {
      val s = System.nanoTime()
      if (!runOp(new Calls(None)).ok) warmFailed += 1
      warmMs += (System.nanoTime() - s) / 1e6
    }
    val warmupS = (System.nanoTime() - warm0) / 1e9
    // live heap at a fixed op count, so that it does not depend on how many
    // ops the timed phase completes; growth over the timed phase is
    // reported separately (heap_end_mb)
    val heapUsed = heapMb()

    val ops = mutable.ArrayBuffer.empty[String]
    val kernelMs = mutable.ArrayBuffer.empty[Double]
    // the kernel is sampled ahead of an engine or operator call at most
    // every 250 ms, so that a long op (a dedup pass) is sampled throughout
    // and a short one (a get) at about one point
    var lastKernelNs = 0L
    var opKernelNs = 0L
    var kernelNs = 0L
    def sampleKernel(): Unit = if (System.nanoTime() - lastKernelNs >= 250000000L) {
      val s = System.nanoTime()
      for (_ <- 0 until w.kernelRuns) kernelMs += referenceKernelMs()
      lastKernelNs = System.nanoTime()
      opKernelNs += lastKernelNs - s
      kernelNs += lastKernelNs - s
    }
    val traces = mutable.ArrayBuffer.empty[Map[String, Double]]
    val stat0 = procStat()
    val jit0 = threadCpuNs(jit = true)
    val setupCpuS = processCpuS() - jit0.values.sum / 1e9
    val firstOpMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val deadline = t0 + (secondsS.toDouble * 1e9).toLong
    var n = 0
    while (System.nanoTime() < deadline) {
      val traced = tracer.isDefined && n % 2 == 1
      // traced ops take no kernel samples, so that their spans are the op's
      val calls = if (traced) new Calls(tracer) else new Calls(None, () => sampleKernel())
      if (traced) tracer.get.begin(s"op $n")
      val st0 = procStat()
      val c0 = threadCpuNs()
      val k0 = kernelMs.size
      opKernelNs = 0L
      val s = System.nanoTime()
      val r = runOp(calls)
      val ms = (System.nanoTime() - s - opKernelNs) / 1e6
      val cpu = cpuMs(c0, threadCpuNs()) - kernelMs.view.drop(k0).sum
      val opTicks = procStat().zip(st0).map { case (a, b) => (a - b).toDouble }
      if (traced)
        traces += tracer.get.end(ms, r.counters ++ calls.ms.map { case (c, v) => s"call:$c" -> v })
      ops += s"""{"kind":${str(r.kind)},"ms":${num(ms)},"cpu_ms":${num(cpu)},"ok":${r.ok},"work":${num(r.work)},""" +
        s""""steal":${num(opTicks(7) / math.max(opTicks.sum, 1.0))},""" +
        s""""traced":$traced,"calls":${obj(calls.ms)}}"""
      n += 1
    }
    val elapsedS = (System.nanoTime() - t0 - kernelNs) / 1e9
    val timedJitS = cpuMs(jit0, threadCpuNs(jit = true)) / 1e3
    val timedCpuS = processCpuS() - timedJitS - jit0.values.sum / 1e9 - setupCpuS - kernelMs.sum / 1e3
    val stat1 = procStat()
    val heapEnd = if (trace) heapMb() else Double.NaN
    val load1 = Files.readString(Paths.get("/proc/loadavg")).trim.split(" ")(0).toDouble
    val ticks = stat1.zip(stat0).map { case (a, b) => (a - b).toDouble }
    val heapFlags = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(a => a.startsWith("-Xm") || a.startsWith("-XX:+Use")).mkString(" ")

    val out = new StringBuilder
    out ++= s"""{"workload":${str(workload)},"seed":$seed,"k":$k,"""
    out ++= s""""first_op_epoch_ms":$firstOpMs,"launch_epoch_ms":$launchS,"session_epoch_ms":$sessionMs,"""
    out ++= s""""materialize_s":${num(materializeS)},"warmup_s":${num(warmupS)},"""
    out ++= s""""warmup_ops":${w.warmupOps},"warmup_failed":$warmFailed,"""
    out ++= s""""warmup_ms":${warmMs.map(num).mkString("[", ",", "]")},"""
    out ++= s""""kernel_ms":${kernelMs.map(num).mkString("[", ",", "]")},"""
    out ++= s""""setup_cpu_s":${num(setupCpuS)},"timed_cpu_s":${num(timedCpuS)},"timed_jit_s":${num(timedJitS)},"""
    out ++= s""""elapsed_s":${num(elapsedS)},"heap_used_mb":${num(heapUsed)},"heap_end_mb":${num(heapEnd)},"""
    out ++= s""""steal_ratio":${num(ticks(7) / ticks.sum)},"loadavg_1m":${num(load1)},"""
    out ++= s""""nproc":${Runtime.getRuntime.availableProcessors},"heap_flags":${str(heapFlags)},"""
    out ++= s""""errors":${errors.map(str).mkString("[", ",", "]")},"""
    out ++= s""""ops":${ops.mkString("[", ",\n", "]")},"""
    out ++= s""""setup_steps":${steps.map(obj).mkString("[", ",\n", "]")},"""
    out ++= s""""trace":${traces.map(obj).mkString("[", ",\n", "]")}}"""
    Files.writeString(Paths.get(resultS), out.toString)
    tracer.foreach(t => Files.writeString(work.resolve("spans.json"), t.toJson))
    spark.stop()
  }
}
