package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed op: a query (build + execute) or a daemon cycle. */
final case class Op(name: String, pass: Int, seconds: Double, ok: Boolean,
    error: String = null)

/** Command line of the JVM side, as perfbench/run.py passes it. */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    cores: Int, data: String, out: String)

/** Process-level clocks: CPU, GC and heap. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuS: Double = os.getProcessCpuTime / 1e9

  /** CPU of the JIT compiler threads, which HotSpot hides from
    * ThreadMXBean, summed from /proc/self/task (utime + stime at 100
    * ticks/s; 0 where there is no /proc). run.py starts the JVM with a
    * fixed set of compiler threads, so none exits and takes its time
    * along. Part of `processCpuS`, reported beside it. */
  def jitCpuS: Double = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty)
    tasks.map { d =>
      try {
        val stat = Files.readString(d.toPath.resolve("stat"))
        val end = stat.lastIndexOf(')')
        if (!stat.substring(stat.indexOf('(') + 1, end).contains("CompilerThre")) 0L
        else {
          val f = stat.substring(end + 2).split(' ') // from field 3, state
          f(11).toLong + f(12).toLong
        }
      } catch { case _: java.io.IOException => 0L }
    }.sum / 100.0
  }

  def threadCpuS(id: Long): Double =
    math.max(0L, ManagementFactory.getThreadMXBean.getThreadCpuTime(id)) / 1e9

  def gc: (Double, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).sum / 1e3, beans.map(_.getCollectionCount).sum)
  }

  /** Live heap after forced full collections, repeated until it stops
    * shrinking: each round lets Spark's ContextCleaner drop blocks whose
    * owners the previous one found to be garbage. */
  def heapAfterGcMb: Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def used = { System.gc(); mem.getHeapMemoryUsage.getUsed / 1e6 }
    var last = used
    var rounds = 1
    var shrinking = true
    while (shrinking && rounds < 6) {
      Thread.sleep(200)
      val now = used
      shrinking = last - now > 0.5
      last = now
      rounds += 1
    }
    last
  }

  /** Waits, up to `maxS`, until the JIT compilers have been idle for
    * 0.5 s, so compilations queued by the warm pass finish before timing
    * starts instead of inside the first timed ops. */
  def awaitJitQuiet(maxS: Double = 6.0): Unit = {
    val jit = ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + (maxS * 1e9).toLong
    var last = jit.getTotalCompilationTime
    var quiet = false
    while (!quiet && System.nanoTime() < deadline) {
      Thread.sleep(500)
      val now = jit.getTotalCompilationTime
      quiet = now - last < 25
      last = now
    }
  }

  def sinceStartS: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
}

/** Shared metric arithmetic. */
object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest percentile with at least 10 samples beyond it:
    * (value, percentile, samples). With 10 or fewer samples there is no
    * such percentile and the maximum is reported as p100. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    if (s.size <= 10) (if (s.isEmpty) 0.0 else s.last, 100.0, s.size)
    else (s(s.size - 11), 100.0 * (s.size - 10) / s.size, s.size)
  }
}

/** Result of one workload run, written as result.json for run.py. */
final class Result {
  val ops: mutable.ArrayBuffer[Op] = mutable.ArrayBuffer.empty
  val e2e: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  val layers: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val extra: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  val mismatches: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  /** Fills the op-latency metrics from the timed ops: the median over
    * the ops `p50Of` selects, the tail over all of them. */
  def opLatency(p50Of: Op => Boolean = _ => true): Unit = {
    val walls = ops.filter(_.ok).map(_.seconds).toSeq
    val (t, pct, n) = Stats.tail(walls)
    e2e("op_p50_s") = Stats.median(ops.filter(o => o.ok && p50Of(o)).map(_.seconds).toSeq)
    e2e("op_tail_s") = t
    extra("op_tail_percentile") = pct
    extra("op_samples") = n
  }

  def json: String = Json(mutable.LinkedHashMap[String, Any](
    "e2e" -> e2e, "layers" -> layers, "extra" -> extra,
    "ops" -> ops.map(o => mutable.LinkedHashMap[String, Any](
      "name" -> o.name, "pass" -> o.pass, "seconds" -> o.seconds,
      "ok" -> o.ok, "error" -> o.error)),
    "mismatches" -> mismatches))
}

object Main {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("cores").toInt, m.getOrElse("data", ""), m("out"))
  }

  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.out}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.out}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Per-layer Spark metrics from the traced spans. `weight` scales a
    * span's counts to one pass or day (1 / traced passes, or the day's
    * cycles / its traced cycles for a cycle's spans). */
  def execLayers(t: Tracer, res: Result, spans: Seq[Span], weight: Span => Double): Unit = {
    val all = spans.map(s => (t.stats(s), weight(s)))
    def sum(f: GroupStats => Double) = all.map { case (g, w) => f(g) * w }.sum
    res.layers("exec.wall_s") = all.groupBy(_._2).map { case (w, gs) =>
      w * Intervals.unionSeconds(gs.flatMap(_._1.jobIntervals)) }.sum
    res.layers("exec.jobs") = sum(_.jobs.toDouble)
    res.layers("exec.stages") = sum(_.stages.toDouble)
    res.layers("exec.tasks") = sum(_.tasks.toDouble)
    res.layers("exec.task_cpu_s") = sum(_.cpuNs / 1e9)
    res.layers("exec.task_run_s") = sum(_.runMs / 1e3)
    res.layers("exec.task_gc_s") = sum(_.gcMs / 1e3)
    res.layers("exec.shuffle_write_mb") = sum(_.shuffleWrite / 1e6)
    res.layers("exec.shuffle_read_mb") = sum(_.shuffleRead / 1e6)
    res.layers("exec.spill_mb") = sum(_.spill / 1e6)
    res.layers("exec.peak_mem_mb") = (0L +: all.map(_._1.peakMem)).max / 1e6
    res.layers("exec.task_skew") = (1.0 +: all.map(_._1.worstSkew)).max
    res.layers("exec.task_failures") = sum(_.taskFailures.toDouble)
    res.layers("tables.input_mb") = sum(_.inputBytes / 1e6)
    res.layers("tables.input_rows") = sum(_.inputRows.toDouble)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.out))
    val spark = session(a)
    val sessionReady = Jvm.sinceStartS
    val tracer = new Tracer(spark.sparkContext, a.trace)
    val res = new Result
    res.extra("session_ready_s") = sessionReady
    res.extra("nproc") = a.cores
    res.extra("heap_max_mb") = Runtime.getRuntime.maxMemory / 1e6
    res.extra("spark_version") = spark.version
    res.extra("jdk_version") = System.getProperty("java.version")
    res.extra("master") = spark.sparkContext.master
    try a.workload match {
      case "daemon_day" => new Daemon(spark, a, tracer, res).run()
      case "suite" => new Suite(spark, a, tracer, res).run()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally {
      if (a.trace) Files.writeString(Paths.get(a.out, "trace.json"), tracer.toJson)
      Files.writeString(Paths.get(a.out, "result.json"), res.json)
      spark.stop()
    }
  }
}
