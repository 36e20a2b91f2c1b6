package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: runs every registered query (or the
  * `SPARK_GRAFT_QUERIES` allowlist) against `SPARK_GRAFT_SF_DIR`,
  * forcing full materialization through a noop write (a bare `count()`
  * would let Catalyst prune the projected columns and bench only the
  * scan). Prints ONE JSON line on stdout and writes `bench.json` (every
  * run's wall and CPU) and `bench_queries.json` (the full per-query map).
  *
  * METHOD: one untimed warm pass, then `SPARK_GRAFT_RUNS` (default 2)
  * timed passes; a query's wall is its min over the timed passes
  * (`"runs"`, `"agg":"min"`, `"warm_runs":1`). Warm-pass failures are
  * counted in `"warm_errors"`; a query whose timed run fails reports
  * `null` with its message in `"errors"`, never a bogus near-zero time.
  * Every query's terminal ORDER BY is stripped (`"sort":"stripped"`).
  *
  * EXECUTION: a pass runs the queries longest-first through a pool of
  * `SPARK_GRAFT_PARALLEL` workers (default 8), each on its own FAIR
  * scheduler pool, declared as `"parallel"`. At sf0.1 every input is a
  * 1–2-row-group parquet file, so one query at a time leaves most cores
  * idle (round 16: ~0.4 s/query of scheduling floor); the pool fills
  * them with other queries' jobs, as a multi-tenant cluster does.
  *   - width > 1: `"value"` is the min timed-pass SUITE WALL
  *     (`"headline":"suite_wall"`), the quantity the DuckDB oracle
  *     wall measures; `"qsum"` (sum of per-query min walls) rides
  *     beside it. Per-query walls are each query's span inside the
  *     pool, upper bounds of its serial wall.
  *   - width 1: `"value"` is the qsum (`"headline":"qsum"`), and the
  *     `"cpu"` map carries each query's process CPU-seconds for its
  *     min-wall run — the clock isolates a query only when nothing else
  *     runs, so the map is null under the pool.
  *
  * MEASUREMENTS, NOT LABELS: `"cpu_s"` is the process CPU-seconds of
  * the min-wall timed pass and `"cores"` the session's local width.
  * Walls on a shared box drift between sessions; compare walls taken in
  * one session, or compare `cpu_s`.
  *
  * `SPARK_GRAFT_CONF="k=v;k2=v2"` passes extra Spark confs through for
  * profiling experiments.
  */
object Bench {

  /** The driver captures only the LAST ~2,000 chars of stdout (measured:
    * the round-7 artifact's tail field is exactly 2,000 chars and its
    * line — ~3.9 KB with the 74-query cpu map — lost its front half,
    * "parsed": null; round 3 failed the same way at ~4.5 KB). 1,800
    * leaves margin under the observed window. */
  private[graft] val StdoutBudget = 1800

  private[graft] def jstr(s: String): String =
    "\"" + s.replaceAll("[\"\\\\]", "_").replaceAll("[\\x00-\\x1f]", " ").take(200) + "\""
  private[graft] def r4(d: Double): String =
    BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
  private[graft] def r2(d: Double): String =
    BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
  /** Adaptive wall render for the slowest-first map tier: 1 dp below
    * 100 s (sub-second order preserved where queries actually live),
    * whole seconds above (a 17-minute wall doesn't need decimals). */
  private[graft] def r1a(d: Double): String =
    if (d < 99.95) BigDecimal(d).setScale(1, BigDecimal.RoundingMode.HALF_UP).toString
    else BigDecimal(d).setScale(0, BigDecimal.RoundingMode.HALF_UP).toString

  /** Per-query results: name, (wall, cpu) seconds of each successful
    * timed run (cpu -1 where unmeasured), and the last timed error. */
  private[graft] type Results = Seq[(String, Seq[(Double, Double)], Option[String])]

  private def minWall(ts: Seq[(Double, Double)]): Option[Double] = ts.map(_._1).minOption
  private def cpuOrNull(c: Double, fmt: Double => String): String =
    if (c < 0) "null" else fmt(c)

  /** name → min wall, 4 dp; null for a query with no successful run. */
  private def wallMap(results: Results): String = results.map { case (k, ts, _) =>
    jstr(k) + ":" + minWall(ts).map(r4).getOrElse("null")
  }.mkString("{", ",", "}")

  /** name → CPU of the min-WALL run (the run the wall comes from), 2 dp. */
  private def cpuMap(results: Results): String = results.map { case (k, ts, _) =>
    jstr(k) + ":" + (if (ts.isEmpty) "null" else cpuOrNull(ts.minBy(_._1)._2, r2))
  }.mkString("{", ",", "}")

  /** Error strings capped harder than other fields: a broken run with
    * many failures must not push the line past the capture window (full
    * messages are on stderr already). */
  private def errorMap(results: Results): String =
    results.collect { case (k, _, Some(e)) => jstr(k) + ":" + jstr(e.take(100)) }
      .mkString("{", ",", "}")

  /** The headline `"value"` and the fields that declare how it was
    * measured, shared by every stdout tier and both sidecar files.
    * `passes` holds each timed pass's (wall, process cpu). */
  private def headline(results: Results, sfDir: String, runs: Int,
      parallel: Int, warmErrors: Int, passes: Seq[(Double, Double)],
      cores: Int): (Double, String) = {
    val qsum = results.flatMap { case (_, ts, _) => minWall(ts) }.sum
    val minPass = passes.minByOption(_._1)
    val suiteWall = minPass.filter(_ => parallel > 1).map(_._1)
    // "headline" declares WHAT QUANTITY "value" is: the suite wall and
    // the per-query-min sum differ ~4× by construction, so a consumer
    // diffing "value" across modes must be able to tell them apart
    val mode =
      if (suiteWall.isDefined) s""""qsum":${r2(qsum)},"headline":"suite_wall""""
      else """"headline":"qsum""""
    val cpuS = minPass.map(p => cpuOrNull(p._2, r2)).getOrElse("null")
    (suiteWall.getOrElse(qsum), s""""sf":"$sfDir","runs":$runs,"agg":"min","warm_runs":1,"warm_errors":$warmErrors,"sort":"stripped","parallel":$parallel,$mode,"queries_file":"bench_queries.json","cpu_s":$cpuS,"cores":$cores""")
  }

  /** Build the single stdout JSON line from raw per-query results.
    *
    * Tiered fallback (spec-pinned in BenchLineSpec): the first tier
    * that fits [[StdoutBudget]] wins.
    *   1. full names, 4-dp walls and the per-query `"cpu"` map — what a
    *      targeted `SPARK_GRAFT_QUERIES` run prints;
    *   2. SLOWEST-FIRST MAP tier: `"queries":{"x128":6.8,...}` with short
    *      ids ("x59") at adaptive precision packs the slowest walls until
    *      the budget; the remainder's sum/count land in
    *      `queries_rest`/`queries_omitted` OUTSIDE the map, so every key
    *      is a real query id and the omission is visible, never silent.
    *      It keeps the map shape the driver's PERF parser reads (PERF_r18
    *      came back empty against the retired compact-string form);
    *   3. floor: totals + error COUNT only — bounded however many
    *      queries failed; always fits.
    * bench.json always carries the full per-run detail, and
    * bench_queries.json (named in `"queries_file"`) the full-name 4-dp
    * per-query map.
    *
    * Pure function of its inputs so the spec can drive it with
    * worst-case synthetic data and fail BEFORE the driver's tail window
    * truncates a real round artifact. */
  private[graft] def composeStdoutLine(results: Results, sfDir: String,
      runs: Int, parallel: Int = 1, warmErrors: Int = 0,
      passes: Seq[(Double, Double)] = Nil, cores: Int = 0): String = {
    val (value, fields) =
      headline(results, sfDir, runs, parallel, warmErrors, passes, cores)
    def line(queries: String, cpu: String, errors: String): String =
      s"""{"metric":"total","value":${r4(value)},"unit":"sec",$queries,$fields,"cpu":$cpu,"errors":$errors}"""
    val errs = errorMap(results)
    val full = line(s""""queries":${wallMap(results)}""", cpuMap(results), errs)
    val slowestFirst = {
      // short ids ("q1", "qr1", "x59") are unique by construction
      // (spec-pinned); full names if that ever breaks
      val shortIds = results.map { case (k, _, _) => k.takeWhile(_ != '_') }
      val useShort = shortIds.distinct.size == results.size
      val pairs = results.zip(shortIds).map { case ((k, ts, _), sid) =>
        val id = if (useShort) sid.replaceAll("[^A-Za-z0-9]", "") else k
        val wall = minWall(ts)
        (jstr(id) + ":" + wall.map(r1a).getOrElse("null"), wall.getOrElse(0.0))
      }.sortBy { case (_, w) => -w }
      def mapLine(entries: Seq[String], omitted: Int, rest: Double): String = {
        val map = entries.mkString("{", ",", "}")
        line(s""""queries_omitted":$omitted,"queries_rest":${r1a(rest)},"queries":$map""",
          "\"bench.json\"", errs)
      }
      // room for the entries, reserving the widest omitted/rest fields
      val room = StdoutBudget - mapLine(Nil, results.size, pairs.map(_._2).sum).length
      val fits = pairs.scanLeft(0) { case (used, (e, _)) =>
        used + e.length + (if (used == 0) 0 else 1) }.tail.takeWhile(_ <= room).size
      val (taken, rest) = pairs.splitAt(fits)
      mapLine(taken.map(_._1), rest.size, rest.map(_._2).sum)
    }
    val floor = line(""""queries":"bench.json"""", "\"bench.json\"",
      s"""{"n_failed":${results.count(_._3.isDefined)}}""")
    Seq(full, slowestFirst).find(_.length <= StdoutBudget).getOrElse(floor)
  }

  def main(args: Array[String]): Unit = {
    // STDOUT QUARANTINE: the driver's capture window is the stdout TAIL
    // (~2,000 chars), and round 10 lost ⅔ of it to a benign shutdown
    // stack trace that something printed to stdout above the metric
    // line (round 7 died the same way). Rebinding System.out to the
    // stderr descriptor BEFORE Spark initializes means every later
    // printer — log4j console appenders, uncaught-handler traces,
    // third-party System.out.println — lands on stderr; the saved
    // handle below is the ONLY path to the real stdout, used exactly
    // once for the final JSON line.
    val realOut = new java.io.PrintStream(
      new java.io.FileOutputStream(java.io.FileDescriptor.out), true)
    System.setOut(new java.io.PrintStream(
      new java.io.FileOutputStream(java.io.FileDescriptor.err), true))
    // scala.Console captured the original System.out at class load —
    // rebind it for the run so stray scala-level println quarantines too
    scala.Console.withOut(System.out) { run(realOut) }
  }

  private def run(realOut: java.io.PrintStream): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Terminal-sort strip: every registered query ends in a global
    // ORDER BY whose only job is a deterministic Verify parquet dump —
    // the driver's gate sorts rows itself and a production consumer
    // reads unsorted partitions, so the bench measures the QUERY, not
    // the dump formatting (2 jobs + a range exchange per query).
    // `scripts/oracle_wall.py` strips the oracle's ORDER BY to match.
    // Resolved before the session so an unknown name fails fast.
    val selected = SparkEntry.selected().map { case (name, fn) =>
      (name, (s: SparkSession, d: String) =>
        org.apache.spark.sql.GraftSqlBridge.stripTerminalSort(fn(s, d)))
    }
    // Default width 8: the sf0.1 inputs are 1–2 parquet row groups, so
    // a single query schedules ≤2-task stages and leaves ~30 of 32
    // cores idle — 8 co-running queries fill them without
    // oversubscribing the shuffle-partition budget.
    val parallel = math.max(1,
      sys.env.get("SPARK_GRAFT_PARALLEL").map(_.toInt).getOrElse(8))
    // Min-of-N timed passes: single-shot numbers mix steady-state
    // throughput with one-off JIT/codegen/GC noise (observed 0.97 s vs
    // 4.8 s for the SAME query across runs).
    val runs = sys.env.get("SPARK_GRAFT_RUNS").map(_.toInt).getOrElse(2)
    val passthrough = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";").map(_.trim).filter(_.contains("=")))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }
    val spark = Session.local("graft-bench", Seq(
      "spark.sql.adaptive.enabled" -> "true",
      // FAIR across per-thread pools: with FIFO (default), one query's
      // multi-hundred-task stage would head-of-line-block the other
      // workers' 2-task stages, serializing the pool right back
      "spark.scheduler.mode" -> "FAIR") ++ passthrough: _*)
    // warmup: JIT/codegen/parquet-footer costs land here, not on the
    // alphabetically-first query
    spark.range(100000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    // whole-process CPU clock (covers every executor thread in local
    // mode); -1 on platforms without the com.sun bean → cpu fields null
    val osBean: Option[com.sun.management.OperatingSystemMXBean] =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
        case b: com.sun.management.OperatingSystemMXBean if b.getProcessCpuTime >= 0 => Some(b)
        case _ => None
      }
    def cpuNow(): Long = osBean.map(_.getProcessCpuTime).getOrElse(-1L)
    def cpuSince(c0: Long): Double = if (c0 < 0) -1.0 else (cpuNow() - c0) / 1e9

    val timedRuns = selected.map { case (n, _) =>
      n -> new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double)]() }.toMap
    val errs = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val lastWall = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
    val warmErrors = new java.util.concurrent.atomic.AtomicInteger(0)

    /** Every query in `order` exactly once through a fresh pool of
      * `parallel` workers; returns the pass's (wall, process cpu).
      * Untimed passes only count their failures: the same error
      * re-surfaces in the timed passes, and a transient one still gets
      * its timed chance. */
    def suitePass(order: Seq[(String, (SparkSession, String) => DataFrame)],
        timed: Boolean): (Double, Double) = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(parallel)
      val c0 = cpuNow()
      val t0 = System.nanoTime()
      val futs = order.map { case (name, fn) =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            // claim a per-thread FAIR pool (idempotent per worker)
            spark.sparkContext.setLocalProperty("spark.scheduler.pool",
              "bench-" + Thread.currentThread().getId)
            val qc0 = if (parallel == 1) cpuNow() else -1L
            val q0 = System.nanoTime()
            try {
              fn(spark, sfDir).write.format("noop").mode("overwrite").save()
              val w = (System.nanoTime() - q0) / 1e9
              lastWall.put(name, w)
              if (timed) timedRuns(name).add((w, cpuSince(qc0)))
            } catch {
              case e: Throwable =>
                if (timed) {
                  System.err.println(s"[bench] $name failed: ${e.getMessage}")
                  errs.put(name, Option(e.getMessage).getOrElse(e.getClass.getName))
                } else warmErrors.incrementAndGet()
            }
            // Serial mode pays GC/cleanup debt outside the next query's
            // window: Spark's ContextCleaner frees broadcasts, shuffles
            // and checkpoint blocks only when a GC runs, and on a large
            // heap early queries' state piled up until mixed-GC pauses
            // landed in LATER queries (x26/x29 measured 5-10x slower
            // in-suite than standalone).
            if (parallel == 1) System.gc()
          }
        })
      }
      futs.foreach(_.get())
      pool.shutdown()
      ((System.nanoTime() - t0) / 1e9, cpuSince(c0))
    }
    // LPT packing: the slowest walls go first, so no one-query tail
    // ends a pass (the warm pass runs in registry order)
    def lpt(): Seq[(String, (SparkSession, String) => DataFrame)] =
      selected.sortBy { case (n, _) =>
        -Option(lastWall.get(n)).map(_.doubleValue).getOrElse(0.0) }
    // the warm pass takes the first execution's one-off plan, codegen,
    // JIT and parquet-footer costs (round 15: ~55 s of first-run air
    // across 272 queries that min-of-2 only half-hid)
    suitePass(lpt(), timed = false)
    System.gc()
    val passes = (0 until runs).map { _ =>
      val p = suitePass(lpt(), timed = true)
      System.gc()
      p
    }
    import scala.jdk.CollectionConverters._
    val results = selected.map { case (name, _) =>
      (name, timedRuns(name).asScala.toSeq, Option(errs.get(name)))
    }

    val cores = Session.cpus
    val json = composeStdoutLine(results, sfDir, runs, parallel, warmErrors.get,
      passes, cores)
    val (value, fields) =
      headline(results, sfDir, runs, parallel, warmErrors.get, passes, cores)
    def write(file: String, text: String): Unit =
      try java.nio.file.Files.write(java.nio.file.Paths.get(file), text.getBytes("UTF-8"))
      catch { case e: Throwable => System.err.println(s"[bench] $file write failed: $e") }
    def perRun(f: ((Double, Double)) => String): String = results.map { case (k, ts, _) =>
      jstr(k) + ":" + ts.map(f).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val head = s"""{"metric":"total","value":${r4(value)},"unit":"sec","queries":${wallMap(results)},$fields"""
    write("bench.json", head +
      s""","suite_walls":${passes.map(p => r4(p._1)).mkString("[", ",", "]")},"cpu":${cpuMap(results)},"runs_detail":${perRun(t => r4(t._1))},"cpu_detail":${perRun(t => cpuOrNull(t._2, r4))},"errors":${errorMap(results)}}""")
    // bench_queries.json: the stdout line is budget-capped to the
    // slowest ~100 walls, so the complete full-name 4-dp map (plus the
    // min-wall run's cpu) rides this sidecar — same timed data
    write("bench_queries.json",
      head + s""","cpu":${cpuMap(results)},"errors":${errorMap(results)}}""")
    spark.stop()
    System.out.flush()
    System.err.flush()
    realOut.println(json)
    realOut.flush()
  }
}
