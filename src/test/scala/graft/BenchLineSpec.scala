package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench stdout-line contract BEFORE the driver's ~2,000-char
  * tail window can truncate a round artifact (it already ate BENCH_r03
  * and BENCH_r07). Drives `Bench.composeStdoutLine` — a pure function —
  * with worst-case synthetic data over the REAL registered query set,
  * so registry growth that would overflow the per-query tiers fails
  * HERE, in `sbt test`, not in the next round's driver capture. */
class BenchLineSpec extends AnyFunSuite {

  // worst-case widths for the measurement fields: two timed passes of a
  // 10^4 s suite wall and a 10^5 CPU-s pass on a 128-core box
  private val passes = Seq((9999.99, 99999.99), (9999.99, 99999.99))

  private def synth(names: Seq[String], wall: Double = 999.99)
      : Seq[(String, Seq[(Double, Double)], Option[String])] =
    names.map(n => (n, Seq((wall, wall)), Option.empty[String]))

  test("full registry at worst-case walls keeps a per-query map inside the budget") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val line = Bench.composeStdoutLine(synth(names), "/root/testdata/sf0.1", 2,
      passes = passes, cores = 128)
    assert(line.length <= Bench.StdoutBudget,
      s"bench stdout line is ${line.length} chars — the driver tail window " +
        s"(~2,000) will truncate it; shrink a tier or redesign before the " +
        s"next round artifact degrades")
    // ...and it must still be a PER-QUERY tier: if this fires, the
    // registry outgrew the slowest-first map tier and per-query walls
    // would silently vanish from the round artifact (the BENCH_r08 failure)
    assert(!line.contains("\"queries\":\"bench.json\""),
      s"registry (${names.size} queries) no longer fits any per-query " +
        s"tier — add a denser tier before the driver record degrades")
  }

  test("full registry in PARALLEL mode (qsum + cpu_s fields) still fits the budget") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val line = Bench.composeStdoutLine(synth(names), "/root/testdata/sf0.1", 2,
      parallel = 8, warmErrors = names.size, passes = passes, cores = 128)
    assert(line.length <= Bench.StdoutBudget, s"len=${line.length}")
    assert(!line.contains("\"queries\":\"bench.json\""), line.take(300))
  }

  test("the line carries cpu_s and cores in both modes; serial keeps the per-query cpu map; no removed key appears") {
    val res = Seq(
      ("x1_tiny", Seq((0.45, 0.9), (0.10, 0.3)), Option.empty[String]),
      ("x2_big", Seq((5.0, 12.0), (5.1, 13.0)), Option.empty[String]))
    val serial = Bench.composeStdoutLine(res, "sf", 2,
      passes = Seq((5.6, 14.0), (5.2, 13.5)), cores = 4)
    // serial: value = sum of per-query mins, declared as such, no qsum
    // field; the cpu map is the min-wall run's CPU
    assert(serial.contains("\"parallel\":1"), serial)
    assert(serial.contains("\"value\":5.1000"), serial)
    assert(serial.contains("\"headline\":\"qsum\""), serial)
    assert(!serial.contains("\"qsum\":"), serial)
    assert(serial.contains("\"cpu\":{\"x1_tiny\":0.30,\"x2_big\":12.00}"), serial)
    // cpu_s is the process CPU of the min-WALL pass, not the min CPU
    assert(serial.contains("\"cpu_s\":13.50"), serial)
    assert(serial.contains("\"cores\":4"), serial)
    // pooled: per-query cpu is unmeasured (null), the headline is the
    // min suite wall with the per-query sum beside it
    val pooledRes = res.map { case (n, ts, e) => (n, ts.map(t => (t._1, -1.0)), e) }
    val pooled = Bench.composeStdoutLine(pooledRes, "sf", 2, parallel = 8,
      passes = Seq((3.1, 20.0), (3.0, 19.0)), cores = 32)
    assert(pooled.contains("\"parallel\":8"), pooled)
    assert(pooled.contains("\"value\":3.0000"), pooled)
    assert(pooled.contains("\"qsum\":5.10,\"headline\":\"suite_wall\""), pooled)
    assert(pooled.contains("\"cpu\":{\"x1_tiny\":null,\"x2_big\":null}"), pooled)
    assert(pooled.contains("\"cpu_s\":19.00"), pooled)
    assert(pooled.contains("\"cores\":32"), pooled)
    // a JVM without a process CPU clock reports null, never a number
    val noClock = Bench.composeStdoutLine(pooledRes, "sf", 1, parallel = 8,
      passes = Seq((3.0, -1.0)), cores = 32)
    assert(noClock.contains("\"cpu_s\":null"), noClock)
    // the retired weather labels and probes stay out of every tier
    // (key prefixes: "calib covers calibration and every calib_* field)
    val removed = Seq("contended", "pass_spread", "calib", "effective_cores")
      .map("\"" + _)
    val big = Bench.composeStdoutLine(synth(SparkEntry.queries.keys.toSeq.sorted),
      "sf", 2, parallel = 8, passes = passes, cores = 128)
    val floor = Bench.composeStdoutLine(
      res.map { case (n, _, _) => (n, Nil, Some("boom " * 400)) } ++
        (1 to 300).map(i => (s"x${i}_broken", Nil, Some("boom " * 100))), "sf", 2)
    assert(floor.contains("\"n_failed\":302"), floor)
    for (line <- Seq(serial, pooled, big, floor)) {
      assert(line.contains("\"cpu_s\":") && line.contains("\"cores\":"), line.take(300))
      removed.foreach(k => assert(!line.contains(k), s"$k in ${line.take(300)}"))
    }
  }

  test("warm_runs, warm_errors, sort and parallel are declared in the line (methodology is never hidden)") {
    val quiet = Seq(("x1_q", Seq((1.0, 1.0), (1.0, 1.0)), Option.empty[String]))
    val line = Bench.composeStdoutLine(quiet, "sf", 2, warmErrors = 2)
    assert(line.contains("\"warm_runs\":1"), line)
    assert(line.contains("\"sort\":\"stripped\""), line)
    // a query whose warm pass silently died cannot present a half-cold
    // timed run as steady state — the count is in the artifact
    assert(line.contains("\"warm_errors\":2"), line)
    assert(line.contains("\"parallel\":1"), line)
  }

  test("registry growth keeps headroom in the driver's correctness artifacts") {
    // the bench stdout tier guard above already fired once (r10, 185
    // queries); this is the same early-warning style for the OTHER two
    // driver artifacts that scale with the registry.
    val qNames = SparkEntry.queries.keySet
    // CORRECTNESS_r{N}.json: ~135 bytes/entry measured at round 10 —
    // budget 64 KiB at a 160-byte worst case leaves headroom to ~400
    // queries; fails HERE before an unknown driver cap truncates it
    assert(qNames.size * 160 <= 64 * 1024,
      s"registry (${qNames.size} queries) puts the per-query correctness " +
        "artifact past the 64 KiB budget — confirm the driver cap first")
    // oracle_sql.json is parsed whole by the driver: keep it bounded
    val oracleBytes = SparkEntry.oracleSql.valuesIterator
      .map(_.getBytes("UTF-8").length.toLong).sum
    assert(oracleBytes <= 4L * 1024 * 1024,
      s"oracle_sql.json payload is $oracleBytes bytes — past the 4 MiB budget")
    // the zero-unverified-queries invariant: every registered query
    // carries an oracle, and no oracle is orphaned
    assert(SparkEntry.oracleSql.keySet === qNames,
      s"oracle/queries key drift: only-in-queries=${qNames diff SparkEntry.oracleSql.keySet}, " +
        s"only-in-oracle=${SparkEntry.oracleSql.keySet diff qNames}")
  }

  test("short ids stay unique across the registry (the short tier's precondition)") {
    val ids = SparkEntry.queries.keys.toSeq.map(_.takeWhile(_ != '_'))
    assert(ids.distinct.size === ids.size,
      s"duplicate short ids: ${ids.diff(ids.distinct).distinct.mkString(",")}")
  }

  test("an all-error run still emits a bounded, headline-bearing line") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val broken = names.map(n =>
      (n, Seq.empty[(Double, Double)], Some("boom " * 100)))
    val line = Bench.composeStdoutLine(broken, "/root/testdata/sf0.1", 2)
    assert(line.length <= Bench.StdoutBudget, s"len=${line.length}")
    assert(line.contains("\"metric\":\"total\""))
    assert(line.contains(s"\"n_failed\":${names.size}"))
  }

  test("slowest-first MAP tier: overflow keeps a driver-parseable queries map") {
    // drive a registry size that overflows the short-id JSON-map tiers
    // (the round-17 provenance fields — warm_errors, parallel — put the
    // full-map boundary near ~140); the fallback must STILL render
    // "queries" as a JSON MAP — the shape the driver's PERF parser
    // reads — never the round-17/18 compact string (PERF_r18 came back
    // empty against the string form: prev_bench_ok=false, n_common=0)
    val names = (1 to 138).map(i => s"x${i}_synthetic_query_name")
    val line = Bench.composeStdoutLine(synth(names), "/root/testdata/sf0.1", 2)
    assert(line.length <= Bench.StdoutBudget)
    assert(!line.contains("queries_fmt"), line.take(200))
    assert(line.contains("\"queries\":{"), line.take(200))
    assert(line.contains("\"x1\":1000"), "map tier lost the slowest walls")
    assert(line.contains("\"queries_file\":\"bench_queries.json\""), line.take(400))
  }

  test("250+ queries: slowest-first map tier keeps the heavy walls, folds the rest, stays bounded") {
    // ~250 full-map entries cannot hold 1,800 chars; instead of a
    // totals-only cliff, the slowest-first map tier greedily packs the
    // walls that matter and folds the remainder into EXPLICIT
    // queries_rest:<sum> + queries_omitted:<count> fields OUTSIDE the
    // map, so every map key stays a real query id
    val names = (1 to 250).map(i => s"x${i}_synthetic_query_name")
    // make walls distinguishable: x250 slowest ... x1 fastest
    val res = names.zipWithIndex.map { case (n, i) =>
      (n, Seq(((i + 1).toDouble, (i + 1).toDouble)), Option.empty[String])
    }
    val line = Bench.composeStdoutLine(res, "/root/testdata/sf0.1", 2)
    assert(line.length <= Bench.StdoutBudget, s"len=${line.length}")
    assert(!line.contains("\"queries\":\"bench.json\""), line)
    assert(line.contains("\"x250\":250"), line)  // the slowest wall is present
    assert(line.contains("\"queries_rest\":"), line) // the fold is explicit
    assert("\"queries_omitted\":([0-9]+)".r.findFirstMatchIn(line)
      .exists(_.group(1).toInt > 0), line)
    // the map parses: every entry is "id":wall inside a JSON object
    val qBody = "\"queries\":\\{([^}]*)\\}".r.findFirstMatchIn(line).map(_.group(1))
    assert(qBody.exists(_.split(",").forall(_.matches("\"[A-Za-z0-9]+\":[0-9.]+"))), line)
    // an id-collision registry (short-id precondition fails) falls back
    // to FULL names inside the same bounded map tier — still parseable,
    // no totals-only cliff
    val clash = (1 to 250).map(i => s"x1_clash_$i")
    val line2 = Bench.composeStdoutLine(synth(clash), "/root/testdata/sf0.1", 2)
    assert(line2.length <= Bench.StdoutBudget)
    assert(line2.contains("\"queries\":{\"x1_clash_"), line2.take(400))
    assert(line2.contains("\"queries_rest\":"), line2.take(400))
  }
}
