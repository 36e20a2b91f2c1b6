package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import graft.{SparkEntry, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}

object Suite {
  /** The reference's own queries (q1-q12, qr1), all sub-second: per-query
    * fixed cost (resolution, job and stage scheduling) is most of their
    * wall and plan-build is a small share. `op_p50_s` is the median of
    * their ops. */
  val Reference: Seq[String] = Seq(
    "q1_catalog_scan", "q2_time_range", "q3_first_nonempty", "q4_error_pivot_score",
    "q5_vendor_histogram", "q6_weak_programs", "q7_dim_rematch", "q8_batching",
    "q9_strings", "q10_json_roundtrip", "q11_daily_window", "q12_revenue_join",
    "qr1_detection_pipeline")

  /** Among the highest CPU-second queries, one per shared operator:
    * StratumRank (x128), co-shingle pairs and connected components (x39),
    * co-shingle edges and the wedge join (x148), banded guards (x57), and
    * the boilerplate shingles (x66). Plan-build jobs are most of their
    * wall, and they are most of a pass's wall, so `run_s` and `op_tail_s`
    * follow them. */
  val Heavy: Seq[String] = Seq(
    "x128_price_outliers", "x39_neardup_clusters", "x148_link_pred",
    "x57_semantic_dedup", "x66_boilerplate")

  /** A pass's wall on 4 cores: `--seconds` / this is the number of passes. */
  val NominalPassS = 8.0

  private val resolvers: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "region" -> Tables.region _, "nation" -> Tables.nation _,
    "customer" -> Tables.customer _, "supplier" -> Tables.supplier _,
    "part" -> Tables.part _, "orders" -> Tables.orders _,
    "lineitem" -> Tables.lineitem _, "events" -> Tables.events _,
    "documents" -> Tables.documents _, "embeddings" -> Tables.embeddings _)
}

/** The query-list workload. Set-up resolves the tables and runs one
  * untimed pass that also writes every result for the DuckDB check;
  * then a fixed number of whole passes, each in its own seeded order, is
  * timed.
  * One op = `Q.run` (plan-build, including any eager jobs) + a noop
  * write (execution). */
final class Suite(spark: SparkSession, a: Args, t: Tracer, res: Result) {
  private val names = Suite.Reference ++ Suite.Heavy
  private val registry = SparkEntry.queries

  private def secondsSince(t0: Long) = (System.nanoTime() - t0) / 1e9

  private def timedOp(name: String, pass: Int): Op =
    t.span(s"query:$name", s"$name#$pass") {
      val t0 = System.nanoTime()
      try {
        val df = t.span("queries.build")(registry(name)(spark, a.data))
        t.span("exec.execute")(df.write.format("noop").mode("overwrite").save())
        Op(name, pass, secondsSince(t0), ok = true)
      } catch {
        case e: Throwable => Op(name, pass, secondsSince(t0), ok = false, String.valueOf(e))
      }
    }

  /** A traced run traces every other op, alternating between passes, so
    * each query is traced in one of every two passes and the untraced ops
    * of the same run measure the tracing overhead. */
  private def traced(name: String, pass: Int) = t.on && (names.indexOf(name) + pass) % 2 == 1

  /** `count` timed passes: (wall, cpu, JIT cpu) of each. */
  private def measure(count: Int): Seq[(Double, Double, Double)] =
    (0 until count).map { p =>
      System.gc()
      val order = new Random(a.seed * 1000 + p).shuffle(names)
      val (c0, j0, t0) = (Jvm.processCpuS, Jvm.jitCpuS, System.nanoTime())
      order.foreach { n =>
        t.paused = !traced(n, p)
        res.ops += timedOp(n, p)
      }
      t.paused = true
      (secondsSince(t0), Jvm.processCpuS - c0, Jvm.jitCpuS - j0)
    }

  def run(): Unit = {
    val r0 = System.nanoTime()
    t.span("tables.resolve", "setup") {
      Suite.resolvers.foreach { case (n, f) => t.span(s"tables.resolve:$n")(f(spark, a.data).schema) }
    }
    res.layers("tables.resolve_s") = secondsSince(r0)

    // untimed warm pass: each result is written for the oracle check
    val dumps = Paths.get(a.out, "dumps")
    val verifyOrder = new Random(a.seed).shuffle(names)
    res.extra("untimed_s") = verifyOrder.map { n =>
      val q0 = System.nanoTime()
      try registry(n)(spark, a.data).coalesce(1).write.mode("overwrite")
        .parquet(dumps.resolve(n).toString)
      catch { case e: Throwable => res.mismatches += s"$n: failed in the untimed pass: $e" }
      n -> secondsSince(q0)
    }.toMap
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(Paths.get(a.out, "oracle_sql.json"), Json(oracles))
    res.extra("queries") = names
    Jvm.awaitJitQuiet()
    res.e2e("setup_s") = Jvm.sinceStartS

    // a fixed number of passes, so every run pools the same number of ops
    val passes = math.max(if (t.on) 2 else 1, math.round(a.seconds / Suite.NominalPassS).toInt)
    val firstTimed = t.spans.size
    val (gc0, n0) = Jvm.gc
    val walls = measure(passes)
    val (gc1, n1) = Jvm.gc
    res.e2e("run_s") = Stats.median(walls.map(_._1))
    res.e2e("cpu_s") = Stats.median(walls.map(_._2))
    res.extra("jit_cpu_s") = Stats.median(walls.map(_._3))
    // the median is the light part's: over the reference queries' ops,
    // whose latency is the per-query fixed cost
    res.opLatency(o => Suite.Reference.contains(o.name))
    res.extra("passes") = passes

    if (t.on) {
      t.drain()
      val spans = t.spans.drop(firstTimed).toSeq
      val opSpans = spans.filter(_.name.startsWith("query:"))
      val perPass = opSpans.size.toDouble / names.size
      Main.execLayers(t, res, spans, _ => 1 / perPass)
      val builds = spans.filter(_.name == "queries.build")
      def buildShare(group: Seq[String]) = {
        val ops = opSpans.filter(s => group.contains(s.name.drop(6)))
        val ids = ops.map(_.id).toSet
        builds.filter(b => ids.contains(b.parent)).map(_.seconds).sum / ops.map(_.seconds).sum
      }
      res.layers("queries.build_s") = builds.map(_.seconds).sum / perPass
      res.layers("queries.build_jobs") = builds.map(t.stats(_).jobs).sum / perPass
      res.layers("queries.build_share") = buildShare(names)
      res.layers("queries.ref_build_share") = buildShare(Suite.Reference)
      res.layers("queries.heavy_build_share") = buildShare(Suite.Heavy)
      res.layers("jvm.gc_s") = (gc1 - gc0) / passes
      res.layers("jvm.gc_count") = (n1 - n0).toDouble / passes
      res.layers("jvm.jit_cpu_s") = Stats.median(walls.map(_._3))
      // per pass: each query's mean traced op minus its mean untraced op
      res.layers("trace.overhead_s") = res.ops.groupBy(_.name).values.map { ops =>
        val (on, off) = ops.partition(o => traced(o.name, o.pass))
        def mean(xs: Iterable[Op]) = xs.map(_.seconds).sum / xs.size
        if (on.isEmpty || off.isEmpty) 0.0 else mean(on) - mean(off)
      }.sum
    }
    res.e2e("heap_after_gc_mb") = Jvm.heapAfterGcMb
  }
}
