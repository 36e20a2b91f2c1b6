package perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.model.DetectionEvent
import graft.ops.{ProgramHealth, VendorStats}
import graft.sinks.Report
import graft.sources.JdbcCatalog
import graft.streaming.DetectionPipeline
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}

/** Every progress event of every streaming query, with the wall-clock
  * millisecond it was observed. A micro-batch has committed when its
  * progress event arrives. */
final class ProgressLog extends StreamingQueryListener {
  val events: ArrayBuffer[(StreamingQueryProgress, Long)] = ArrayBuffer.empty

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { events += ((e.progress, System.currentTimeMillis())); notifyAll() }

  def of(runId: java.util.UUID): Seq[(StreamingQueryProgress, Long)] =
    synchronized(events.filter(_._1.runId == runId).toSeq)

  /** Waits for the first batch of `runId` that read input. */
  def awaitInput(runId: java.util.UUID, timeoutMs: Long): (StreamingQueryProgress, Long) =
    synchronized {
      val deadline = System.currentTimeMillis() + timeoutMs
      def hit = events.find(p => p._1.runId == runId && p._1.numInputRows > 0)
      while (hit.isEmpty && System.currentTimeMillis() < deadline) wait(50)
      hit.getOrElse(throw new RuntimeException(s"no committed batch for run $runId"))
    }
}

/** The paper's daemon, one simulated UTC day as a stream.
  *
  * Per 2-hour cycle the generator lands the cycle's probe events as JSON
  * files; E1 is `DetectionPipeline.ingest` into the date-partitioned
  * fact store, and `statefulErrorAlerts` runs on the same input as a
  * long-lived query; E2 is `rollupDaySoFar` and the rendered rollup
  * report. After the last cycle, E3: `finalizeDay`, `upsertCatalog`,
  * `JdbcCatalog.upsertPartial` into embedded Derby, then the weak-program
  * and vendor reports.
  *
  * `ingest` has a fixed 10 s processing-time trigger, whose first batch
  * fires as soon as the query starts. Each cycle therefore starts the
  * ingest query on its checkpoint, waits for the progress event of the
  * batch that read the cycle, and stops it: a day costs its work, not
  * twelve trigger intervals. Trigger wait and restart are reported as
  * `ingest.idle_s`, apart from the batch's engine time. */
final class Daemon(spark: SparkSession, a: Args, t: Tracer, res: Result) {
  import spark.implicits._

  private val Streams = 2000
  private val EventsPerCycle = 10000
  private val Cycles = 12
  private val AlertThreshold = 30
  private val AlertTriggerMs = 250L
  /** A day's busy time on 4 cores: `--seconds` / this is the number of days. */
  private val NominalDayS = 20.0
  private val Date = LocalDate.of(2024, 3, 5)
  private val rules = Seq(
    VendorStats.VendorRule(Seq("http://cdn-a."), "VendorA"),
    VendorStats.VendorRule(Seq("http://cdn-b."), "VendorB"),
    VendorStats.VendorRule(Seq("http://cdn-c."), "VendorC"))

  private val progress = new ProgressLog
  spark.streams.addListener(progress)
  private var derbyDbs = 0

  private def secondsSince(t0: Long) = (System.nanoTime() - t0) / 1e9

  /** What one simulated day measured. */
  final class DayResult {
    val ops: ArrayBuffer[Op] = ArrayBuffer.empty
    var busy, cpu, jitCpu, finalizeS = 0.0
    val ingestEngine, addBatch, planning, commit, idle, rowsPerS = ArrayBuffer.empty[Double]
    val rollup, rollupFiles = ArrayBuffer.empty[Double]
    val rollupSpans: ArrayBuffer[(Span, Long)] = ArrayBuffer.empty
    /** Whether each completed cycle was traced. */
    val traced: ArrayBuffer[Boolean] = ArrayBuffer.empty
    val alertLatency, alertBatch, stateCommit = ArrayBuffer.empty[Double]
    var stateRows, stateMemMb, filesWritten, rowsUpdated, messages = 0.0
  }

  private def eventsStream(landing: Path): Dataset[DetectionEvent] =
    spark.readStream.schema(Encoders.product[DetectionEvent].schema)
      .option("timestampFormat", ProbeDay.MicrosPattern)
      .json(s"$landing/cycle-*").as[DetectionEvent]

  private def renderRollup(rows: Array[Row], sink: Report.MessageSink): Int = {
    val header = Report.RollupCsvColumns.mkString(",")
    val lines = rows.map(_.toSeq.map(v => if (v == null) "" else v.toString).mkString(","))
    lines.grouped(30).map { batch =>
      sink.send(Report.csvLinesToMarkdown(header +: batch.toSeq)); 1
    }.sum
  }

  private def createCatalog(url: String, day: ProbeDay): Unit = {
    JdbcCatalog.execute(url, Seq(
      """CREATE TABLE stream_sources (id VARCHAR(16) PRIMARY KEY, url VARCHAR(96),
        |  target_matching VARCHAR(32), target_matching_id VARCHAR(16), is_del INT,
        |  stream_type VARCHAR(8), flow_score INT, resolution_type INT,
        |  video_format VARCHAR(16), video_resolution VARCHAR(16),
        |  audio_format VARCHAR(16), audio_sampling_rate VARCHAR(16))""".stripMargin,
      "CREATE TABLE programs (id VARCHAR(16), stream_name VARCHAR(32))"))
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.prepareStatement(
        "INSERT INTO stream_sources VALUES (?, ?, ?, ?, ?, ?, ?, 1, '', '', '', '')")
      day.profiles.foreach { p =>
        st.setString(1, p.id); st.setString(2, p.url); st.setString(3, s"Prog ${p.program}")
        st.setString(4, p.matchingId); st.setInt(5, p.isDel); st.setString(6, p.streamType)
        st.setInt(7, p.initialScore); st.addBatch()
      }
      st.executeBatch()
      val pr = conn.prepareStatement("INSERT INTO programs VALUES (?, ?)")
      day.programRows.foreach { case (id, n) => pr.setString(1, id); pr.setString(2, n); pr.addBatch() }
      pr.executeBatch()
    } finally conn.close()
  }

  private def rows(url: String, table: String): Seq[Row] =
    JdbcCatalog.read(spark, url, table).collect().toSeq

  /** Runs one day in `dir`; `check` writes what the oracle compares.
    * A traced day traces every other cycle, from the second, and E3; its
    * untraced cycles measure the tracing overhead. */
  private def runDay(dir: Path, day: ProbeDay, check: Boolean, traced: Boolean): DayResult = {
    val out = new DayResult
    val landing = dir.resolve("landing")
    val store = dir.resolve("store").toString
    derbyDbs += 1
    val url = s"jdbc:derby:memory:perfbench$derbyDbs;create=true"
    createCatalog(url, day)
    val gen = new Generator(day, landing, a.cores)
    gen.start()
    val events = eventsStream(landing)
    val sink = new Report.CollectingSink
    val alertRows = ArrayBuffer.empty[(Long, Long, Row)]
    val alertsQ = DetectionPipeline.statefulErrorAlerts(events, AlertThreshold)
      .toDF("url_id", "n_error", "n_detection").writeStream
      .option("checkpointLocation", dir.resolve("ckpt-alerts").toString)
      .trigger(Trigger.ProcessingTime(AlertTriggerMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val got = batch.collect()
        val now = System.currentTimeMillis()
        alertRows.synchronized(got.foreach(r => alertRows += ((batchId, now, r))))
      }
      .start()
    val released = ArrayBuffer.empty[Long]
    val (cpu0, gcpu0, jit0) = (Jvm.processCpuS, gen.cpuS, Jvm.jitCpuS)
    try {
      (0 until day.cycles).foreach { k =>
        t.paused = !(traced && k % 2 == 1)
        t.span(s"cycle:$k", s"cycle-$k") {
          try {
            released += gen.release(k)
            val (p, seenMs) = t.span("ingest.batch") {
              val q = DetectionPipeline.ingest(events, store, dir.resolve("ckpt-ingest").toString)
              try progress.awaitInput(q.runId, 120000L) finally q.stop()
            }
            val d = p.durationMs.asScala.map { case (n, v) => n -> v.longValue / 1e3 }
            val engine = d("triggerExecution")
            out.ingestEngine += engine
            out.addBatch += d.getOrElse("addBatch", 0.0)
            out.planning += d.getOrElse("queryPlanning", 0.0)
            out.commit += d.getOrElse("walCommit", 0.0) + d.getOrElse("commitOffsets", 0.0)
            out.idle += (seenMs - released(k)) / 1e3 - engine
            out.rowsPerS += p.processedRowsPerSecond

            val e2 = System.nanoTime()
            val rolled = t.span("rollup") {
              Report.rollupCsv(DetectionPipeline.rollupDaySoFar(spark, store, day.date,
                day.cycleEnd(k))).collect()
            }
            out.rollup += secondsSince(e2)
            if (t.active) out.rollupSpans += ((t.spans.last, p.numInputRows))
            out.messages += t.span("sinks.render")(renderRollup(rolled, sink))
            val e2s = secondsSince(e2)
            out.rollupFiles += ProbeDay.countFiles(Paths.get(store, s"event_date=${day.date}"), ".parquet")
            out.ops += Op(s"cycle-$k", 0, engine + e2s, ok = true)
            out.traced += t.active
            out.busy += engine + e2s
          } catch {
            case e: Throwable =>
              out.ops += Op(s"cycle-$k", 0, 0.0, ok = false, String.valueOf(e))
              out.traced += t.active
          }
        }
      }
      // E3: the day's finalization, catalog write-back and reports
      t.paused = !traced
      val e3 = System.nanoTime()
      try t.span("finalize", "finalize") {
        val programs = JdbcCatalog.read(spark, url, "programs")
        val fin = t.span("finalize.score_rematch") {
          val f = DetectionPipeline.finalizeDay(
            DetectionPipeline.rollupDaySoFar(spark, store, day.date, day.cycleEnd(day.cycles - 1)),
            programs).cache()
          out.rowsUpdated = f.count().toDouble
          f
        }
        val merged = t.span("finalize.upsert") {
          DetectionPipeline.upsertCatalog(JdbcCatalog.read(spark, url, "stream_sources"), fin)
            .collect()
        }
        t.span("sources.jdbc_writeback")(JdbcCatalog.upsertPartial(fin, url, "stream_sources"))
        val (weak, vendors) = t.span("reports.query") {
          val cat = JdbcCatalog.read(spark, url, "stream_sources")
          (ProgramHealth.weakPrograms(cat, programs).collect().map(_.getString(0)).toSeq,
            VendorStats.vendorFlowStats(cat, rules).collect().toSeq)
        }
        out.messages += t.span("sinks.render") {
          val stats = vendors.map(r => Report.VendorStat(r.getAs[String]("vendor"),
            r.getAs[Int]("count_lt60"), r.getAs[Int]("count_60_80"),
            r.getAs[Int]("count_80_100"), r.getAs[Int]("total")))
          val msgs = Report.programReport(day.date.toString, weak) ++
            Report.vendorReport(day.date.toString, stats)
          msgs.foreach(sink.send)
          msgs.size
        }
        fin.unpersist()
        out.finalizeS = secondsSince(e3)
        out.busy += out.finalizeS
        if (check) writeCheck(dir, url, day, merged, weak, vendors)
      } catch {
        case e: Throwable => res.mismatches += s"finalize failed: $e"
      }
      t.paused = true
      out.cpu = (Jvm.processCpuS - cpu0) - (gen.cpuS - gcpu0)
      out.jitCpu = Jvm.jitCpuS - jit0
      alertsQ.processAllAvailable()
    } finally alertsQ.stop()

    // alerts: latency from a cycle's landing to its alert rows at the sink
    val alertProgress = progress.of(alertsQ.runId).map(_._1)
    val startMs = alertProgress.map(p => p.batchId -> java.time.Instant.parse(p.timestamp).toEpochMilli).toMap
    alertRows.groupBy(_._1).foreach { case (batchId, rs) =>
      startMs.get(batchId).foreach { s =>
        val landed = released.filter(_ <= s)
        if (landed.nonEmpty) out.alertLatency += (rs.head._2 - landed.max) / 1e3
      }
    }
    val withInput = alertProgress.filter(_.numInputRows > 0)
    out.alertBatch ++= withInput.map(_.durationMs.get("triggerExecution").longValue / 1e3)
    out.stateCommit ++= withInput.flatMap(_.stateOperators.headOption).map(_.commitTimeMs / 1e3)
    alertProgress.lastOption.flatMap(_.stateOperators.headOption).foreach { s =>
      out.stateRows = s.numRowsTotal.toDouble
      out.stateMemMb = s.memoryUsedBytes / 1e6
    }
    out.filesWritten = ProbeDay.countFiles(Paths.get(store), ".parquet")
    if (check) Files.writeString(dir.resolve("alerts.json"),
      Json(alertRows.map(r => Seq(r._3.getString(0), r._3.getInt(1), r._3.getInt(2)))))
    out
  }

  /** Files the oracle in run.py compares: the generated catalog and
    * programs, and what E3 left in Derby and reported. */
  private def writeCheck(dir: Path, url: String, day: ProbeDay, merged: Array[Row],
      weak: Seq[String], vendors: Seq[Row]): Unit = {
    def table(rs: Seq[Row]) = Json(rs.map(r => r.schema.fieldNames.map(_.toLowerCase)
      .zip(r.toSeq).toMap))
    Files.writeString(dir.resolve("catalog0.json"), Json(day.profiles.map(p =>
      Map("id" -> p.id, "url" -> p.url, "target_matching" -> s"Prog ${p.program}",
        "target_matching_id" -> p.matchingId, "is_del" -> p.isDel,
        "stream_type" -> p.streamType, "flow_score" -> p.initialScore))))
    Files.writeString(dir.resolve("programs.json"), table(rows(url, "programs")))
    Files.writeString(dir.resolve("catalog.json"), table(rows(url, "stream_sources")))
    Files.writeString(dir.resolve("merged.json"), table(merged.toSeq))
    Files.writeString(dir.resolve("reports.json"), Json(Map(
      "weak" -> weak, "vendors" -> vendors.map(r => Seq(r.getAs[String]("vendor"),
        r.getAs[Int]("count_lt60"), r.getAs[Int]("count_60_80"),
        r.getAs[Int]("count_80_100"), r.getAs[Int]("total"))))))
  }

  def run(): Unit = {
    val root = Paths.get(a.out, "daemon")
    // set-up: a short warm day through the same calls, untimed; three
    // cycles, because the first cycles of a day still warm up
    t.paused = true
    runDay(root.resolve("warm"), new ProbeDay(a.seed + 1, 200, 1000, 3, Date),
      check = false, traced = false)
    val day = () => new ProbeDay(a.seed, Streams, EventsPerCycle, Cycles, Date)
    Jvm.awaitJitQuiet()
    res.e2e("setup_s") = Jvm.sinceStartS

    // whole days, at least one: --seconds / NominalDayS; a traced run
    // traces the last
    val days = math.max(1, math.round(a.seconds / NominalDayS).toInt)
    val (gc0, n0) = Jvm.gc
    val firstSpan = t.spans.size
    val results = (0 until days).map { i =>
      runDay(root.resolve(s"day$i"), day(), check = i == days - 1, traced = t.on && i == days - 1)
    }
    val (gc1, n1) = Jvm.gc
    report(results)
    if (t.on) {
      t.drain()
      val last = results.last
      // a cycle's spans count for the day's cycles / its traced cycles
      val perCycle = Cycles.toDouble / math.max(1, last.traced.count(identity))
      val weight = (s: Span) => if (s.op.startsWith("cycle-")) perCycle else 1.0
      val spans = t.spans.drop(firstSpan).toSeq
      Main.execLayers(t, res, spans, weight)
      layers(last, spans, weight)
      res.layers("jvm.gc_s") = (gc1 - gc0) / days
      res.layers("jvm.gc_count") = (n1 - n0).toDouble / days
      res.layers("jvm.jit_cpu_s") = Stats.median(results.map(_.jitCpu))
      // per cycle: a traced cycle minus the mean of its untraced
      // neighbours (so the day's growth cancels), times the day's cycles
      val walls = last.ops.map(_.seconds)
      val diffs = (1 until walls.size - 1).filter(k => last.traced.lift(k).contains(true))
        .map(k => walls(k) - (walls(k - 1) + walls(k + 1)) / 2)
      res.layers("trace.overhead_s") =
        if (diffs.isEmpty) 0.0 else diffs.sum / diffs.size * Cycles
    }
    res.extra("days") = days
    res.e2e("heap_after_gc_mb") = Jvm.heapAfterGcMb
    res.extra("check_dir") = root.resolve(s"day${days - 1}").toString
    res.extra("alert_threshold") = AlertThreshold
  }

  private def report(ds: Seq[DayResult]): Unit = {
    ds.foreach(res.ops ++= _.ops)
    res.e2e("run_s") = Stats.median(ds.map(_.busy))
    res.e2e("cpu_s") = Stats.median(ds.map(_.cpu))
    res.extra("jit_cpu_s") = Stats.median(ds.map(_.jitCpu))
    res.opLatency()
    res.extra("ingest_batch_s") = Stats.median(ds.flatMap(_.ingestEngine))
    res.extra("finalize_s") = Stats.median(ds.map(_.finalizeS))
    res.extra("alert_latency_s") = Stats.median(ds.flatMap(_.alertLatency))
    res.extra("alert_batches") = ds.map(_.alertLatency.size).sum
    res.extra("rollup_s_by_cycle") = ds.last.rollup.toSeq
    res.extra("ingest_idle_s") = Stats.median(ds.flatMap(_.idle))
    res.extra("events") = EventsPerCycle * Cycles
    res.extra("streams") = Streams
  }

  private def layers(d: DayResult, spans: Seq[Span], weight: Span => Double): Unit = {
    def med(xs: ArrayBuffer[Double]) = Stats.median(xs.toSeq)
    def spanSum(name: String) = spans.filter(_.name == name).map(s => s.seconds * weight(s)).sum
    val L = res.layers
    L("ingest_batch_s") = med(d.ingestEngine)
    L("ingest.add_batch_s") = med(d.addBatch)
    L("ingest.planning_s") = med(d.planning)
    L("ingest.commit_s") = med(d.commit)
    L("ingest.rows_per_s") = med(d.rowsPerS)
    L("ingest.files_written") = d.filesWritten
    L("ingest.idle_s") = med(d.idle)
    L("rollup.s") = med(d.rollup)
    // rows new this cycle / rows the rollup re-read
    val scanned = d.rollupSpans.map { case (s, fresh) => (t.stats(s).inputRows.toDouble, fresh) }
    L("rollup.rows_scanned") = Stats.median(scanned.map(_._1).toSeq)
    L("rollup.files_scanned") = med(d.rollupFiles)
    L("rollup.useful_ratio") = Stats.median(scanned.collect {
      case (n, fresh) if n > 0 => fresh / n }.toSeq)
    L("state.rows") = d.stateRows
    L("state.mem_mb") = d.stateMemMb
    L("state.commit_s") = med(d.stateCommit)
    L("alerts.batch_s") = med(d.alertBatch)
    L("alert_latency_s") = med(d.alertLatency)
    L("finalize_s") = d.finalizeS
    L("finalize.score_rematch_s") = spanSum("finalize.score_rematch")
    L("finalize.upsert_s") = spanSum("finalize.upsert")
    L("sources.jdbc_writeback_s") = spanSum("sources.jdbc_writeback")
    L("sources.rows_updated") = d.rowsUpdated
    L("reports.query_s") = spanSum("reports.query")
    L("sinks.render_s") = spanSum("sinks.render")
    L("sinks.messages") = d.messages
  }
}
