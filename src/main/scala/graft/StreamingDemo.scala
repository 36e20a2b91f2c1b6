package graft

import java.nio.file.Files
import java.time.{Instant, LocalDate}

import graft.queries.ReferencePipeline
import graft.sinks.Report
import graft.streaming.DetectionPipeline
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._

/** End-to-end demonstration of the full daemon lifecycle (reference E1 →
  * E2 → E3) on driver testdata: simulated probe events stream into a
  * date-partitioned fact store, the day is rolled up, finalized (score +
  * rematch), the catalog is partial-upserted, and the two alert reports
  * are rendered through the webhook-format sink.
  *
  * Run: `sbt "runMain graft.StreamingDemo"` — prints a summary line per
  * stage plus the first report message.
  */
object StreamingDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Session.local("graft-streaming-demo")
    import spark.implicits._

    // E1: simulated prober events streamed into the fact store (file
    // source here stands in for the probe micro-batches; 10 s trigger).
    val factDir = Files.createTempDirectory("graft-demo-fact").toString
    val cpDir = Files.createTempDirectory("graft-demo-cp").toString
    val det = ReferencePipeline
      .deriveDetectionEvents(Tables.events(spark, sfDir))
      .drop("ord")
      .as(Encoders.product[graft.model.DetectionEvent])
    // stage the batch as a one-shot stream (MemoryStream-style ingest is
    // exercised in StreamingSpec; here we drive the same sink path)
    val staged = Files.createTempDirectory("graft-demo-stage").toString
    det.write.mode("overwrite").parquet(staged)
    val stream = spark.readStream
      .schema(det.schema)
      .parquet(staged)
      .as(Encoders.product[graft.model.DetectionEvent])
    val q = DetectionPipeline.ingest(stream, factDir, cpDir)
    q.processAllAvailable()
    q.stop()
    val nIngested = spark.read.parquet(factDir).count()
    println(s"[E1] ingested $nIngested events into date-partitioned store $factDir")

    // E2: day-so-far rollup (the 2-hourly report recompute).
    val day = LocalDate.of(2024, 1, 15)
    val rolled = DetectionPipeline.rollupDaySoFar(
      spark, factDir, day, Instant.parse("2024-01-15T23:59:59Z"))
    println(s"[E2] rolled up ${rolled.count()} streams for $day")

    // E3: finalize (score + resolution + rematch) at the isLastLoop gate.
    val gateTime = Instant.parse("2024-01-15T22:30:00Z")
    println(s"[E3] isLastLoop(22:30, 120min) = " +
      DetectionPipeline.isLastLoop(gateTime, DetectionPipeline.ReportCadenceMinutes))
    val programs = ReferencePipeline.programRows.toDF("id", "stream_name")
    val finalized = DetectionPipeline.finalizeDay(rolled, programs).cache()
    println(s"[E3] finalized ${finalized.count()} streams " +
      s"(avg score ${finalized.agg(avg("flow_score")).first().getDouble(0)})")

    // S6: partial upsert into a synthetic catalog.
    val catalog = finalized.select(
      col("url_id").as("id"), col("flow_address").as("url"),
      col("target_matching"), lit(0).as("is_del"), lit("hls").as("stream_type"),
      lit("").as("video_format"), lit("").as("video_resolution"),
      lit("").as("audio_format"), lit("").as("audio_sampling_rate"),
      col("target_matching_id"), lit(0).as("flow_score"), lit(1).as("resolution_type"))
    val merged = DetectionPipeline.upsertCatalog(catalog, finalized)
    println(s"[S6] upserted catalog: ${merged.where(col("flow_score") > 0).count()} scored rows")

    // Reports: weak programs + vendor histogram through the webhook sink.
    val weak = graft.ops.ProgramHealth.weakPrograms(
      merged.withColumn("stream_type", lit("hls")), programs,
      threshold = 60, minMatchingId = 0)
      .as[String].collect().toSeq
    val sink = new Report.CollectingSink
    Report.programReport(day.toString, weak).foreach(sink.send)
    val vstats = graft.ops.VendorStats.vendorFlowStats(
      merged, Seq(
        graft.ops.VendorStats.VendorRule(Seq("http://vendor0"), "Vendor 0"),
        graft.ops.VendorStats.VendorRule(Seq("http://vendor1"), "Vendor 1"),
        graft.ops.VendorStats.VendorRule(Seq("http://vendor2"), "Vendor 2")),
      minMatchingId = 0)
      .collect().map(r => Report.VendorStat(
        r.getAs[String]("vendor"), r.getAs[Int]("count_lt60"),
        r.getAs[Int]("count_60_80"), r.getAs[Int]("count_80_100"),
        r.getAs[Int]("total"))).toSeq.sortBy(_.vendor)
    Report.vendorReport(day.toString, vstats).foreach(sink.send)
    println(s"[S8] sent ${sink.sent.size} webhook messages; first payload:")
    println(sink.sent.head.take(300))
    spark.stop()
  }
}
