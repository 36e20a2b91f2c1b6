package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** One probed stream: its catalog row and its fixed probe profile. */
final case class StreamProfile(id: String, url: String, program: Int, matchingId: String,
    errorRate: Double, protocol: String, bitrate: String, resolution: String,
    videoFormat: String, audioFormat: String, sampleRate: String,
    isDel: Int, streamType: String, initialScore: Int)

/** Seeded probe events for one simulated UTC day of `cycles` 2-hour
  * cycles, `perCycle` events each, over `streams` streams.
  *
  *  - Error rates are skewed: most streams rarely fail, a tenth fail
  *    often enough to cross the alert threshold during the day.
  *  - Every event has its own microsecond, so "first in arrival order"
  *    is never a tie.
  *  - 2% of events arrive one or two cycles late, keeping their
  *    `created_time`.
  *
  * The catalog also holds streams that are never probed, deleted or
  * outside the active universe, so the report filters have work. */
final class ProbeDay(seed: Long, val streams: Int, val perCycle: Int, val cycles: Int,
    val date: LocalDate) {
  private val rng = new SplittableRandom(seed)
  val dayStart: Instant = date.atStartOfDay(ZoneOffset.UTC).toInstant
  val programs: Int = math.max(4, streams / 4)
  private val vendors = Seq("http://cdn-a.example/", "http://cdn-b.example/",
    "http://cdn-c.example/", "http://edge.other.net/")
  private val resolutions = Seq("1920x1080", "1280x720", "640x360", "3840x2160", "999x777")

  val profiles: IndexedSeq[StreamProfile] = (0 until streams + streams / 50).map { i =>
    val u = rng.nextDouble()
    val errorRate =
      if (u < 0.7) 0.01 + 0.04 * rng.nextDouble()
      else if (u < 0.9) 0.1 + 0.2 * rng.nextDouble()
      else 0.4 + 0.4 * rng.nextDouble()
    val program = rng.nextInt(programs)
    val id = f"s$i%05d"
    StreamProfile(id, vendors(rng.nextInt(vendors.size)) + "live/" + id, program,
      if (rng.nextDouble() < 0.05) (100 + program % 100).toString else (237 + program).toString,
      errorRate, if (rng.nextBoolean()) "hls" else "flv", s"${(1 + rng.nextInt(8)) * 500} kb/s",
      resolutions(rng.nextInt(resolutions.size)), if (rng.nextBoolean()) "h264" else "hevc",
      if (rng.nextBoolean()) "aac" else "mp3", if (rng.nextBoolean()) "44100" else "48000",
      if (rng.nextDouble() < 0.05) 1 else 0, if (rng.nextDouble() < 0.03) "XXX" else "live",
      rng.nextInt(101))
  }

  /** Program dimension: an FHD name, an HD name or none per program,
    * and a few duplicate names (first match = smallest id wins). */
  val programRows: Seq[(String, String)] = (0 until programs).flatMap { p =>
    val base = s"Prog $p"
    (p % 3 match {
      case 0 => Seq((s"${5000 + p}", s"$base FHD"))
      case 1 => Seq((s"${5000 + p}", s"$base HD"))
      case _ => Nil
    }) ++ (if (p % 7 == 0) Seq((s"${9000 + p}", s"$base HD")) else Nil)
  }

  private val stepUs: Long = 86400L * 1000000L / (perCycle.toLong * cycles)
  private val late = Array.fill(cycles)(ArrayBuffer.empty[String])

  private def e(s: String) = Json.quote(s)

  private def event(p: StreamProfile, us: Long): String = {
    val ok = rng.nextDouble() >= p.errorRate
    def maybe(v: String) = if (ok && rng.nextDouble() >= 0.1) v else ""
    val res =
      if (!ok) "" else if (rng.nextDouble() < 0.1) "0x0" else maybe(p.resolution)
    val ts = LocalDateTime.ofInstant(dayStart.plusNanos(us * 1000L), ZoneOffset.UTC).format(ProbeDay.Micros)
    s"""{"url_id":${e(p.id)},"flow_address":${e(p.url)},""" +
      s""""item":${if (ok) 0 else 1001 + rng.nextInt(16)},"return_value":"${if (ok) "0" else "-1"}",""" +
      s""""lag_details":"","streaming_protocol":${e(maybe(p.protocol))},""" +
      s""""bitrate":${e(maybe(p.bitrate))},"stream_length":"N/A",""" +
      s""""video_format":${e(maybe(p.videoFormat))},"video_resolution":${e(res)},""" +
      s""""audio_format":${e(maybe(p.audioFormat))},"audio_sampling_rate":${e(maybe(p.sampleRate))},""" +
      s""""created_time":"$ts",""" +
      s""""target_matching_id":${e(p.matchingId)},"target_matching":"Prog ${p.program}"}"""
  }

  /** The JSON lines that land in cycle `k`; call for k = 0, 1, … in order. */
  def cycle(k: Int): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    var i = 0
    while (i < perCycle) {
      val slot = k.toLong * perCycle + i
      val us = slot * stepUs + rng.nextLong(stepUs)
      val line = event(profiles(rng.nextInt(streams)), us)
      val lag = if (rng.nextDouble() < 0.02) 1 + rng.nextInt(2) else 0
      if (lag > 0 && k + lag < cycles) late(k + lag) += line else out += line
      i += 1
    }
    out ++= late(k)
    late(k).clear()
    out.toSeq
  }

  /** Last microsecond of cycle `k` (the E2 cursor). */
  def cycleEnd(k: Int): Instant =
    dayStart.plusSeconds((k + 1) * 86400L / cycles).minusNanos(1000L)
}

/** The generator thread: prepares cycle k+1's files while the client
  * works on cycle k, and lands a cycle by renaming its directory into
  * the watched landing directory, so a cycle appears all at once. */
final class Generator(day: ProbeDay, landing: Path, files: Int) {
  private val prepared = new java.util.concurrent.SynchronousQueue[Path]()
  @volatile private var failure: Throwable = null
  val thread: Thread = new Thread(() => {
    try (0 until day.cycles).foreach { k =>
      val tmp = landing.resolve(f"_tmp-$k%03d")
      Files.createDirectories(tmp)
      val lines = day.cycle(k)
      val per = (lines.size + files - 1) / files
      lines.grouped(per).zipWithIndex.foreach { case (g, i) =>
        Files.writeString(tmp.resolve(f"part-$i%02d.json"), g.mkString("", "\n", "\n"))
      }
      prepared.put(tmp)
    } catch { case e: Throwable => failure = e }
  }, "perfbench-generator")
  thread.setDaemon(true)

  def start(): Unit = { Files.createDirectories(landing); thread.start() }

  /** Lands cycle `k`; returns the wall-clock millisecond it landed. */
  def release(k: Int): Long = {
    var tmp: Path = null
    while (tmp == null) {
      if (failure != null) throw failure
      tmp = prepared.poll(100, java.util.concurrent.TimeUnit.MILLISECONDS)
    }
    Files.move(tmp, landing.resolve(f"cycle-$k%03d"), StandardCopyOption.ATOMIC_MOVE)
    System.currentTimeMillis()
  }

  def cpuS: Double = Jvm.threadCpuS(thread.getId)
}

object ProbeDay {
  /** The `timestampFormat` the ingest reader is given. */
  val MicrosPattern = "yyyy-MM-dd HH:mm:ss.SSSSSS"
  val Micros: DateTimeFormatter = DateTimeFormatter.ofPattern(MicrosPattern)

  def countFiles(dir: Path, suffix: String): Int =
    if (!Files.isDirectory(dir)) 0
    else {
      val s = Files.walk(dir)
      try s.filter(p => p.toString.endsWith(suffix)).count().toInt finally s.close()
    }
}
