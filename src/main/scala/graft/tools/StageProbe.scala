package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.GraftSqlBridge.stripTerminalSort

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** Per-query probe: runs each selected registered query twice warm,
  * then counts one execution — its wall, the Spark jobs, stages and
  * tasks it schedules (the fixed per-job cost that decides whether a
  * small-scale constant is scheduling overhead or genuine work) and
  * every stage's wall, summed task run/CPU time, shuffle bytes and task
  * count, slowest-first — then prints the floor over 3 more warm walls.
  * The terminal sort is stripped, as Bench does by default. Local
  * tooling, not part of the engine.
  *
  * SPARK_GRAFT_QUERIES selects; SPARK_GRAFT_SF_DIR the corpus.
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val selected = graft.SparkEntry.selected()
    val spark = graft.Session.local("stage-probe")
    spark.range(100000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()

    final case class St(id: Int, wallMs: Long, runMs: Long,
        cpuMs: Long, tasks: Int, shRead: Long, shWrite: Long, inBytes: Long,
        shReadRec: Long, shWriteRec: Long, spillMem: Long, spillDisk: Long)
    val jobs = new AtomicLong
    val stages = new ConcurrentLinkedQueue[St]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        val m = i.taskMetrics
        val wall = (for {a <- i.completionTime; b <- i.submissionTime} yield a - b).getOrElse(0L)
        stages.add(St(i.stageId, wall,
          m.executorRunTime, m.executorCpuTime / 1000000L, i.numTasks,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.inputMetrics.bytesRead,
          m.shuffleReadMetrics.recordsRead, m.shuffleWriteMetrics.recordsWritten,
          m.memoryBytesSpilled, m.diskBytesSpilled))
      }
    })

    selected.foreach { case (name, f) =>
      def once(): Double = {
        val t0 = System.nanoTime()
        stripTerminalSort(f(spark, sfDir)).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      // the whole query body in a Try: a failing query prints ERR and
      // the probe moves on to the next one
      scala.util.Try {
        once(); once()
        Thread.sleep(300) // let the async listener bus drain
        jobs.set(0); stages.clear()
        val wall = once()
        Thread.sleep(300)
        val (nJobs, ss) = (jobs.get, stages.asScala.toSeq)
        val floor = Seq.fill(3)(once()).min
        println(f"STAGEPROBE $name wall=$wall%.2fs floor=$floor%.2fs jobs=$nJobs " +
          f"stages=${ss.size} tasks=${ss.map(_.tasks).sum} " +
          f"sum_run=${ss.map(_.runMs).sum / 1000.0}%.1fs sum_cpu=${ss.map(_.cpuMs).sum / 1000.0}%.1fs")
        ss.sortBy(-_.runMs).take(12).foreach { s =>
          println(f"  stage=${s.id}%4d wall=${s.wallMs / 1000.0}%6.2f run=${s.runMs / 1000.0}%6.2f " +
            f"cpu=${s.cpuMs / 1000.0}%6.2f tasks=${s.tasks}%4d in=${s.inBytes / 1e6}%8.1fMB " +
            f"shR=${s.shRead / 1e6}%7.1fMB shW=${s.shWrite / 1e6}%7.1fMB " +
            f"recR=${s.shReadRec}%9d recW=${s.shWriteRec}%9d " +
            f"spill=${s.spillMem / 1e6}%6.0f/${s.spillDisk / 1e6}%.0fMB")
        }
      }.recover { case e: Throwable =>
        println(s"STAGEPROBE $name ERR ${e.getMessage}")
      }
      System.gc()
    }
    spark.stop()
  }
}
