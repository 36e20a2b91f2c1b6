package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory every main uses (Bench, Verify,
  * EntrySmoke, StreamingDemo and the tools), so a main never hard-codes
  * a master width that oversubscribes the box it runs on.
  */
object Session {

  /** Local-mode width: `SPARK_GRAFT_CPUS`, or the machine's cores (at
    * least 4) when unset — an unset variable must not quietly run a
    * 32-core box on 4 threads, nor a 4-core box on 32. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(math.max(4, Runtime.getRuntime.availableProcessors()))

  /** `local[cpus]` with one shuffle partition per core, UTC, no UI and
    * WARN logging. `extra` confs are applied last, so they override the
    * defaults.
    */
  def local(app: String, extra: (String, String)*): SparkSession = {
    val n = cpus.toString
    val builder = SparkSession.builder()
      .master(s"local[$n]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", n)
      // the query suite's codegen stages overflow the default
      // 100-entry generated-class cache → janino recompiles on every
      // run (x2 measured 2.4 s cold vs 0.7 s warm for 5000 rows)
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    extra.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
