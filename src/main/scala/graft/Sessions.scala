package graft

import org.apache.spark.sql.SparkSession

/** The one builder for in-process `local[n]` sessions: the diagnostic
  * mains and the test suites share it, so every such session is sized
  * from the host, never from a hard-coded core count. The frozen
  * Bench/Verify harness, the perfbench, ScaleBench's `local-cluster`
  * trials and spark-submit's `app.Main` keep their own builders.
  */
object Sessions {

  /** Cores for a local session: `SPARK_GRAFT_CPUS` if set, else the cores
    * this JVM may use.
    */
  def hostCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** A `local[cpus]` session with `cpus` shuffle partitions, UTC session
    * time, the UI off and WARN logging; `extraConf` adds to or overrides
    * those settings.
    */
  def local(appName: String, cpus: Int = hostCpus,
      extraConf: Map[String, String] = Map.empty): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(extraConf)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
