package graft.tools

import java.nio.file.{Files, Paths}

/** Plan-evidence snapshotter for the optimization rounds: writes
  * `.explain("formatted")` of each named query to <outDir>/<query>_<tag>.txt
  * (the judge-facing before/after artifacts under plans/r06/). Same session
  * shape as PlanDump (local[4], sf0.001) so plans are comparable across
  * rounds. Usage: runMain graft.tools.PlanSnap <outDir> <tag> <query...>
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args.drop(2).toSeq
    val spark = graft.Sessions.local("graft-plansnap", cpus = 4)
    val dir = "/root/testdata/sf0.001"
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, dir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(outDir, s"${n}_$tag.txt"), txt + "\n")
      println(s"wrote $outDir/${n}_$tag.txt")
    }
    spark.stop()
  }
}
