package graft.tools

import java.nio.file.{Files, Paths}

/** Iteration aid: dump ONLY the named queries (plus oracle_sql.json) so
  * `scripts/check.py SFDIR OUTDIR q...` can gate a new operator without
  * paying for the full Verify sweep. Same session shape as graft.Verify,
  * except that an unset SPARK_GRAFT_CPUS means the host's cores.
  */
object VerifySome {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1); val names = args.drop(2)
    val spark = graft.Sessions.local("graft-verify-some")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      graft.SparkEntry.queries(name)(spark, sfDir)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      println(s"[verify-some] wrote $name")
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = graft.SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
