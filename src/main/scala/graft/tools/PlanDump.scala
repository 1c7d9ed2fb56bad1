package graft.tools

/** Dump `explain("formatted")` for named queries to files — the
  * round-13 optimization deliverable (`plans/r13/<query>_{before,after}.txt`).
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> <name>[,<name>...]
  * (or ALL). Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS.
  *
  * NOTE: queries that run streams / write tables at construction time
  * execute that work here too — the dump captures the RETURNED frame's
  * plan (the probe/read path), which is where the optimization claims
  * live; construction-time writes are attributed in OPTIMIZATION_r13.md
  * prose instead.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names: Seq[String] =
      if (args(2) == "ALL") graft.SparkEntry.queries.keys.toSeq.sorted
      else args(2).split(',').toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.local(graft.Session.envCpus)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      try {
        val df = graft.Queries.queryMap(n)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"), txt)
        println(s"PLANDUMP ok $n")
      } catch { case e: Throwable =>
        println(s"PLANDUMP ERR $n ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
