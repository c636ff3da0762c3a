package graft.tools

/** Dumps `.explain("formatted")` for named SparkEntry queries to
  * files — the optimization-round evidence trail (plans/rNN/).
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> <query...>
  * writes `<outDir>/<query>_<suffix>.txt` for each query. Reads the
  * data directory from SPARK_GRAFT_SF_DIR like Bench (plans embed
  * file paths and row-count estimates, so the dump must run at the
  * same SF the claims are about). Planning only — no query executes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <query...>")
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.util.LocalSession.suite(defaultCpus = 4)
    java.nio.file.Files.createDirectories(outDir)
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val text = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(outDir.resolve(s"${name}_$suffix.txt"),
        text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plandump] wrote $name ($suffix): ${text.length} chars")
    }
    spark.stop()
  }
}
