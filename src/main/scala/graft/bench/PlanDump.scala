package graft.bench

/** Writes `.explain("formatted")` for named SparkEntry queries to
  * <outDir>/<query>_<suffix>.txt — the plan-evidence artifacts the
  * optimization rounds commit under plans/rNN/ (the judge checks plan
  * claims against these files without running Spark).
  *
  * Usage: runMain graft.bench.PlanDump <q1,q2,...|all> <dir> <outDir> <suffix>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 4, "usage: PlanDump <q1,q2,...|all> <dir> <outDir> <suffix>")
    val dir = args(1)
    val outDir = new java.io.File(args(2))
    val suffix = args(3)
    outDir.mkdirs()
    val spark = graft.GraftSession("graft-plandump")
    val names =
      if (args(0) == "all") graft.SparkEntry.queries.keys.toSeq.sorted
      else args(0).split(",").toSeq
    names.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, dir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          new java.io.File(outDir, s"${name}_$suffix.txt").toPath,
          plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"dumped $name")
      } catch { case e: Throwable => println(s"FAIL $name: $e") }
    }
    spark.stop()
  }
}
