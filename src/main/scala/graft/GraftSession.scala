package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session definition: every main (`Bench`, `Verify`, the
  * `graft.bench` tools, the CLI) and the test suite build their session
  * here, so specs run under the aggregation and codegen configuration of
  * the bench and oracle runs they vouch for.
  *
  * The session is `local[N]` with N shuffle partitions, where N is
  * `SPARK_GRAFT_CPUS`, else the machine's processor count. Callers pass an
  * app name and any extra Spark confs, which are applied last.
  */
object GraftSession {
  def apply(appName: String, extraConf: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val confs = Seq(
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.session.timeZone" -> "UTC",
      // 500-query groups exceed the 128-key default at which
      // ObjectHashAggregate falls back to sort-based aggregation - keep the
      // bounded-heap top-k hashing instead of sorting scored rows.
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "131072",
      // 80+ queries x several codegen'd stages each overflow the default
      // 100-entry generated-class cache, so later passes re-compile what
      // the warmup already compiled — measured as a slow creep on queries
      // late in the bench's iteration order (quant_recall 0.6s -> 1.0s)
      // and a doubled Verify wall time.
      "spark.sql.codegen.cache.maxEntries" -> "10000",
      // A stage whose generated code outgrows janino's 64 KB method limit
      // must fail by name, not fall back to interpreted execution, the way
      // budget_select and curation_pipeline once ran unnoticed.
      "spark.sql.codegen.fallback" -> "false",
      "spark.ui.enabled" -> "false"
    ) ++ extraConf
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config(confs.toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.registerAll(spark)
    spark
  }
}
