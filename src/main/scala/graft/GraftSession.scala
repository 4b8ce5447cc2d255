package graft

import org.apache.spark.sql.SparkSession

/** The one session bootstrap every graft main goes through, as the
  * reference's four verbs share one `osmx` binary and environment
  * (`src/cmd.cpp:9-14`).
  *
  * Always: graft's functions and region-rewrite rule injected at build
  * time ([[graft.functions.GraftExtensions]]), UTC session time, UI
  * off, ERROR log level, and a 1024-key sort-based fallback threshold
  * for object-hash aggregates (bounded-buffer aggregates such as
  * `topk_by_score` keep thousands of keys hash-resident; the 128-key
  * default would sort whole scored partitions), and a 1024-entry
  * generated-code cache: one `update` compiles 129-143 classes, so
  * Spark's 100-entry default evicts classes the same call needs again.
  * Spark fixes that size once per JVM, from the first session that
  * generates code, so an embedder that builds its own session first
  * keeps the 100.
  *
  * Only when no master was submitted (`spark-submit --master` sets the
  * `spark.master` system property): `local[cpus]` with
  * `spark.sql.shuffle.partitions = cpus`, where `cpus` is
  * `SPARK_GRAFT_CPUS` or else the machine's core count. A builder
  * master would override the submitted one and silently run a cluster
  * deployment on the driver. */
object GraftSession {

  def apply(appName: String): SparkSession = {
    val base = SparkSession.builder()
      .appName(appName)
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "1024")
      .config("spark.sql.codegen.cache.maxEntries", "1024")
      .config("spark.ui.enabled", "false")
    val spark = (if (sys.props.contains("spark.master")) base
      else {
        val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
          Runtime.getRuntime.availableProcessors.toString)
        base.master(s"local[$cpus]")
          .config("spark.sql.shuffle.partitions", cpus)
      }).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
