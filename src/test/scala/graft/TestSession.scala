package graft

import org.apache.spark.sql.SparkSession

/** The one session every spec runs on: [[GraftSession]]'s
  * configuration (injected extensions, UTC, the 1024-entry codegen
  * cache, the 1024-key aggregate fallback) at the width `build.sbt`
  * pins for the test JVM (`Test / envVars`: `SPARK_GRAFT_CPUS=4`, so
  * `local[4]` with 4 shuffle partitions). All specs share one forked
  * JVM, so this is the only configuration the suite runs. Each spec
  * obtains it when it first needs it rather than holding one JVM-wide,
  * so a spec that stops the active session (ExtensionsSpec) leaves the
  * specs after it a live one. */
trait TestSession {
  lazy val spark: SparkSession = GraftSession("graft-test")
}
