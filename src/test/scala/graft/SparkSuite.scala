package graft

import org.apache.spark.sql.SparkSession

/** The shared test session: [[GraftSession]] at four cores and four
  * shuffle partitions, with the engine's SQL functions registered so
  * every suite passes standalone. Suites run in one forked JVM and
  * share the session `getOrCreate` returns. */
trait SparkSuite {
  lazy val spark: SparkSession = {
    val s = GraftSession("graft-test", cpus = 4)
    graft.functions.CassFunctions.registerAll(s)
    s
  }
}
