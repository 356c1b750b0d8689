package graft

import org.apache.spark.sql.SparkSession

/** The one session factory for every main and the test fixture:
  * `local[cpus]` with as many shuffle partitions as cores, UTC session
  * time zone, no UI, WARN logging. Callers differ only in the core
  * count, a deployment master override and extra SQL confs. */
object GraftSession {

  /** Core count from `SPARK_GRAFT_CPUS` (restored in round 16 — an
    * early optimization commit hard-coded `local[32]`, which silently
    * pinned lower-core-count scaling runs to 32 cores and made the
    * per-core scaling measurement meaningless). The master AND the
    * shuffle-partition count both derive from it so the execution
    * layout scales with the granted cores rather than being tuned for
    * one box (scale-adaptive partitioning; AQE coalescing still
    * merges small post-shuffle partitions on top). Default 32, the
    * core count the recorded bench artifacts were measured at, so
    * they stay comparable round over round; malformed or
    * non-positive values fall back to it. */
  private[graft] def cpusFromEnv(get: String => Option[String]): Int = {
    val raw = get("SPARK_GRAFT_CPUS").map(_.trim).filter(_.nonEmpty)
    raw.flatMap(v => scala.util.Try(v.toInt).toOption).filter(_ > 0)
      .getOrElse(32)
  }

  /** @param master overrides `local[cpus]` (a deployment setting,
    *               e.g. a cluster URL); shuffle partitions still
    *               follow `cpus` */
  def apply(
      appName: String,
      cpus: Int = cpusFromEnv(sys.env.get),
      master: Option[String] = None,
      conf: Map[String, String] = Map.empty): SparkSession = {
    val base = SparkSession.builder()
      .master(master.getOrElse(s"local[$cpus]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = conf.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
