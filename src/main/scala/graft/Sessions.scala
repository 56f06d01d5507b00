package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session recipe: `local[cpus]` with `cpus` shuffle
  * partitions, UTC session time, no UI, WARN logging. Two profiles:
  *  - [[pool]] — many client threads sharing the slots (Bench's query
  *    pool): FAIR scheduling, so concurrent queries interleave instead
  *    of queueing whole jobs FIFO behind each other;
  *  - [[single]] — one client thread (Verify, Explain, the specs'
  *    shared session). */
object Sessions {
  def pool(cpus: String): SparkSession = build(cpus, pooled = true)

  def single(cpus: String): SparkSession = build(cpus, pooled = false)

  private def build(cpus: String, pooled: Boolean): SparkSession = {
    val profile =
      if (pooled) Map("spark.sql.adaptive.enabled" -> "true",
        "spark.scheduler.mode" -> "FAIR")
      else Map.empty[String, String]
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(profile)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
