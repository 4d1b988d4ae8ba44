package graft

import org.apache.spark.sql.SparkSession

/** The session settings every main shares: UTC session time zone and no
  * web UI. Callers add master-specific settings (shuffle partitions, local
  * dir) on the returned builder. */
object GraftSession {
  def builder(master: String, appName: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
}
