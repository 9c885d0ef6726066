package graft.core

import org.apache.spark.sql.SparkSession

/** The session settings every graft session needs, whoever builds it
  * (servers, `Verify`, tools, tests): all graft mains route their builder
  * through [[tuned]].
  *
  *  - `spark.sql.session.timeZone=UTC`: `Tables.load("events")` refuses
  *    any other zone, because the events timestamps and their oracle SQL
  *    are defined in UTC.
  *  - `spark.ui.enabled=false`: no web UI threads or port per session.
  *
  * Everything else stays at Spark's defaults.
  */
object ScaleConf {
  def tuned(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
}
