package graft

import org.apache.spark.sql.SparkSession

/** The one place graft's mains build their Spark session, so `Bench`,
  * `Verify`, `Profile` and `ProfParse` time and check the same engine.
  */
object GraftSession {

  /** Cores for a main: `SPARK_GRAFT_CPUS` when set, else the main's own
    * default.
    */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(default)

  /** A `local[cpus]` session with graft installed. The extension setting
    * is static: it only takes effect when no session is active yet.
    */
  def local(app: String, cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // older data vintages store events.ts as TIMESTAMP(NANOS), which the
      // parquet reader only surfaces as a nanos long (see Tables.apply)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // round 16: NTZ parquet columns read as session-UTC TIMESTAMP
      // directly (lossless under the pinned UTC tz; no cast-Project,
      // native pushdown for timestamp predicates — see Tables.apply)
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // the library's one-line session opt-in: functions, optimizer rules,
      // the as-of planner strategy, and the maintenance-SQL parser
      .config("spark.sql.extensions", "graft.functions.GraftSparkExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
