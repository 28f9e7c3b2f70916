package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession every main and spec runs on, so the run
  * checked for correctness (Verify, the specs) and the run that is
  * timed (Bench) share one configuration.
  * The only input is the core count.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` when set, else every core of the machine. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS); read as long nanos —
      // exact, and orders identically to DuckDB's TIMESTAMP_NS.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // ContextCleaner's periodic GC defaults to 30min — longer than an
      // entire bench run, so weak-ref-driven cleanup of dead shuffle
      // state and broadcasts never fires and queries late in the session
      // inherit the accumulated heap. One minute matches the session's
      // query cadence.
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
