package graft

import org.apache.spark.sql.SparkSession

/** The ONE SparkSession factory for every graft entry point
  * ([[Verify]], [[Bench]], [[Prof]], [[Plans]], [[PlanDump]],
  * [[ScaleProbe]], [[ManifestProbe]]).
  *
  * Rationale: `normalizeEventsTs`'s TIMESTAMP_NTZ→timestamp cast is
  * session-zone-sensitive, so an entry point that forgot to pin
  * `spark.sql.session.timeZone=UTC` would silently run a DIFFERENT
  * events workload than the one the oracle gate checks. Centralizing
  * construction makes "pinned UTC + graft extensions + right-sized
  * shuffle partitions" a structural property instead of a per-file
  * convention — `SessionFactorySpec` fails the build if any entry
  * point calls `SparkSession.builder` directly or if this factory ever
  * yields a non-UTC session.
  */
object Sessions {

  /** Build (or adopt) the local session every main uses.
    *
    * @param defaultCpus thread count when `SPARK_GRAFT_CPUS` is unset —
    *   4 for the oracle-gate mains (contention-safe on a shared box),
    *   32 for the timing probes. Shuffle partitions are pinned to the
    *   same number: at local scale one partition per core is the
    *   right-sized shuffle (the 200 default would make 60k-row stages
    *   scheduling-bound); on a real cluster the submitter overrides
    *   both through `--conf`.
    */
  def local(defaultCpus: Int = 4, logLevel: String = "WARN"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // getOrCreate can hand back a PRE-EXISTING session whose configs the
    // builder silently failed to apply — assert, don't assume
    require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
      "graft sessions must run with spark.sql.session.timeZone=UTC " +
        "(a pre-existing non-UTC session was adopted by getOrCreate)")
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
