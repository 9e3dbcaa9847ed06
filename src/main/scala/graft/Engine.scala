package graft

import org.apache.spark.sql.SparkSession

/** Session-level defaults for the graft engine.
  *
  * The reference ran on Spark 3.2.1 (DBR 10.4, `screenshots/cluster.jpg`)
  * where `spark.sql.ansi.enabled=false` was the default; Spark 4.x flips it
  * to true, changing cast/overflow semantics (SURVEY.md §4.3). We pin the
  * legacy behavior so CSV-string→typed casts produce NULL instead of
  * throwing, matching the reference's conform pass
  * (adls_bikeshare_project_IsmaelDawuda.ipynb:979).
  */
object Engine {

  /** Apply engine config onto an existing builder (used by Verify/Bench and
    * test sessions so every entry point agrees on semantics).
    */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.parquet.filterPushdown", "true")
    // events.parquet's physical ts type varies by testdata vintage:
    // TIMESTAMP(NANOS) (reader rejects → read as long nanos, convert in
    // Tables.loadEvents) or timestamp[us] without the UTC flag (would infer
    // TIMESTAMP_NTZ, whose cast-to-long is illegal → pin inference off so it
    // arrives as an instant). loadEvents also normalizes NTZ defensively for
    // driver-built sessions that lack this pin.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
    // Runtime bloom-filter pruning: when one side of a shuffle join has a
    // selective predicate, inject a bloom filter on the other side so the
    // big fact shuffles only candidate rows — a large-join win at 100 TB
    // (pinned explicitly; the default has flipped across Spark versions).
    .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    // Delta id-mode column mapping (DeltaRead) resolves parquet columns by
    // field id; the reader only matches by id when the requested schema
    // carries parquet.field.id metadata, so other reads are unchanged.
    .config("spark.sql.parquet.fieldId.read.enabled", "true")

  /** Cores for local sessions: the harness machine exposes 32; cap there so
    * CI-sized boxes still work. Overridable via SPARK_GRAFT_CPUS.
    */
  def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors()))

  /** Standalone local session for tests / ad-hoc runs. */
  def localSession(cores: Int = defaultCores, appName: String = "graft"): SparkSession = {
    val spark = configure(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName(appName)
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions)
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(spark) // idempotent; covers a reused session
    spark
  }
}
