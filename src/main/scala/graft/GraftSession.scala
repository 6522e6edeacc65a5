package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory/configurator for the graft engine.
  *
  * Scale notes (designed for a multi-executor cluster even though tests run
  * local[32]):
  *  - AQE on: runtime coalescing of shuffle partitions + skew-join splitting
  *    replaces hand-tuned partition counts at 100 TB.
  *  - shuffle.partitions is only the pre-AQE ceiling; on a real cluster set it
  *    to ~2-3x total cores and let AQE coalesce.
  *  - session timezone pinned UTC so timestamp semantics are deployment-independent.
  */
object GraftSession {

  /** Apply engine defaults to any builder (used by [[fromEnv]], tests). */
  def configure(b: SparkSession.Builder, shufflePartitions: Int = 32): SparkSession.Builder =
    b.config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // InferFiltersFromGenerate prepends `size(arr) > 0 AND arr IS NOT
      // NULL` to every explode — re-evaluating the generator input once
      // more per row. Array-building expressions here are interpreted
      // higher-order functions with NO cross-expression CSE, so that
      // "free" filter silently doubles the dedup/text tier's scan cost
      // (measured: the 3-gram shingle HOF went from 1 to 2-3 evaluations
      // per row). The filter never changes results (explode of an empty/
      // null array emits no rows anyway) and its only scale benefit —
      // dropping empty-array rows before a shuffle — does not apply to
      // same-stage generates, which is all this engine has.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // events.parquet carries TIMESTAMP(NANOS) which Spark's reader rejects;
      // read the raw int64 and convert in Td (truncate ns→us like DuckDB).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // The testdata's timestamp columns are written isAdjustedToUTC=false;
      // Spark 4 would infer TIMESTAMP_NTZ, which (a) rejects unix_micros/
      // unix_seconds and (b) diverges from DuckDB's naive-timestamp reading.
      // With the session timezone pinned UTC above, reading them as plain
      // TIMESTAMP is value-identical and keeps the whole surface on one
      // timestamp type.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")

  /** Session for the command-line entry points (Bench, Verify, StageProbe,
    * ScaleGen): `local[SPARK_GRAFT_CPUS]` (default: every available core)
    * with that many shuffle partitions, then the optional dev confs in
    * `GRAFT_CONF="k=v;k=v"` (unset = engine defaults). */
  def fromEnv(logLevel: String): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = configure(SparkSession.builder().master(s"local[$cpus]"),
      shufflePartitions = cpus).getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    parseConf(sys.env.getOrElse("GRAFT_CONF", ""))
      .foreach { case (k, v) => spark.conf.set(k, v) }
    spark
  }

  /** `k=v;k2=v2` → ordered (key, value) pairs. Empty segments are skipped;
    * the value is everything after the first `=`. An entry with no `=` or
    * an empty key is rejected by name rather than silently dropped. */
  def parseConf(spec: String): Seq[(String, String)] =
    spec.split(';').toSeq.filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => k -> v
        case _ => throw new IllegalArgumentException(
          s"GRAFT_CONF entry '$kv' is not of the form key=value")
      }
    }

  /** Local session for tests / ad-hoc runs. */
  def local(cores: Int = 32, appName: String = "graft"): SparkSession = {
    val spark = configure(
      SparkSession.builder().master(s"local[$cores]").appName(appName),
      shufflePartitions = math.min(cores, 32)
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
