package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark runner: times every registered query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line for the driver. A crashing query is reported in an
  * explicit "errors" map (and its time excluded from the total) rather than
  * being silently folded into wall-clock.
  *
  * Self-defending timing: each query runs SPARK_GRAFT_BENCH_RUNS times
  * (default 3) after a shared warmup, and the reported per-query number is
  * the MINIMUM across runs — a single-shot time on a loaded machine measures
  * the machine, not the engine (a prior round's canonical artifact recorded
  * 10-20x steady-state for three queries purely from box load). All raw runs
  * are emitted in "runs", and the 1-minute load average is sampled at start
  * AND end; a start load above SPARK_GRAFT_LOAD_MAX (default 4.0 — far above
  * this box's idle ~0) that does NOT settle within
  * SPARK_GRAFT_LOAD_SETTLE_SEC sets "contaminated": true so the consumer
  * knows foreign work was still running when timing began (residual load
  * from a just-finished run decays through the threshold during the settle
  * window and is not flagged). */
object Bench {

  /** JSON string literal: backslash, quote, and ALL control chars (<0x20)
    * escaped — a tab or CR in an error message or oracle SQL text would
    * otherwise make the consumer's json.load fail. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Untimed warmup: pay JVM/codegen/parquet-reader startup once so the
    * first timed query doesn't absorb it. entry() is the Q1-shape query on
    * sf0.001 (scan + broadcast join + agg); the range round-trips warm
    * (a) shuffle + window machinery and (b) the interpreted
    * higher-order-function evaluator + regex split + explode (the
    * text/dedup tier's hot paths — without this the first lt or ld query
    * absorbs several seconds of their JIT compilation). A failure is
    * reported on stderr (stdout carries the JSON contract). */
  def warmUp(spark: SparkSession): Unit =
    try {
      noop(SparkEntry.entry(spark))
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      noop(spark.range(100000).withColumn("g", col("id") % 100)
        .withColumn("rn", row_number().over(
          Window.partitionBy("g").orderBy(col("id").desc)))
        .groupBy("g").agg(sum("rn")))
      noop(spark.range(20000)
        .selectExpr(
          "transform(sequence(0, 63), i -> CAST(id + i AS DOUBLE)) AS arr",
          "concat(CAST(id AS STRING), ' the a of and to in x, y. z!') AS s")
        .selectExpr(
          "aggregate(zip_with(arr, arr, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x) AS dp",
          "filter(split(regexp_replace(s, '([.,!?;:])', ' $1 '), '\\\\s+'), t -> t <> '') AS toks")
        .selectExpr("dp", "size(array_distinct(toks)) AS nd", "explode(toks) AS t")
        .groupBy("t").agg(count(lit(1)), sum("dp"), sum("nd")))
      // sketch/sort-based aggregate paths (HLL++, exact percentile): these
      // JIT lazily and otherwise land inside whichever timed query touches
      // them first (alphabetically a11/a15)
      noop(spark.range(100000).withColumn("g", col("id") % 3)
        .groupBy("g")
        .agg(approx_count_distinct(col("id"), 0.005),
          percentile(col("id"), lit(0.5))))
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] WARMUP FAILED (timings will include " +
          s"startup): ${Option(e.getMessage).getOrElse(e.getClass.getName)}")
    }

  /** One timed run: build `query` and execute it into the noop sink;
    * returns seconds. The tier's internal caches are released afterwards
    * (untimed, also on failure): a query x k run must not accumulate dead
    * cached RDDs from the dedup tier's internal persists, and no run may
    * ride a previous run's cache. */
  def timedRun(spark: SparkSession)(query: => DataFrame): Double =
    try {
      val t0 = System.nanoTime()
      noop(query)
      (System.nanoTime() - t0) / 1e9
    } finally graft.llm.Caches.releaseAll(spark)

  private def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runsPerQuery =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    val loadMax = sys.env.getOrElse("SPARK_GRAFT_LOAD_MAX", "4.0").toDouble
    val spark = GraftSession.fromEnv(logLevel = "ERROR")

    def loadAvg1: Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.split("\\s+")(0).toDouble
      catch { case _: Throwable => -1.0 }

    // Settle-then-sample: the 1-minute load average decays with tau≈60s, so
    // a bench launched right after a previous sweep sees its PREDECESSOR's
    // decaying executors and would indict itself (r9's back-to-back x100
    // sweep self-flagged contaminated while beating the "clean" run from
    // hours earlier). If the first sample is elevated, idle-poll for up to
    // SPARK_GRAFT_LOAD_SETTLE_SEC (default 75s — more than one decay
    // constant): residual load from finished work drops through the
    // threshold; sustained foreign work does not. The verdict uses the
    // minimum observed sample, so "contaminated" now means foreign work was
    // still running when the timed section began.
    val settleMax =
      sys.env.getOrElse("SPARK_GRAFT_LOAD_SETTLE_SEC", "75").toInt.max(0)
    // A /proc/loadavg read failure returns the -1.0 sentinel; folding that
    // into the min would both exit the settle loop early and stamp
    // load_avg: -1.0 with contaminated: false — indistinguishable from a
    // clean box. Failed reads contribute no sample; if EVERY read failed,
    // loadStart stays at the sentinel and `contaminated` is forced true
    // below so the artifact indicts itself rather than passing as clean.
    val loadFirst = loadAvg1
    var loadStart = loadFirst
    var settledSec = 0
    while ((loadStart > loadMax || loadStart < 0) && settledSec < settleMax) {
      Thread.sleep(5000)
      settledSec += 5
      val s = loadAvg1
      if (s >= 0) loadStart = if (loadStart < 0) s else math.min(loadStart, s)
    }

    warmUp(spark)

    var errors = List.empty[(String, String)]
    // Per query: up to runsPerQuery timed executions (stop at first failure),
    // caches released between runs so every run pays its own compute — the
    // min is "warm JIT, cold data", which is the engine's steady-state cost.
    val results = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      var failed = false
      var run = 0
      while (run < runsPerQuery && !failed) {
        try times += timedRun(spark)(fn(spark, sfDir))
        catch {
          case e: Throwable =>
            failed = true
            errors ::= name ->
              Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
        }
        run += 1
      }
      // a query that failed on ANY run reports ONLY in errors — the
      // documented contract is that a crashing query's time is excluded
      // from the total, and a succeeded-then-OOMed query in both maps
      // would be a self-contradictory artifact
      if (times.nonEmpty && !failed) Some(name -> times.toVector) else None
    }
    val mins = results.map { case (k, v) => k -> v.min }
    val qs = mins.map { case (k, v) => s"${jsonString(k)}:$v" }.mkString("{", ",", "}")
    val allRuns = results.map { case (k, v) =>
      s"${jsonString(k)}:${v.mkString("[", ",", "]")}"
    }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) => s"${jsonString(k)}:${jsonString(v)}" }.mkString("{", ",", "}")
    val total = mins.map(_._2).sum
    val loadEnd = loadAvg1
    // Only the START load can indict the snapshot — by the end the bench's
    // own executors have legitimately saturated the box. A loadStart still
    // at the -1.0 read-failure sentinel means the box state is UNKNOWN,
    // which must read as contaminated, never as clean.
    val contaminated = loadStart > loadMax || loadStart < 0
    // n_registered makes the artifact self-describing: a bench snapshot
    // whose (queries + errors) key count is below it was produced by an
    // older build and must not be committed as the round's artifact
    // (BenchSurfaceSpec pins committed artifacts to the registered set).
    // load_avg is the settled (minimum valid) sample the contamination
    // verdict keyed on; load_avg_first is the raw first read, kept so the
    // settle behavior stays auditable from the artifact alone.
    println(s"""{"metric":"total","value":$total,"unit":"sec","load_avg":$loadStart,"load_avg_first":$loadFirst,"load_avg_end":$loadEnd,"settle_sec":$settledSec,"contaminated":$contaminated,"runs_per_query":$runsPerQuery,"n_registered":${SparkEntry.queries.size},"queries":$qs,"runs":$allRuns,"errors":$es,"sf":"$sfDir"}""")
    spark.stop()
  }
}
