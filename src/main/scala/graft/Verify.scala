package graft

import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the external DuckDB compare. Dev stress runs
  * may set session confs through GRAFT_CONF (see [[GraftSession.fromEnv]]),
  * e.g. forcing the scan fanout on every table so the oracle exercises
  * that path at small SFs. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.fromEnv(logLevel = "WARN")
    new java.io.File(outDir).mkdirs()
    // Dev subset: SPARK_GRAFT_ONLY=q1,q2 restricts both the parquet dump
    // and the oracle manifest, so tools/check_correctness.py validates just
    // the named queries. Unset (the driver's mode) = full surface.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String): Boolean = only.forall(_.contains(name))
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally graft.llm.Caches.releaseAll(spark)
    }
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${Bench.jsonString(k)}: ${Bench.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
