package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** JVM side of the benchmark; `perfbench/run.py` generates the inputs,
  * launches this main and verifies what it reports.
  *
  * Usage: perfbench.Main key=value... with keys workload, seed, seconds,
  * trace (0|1), cpus, inputs (generated input dir), work (scratch dir),
  * result (JSON file to write), spans (span file, traced runs), and per
  * workload: keys (queries), refresh_every (gbfs_ingest), ctx and
  * shards (chain_stream).
  *
  * Set-up (session start and the workload's warm-up) is timed from JVM
  * start. The timed section then runs whole passes until `seconds` have
  * elapsed. A traced run first runs one more untraced pass, which it does
  * not count, then alternates untraced and traced passes in pairs
  * (U T, T U, U T, ...; at least two pairs), registering the listeners for
  * the traced ones only, so that the difference of the two medians is the
  * tracing overhead of this build and seed. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cpus = a("cpus").toInt
    val inputs = Paths.get(a("inputs"))
    val work = Paths.get(a("work"))

    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]").appName(s"perfbench-$workload")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString),
      shufflePartitions = cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (trace) Some(new Tracer(spark)) else None

    val w: Workload = workload match {
      case "queries" =>
        val out = work.resolve("outputs")
        Files.createDirectories(out)
        new QueryTier(spark, inputs.resolve("tables").toString,
          a("keys").split(',').toSeq, seed, out)
      case "gbfs_ingest" =>
        new GbfsIngest(spark, inputs.resolve("gbfs"), work, a("refresh_every").toInt)
      case "chain_stream" =>
        new ChainRounds(spark, inputs.resolve("drops"), work, a("ctx").toLong, a("shards").toInt)
    }

    val warm = new Client(spark, None)
    w.warmUp(warm)
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val client = new Client(spark, None)
    val tracedClient = tracer.map(t => new Client(spark, Some(t)))
    val passS = mutable.ArrayBuffer.empty[Double]
    val tracedS = mutable.ArrayBuffer.empty[Double]
    // traced runs: pass 0 settles, then pairs U T, T U, ... from pass 1
    val (first, minPasses) = if (trace) (1, 5) else (0, 1)
    var n = 0
    val t0 = System.nanoTime()
    while (n < minPasses || (trace && (n - first) % 2 == 1) ||
        (System.nanoTime() - t0) / 1e9 < seconds) {
      w.beforePass(n)
      val traced = tracer.filter(_ => n >= first && (n - first) % 4 % 3 != 0)
      val c = if (traced.isDefined) tracedClient.get else client
      traced.foreach(_.attach())
      c.beginPass()
      w.pass(c, n)
      val s = c.endPass()
      if (n >= first) (if (traced.isDefined) tracedS else passS) += s
      w.afterPass(n, traced)
      traced.foreach(_.detach())
      n += 1
    }

    // three collections with pauses between them, so that the objects Spark's
    // ContextCleaner releases after the first one are gone before reading
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val check = w.check()

    val clients = Seq(warm, client) ++ tracedClient
    val result = mutable.Map[String, Any](
      "setup_jvm_s" -> setupS, "pass_s" -> passS.toList,
      "latencies_ms" -> client.latencies.toList, "heap_after_mb" -> heapMb,
      "setup_call_ms" -> warm.byKind.map { case (k, v) => k -> v.toList },
      "attempted" -> clients.map(_.attempted).sum,
      "errors" -> clients.flatMap(_.errors).toList, "check" -> check)
    for (t <- tracer; c <- tracedClient) {
      val traced = tracedS.size
      result("traced_pass_s") = tracedS.toList
      val per = t.counters.map { case (k, v) => k -> v / traced }
      val (stateRows, stateBytes) = t.streamStateTotals
      result("layers") = per ++ Map(
        "streaming.state_rows" -> stateRows / traced,
        "streaming.state_bytes" -> stateBytes / traced)
      result("steps") = c.steps.map { case (k, (calls, b, x)) =>
        k -> Map("calls" -> calls / traced.toDouble, "build_ms" -> b / traced,
          "action_ms" -> x / traced, "build_jobs" -> t.stepBuildJobs(k) / traced)
      }
      result("self_ms") = t.selfMs.map { case (k, v) => k -> v / traced }
      Files.writeString(Paths.get(a("spans")), Json(t.allSpans.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end))))
    }
    Files.writeString(Paths.get(a("result")), Json(result))
    spark.stop()
  }
}
