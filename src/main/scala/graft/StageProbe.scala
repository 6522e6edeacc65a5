package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.ExplainMode

/** Dev instrument: time registered queries with the bench's own protocol
  * (same session, warmup, noop sink and cache release as [[Bench]]) and
  * say where the time went. Usage:
  *   runMain graft.StageProbe <sfDir[,sfDir...]> <repeat> <q1[,q2...]> [planDir]
  * For every (dir, query) pair it prints one `[stageprobe] <q> run <i>: <s> s`
  * line per run, a `min=` line, and, for the LAST (steady-state) run, every
  * completed stage's wall time, task count, total executor run/GC time,
  * shuffle read/write bytes and records, and spill — the empirical half of
  * guide §1.1 with the UI disabled. Earlier runs warm JIT/codegen and are
  * not tabulated (their stages carry noise that misattributes cost).
  *
  * With `planDir`, each query's `explain("formatted")` on the first dir is
  * written to `<planDir>/<query>.txt` before timing (two planDirs give a
  * before/after plan diff). Session confs for A/B runs go through
  * GRAFT_CONF (see [[GraftSession.fromEnv]]).
  */
object StageProbe {
  private final case class StageRow(
      id: Int, name: String, wallMs: Long, tasks: Int,
      runMs: Long, gcMs: Long,
      shReadMb: Double, shReadRec: Long, shWriteMb: Double, shWriteRec: Long,
      spillMb: Double)

  private def csv(s: String): Seq[String] =
    s.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  def main(args: Array[String]): Unit = {
    require(args.length == 3 || args.length == 4,
      "usage: StageProbe <sfDir[,sfDir...]> <repeat> <q1[,q2...]> [planDir]")
    val dirs = csv(args(0))
    val repeat = args(1).toInt.max(1)
    val names = csv(args(2))
    val planDir = args.lift(3)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val spark = GraftSession.fromEnv(logLevel = "ERROR")

    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRow]()
    @volatile var record = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (record) {
          val si = e.stageInfo
          val m = si.taskMetrics
          val wall = (for {
            s <- si.submissionTime; c <- si.completionTime
          } yield c - s).getOrElse(-1L)
          // operator scopes give far better attribution than the callsite;
          // keep the TAIL of the chain (the stage's own work — a cache-hit
          // stage still lists the cached RDD's whole recompute lineage, so
          // the head is misleading)
          val ops = si.rddInfos.sortBy(_.id).flatMap(_.scope)
            .map(_.name).distinct.takeRight(6).mkString(">")
          val label =
            if (ops.isEmpty) si.name.takeWhile(_ != '\n').take(95)
            else ops.takeRight(95)
          stages.add(StageRow(
            si.stageId,
            label,
            wall, si.numTasks,
            m.executorRunTime, m.jvmGCTime,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleReadMetrics.recordsRead,
            m.shuffleWriteMetrics.bytesWritten / 1e6,
            m.shuffleWriteMetrics.recordsWritten,
            m.diskBytesSpilled / 1e6))
        }
    })

    Bench.warmUp(spark)
    planDir.foreach(d => Files.createDirectories(Paths.get(d)))

    for (dir <- dirs; name <- names) {
      val fn = SparkEntry.queries(name)
      if (dir == dirs.head) planDir.foreach { d =>
        val plan = fn(spark, dir).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        Files.write(Paths.get(d, s"$name.txt"), plan.getBytes(StandardCharsets.UTF_8))
        // Iterative operators RUN JOBS at construction time (per-round
        // checkpoints, convergence probes), so building the plan above
        // leaves their internal caches populated and timed run 1 would
        // ride them. Release so every timed run starts equally cold.
        graft.llm.Caches.releaseAll(spark)
      }
      val times = (1 to repeat).map { i =>
        record = i == repeat
        stages.clear()
        val dt = Bench.timedRun(spark)(fn(spark, dir))
        println(f"[stageprobe] $name run $i: $dt%.3f s")
        dt
      }
      println(f"[stageprobe] $name dir=$dir min=${times.min}%.3f s runs=" +
        times.map(t => f"$t%.3f").mkString(","))
      printStages(stages)
    }
    spark.stop()
  }

  private def printStages(
      stages: java.util.concurrent.ConcurrentLinkedQueue[StageRow]): Unit = {
    import scala.jdk.CollectionConverters._
    val rows = stages.asScala.toSeq.sortBy(-_.wallMs)
    println(f"[stageprobe] ${"stage"}%-72s ${"wall"}%7s ${"tasks"}%5s ${"run"}%7s ${"gc"}%6s ${"shR MB"}%8s ${"shR rec"}%9s ${"shW MB"}%8s ${"spill"}%6s")
    rows.foreach { r =>
      println(f"[stageprobe] [${r.id}%4d] ${r.name}%-65s ${r.wallMs}%6dms ${r.tasks}%5d ${r.runMs}%6dms ${r.gcMs}%5dms ${r.shReadMb}%8.2f ${r.shReadRec}%9d ${r.shWriteMb}%8.2f ${r.spillMb}%6.1f")
    }
    val totWall = rows.map(_.wallMs).sum
    println(f"[stageprobe] stages=${rows.size} sumWall=${totWall}ms (overlap possible)")
  }
}
