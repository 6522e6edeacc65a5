package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.llm.Caches

/** The benchmark's single closed-loop client: it issues the next call only
  * when the previous one has returned.
  *
  * A call is one user-visible operation (a query, a snapshot append, a
  * dashboard refresh, a stream round) and is made of steps; a step belongs
  * to one layer of the program (`queries`, `store`, `ops`, `streaming`) and
  * is a build (constructing the DataFrame, which may already run eager
  * jobs) followed by an action. The call's latency is its wall time. After
  * every call the client releases the program's caches, untimed, as
  * `graft.Bench` does. With a tracer the client also records spans and
  * per-step and per-layer times. */
final class Client(spark: SparkSession, tracer: Option[Tracer]) {
  val latencies = mutable.ArrayBuffer.empty[Double]
  /** Call latencies by call kind. */
  val byKind = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0
  val errors = mutable.ArrayBuffer.empty[String]
  /** Per step name: (calls, build ms, action ms), traced passes only. */
  val steps = mutable.Map.empty[String, (Int, Double, Double)].withDefaultValue((0, 0.0, 0.0))

  private var seq = 0L
  private var callSpan = 0L
  private var root = 0L
  private var passStart = 0L

  def beginPass(): Unit = {
    passStart = System.nanoTime()
    tracer.foreach(t => root = t.begin(0L, "workload", "pass"))
  }

  /** Ends a pass and returns its wall time in seconds. */
  def endPass(): Double = {
    tracer.foreach(_.end(root))
    (System.nanoTime() - passStart) / 1e9
  }

  def call(kind: String, name: String)(body: => Unit): Unit = {
    attempted += 1
    seq += 1
    val start = tracer.map(_.nowMs).getOrElse(0.0)
    tracer.foreach(t => callSpan = t.begin(root, kind, name))
    val t0 = System.nanoTime()
    try {
      body
      val ms = (System.nanoTime() - t0) / 1e6
      latencies += ms
      byKind.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
    } catch {
      case NonFatal(e) =>
        errors += s"$name: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(300)}"
    } finally {
      spark.sparkContext.clearJobGroup()
      tracer.foreach(t => t.endCall(start, start + t.end(callSpan)))
      val r0 = System.nanoTime()
      Caches.releaseAll(spark)
      tracer.foreach(_.add("llm.release_ms", (System.nanoTime() - r0) / 1e6))
    }
  }

  /** One step of the current call in `layer`: `build` makes the value,
    * `action` runs it. Each phase runs under its own job group. */
  def step[T](layer: String, name: String)(build: => T)(action: T => Unit): Unit = {
    val b = phase(layer, name, "build", false)(build)
    phase(layer, name, "action", true)(action(b))
  }

  private def phase[T](layer: String, name: String, kind: String, isAction: Boolean)(
      body: => T): T = {
    val group = s"$seq:$kind"
    spark.sparkContext.setJobGroup(group, name, interruptOnCancel = false)
    tracer match {
      case None => body
      case Some(t) =>
        val id = t.begin(callSpan, kind, name)
        t.phase(group, id, layer, name, isAction)
        try body
        finally {
          val ms = t.end(id)
          if (t.recording) {
            val (n, b, a) = steps(name)
            steps(name) = if (isAction) (n + 1, b, a + ms) else (n, b + ms, a)
            t.add(s"${kind}_ms", ms)
            t.add(s"$layer.${kind}_ms", ms)
          }
        }
    }
  }
}
