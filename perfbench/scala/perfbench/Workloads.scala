package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.sql.Timestamp
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.ops.{OdInference, StationDelta, TimeOps}
import graft.queries.BikeKpi
import graft.sources.{Gbfs, Store, Weather}
import graft.streaming.ChainStream

/** One benchmark workload. `warmUp` runs untimed before the timed section
  * and counts as set-up; `pass` is the unit of timed work the client loops
  * over, with untimed `beforePass` and `afterPass` around it; `check` runs
  * untimed after the last pass and returns what the runner needs to verify
  * the outputs. */
trait Workload {
  def warmUp(client: Client): Unit
  def beforePass(n: Int): Unit = ()
  def pass(client: Client, n: Int): Unit
  def afterPass(n: Int, tracer: Option[Tracer]): Unit = ()
  def check(): Map[String, Any]
}

object Workload {
  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  def readText(p: Path): String = new String(Files.readAllBytes(p), UTF_8)

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala.foreach(Files.delete)
    finally s.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally s.close()
  }

  /** Parquet files and their bytes under `dir`. */
  def parquetFiles(dir: Path): (Long, Long) = if (!Files.exists(dir)) (0L, 0L) else {
    val s = Files.walk(dir)
    try {
      val fs = s.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).toList
      (fs.size.toLong, fs.map(Files.size).sum)
    } finally s.close()
  }
}

/** A registered-query tier: the warm-up runs every query of the run's panel
  * once and writes its result as parquet for the output check; each timed
  * pass runs the panel twice more, each time in a fresh seeded order, into a
  * noop sink. Single query latencies vary by a fifth between runs, so the
  * median of twelve calls moved far more than the pass time did; two rounds
  * double the calls the median is taken over. */
final class QueryTier(spark: SparkSession, data: String, keys: Seq[String],
    seed: Long, out: Path) extends Workload {
  private val fns = SparkEntry.queries

  def warmUp(client: Client): Unit = {
    new scala.util.Random(seed).shuffle(keys).foreach { k =>
      client.call("query", k) {
        fns(k)(spark, data).coalesce(1).write.mode("overwrite").parquet(out.resolve(k).toString)
      }
    }
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => keys.contains(k) }
    Files.writeString(out.resolve("oracle_sql.json"), Json(oracles))
  }

  def pass(client: Client, n: Int): Unit = for (round <- 0 until 2) {
    new scala.util.Random(seed * 7919 + 2 * n + round + 1).shuffle(keys).foreach { k =>
      client.call("query", k)(client.step("queries", k)(fns(k)(spark, data))(Workload.noop))
    }
  }

  def check(): Map[String, Any] = Map("outputs" -> out.toString)
}

/** The GBFS loop: stations and weather upserted once, then each snapshot
  * parsed and appended, with a dashboard refresh (KPI q1-q4 plus the
  * OD-flow chain) after every `refreshEvery` snapshots. A timed pass is the
  * loop's last refresh period: set-up runs the loop up to it into a history
  * store, and each pass starts from an untimed copy of that store, appends
  * the period's snapshots and refreshes once over the whole store. */
final class GbfsIngest(spark: SparkSession, feed: Path, work: Path, refreshEvery: Int)
    extends Workload {
  private val stationsJson = Workload.readText(feed.resolve("stations.json"))
  private val weatherJson = Workload.readText(feed.resolve("weather.json"))
  private val scrapes = Files.readAllLines(feed.resolve("scrapes.txt")).asScala.toVector
    .map(s => Timestamp.from(Instant.parse(s)))
  private val payloads = scrapes.indices
    .map(i => Workload.readText(feed.resolve(f"status/$i%04d.json")))
  private val history = scrapes.size - refreshEvery
  private val historyDir = work.resolve("store_history")
  private var last: Store = _

  private def storeDir(n: Int) = work.resolve(s"store_$n")

  /** The `flows` pipeline of the CLI: last reading per 10-minute bucket,
    * per-station bike deltas, then the greedy OD matcher. */
  private def flows(store: Store): DataFrame = {
    import spark.implicits._
    val ss = store.status.withColumn("bucket", TimeOps.bucketFloor(col("scraped_at"), 10))
    val lastPer = TimeOps.lastPerGroup(ss, Seq("station_id", "bucket"), Seq(col("scraped_at")))
    val deltas = TimeOps.lagDiff(lastPer, Seq("station_id"), Seq(col("bucket")),
      "num_bikes_available")
    OdInference.inferFlows(deltas
      .join(broadcast(store.stations.select("station_id", "lat", "lon")), "station_id")
      .select(unix_timestamp(col("bucket")).as("bucket"), col("station_id").as("station"),
        col("delta").cast("long").as("delta"), col("lat"), col("lon"))
      .as[StationDelta])
  }

  /** Appends snapshots `from` until `until`, refreshing after every
    * `refreshEvery`-th. */
  private def ingest(client: Client, store: Store, from: Int, until: Int): Unit =
    (from until until).foreach { i =>
      client.call("snapshot", s"snapshot $i")(
        client.step("store", "store.append")(
          Gbfs.statusFromPayload(spark, payloads(i), scrapes(i)))(store.appendStatus))
      if ((i + 1) % refreshEvery == 0) client.call("refresh", s"refresh $i") {
        client.step("queries", "kpi.q1")(BikeKpi.q1NetworkSummary(store))(Workload.noop)
        client.step("queries", "kpi.q2")(BikeKpi.q2TopOccupancy(store))(Workload.noop)
        client.step("queries", "kpi.q3")(BikeKpi.q3HourlyProfile(store))(Workload.noop)
        client.step("queries", "kpi.q4")(BikeKpi.q4WeatherJoin(store))(Workload.noop)
        client.step("ops", "ops.flows")(flows(store))(Workload.noop)
      }
    }

  /** Builds the history store: the upserts and the loop up to the timed
    * period, which also warms the append and refresh paths. */
  def warmUp(client: Client): Unit = {
    val store = new Store(spark, historyDir.toString)
    client.call("upsert", "stations+weather") {
      client.step("store", "store.upsert_stations")(
        Gbfs.stationsFromPayload(spark, stationsJson))(store.upsertStations)
      client.step("store", "store.upsert_weather")(
        Weather.hourlyFromPayload(spark, weatherJson))(store.upsertWeather)
    }
    ingest(client, store, 0, history)
  }

  override def beforePass(n: Int): Unit = Workload.copyTree(historyDir, storeDir(n))

  def pass(client: Client, n: Int): Unit = {
    last = new Store(spark, storeDir(n).toString)
    ingest(client, last, history, scrapes.size)
  }

  override def afterPass(n: Int, tracer: Option[Tracer]): Unit = {
    tracer.foreach { t =>
      val (files, bytes) = Workload.parquetFiles(storeDir(n))
      t.add("store.files", files.toDouble)
      t.add("store.bytes", bytes.toDouble)
    }
    if (n > 0) Workload.deleteTree(storeDir(n - 1))
  }

  def check(): Map[String, Any] = {
    val q1 = BikeKpi.q1NetworkSummary(last).collect().head
    Map(
      "rows" -> last.status.count(),
      "estacoes" -> q1.getLong(0), "capacidade_total" -> q1.getLong(1),
      "bikes_disponiveis" -> q1.getLong(2), "docks_disponiveis" -> q1.getLong(3))
  }
}

/** The bronze→silver→gold chain: per pass, a fresh landing dir and fresh
  * checkpoints; each id-ordered drop lands, then one chain round drains it. */
final class ChainRounds(spark: SparkSession, drops: Path, work: Path, ctx: Long, shards: Int)
    extends Workload {
  private val files = Files.list(drops).iterator().asScala.toVector.sortBy(_.toString)
  private var lastDir: Path = _

  private def cycle(client: Client, dir: Path): Unit = {
    val landing = dir.resolve("landing")
    Files.createDirectories(landing)
    val t0 = System.currentTimeMillis() - files.size * 60000L
    files.zipWithIndex.foreach { case (f, i) =>
      // strictly increasing mtimes: the file source orders drops by them
      val landed = Files.copy(f, landing.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(landed, java.nio.file.attribute.FileTime.fromMillis(t0 + i * 60000L))
      client.call("round", s"round $i")(client.step("streaming", "streaming.round")(())(_ =>
        ChainStream.runChainRound(spark, landing.toString, dir.resolve("work").toString, ctx, shards)))
    }
  }

  def warmUp(client: Client): Unit = {
    cycle(client, work.resolve("chain_warm"))
    Workload.deleteTree(work.resolve("chain_warm"))
  }

  def pass(client: Client, n: Int): Unit = {
    lastDir = work.resolve(s"chain_$n")
    cycle(client, lastDir)
  }

  override def afterPass(n: Int, tracer: Option[Tracer]): Unit =
    if (n > 0) Workload.deleteTree(work.resolve(s"chain_${n - 1}"))

  def check(): Map[String, Any] = {
    import spark.implicits._
    val curated = spark.read.parquet(lastDir.resolve("work/curated").toString)
      .select("doc_id").as[Long].collect().toSet
    val docs = spark.read.schema("doc_id LONG, lang STRING, source STRING, text STRING")
      .json(drops.toString).as[(Long, String, String, String)]
    val expected = ChainStream.batchChain(docs, ctx, shards).map(_._1).collect().toSet
    Map("curated" -> curated.size, "expected" -> expected.size,
      "missing" -> (expected -- curated).size, "extra" -> (curated -- expected).size)
  }
}
