package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import graft.sources.{Fixtures, Gbfs, Store}

/** Stream/batch equivalence (SURVEY.md §5.6): replaying snapshot files
  * through the Structured Streaming ingest yields exactly the table the
  * batch writer produces from the same snapshots. */
class StreamingSpec extends SparkSpec {

  import spark.implicits._

  private def snapshots(dir: java.nio.file.Path) = Seq(
    (Fixtures.stationStatus(5, 3, 0), "2025-09-04 10:10:00"),
    (Fixtures.stationStatus(7, 2, 1), "2025-09-04 11:10:00"),
    (Fixtures.stationStatus(6, 4, 2), "2025-09-04 12:10:00")
  ).zipWithIndex.map { case ((payload, ts), i) =>
    Gbfs.statusFromJson(spark,
      Fixtures.write(dir, s"snap$i.json", payload), Timestamp.valueOf(ts))
  }

  test("streamed ingest of 3 snapshot drops equals batch ingest of the same files") {
    val dir = Fixtures.tempDir("stream")
    val snaps = snapshots(dir)

    val batchStore = new Store(spark, dir.toString + "/batch")
    snaps.foreach(batchStore.appendStatus)

    // landing dir: each snapshot as a JSON drop in the station_status schema
    val landing = dir.resolve("landing").toString
    snaps.foreach(_.coalesce(1).write.mode("append").json(landing))
    val streamStore = new Store(spark, dir.toString + "/stream")
    val q = StatusStream.start(spark, landing, streamStore,
      dir.resolve("ckpt").toString)
    q.awaitTermination()

    val key = Seq("station_id", "scraped_at", "num_bikes_available")
    val b = batchStore.status.select(key.head, key.tail: _*)
      .as[(String, Timestamp, Int)].collect().sorted
    val s = streamStore.status.select(key.head, key.tail: _*)
      .as[(String, Timestamp, Int)].collect().sorted
    assert(s.sameElements(b) && s.length == 9)
  }

  test("stateful stream deltas equal batch lag-diff on the same snapshots") {
    val dir = Fixtures.tempDir("stream3")
    val snaps = snapshots(dir)
    val landing = dir.resolve("landing").toString
    snaps.foreach(_.coalesce(1).write.mode("append").json(landing))

    val out = dir.resolve("deltas").toString
    val q = DeltaStream.start(spark, landing, out, dir.resolve("ckpt3").toString)
    q.awaitTermination()

    val streamed = spark.read.parquet(out)
      .select("station_id", "scraped_at", "delta")
      .as[(String, Timestamp, Int)].collect().sorted

    val batchAll = snaps.reduce(_ unionByName _)
    val batch = graft.ops.TimeOps.lagDiff(batchAll,
        Seq("station_id"), Seq(org.apache.spark.sql.functions.col("scraped_at")),
        "num_bikes_available")
      .selectExpr("station_id", "scraped_at", "CAST(delta AS INT) AS delta")
      .as[(String, Timestamp, Int)].collect().sorted

    assert(streamed.sameElements(batch) && streamed.length == 9)
    // first observation per station must be delta 0 (quirk Q3)
    val firsts = streamed.groupBy(_._1).values.map(_.minBy(_._2.getTime))
    assert(firsts.forall(_._3 == 0))
  }

  test("transformWithState deltas equal the flatMapGroupsWithState deltas") {
    val dir = Fixtures.tempDir("stream_tws")
    val snaps = snapshots(dir)
    val landing = dir.resolve("landing").toString
    snaps.foreach(_.coalesce(1).write.mode("append").json(landing))

    // the successor stateful API needs the RocksDB state store
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val oldProv = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val out = dir.resolve("deltas_tws").toString
      val stream = spark.readStream
        .schema(graft.sources.Schemas.stationStatus)
        .option("maxFilesPerTrigger", 1)
        .json(landing)
        .selectExpr("station_id", "scraped_at", "num_bikes_available AS bikes")
        .as[StatusPoint]
      val q = DeltaStream.deltasTws(stream).writeStream
        .outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[DeltaPoint], _: Long) =>
          b.write.mode("append").parquet(out): Unit
        }
        .option("checkpointLocation", dir.resolve("ckpt_tws").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()

      val tws = spark.read.parquet(out)
        .select("station_id", "scraped_at", "bikes", "delta")
        .as[(String, Timestamp, Int, Int)].collect().sorted.toSeq

      // reference: the flatMapGroupsWithState path on the same drops
      val out2 = dir.resolve("deltas_fmgws").toString
      val q2 = DeltaStream.start(spark, landing, out2, dir.resolve("ckpt_fmgws").toString)
      q2.awaitTermination()
      val fmgws = spark.read.parquet(out2)
        .select("station_id", "scraped_at", "bikes", "delta")
        .as[(String, Timestamp, Int, Int)].collect().sorted.toSeq

      assert(tws == fmgws && tws.length == 9, s"tws=$tws fmgws=$fmgws")
    } finally oldProv match {
      case Some(v) => spark.conf.set(provKey, v)
      case None => spark.conf.unset(provKey)
    }
  }

  test("watermarked tumbling-window agg equals the batch hourly rollup") {
    import org.apache.spark.sql.functions._
    val dir = Fixtures.tempDir("stream4")
    val snaps = snapshots(dir)
    val landing = dir.resolve("landing").toString
    snaps.foreach(_.coalesce(1).write.mode("append").json(landing))

    val out = dir.resolve("winagg").toString
    val stream = spark.readStream
      .schema(graft.sources.Schemas.stationStatus)
      .option("maxFilesPerTrigger", 1)
      .json(landing)
      .withWatermark("scraped_at", "0 seconds")
      .groupBy(window(col("scraped_at"), "1 hour"))
      .agg(count(lit(1)).as("n"), sum("num_bikes_available").as("bikes"))
    val q = stream.writeStream
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.mode("append").parquet(out): Unit
      }
      .option("checkpointLocation", dir.resolve("ckpt4").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val streamed = spark.read.parquet(out)
      .select(col("window.start").cast("string"), col("n"), col("bikes"))
      .as[(String, Long, Long)].collect().toSet
    val batch = snaps.reduce(_ unionByName _)
      .groupBy(window(col("scraped_at"), "1 hour"))
      .agg(count(lit(1)).as("n"), sum("num_bikes_available").as("bikes"))
      .select(col("window.start").cast("string"), col("n"), col("bikes"))
      .as[(String, Long, Long)].collect().toSet
    // append mode emits only windows the watermark has closed: batch k
    // uses the watermark from batch k-1's data, so with per-file triggers
    // the 10:00 window (closed by snapshot 2's 11:10 stamp) flushes during
    // batch 3; later windows stay open when the query drains. Every
    // emitted window must carry exactly its batch value.
    assert(streamed.contains(("2025-09-04 10:00:00", 3L, 8L)),
      s"streamed=$streamed")
    assert(streamed.subsetOf(batch), s"streamed=$streamed batch=$batch")
  }

  test("dropDuplicatesWithinWatermark drops cross-batch duplicate drops with bounded state") {
    import org.apache.spark.sql.functions._
    val dir = Fixtures.tempDir("stream_dd")
    val snaps = snapshots(dir)
    val landing = dir.resolve("landing").toString
    // snapshot 0 lands TWICE (a re-delivered feed file — the at-least-once
    // ingest reality), then 1 and 2 once each.
    (snaps.head +: snaps).foreach(_.coalesce(1).write.mode("append").json(landing))

    // unlike dropDuplicates, the watermark variant EVICTS dedup state once
    // the event time passes out of the delay window — at 100 TB the state
    // store holds a bounded horizon of keys, not the whole stream history.
    val out = dir.resolve("deduped").toString
    val q = spark.readStream
      .schema(graft.sources.Schemas.stationStatus)
      .option("maxFilesPerTrigger", 1)
      .json(landing)
      .withWatermark("scraped_at", "1 hour")
      .dropDuplicatesWithinWatermark("station_id", "scraped_at")
      .writeStream
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.mode("append").parquet(out): Unit
      }
      .option("checkpointLocation", dir.resolve("ckpt_dd").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val key = Seq("station_id", "scraped_at", "num_bikes_available")
    val streamed = spark.read.parquet(out)
      .select(key.head, key.tail: _*)
      .as[(String, Timestamp, Int)].collect().sorted.toSeq
    val batch = snaps.reduce(_ unionByName _).dropDuplicates("station_id", "scraped_at")
      .select(key.head, key.tail: _*)
      .as[(String, Timestamp, Int)].collect().sorted.toSeq
    assert(streamed == batch && streamed.length == 9,
      s"streamed=$streamed batch=$batch")
  }

  test("watermarked session-window agg equals batch and the independent sessionize") {
    import org.apache.spark.sql.functions._
    val dir = Fixtures.tempDir("stream_sess")
    val snaps = snapshots(dir)
    val landing = dir.resolve("landing").toString
    snaps.foreach(_.coalesce(1).write.mode("append").json(landing))

    // stream: per-file triggers; append mode emits a session only once the
    // watermark passes its end (= last event + gap). Final watermark at
    // drain is 12:10, so the 10:10- and 11:10-anchored sessions (ends
    // 10:40 / 11:40) close; the 12:10 ones (end 12:40) stay open.
    val out = dir.resolve("sessions").toString
    val stream = SessionStream.stationSessions(
      spark.readStream
        .schema(graft.sources.Schemas.stationStatus)
        .option("maxFilesPerTrigger", 1)
        .json(landing)
        .withWatermark("scraped_at", "0 seconds"),
      "30 minutes")
    val q = stream.writeStream
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.mode("append").parquet(out): Unit
      }
      .option("checkpointLocation", dir.resolve("ckpt_sess").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    def asSet(df: org.apache.spark.sql.DataFrame) = df
      .select(col("station_id"), col("s_start").cast("string"),
        col("s_end").cast("string"), col("n_obs"), col("bikes"))
      .as[(String, String, String, Long, Long)].collect().toSet
    val streamed = asSet(spark.read.parquet(out))
    val batch = asSet(SessionStream.stationSessions(
      snaps.reduce(_ unionByName _), "30 minutes"))
    assert(batch.size == 9) // 3 stations x 3 one-observation sessions
    assert(streamed == batch.filter(_._3 <= "2025-09-04 12:10:00"),
      s"streamed=$streamed batch=$batch")
    assert(streamed.size == 6)

    // cross-validation: session_window grouping vs the INDEPENDENT
    // lag+cumsum sessionize on data with real multi-event sessions
    // (no boundary-exact gaps — the two algorithms differ there).
    val obs = Seq(
      ("A", "2025-09-04 10:00:00", 4), ("A", "2025-09-04 10:10:00", 5),
      ("A", "2025-09-04 10:25:00", 6), ("A", "2025-09-04 11:30:00", 7),
      ("B", "2025-09-04 10:05:00", 1), ("B", "2025-09-04 10:50:00", 2),
      ("B", "2025-09-04 11:05:00", 3))
      .toDF("station_id", "s", "num_bikes_available")
      .withColumn("scraped_at", col("s").cast("timestamp")).drop("s")
    val viaSessionWindow = asSet(SessionStream.stationSessions(obs, "30 minutes"))
    val viaSessionize = asSet(
      graft.ops.TimeOps.sessionize(obs, "station_id", "scraped_at", 30)
        .groupBy(col("station_id"), col("session_id"))
        .agg(min("scraped_at").as("s_start"),
          (max("scraped_at") + expr("INTERVAL 30 MINUTES")).as("s_end"),
          count(lit(1)).as("n_obs"),
          sum("num_bikes_available").as("bikes"))
        .drop("session_id"))
    assert(viaSessionWindow == viaSessionize,
      s"session_window=$viaSessionWindow sessionize=$viaSessionize")
    assert(viaSessionWindow.size == 4) // A: 3+1 obs, B: 1+2 obs
  }

  test("stream-stream watermarked hour join equals the batch temporal join") {
    import org.apache.spark.sql.functions._
    val dir = Fixtures.tempDir("stream5")
    val snaps = snapshots(dir)
    val landing = dir.resolve("landing").toString
    snaps.foreach(_.coalesce(1).write.mode("append").json(landing))
    // weather drops: one hourly record per snapshot hour, plus an hour no
    // status observation falls in (must not join)
    val wLanding = dir.resolve("wlanding").toString
    val weatherRows = Seq(
      ("2025-09-04 10:00:00", 21.5), ("2025-09-04 11:00:00", 23.0),
      ("2025-09-04 12:00:00", 24.5), ("2025-09-04 09:00:00", 19.0))
    weatherRows.zipWithIndex.foreach { case ((ts, t), i) =>
      Seq((Timestamp.valueOf(ts), t)).toDF("weather_hour", "temperature_2m")
        .coalesce(1).write.mode("append").json(wLanding): Unit
    }
    val wSchema = "weather_hour TIMESTAMP, temperature_2m DOUBLE"

    val out = dir.resolve("joined").toString
    val joined = JoinStream.withHourlyWeather(
      spark.readStream.schema(graft.sources.Schemas.stationStatus)
        .option("maxFilesPerTrigger", 1).json(landing),
      spark.readStream.schema(wSchema)
        .option("maxFilesPerTrigger", 1).json(wLanding))
    val q = joined.writeStream
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.mode("append").parquet(out): Unit
      }
      .option("checkpointLocation", dir.resolve("ckpt5").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("station_id"), col("scraped_at"),
        col("num_bikes_available"), col("temperature_2m"))
      .as[(String, Timestamp, Int, Double)].collect().sorted
    val streamed = canon(spark.read.parquet(out))
    val batch = canon(JoinStream.withHourlyWeather(
      snaps.reduce(_ unionByName _),
      weatherRows.map { case (ts, t) => (Timestamp.valueOf(ts), t) }
        .toDF("weather_hour", "temperature_2m")))
    // every observation hour has exactly one weather row -> all 9 status
    // rows join; the 09:00 weather hour matches nothing
    assert(streamed.length == 9)
    assert(streamed.sameElements(batch))
  }

  test("streaming OD flows equal the batch per-bucket flows over closed buckets") {
    import org.apache.spark.sql.functions._
    val dir = Fixtures.tempDir("stream5")
    val snapDefs = Seq(
      (Fixtures.stationStatus(5, 3, 0), "2025-09-04 10:10:00"),
      (Fixtures.stationStatus(7, 2, 1), "2025-09-04 11:10:00"),
      (Fixtures.stationStatus(6, 4, 2), "2025-09-04 12:10:00"),
      (Fixtures.stationStatus(8, 1, 3), "2025-09-04 13:10:00"))
    val snaps = snapDefs.zipWithIndex.map { case ((payload, ts), i) =>
      Gbfs.statusFromJson(spark,
        Fixtures.write(dir, s"snap$i.json", payload), Timestamp.valueOf(ts))
    }
    val landing = dir.resolve("landing").toString
    snaps.foreach(_.coalesce(1).write.mode("append").json(landing))
    val stations = Gbfs.stationsFromJson(spark,
      Fixtures.write(dir, "si.json", Fixtures.stationInfo))

    val flowsDir = dir.resolve("flows").toString
    val q = FlowStream.start(spark, landing, stations,
      dir.resolve("bdeltas").toString, flowsDir,
      dir.resolve("ckpt5").toString, bucketMinutes = 60)
    q.awaitTermination()
    val streamed = spark.read.parquet(flowsDir)
      .select("bucket", "o", "d", "flow")
      .as[(Long, String, String, Long)].collect().toSet

    // batch twin: W2 -> W1 -> per-bucket greedy over the same snapshots,
    // restricted to closed buckets (every bucket except the last — the
    // stream cannot know the final bucket is over, same as an unclosed
    // watermarked window)
    val all = snaps.reduce(_ unionByName _)
    val bucketed = all.withColumn("bucket",
      graft.ops.TimeOps.bucketFloor(col("scraped_at"), 60))
    val lastPer = graft.ops.TimeOps.lastPerGroup(bucketed,
      Seq("station_id", "bucket"), Seq(col("scraped_at")))
    val deltas = graft.ops.TimeOps.lagDiff(lastPer,
      Seq("station_id"), Seq(col("bucket")), "num_bikes_available")
    val input = deltas
      .join(broadcast(stations.select("station_id", "lat", "lon")), "station_id")
      .select(unix_timestamp(col("bucket")).as("bucket"),
        col("station_id").as("station"),
        col("delta").cast("long").as("delta"), col("lat"), col("lon"))
      .as[graft.ops.StationDelta]
    val openBucket = input.agg(max("bucket")).as[Long].head()
    val batch = graft.ops.OdInference.inferFlowsPerBucket(input)
      .filter(col("bucket") < openBucket)
      .as[(Long, String, String, Long)].collect().toSet

    assert(streamed.nonEmpty)
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
  }

  test("FlowStream resumes from its checkpoint across separate runs") {
    import org.apache.spark.sql.functions._
    val dir = Fixtures.tempDir("stream6")
    val snapDefs = Seq(
      (Fixtures.stationStatus(5, 3, 0), "2025-09-04 10:10:00"),
      (Fixtures.stationStatus(7, 2, 1), "2025-09-04 11:10:00"),
      (Fixtures.stationStatus(6, 4, 2), "2025-09-04 12:10:00"),
      (Fixtures.stationStatus(8, 1, 3), "2025-09-04 13:10:00"))
    val snaps = snapDefs.zipWithIndex.map { case ((payload, ts), i) =>
      Gbfs.statusFromJson(spark,
        Fixtures.write(dir, s"snap$i.json", payload), Timestamp.valueOf(ts))
    }
    val landing = dir.resolve("landing").toString
    val stations = Gbfs.stationsFromJson(spark,
      Fixtures.write(dir, "si.json", Fixtures.stationInfo))
    val flowsDir = dir.resolve("flows").toString
    def runOnce(): Unit = {
      val q = FlowStream.start(spark, landing, stations,
        dir.resolve("bdeltas").toString, flowsDir,
        dir.resolve("ckpt6").toString, bucketMinutes = 60)
      q.awaitTermination()
    }
    // run 1 sees the first two snapshots; run 2 (same checkpoint) the rest —
    // the per-station open-bucket state must survive the restart for the
    // 11:10 bucket's delta (vs the 10:10 close carried in state) to be right
    snaps.take(2).foreach(_.coalesce(1).write.mode("append").json(landing))
    runOnce()
    snaps.drop(2).foreach(_.coalesce(1).write.mode("append").json(landing))
    runOnce()
    val streamed = spark.read.parquet(flowsDir)
      .select("bucket", "o", "d", "flow")
      .as[(Long, String, String, Long)].collect().toSet

    val all = snaps.reduce(_ unionByName _)
    val bucketed = all.withColumn("bucket",
      graft.ops.TimeOps.bucketFloor(col("scraped_at"), 60))
    val lastPer = graft.ops.TimeOps.lastPerGroup(bucketed,
      Seq("station_id", "bucket"), Seq(col("scraped_at")))
    val deltas = graft.ops.TimeOps.lagDiff(lastPer,
      Seq("station_id"), Seq(col("bucket")), "num_bikes_available")
    val input = deltas
      .join(broadcast(stations.select("station_id", "lat", "lon")), "station_id")
      .select(unix_timestamp(col("bucket")).as("bucket"),
        col("station_id").as("station"),
        col("delta").cast("long").as("delta"), col("lat"), col("lon"))
      .as[graft.ops.StationDelta]
    val openBucket = input.agg(max("bucket")).as[Long].head()
    val batch = graft.ops.OdInference.inferFlowsPerBucket(input)
      .filter(col("bucket") < openBucket)
      .as[(Long, String, String, Long)].collect().toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
  }

  test("streaming curation: quality filter + cross-batch first-seen dedup equals batch") {
    import org.apache.spark.sql.functions._
    val dir = Fixtures.tempDir("stream7")
    val landing = dir.resolve("landing").toString
    // take real docs; re-drop the first file's docs in a later file (cross-
    // batch duplicates) with HIGHER ids, which first-seen must drop
    val docs = graft.Td.table(spark, Sf0001, "documents")
      .select("doc_id", "lang", "source", "text").limit(60).cache()
    val part1 = docs.filter(col("doc_id") < 30)
    val part2 = docs.filter(col("doc_id") >= 30)
    val dupes = part1.withColumn("doc_id", col("doc_id") + 100000)
    part1.coalesce(1).write.mode("append").json(landing)
    part2.coalesce(1).write.mode("append").json(landing)
    dupes.coalesce(1).write.mode("append").json(landing)

    val out = dir.resolve("curated").toString
    val q = CurationStream.start(spark, landing, out, dir.resolve("ckpt7").toString,
      minTok = 10, maxTok = 5000, minQuality = 0.5)
    q.awaitTermination()
    val streamed = spark.read.parquet(out)
      .select("doc_id").as[Long].collect().toSet

    // batch twin over the same drops: curation filter + first-seen = min id
    // per fingerprint (ingest order here follows id order)
    val all = docs.unionByName(dupes)
    val toks = graft.llm.TextOps.tokens(col("text"))
    val kept = all
      .withColumn("fp", graft.llm.TextOps.fingerprint(col("text")))
      .withColumn("n_tok", size(toks))
      .withColumn("q", graft.llm.TextOps.qualityScore(toks, col("text")))
      .filter(col("n_tok").between(10, 5000) && col("q") >= 0.5)
    val expected = kept.groupBy("fp").agg(min("doc_id").as("doc_id"))
      .select("doc_id").as[Long].collect().toSet
    assert(streamed == expected, s"streamed=${streamed.size} expected=${expected.size}")
    // the re-dropped duplicates must all be gone
    assert(streamed.forall(_ < 100000))
  }

  test("replayed micro-batches are idempotent for both streaming sinks") {
    import org.apache.spark.sql.functions._
    val dir = Fixtures.tempDir("stream8")
    // FlowStream: process the same batch twice (simulating foreachBatch
    // replay after a crash between sink write and checkpoint commit)
    val deltas = Seq(
      ClosedBucketDelta("1", 3600L, 2L), ClosedBucketDelta("2", 3600L, -2L))
      .toDS()
    val stations = Gbfs.stationsFromJson(spark,
      Fixtures.write(dir, "si.json", Fixtures.stationInfo))
      .select(col("station_id"), col("lat").cast("double"), col("lon").cast("double"))
    val dDir = dir.resolve("d").toString
    val fDir = dir.resolve("f").toString
    FlowStream.processBatch(spark, deltas, 7L, stations, dDir, fDir)
    val once = spark.read.parquet(fDir)
      .select("o", "d", "flow").as[(String, String, Long)].collect().toSet
    FlowStream.processBatch(spark, deltas, 7L, stations, dDir, fDir) // replay
    val twice = spark.read.parquet(fDir)
      .select("o", "d", "flow").as[(String, String, Long)].collect().toSet
    assert(once == twice && once.nonEmpty)
    assert(spark.read.parquet(dDir).count() == 2) // deltas not duplicated

    // the owned-partition sink every other stream writes through: same
    // replay pattern
    val doc = CuratedDoc(1L, "en", "src0",
      "some reasonable document text with enough tokens to pass the window " +
        "quality filter because it keeps going and going with variety",
      "fp1", 20, 0.9)
    val cDir = dir.resolve("c").toString
    StreamGuards.writeOwned(Seq(doc).toDS(), 3L, cDir)
    StreamGuards.writeOwned(Seq(doc).toDS(), 3L, cDir) // replay
    assert(spark.read.parquet(cDir).count() == 1)
  }

  test("flow refresh scans only touched-bucket partitions, not the whole history") {
    import org.apache.spark.sql.functions._
    val dir = Fixtures.tempDir("stream9")
    val stations = Gbfs.stationsFromJson(spark,
      Fixtures.write(dir, "si.json", Fixtures.stationInfo))
      .select(col("station_id"), col("lat").cast("double"), col("lon").cast("double"))
    val dDir = dir.resolve("d").toString
    val fDir = dir.resolve("f").toString
    // 12 historical micro-batches, each closing its own bucket
    (1 to 12).foreach { i =>
      val d = Seq(
        ClosedBucketDelta("1", i * 3600L, 2L),
        ClosedBucketDelta("2", i * 3600L, -2L)).toDS()
      FlowStream.processBatch(spark, d, i.toLong, stations, dDir, fDir)
    }
    // the refresh-side read for one touched bucket returns exactly that
    // bucket's rows...
    val prior = FlowStream.priorInput(spark, dDir, Seq(5 * 3600L))
    assert(prior.collect().map(r => (r.getAs[String]("station_id"), r.getAs[Long]("bucket"))).toSet ==
      Set(("1", 5 * 3600L), ("2", 5 * 3600L)))
    // ...and the scan physically prunes: the read lists ONLY the touched
    // partition directory (pruning happens at path selection, so even the
    // driver-side file listing is O(touched buckets), not stream age) and
    // reads a fraction of the files proportional to touched buckets.
    val scans = prior.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    val roots = scans.flatMap(_.relation.location.rootPaths.map(_.toString))
    assert(roots.nonEmpty && roots.forall(_.contains("bucket=" + 5 * 3600)),
      s"scan must list only the touched partition dir, got $roots")
    val filesRead = scans.map(_.metrics("numFiles").value).sum
    val allFiles = spark.read.parquet(FlowStream.bucketDir(dDir)).inputFiles.length.toLong
    assert(allFiles >= 12, s"expected >=12 bucket partitions' files, got $allFiles")
    assert(filesRead * 6 <= allFiles,
      s"scan read $filesRead of $allFiles files — not pruned to touched buckets")
  }

  test("compaction heals from the journal when its partitions are missing") {
    import org.apache.spark.sql.functions._
    val dir = Fixtures.tempDir("stream10")
    val stations = Gbfs.stationsFromJson(spark,
      Fixtures.write(dir, "si.json", Fixtures.stationInfo))
      .select(col("station_id"), col("lat").cast("double"), col("lon").cast("double"))
    val dDir = dir.resolve("d").toString
    val fDir = dir.resolve("f").toString
    // batch 1 closes bucket B for station 1, then the derived compaction
    // dir is deleted (equivalently: a journal written before the
    // compaction existed)
    FlowStream.processBatch(spark,
      Seq(ClosedBucketDelta("1", 3600L, 2L)).toDS(), 1L, stations, dDir, fDir)
    val bucketPath = new org.apache.hadoop.fs.Path(FlowStream.bucketDir(dDir))
    bucketPath.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(bucketPath, true)
    // batch 2 closes the SAME bucket for station 2 — the refresh must
    // recover station 1's delta from the journal, not silently compute
    // flows from a subset
    FlowStream.processBatch(spark,
      Seq(ClosedBucketDelta("2", 3600L, -2L)).toDS(), 2L, stations, dDir, fDir)
    val got = spark.read.parquet(fDir)
      .select("bucket", "o", "d", "flow")
      .as[(Long, String, String, Long)].collect().toSet
    val both = Seq(
      ClosedBucketDelta("1", 3600L, 2L), ClosedBucketDelta("2", 3600L, -2L)).toDS()
    val expected = graft.ops.OdInference.inferFlowsPerBucket(
        both.join(broadcast(stations), "station_id")
          .select(col("bucket"), col("station_id").as("station"),
            col("delta"), col("lat"), col("lon"))
          .as[graft.ops.StationDelta])
      .as[(Long, String, String, Long)].collect().toSet
    assert(expected.nonEmpty)
    assert(got == expected, s"got=$got expected=$expected")
  }

  test("watermark dedup drops duplicate (station, scraped_at) rows in-stream") {
    val dir = Fixtures.tempDir("stream2")
    val snaps = snapshots(dir)
    val landing = dir.resolve("landing").toString
    // drop the same snapshot twice -> raw stream sees 12 rows, dedup -> 9
    (snaps :+ snaps.head).foreach(_.coalesce(1).write.mode("append").json(landing))
    val store = new Store(spark, dir.toString + "/dedup")
    val q = StatusStream.start(spark, landing, store,
      dir.resolve("ckpt").toString, dedupWithinWatermark = true)
    q.awaitTermination()
    assert(store.status.count() == 9)
  }
}
