package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Fixtures

/** The durable-sink contract of [[StreamGuards]], pinned per stream.
  *
  * Foreign checkpoint: every stream writing owned `batch_id` partitions
  * must REFUSE a start whose checkpoint never logged the sink's batches (a
  * fresh checkpoint over an existing sink restarts batch ids at 0 and
  * silently clobbers `batch_id=0`, mixing two state lineages). Each
  * refusal test drives the real stream once, then restarts it with a fresh
  * checkpoint and asserts the loud refusal. Legitimate same-checkpoint
  * restarts stay guarded-but-allowed — every stream's own
  * multi-drop/restart spec runs through the guard.
  * ([[GraphStream]]/[[ContaminationStream]]/[[DriftStream]]/[[FlowStream]]
  * pin their refusals in their own suites.)
  *
  * Crash replay: a lost checkpoint commit re-runs the last batch, and the
  * owned partition must absorb it without duplicating rows. Structure: no
  * stream may start except through [[StreamGuards.drain]]. */
class StreamGuardsSpec extends SparkSpec {

  import spark.implicits._

  private def docsJson(landing: String): Unit =
    graft.Td.table(spark, Sf0001, "documents")
      .select("doc_id", "lang", "source", "text")
      .filter(col("doc_id") < 30)
      .coalesce(1).write.mode("append").json(landing)

  private def refused(body: => Any): Unit = {
    val ex = intercept[IllegalArgumentException](body)
    assert(ex.getMessage.contains("DIFFERENT checkpoint"), ex.getMessage)
  }

  test("CurationStream refuses a fresh checkpoint over an existing curated sink") {
    val dir = Fixtures.tempDir("guard_curation")
    val landing = dir.resolve("landing").toString
    docsJson(landing)
    def start(ckpt: String) = CurationStream.start(spark, landing,
      dir.resolve("out").toString, dir.resolve(ckpt).toString,
      minTok = 1, minQuality = 0.0)
    start("ckpt").awaitTermination()
    assert(new java.io.File(s"${dir.resolve("out")}/batch_id=0").exists())
    refused(start("ckpt_fresh"))
  }

  test("NearDupStream refuses a fresh checkpoint over an existing verdict sink") {
    val dir = Fixtures.tempDir("guard_neardup")
    val landing = dir.resolve("landing").toString
    docsJson(landing)
    def start(ckpt: String) = NearDupStream.start(spark, landing,
      dir.resolve("out").toString, dir.resolve(ckpt).toString)
    start("ckpt").awaitTermination()
    refused(start("ckpt_fresh"))
  }

  test("PackingStream refuses a fresh checkpoint over an existing packed sink") {
    val dir = Fixtures.tempDir("guard_packing")
    val landing = dir.resolve("landing").toString
    docsJson(landing)
    def start(ckpt: String) = PackingStream.start(spark, landing,
      dir.resolve("out").toString, dir.resolve(ckpt).toString)
    start("ckpt").awaitTermination()
    refused(start("ckpt_fresh"))
  }

  test("BatchingStream refuses a fresh checkpoint over an existing batched sink") {
    val dir = Fixtures.tempDir("guard_batching")
    val landing = dir.resolve("landing").toString
    docsJson(landing)
    def start(ckpt: String) = BatchingStream.start(spark, landing,
      dir.resolve("out").toString, dir.resolve(ckpt).toString,
      tokenBudget = 256L, shards = 4)
    start("ckpt").awaitTermination()
    refused(start("ckpt_fresh"))
  }

  test("ContamStream refuses a fresh checkpoint over an existing verdict sink") {
    val dir = Fixtures.tempDir("guard_contam")
    val landing = dir.resolve("landing")
    java.nio.file.Files.createDirectories(landing)
    val train: DataFrame = graft.Td.table(spark, Sf0001, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
    // eval = verbatim train twins under new ids: guaranteed contaminated,
    // so the verdict partition is guaranteed nonempty
    val tmp = Fixtures.tempDir("guard_contam_drop")
    train.filter(col("vec_id") < 50)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = new java.io.File(tmp.toString).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath, landing.resolve("d1.parquet"))
    def start(ckpt: String) = ContamStream.start(spark, landing.toString,
      train, dir.resolve("out").toString, dir.resolve(ckpt).toString,
      minCos = 0.9)
    start("ckpt").awaitTermination()
    assert(new java.io.File(s"${dir.resolve("out")}/batch_id=0").exists())
    refused(start("ckpt_fresh"))
  }

  test("ChainStream refuses a round whose curate checkpoint does not own the curated tier") {
    val dir = Fixtures.tempDir("guard_chain")
    val landing = dir.resolve("landing").toString
    val workDir = dir.resolve("work").toString
    docsJson(landing)
    ChainStream.runChainRound(spark, landing, workDir, ctxTokens = 100L, shards = 4)
    assert(new java.io.File(s"$workDir/curated/batch_id=0").exists())
    // ops move: the curate checkpoint is deleted, the curated tier kept
    val ckpt = new java.io.File(s"$workDir/ckpt_curate")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
    }
    rm(ckpt)
    refused(ChainStream.runChainRound(spark, landing, workDir,
      ctxTokens = 100L, shards = 4))
  }

  // transformWithState sinks need the RocksDB state store
  private val ProvKey = "spark.sql.streaming.stateStore.providerClass"
  private def withRocksDb[T](body: => T): T = {
    val old = spark.conf.getOption(ProvKey)
    spark.conf.set(ProvKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally old match {
      case Some(v) => spark.conf.set(ProvKey, v)
      case None => spark.conf.unset(ProvKey)
    }
  }

  test("RetractStream (append sink) refuses a fresh checkpoint over existing snapshots") {
    withRocksDb {
      val dir = Fixtures.tempDir("guard_retract")
      val landing = dir.resolve("landing").toString
      Seq(("a", 1L, 1L), ("a", 2L, 1L), ("b", 5L, 1L))
        .toDF("key", "v", "dcnt").coalesce(1).write.mode("append").json(landing)
      def start(ckpt: String) = RetractStream.start(spark, landing,
        dir.resolve("out").toString, dir.resolve(ckpt).toString)
      start("ckpt").awaitTermination()
      assert(spark.read.parquet(dir.resolve("out").toString).count() > 0)
      refused(start("ckpt_fresh"))
    }
  }

  test("VectorStream (append + exactly-once file sinks) refuses fresh checkpoints over both legs") {
    withRocksDb {
      val dir = Fixtures.tempDir("guard_vector")
      val landing = dir.resolve("landing").toString
      val train = graft.Td.table(spark, Sf0001, "embeddings")
      train.filter(col("vec_id") < 20)
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("embedding"))
        .coalesce(1).write.mode("append").json(landing)
      def startCells(ckpt: String) = VectorStream.start(spark, landing,
        train, dir.resolve("out").toString, dir.resolve(ckpt).toString)
      startCells("ckpt").awaitTermination()
      refused(startCells("ckpt_fresh"))
      def startAssign(ckpt: String) = VectorStream.startAssign(spark, landing,
        train, dir.resolve("out").toString, dir.resolve(ckpt).toString)
      startAssign("ckpt_a").awaitTermination()
      assert(new java.io.File(
        s"${dir.resolve("out")}/assign/batch_id=0").exists())
      refused(startAssign("ckpt_a_fresh"))
    }
  }

  /** Run `start` to completion, delete its checkpoint's last commit (a
    * crash between the sink write and the commit), run it again on the same
    * checkpoint and return (rows before, rows after) at `out`. */
  private def lostCommitReplay(ckpt: String, out: String)(
      start: () => org.apache.spark.sql.streaming.StreamingQuery): (Long, Long) = {
    start().awaitTermination()
    val before = spark.read.parquet(out).count()
    val commits = new java.io.File(ckpt, "commits")
    val last = commits.listFiles().map(_.getName).filter(_.forall(_.isDigit))
      .map(_.toLong).max
    assert(new java.io.File(commits, last.toString).delete())
    new java.io.File(commits, s".$last.crc").delete()
    start().awaitTermination()
    // the batch really re-ran: its commit is back
    assert(new java.io.File(commits, last.toString).exists(), s"$ckpt: batch $last not re-run")
    (before, spark.read.parquet(out).count())
  }

  test("a lost commit re-runs the last batch without duplicating sink rows") {
    withRocksDb {
      val dir = Fixtures.tempDir("guard_replay")
      def p(name: String) = dir.resolve(name).toString
      val t0 = java.sql.Timestamp.valueOf("2025-09-04 10:10:00")
      val t1 = java.sql.Timestamp.valueOf("2025-09-04 10:20:00")
      Seq(("1", t0, 5), ("2", t0, 3)).toDF("station_id", "scraped_at", "num_bikes_available")
        .coalesce(1).write.json(p("status"))
      Seq(("1", t1, 4), ("2", t1, 6)).toDF("station_id", "scraped_at", "num_bikes_available")
        .coalesce(1).write.mode("append").json(p("status"))
      Seq(("a", 1L, 1L), ("b", 5L, 1L)).toDF("key", "v", "dcnt")
        .coalesce(1).write.json(p("changes"))
      Seq(("a", 1L, -1L), ("a", 2L, 1L)).toDF("key", "v", "dcnt")
        .coalesce(1).write.mode("append").json(p("changes"))
      val train = graft.Td.table(spark, Sf0001, "embeddings")
      Seq(0, 1).foreach { r =>
        train.filter(col("vec_id") < 20 && col("vec_id") % 2 === r)
          .select(col("vec_id"),
            transform(col("embedding"), x => x.cast("double")).as("embedding"))
          .coalesce(1).write.mode("append").json(p("vectors"))
      }
      docsJson(p("docs"))

      val runs = Seq(
        "DeltaStream" -> lostCommitReplay(p("ck_delta"), p("delta")) { () =>
          DeltaStream.start(spark, p("status"), p("delta"), p("ck_delta")) },
        "RetractStream" -> lostCommitReplay(p("ck_retract"), p("retract")) { () =>
          RetractStream.start(spark, p("changes"), p("retract"), p("ck_retract")) },
        "VectorStream cells" -> lostCommitReplay(s"${p("ck_vec")}/cells",
            s"${p("vec")}/cells") { () =>
          VectorStream.start(spark, p("vectors"), train, p("vec"), p("ck_vec")) },
        "CurationStream" -> lostCommitReplay(p("ck_cur"), p("cur")) { () =>
          CurationStream.start(spark, p("docs"), p("cur"), p("ck_cur"),
            minTok = 1, minQuality = 0.0) })
      runs.foreach { case (name, (before, after)) => assert(before > 0, name) }
      val duplicated = runs.collect { case (name, (b, a)) if a != b => s"$name: $b -> $a rows" }
      assert(duplicated.isEmpty, duplicated.mkString("; "))
    }
  }

  test("no stream under src/main starts except through StreamGuards.drain") {
    import scala.jdk.CollectionConverters._
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    val main = files(new java.io.File("src/main/scala"))
    assert(main.exists(_.getName == "StreamGuards.scala"))
    val starts = for {
      f <- main if f.getName != "StreamGuards.scala"
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex
      if line.contains("checkpointLocation") || line.contains(".trigger(")
    } yield s"${f.getPath}:${i + 1}"
    assert(starts.isEmpty, s"unguarded stream starts: ${starts.mkString(", ")}")
  }
}
