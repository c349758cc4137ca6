package graft

import org.apache.spark.sql.functions._

import graft.plans.Icelite
import graft.sources.{Changelog, Gen}
import graft.streaming.Ingest

/** Streaming ingest: checkpointed exactly-once, kill-and-resume, late
  * segment arrival (SURVEY.md §5 items 3–4). */
class StreamingSpec extends SparkSpec {

  private def gen(n: Long, hot: Int = 0) =
    Gen.changelog(spark, Gen.GenConfig(events = n, convs = 40, maxTurns = 8,
      hotPct = hot))

  private def diffEmpty(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): Boolean = {
    val cols = a.columns.sorted.map(col).toSeq
    val x = a.select(cols: _*); val y = b.select(cols: _*)
    x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty
  }

  test("stateful LWW winner stream: improvements emitted, stale absorbed") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StatefulLww
    implicit val sq = spark.sqlContext
    implicit val enc: org.apache.spark.sql.Encoder[graft.model.Model.ChangeEvent] =
      org.apache.spark.sql.Encoders.product[graft.model.Model.ChangeEvent]
    val input = MemoryStream[graft.model.Model.ChangeEvent]
    val out = StatefulLww.winners(input.toDS(), watermarkDelay = "0 seconds")
    val q = out.writeStream.format("memory").queryName("winners")
      .outputMode("update").start()
    def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000)
    def ev(op: String, conv: String, turn: Int, text: String, sec: Long, seq: Long) =
      graft.model.Model.ChangeEvent(op, conv, turn, "user", text, null, ts(sec), ts(sec), seq)
    try {
      input.addData(ev("I", "c1", 0, "a", 1, 1), ev("I", "c2", 0, "x", 2, 2))
      q.processAllAvailable()
      input.addData(
        ev("U", "c1", 0, "b", 5, 3),   // improvement → emitted
        ev("U", "c1", 0, "stale", 0, 4), // older than winner → absorbed
        ev("D", "c2", 0, null, 6, 5))  // delete wins → tombstone emitted
      q.processAllAvailable()
      val got = spark.table("winners")
        .select("op", "conv_id", "turn_idx", "text", "seq").collect()
        .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getString(3), r.getLong(4)))
      assert(got.length === 4) // 2 initial + improvement + delete; no stale
      assert(got.count(_._5 == 4L) === 0) // stale seq never surfaced
      assert(got.contains(("U", "c1", 0, "b", 3L)))
      assert(got.contains(("D", "c2", 0, null, 5L)))
    } finally q.stop()
  }

  test("streaming ingest over binlog equals declarative oracle") {
    val root = tmpDir("st1")
    val ch = gen(3000).cache()
    Changelog.writeBinlog(ch, s"$root/binlog", shards = 4, segSize = 500)
    val cfg = Ingest.Config(s"$root/t", s"$root/c", "w-st1", buckets = 4,
      maxFilesPerTrigger = 6)
    Ingest.runStream(spark, cfg, s"$root/binlog")
    val table = Icelite.load(spark, cfg.tablePath)
    assert(diffEmpty(table.read(), Gen.expectedFinalState(ch)))
    // lineage has per-shard offset ranges mapped to snapshot ids
    val lin = Ingest.lineage(spark, cfg)
    assert(lin.filter(col("shard") >= 0).count() > 0)
    assert(lin.select("snapshot_id").distinct().count() ===
      lin.select("batch_id").distinct().count())
  }

  test("delta write path follows the batch layout: aligned only for one source per bucket") {
    val ch = Gen.changelog(spark, Gen.GenConfig(events = 3000, convs = 400, maxTurns = 8))
      .cache()
    /** Replays `batches` onto a fresh table; returns the recorded paths. */
    def replay(tag: String, buckets: Int, batches: Seq[org.apache.spark.sql.DataFrame]) = {
      val root = tmpDir(s"dw-$tag")
      val cfg = Ingest.Config(s"$root/t", s"$root/c", s"w-$tag", buckets = buckets)
      Ingest.replay(spark, cfg, batches)
      val table = Icelite.load(spark, cfg.tablePath)
      assert(diffEmpty(table.read(), Gen.expectedFinalState(ch)), tag)
      table.history().flatMap(_.summary.get("delta.write")).toSet
    }
    /** Binlog with `shards` shards and 500-event segments, `segsPerBatch`
      * segments per batch. */
    def binlogBatches(shards: Int, segsPerBatch: Int) = {
      val dir = tmpDir(s"dw-binlog-$shards")
      Changelog.writeBinlog(ch, dir, shards = shards, segSize = 500)
      val all = Changelog.readBinlog(spark, dir)
      (0 until 6 by segsPerBatch).map(j =>
        all.filter(col("seg") >= j && col("seg") < j + segsPerBatch))
    }
    // shards == buckets, one segment per batch: each bucket reads one file
    assert(replay("aligned", 4, binlogBatches(4, 1)) === Set("aligned"))
    // the tail's layout: one shard, several segments per batch
    assert(replay("1shard", 4, binlogBatches(1, 3)) === Set("exchange"))
    // shards do not divide buckets: every bucket mixes shards
    assert(replay("25on32", 32, binlogBatches(25, 1)) === Set("exchange"))
    // no shard column: the source layout is unknown
    assert(replay("noshard", 4,
      (0 until 6).map(j => ch.filter(col("seq") >= j * 500 && col("seq") < (j + 1) * 500)))
      === Set("exchange"))
  }

  test("kill-and-resume: second run picks up only the remaining segments") {
    val root = tmpDir("st2")
    val ch = gen(2000).cache()
    // stage 1: only first half of the WAL exists
    val early = ch.filter(col("seq") < 1000)
    Changelog.writeBinlog(early, s"$root/binlog", shards = 4, segSize = 250)
    val cfg = Ingest.Config(s"$root/t", s"$root/c", "w-st2", buckets = 4,
      maxFilesPerTrigger = 4)
    Ingest.runStream(spark, cfg, s"$root/binlog")
    val table = Icelite.load(spark, cfg.tablePath)
    val snapAfterHalf = table.snapshot().snapshotId
    assert(diffEmpty(table.read(), Gen.expectedFinalState(early)))
    // stage 2: rest of the WAL arrives; resumed stream applies only it
    Changelog.writeBinlog(ch.filter(col("seq") >= 1000), s"$root/binlog",
      shards = 4, segSize = 250)
    Ingest.runStream(spark, cfg, s"$root/binlog")
    assert(table.snapshot().snapshotId > snapAfterHalf)
    assert(diffEmpty(table.read(), Gen.expectedFinalState(ch)))
    // stage 3: re-run with nothing new — table state unchanged
    val snapDone = table.snapshot().snapshotId
    val rowsDone = table.read().count()
    Ingest.runStream(spark, cfg, s"$root/binlog")
    assert(table.read().count() === rowsDone)
    assert(diffEmpty(table.read(), Gen.expectedFinalState(ch)))
    assert(table.snapshot().snapshotId <= snapDone + 1) // at most an empty commit
  }

  test("watchdog stops a query stuck inside one trigger; idle is healthy (F11)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Watchdog
    implicit val sq = spark.sqlContext
    import spark.implicits._
    // healthy-idle: triggers complete (zero rows) — never stalled
    val idle = MemoryStream[Int]
    val qi = idle.toDS().writeStream.queryName("wd-idle")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100L))
      .foreachBatch { (_: org.apache.spark.sql.Dataset[Int], _: Long) => () }
      .start()
    // stallMs well above this VM's multi-second steal stalls: a JVM-wide
    // pause must not read as an idle-query stall and flake the test
    val dogIdle = new Watchdog(qi, stallMs = 8000, pollMs = 100)
    try {
      Thread.sleep(2500)
      assert(!dogIdle.stalled && qi.isActive)
    } finally { dogIdle.close(); qi.stop() }
    // hung batch: foreachBatch never returns — watchdog must stop it
    val input = MemoryStream[Int]
    val q = input.toDS().writeStream.queryName("wd-stuck")
      .foreachBatch { (_: org.apache.spark.sql.Dataset[Int], _: Long) =>
        Thread.sleep(60000)
      }
      .start()
    val dog = new Watchdog(q, stallMs = 1500, pollMs = 100)
    try {
      input.addData(1)
      try q.awaitTermination(30000) catch { case _: Exception => () }
      assert(dog.stalled)
      assert(!q.isActive)
    } finally { dog.close(); if (q.isActive) q.stop() }
  }

  test("continuous trigger (ProcessingTime) checkpoints and stops cleanly") {
    val root = tmpDir("st-cont")
    val ch = gen(2000).cache()
    Changelog.writeBinlog(ch, s"$root/binlog", shards = 4, segSize = 250)
    val cfg = Ingest.Config(s"$root/t", s"$root/c", "w-cont", buckets = 4,
      maxFilesPerTrigger = 4)
    // the long-running production mode, bounded for the test: fire every
    // 100 ms, graceful stop after the window
    Ingest.runStream(spark, cfg, s"$root/binlog",
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(100L),
      stopAfterMs = Some(10000L))
    // normally the 10 s window commits batches; under one of this VM's
    // multi-second steal stalls it may not — the HARD contract checked
    // below is that the drain resumes the same checkpoint exactly-once
    val continuousCommitted = Icelite.exists(cfg.tablePath)
    // resume on the SAME checkpoint with the drain trigger: finishes the
    // WAL exactly-once across trigger modes
    Ingest.runStream(spark, cfg, s"$root/binlog")
    val table = Icelite.load(spark, cfg.tablePath)
    assert(diffEmpty(table.read(), Gen.expectedFinalState(ch)))
    info(s"continuous phase committed batches: $continuousCommitted")
  }

  test("kafka contract: rendered records parse and ingest end-to-end (no broker)") {
    // the testable half of S10/W11 without a connector jar: produce-side
    // KafkaShape.render (key=conv_id, delimited value) feeds a
    // MemoryStream standing in for readStream.format("kafka"); the
    // consume side split-parses the value (KafkaReader.java:290-351),
    // types the change columns, and runs the FULL ingest chain (dirty
    // gate -> dead letter -> exactly-once merge) per micro-batch
    import org.apache.spark.sql.{Column, DataFrame}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.sources.KafkaShape
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val root = tmpDir("kafka")
    val names = Seq("op", "conv_id", "turn_idx", "role", "text", "tool",
      "ts", "event_ts", "seq")
    val ch = gen(600).cache()
    val rendered = KafkaShape.render(ch, "conv_id", "\u0001", names)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(rendered.forall(_._1 != null)) // keys partition by conversation
    val cfg = Ingest.Config(s"$root/t", s"$root/ck", "w-kafka", buckets = 4,
      deadLetterDir = Some(s"$root/dead"))
    val input = MemoryStream[(String, String)]
    val q = input.toDF().writeStream
      .option("checkpointLocation", s"$root/qck")
      .foreachBatch { (df: DataFrame, id: Long) =>
        // the EXACT projection IngestMain.kafkaSource wires over the real
        // connector (split parse -> typed change events, nullFormat ""
        // back to typed nulls) — shared code is what makes this test the
        // evidence for mode=kafka; the broker is the only absent piece
        val typed = KafkaShape.changeEvents(
          df.select(col("_2").as("value")), "split", "\u0001")
        Ingest.applyBatch(spark, cfg, typed, id); ()
      }.start()
    try {
      val (first, second) = rendered.splitAt(rendered.length / 2)
      input.addData(first.toSeq: _*); q.processAllAvailable()
      input.addData(second.toSeq: _*)
      // a malformed record (bad op, missing fields) must route to the
      // dead letter, not fail the stream or reach the table
      input.addData(("cX", "garbage-not-a-change-event"))
      q.processAllAvailable()
    } finally q.stop()
    val table = Icelite.load(spark, cfg.tablePath)
    assert(diffEmpty(table.read(), Gen.expectedFinalState(ch)))
    assert(spark.read.parquet(s"$root/dead").count() === 1)
  }

  test("shard-cursor source (S11 pattern): checkpointed cursors resume exactly-once") {
    import org.apache.spark.sql.{DataFrame, Row}
    import graft.sources.{ShardCursorSource, ShardFeed, ShardFeeds}
    val root = tmpDir("shards")
    def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000)
    def row(op: String, conv: String, turn: Int, text: String, sec: Long, seq: Long) =
      Row(op, conv, turn, if (op == "D") null else "user",
        if (op == "D") null else text, null,
        if (op == "D") null else ts(sec), ts(sec), seq)
    // deterministic in-memory feed: two shards of growable change events
    // (local mode shares the JVM; a cluster resolves the feed class from
    // the job classpath, like any connector)
    val store = scala.collection.mutable.Map(
      0 -> Vector.empty[Row], 1 -> Vector.empty[Row])
    ShardFeeds.register("memfeed", new ShardFeed {
      def schema = graft.model.Model.changeSchema
      def shards = Seq(0, 1)
      def endCursor(shard: Int) = store(shard).size.toLong
      def read(shard: Int, from: Long, until: Long) =
        store(shard).slice(from.toInt, until.toInt).iterator
    })
    store(0) :+= row("I", "a", 0, "x1", 1, 1)
    store(1) :+= row("I", "b", 0, "y1", 2, 2)
    val cfg = Ingest.Config(s"$root/t", s"$root/ck", "w-shard", buckets = 2)
    // the shared ingest machinery (checkpoint, idempotent gate, hooks)
    // over the non-binlog source — what IngestMain mode=shards runs
    def runOnce(): Unit = Ingest.runStreamSource(spark, cfg,
      spark.readStream.format(classOf[ShardCursorSource].getName)
        .option("feed", "memfeed").load())
    runOnce()
    val table = Icelite.load(spark, cfg.tablePath)
    assert(table.read().count() === 2)
    // the feed grows; the resumed stream consumes ONLY new cursor ranges
    store(0) :+= row("U", "a", 0, "x2", 5, 3)
    store(1) :+= row("D", "b", 0, null, 6, 4)
    runOnce()
    val rows = table.read().select("conv_id", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(rows.toSeq === Seq(("a", "x2"))) // update applied, delete applied
    // nothing new: replay is a no-op on the idempotent gate
    val sid = table.snapshot().snapshotId
    runOnce()
    assert(table.read().count() === 1)
    assert(table.snapshot().snapshotId <= sid + 1)
  }

  test("icelite change feed: snapshot offsets, checkpointed resume, WAP gating") {
    import graft.sources.IceliteChangeFeed
    import spark.implicits._
    val root = tmpDir("feed")
    val cfg = Ingest.Config(s"$root/t", s"$root/ck", "w", buckets = 4,
      opts = Icelite.Options(compactThreshold = 100)) // keep every version
    def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000)
    def ev(op: String, conv: String, turn: Int, text: String, sec: Long, seq: Long) =
      graft.model.Model.ChangeEvent(op, conv, turn,
        if (op == "D") null else "user", if (op == "D") null else text, null,
        if (op == "D") null else ts(sec), ts(sec), seq)
    def batch(b: Int) = spark.createDataset((0 until 20).map(i =>
      ev(if (b == 3 && i == 7) "D" else if (i % 7 == 0 && b > 0) "U" else "I",
        s"c${i % 5}", i, s"t$b-$i", b * 100 + i, b * 1000 + i))).toDF()

    Ingest.replay(spark, cfg, Seq(batch(0), batch(1)))
    val table = Icelite.load(spark, cfg.tablePath)

    def drain(): Unit = {
      val q = spark.readStream.format(classOf[IceliteChangeFeed].getName)
        .option("root", cfg.tablePath).load()
        .writeStream.format("parquet")
        .option("path", s"$root/out")
        .option("checkpointLocation", s"$root/feedck")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def out() = spark.read.parquet(s"$root/out")

    drain()
    assert(out().count() === 40) // every committed row version flowed
    assert(out().columns.sorted.toSeq === Seq("conv_id", "deleted", "event_ts",
      "role", "seq", "text", "tool", "ts", "turn_idx"))

    // feed resumes from the checkpointed snapshot offset: only new commits
    Ingest.applyBatch(spark, cfg, batch(2), batchId = 2)
    drain()
    assert(out().count() === 60)

    // WAP gating: staged commits are invisible to the feed until publish
    table.wapBegin()
    Ingest.applyBatch(spark, cfg, batch(3), batchId = 3)
    drain()
    assert(out().count() === 60) // unchanged — batch 3 is staged
    table.wapPublish()
    drain()
    assert(out().count() === 80)
    // the delete flowed as a tombstone row, not a dropped row
    assert(out().filter(col("deleted")).count() === 1)

    // idle feed: draining again moves nothing
    drain()
    assert(out().count() === 80)
  }

  test("change feed schema evolution: mid-stream widen fails with restart; restart adopts") {
    import graft.sources.IceliteChangeFeed
    import spark.implicits._
    val root = tmpDir("feedevo")
    val cfg = Ingest.Config(s"$root/t", s"$root/ck", "w", buckets = 4,
      opts = Icelite.Options(compactThreshold = 100))
    def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000)
    def batch(b: Int) = spark.createDataset((0 until 10).map(i =>
      graft.model.Model.ChangeEvent("I", s"c$b", i, "user", s"t$b-$i", null,
        ts(b * 100 + i), ts(b * 100 + i), b * 1000 + i))).toDF()
    def drain(): Unit = {
      val q = spark.readStream.format(classOf[IceliteChangeFeed].getName)
        .option("root", cfg.tablePath).load()
        .writeStream.format("parquet")
        .option("path", s"$root/out")
        .option("checkpointLocation", s"$root/feedck")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    Ingest.applyBatch(spark, cfg, batch(0), 0)
    drain()
    assert(spark.read.parquet(s"$root/out").count() === 10)

    // evolve the table (add-column through the merge — the path
    // cdc_schema_evolution exercises), then RESTART the drain on the same
    // checkpoint: the new query pins the evolved schema, aligns the
    // engine's recovery replay of the committed pre-evolution batch up to
    // it, and emits only the new range — with the new column populated
    Ingest.applyBatch(spark, cfg,
      batch(1).withColumn("extra", lit("x")), 1)
    val out2 = s"$root/out2" // fresh sink (parquet sink schemas are fixed)
    val q2 = spark.readStream.format(classOf[IceliteChangeFeed].getName)
      .option("root", cfg.tablePath).load()
      .writeStream.format("parquet")
      .option("path", out2)
      .option("checkpointLocation", s"$root/feedck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    // read the leaf files directly: the reused checkpoint numbers the new
    // sink's metadata log from the resumed batch id, so the sink-root
    // metadata index (which insists on batch 0) cannot be used here
    val gotFiles = new java.io.File(out2).listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
    val got = spark.read.parquet(gotFiles.toSeq: _*)
    assert(got.count() === 10) // resumed: batch 1 only, not a re-drain
    assert(got.columns.contains("extra"))
    assert(got.filter(col("extra") === "x").count() === 10)

    // evolution UNDER a running query: a long-running tail pinned the
    // pre-evolution schema; the next trigger's batch carries a column the
    // pin cannot express and the query fails with the restart instruction
    // rather than emitting mis-shaped rows
    val q3 = spark.readStream.format(classOf[IceliteChangeFeed].getName)
      .option("root", cfg.tablePath).load()
      .writeStream.format("noop")
      .option("checkpointLocation", s"$root/ck3")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100))
      .start()
    try {
      q3.processAllAvailable() // one healthy pass under the current schema
      Ingest.applyBatch(spark, cfg,
        batch(2).withColumn("extra2", lit(7)), 2)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q3.processAllAvailable()
        q3.awaitTermination(10000)
      }
      assert(e.getMessage.contains("restart the query"), e.getMessage)
    } finally if (q3.isActive) q3.stop()
  }

  test("change feed rollback guard: wapAbort passes, deep rollback fails fast") {
    import graft.sources.IceliteChangeFeed
    import spark.implicits._
    val root = tmpDir("feedrb")
    val cfg = Ingest.Config(s"$root/t", s"$root/ck", "w", buckets = 4,
      opts = Icelite.Options(compactThreshold = 100))
    def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000)
    def batch(b: Int) = spark.createDataset((0 until 20).map(i =>
      graft.model.Model.ChangeEvent("I", s"c$b-${i % 5}", i, "user", s"t$b-$i",
        null, ts(b * 100 + i), ts(b * 100 + i), b * 1000 + i))).toDF()
    def drain(): Unit = {
      val q = spark.readStream.format(classOf[IceliteChangeFeed].getName)
        .option("root", cfg.tablePath).load()
        .writeStream.format("parquet")
        .option("path", s"$root/out")
        .option("checkpointLocation", s"$root/feedck")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    Ingest.applyBatch(spark, cfg, batch(0), 0)
    val table = Icelite.load(spark, cfg.tablePath)
    val afterB0 = table.snapshot().snapshotId
    Ingest.applyBatch(spark, cfg, batch(1), 1)
    drain()
    assert(spark.read.parquet(s"$root/out").count() === 40)

    // a WAP cycle aborted BEFORE publish: the feed (published view) never
    // saw the staged commits — the abort's rollback target equals the
    // feed's watermark, so the guard lets the feed continue
    table.wapBegin()
    Ingest.applyBatch(spark, cfg, batch(2), 2)
    table.wapAbort()
    Ingest.applyBatch(spark, cfg, batch(2), 2) // re-applied after the fix
    drain()
    assert(spark.read.parquet(s"$root/out").count() === 60)

    // a rollback BELOW the watermark: the re-applied batches would reuse
    // seq numbers the feed already covered — fail with the re-seed
    // instruction instead of silently skipping them
    table.rollbackTo(afterB0)
    Ingest.applyBatch(spark, cfg, batch(1), 1) // gate reverted; re-applies
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](drain())
    assert(e.getMessage.contains("rolled back"), e.getMessage)
  }

  test("change feed drives incremental near-dup dedup (CDC corpus, no re-scan)") {
    import graft.operators.IncrementalDedup
    import graft.sources.IceliteChangeFeed
    import spark.implicits._
    val root = tmpDir("feeddedup")
    val cfg = Ingest.Config(s"$root/t", s"$root/ck", "w", buckets = 4,
      opts = Icelite.Options(compactThreshold = 100))
    def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000)
    // 20-token texts: a single changed LAST token alters exactly one
    // 3-shingle (j ≈ 0.89 — well above the ceil(0.7·64)=45 match
    // threshold with margin for estimator noise)
    val base = Seq(
      "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu " +
        "nu xi omicron pi rho sigma tau upsilon",
      "one two three four five six seven eight nine ten eleven twelve " +
        "thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty",
      "red orange yellow green blue indigo violet cyan magenta teal maroon " +
        "navy olive coral amber jade ruby pearl onyx slate")
    def doc(conv: String, turn: Int, text: String, seq: Long) =
      graft.model.Model.ChangeEvent("I", conv, turn, "user", text, null,
        ts(seq), ts(seq), seq)
    val b0 = Seq(doc("a", 0, base(0), 1), doc("a", 1, base(1), 2),
      doc("b", 0, base(2), 3))
    val b1 = Seq(
      doc("c", 0, base(0).replace("upsilon", "phi"), 10), // near-dup of a#0
      doc("c", 1, "totally different words appear in this very sentence " +
        "so nothing here can possibly collide with any earlier document text", 11))
    val b2 = Seq(
      doc("d", 0, base(1), 20),                           // exact dup of a#1
      doc("d", 1, base(2).replace("slate", "black"), 21)) // near-dup of b#0

    def docsOf(df: org.apache.spark.sql.DataFrame) = df
      .select(concat_ws("#", col("conv_id"), col("turn_idx")).as("id"), col("text"))

    // the CDC-shaped corpus pipeline: transcripts arrive through the
    // table, the change feed streams them OUT, and each feed micro-batch
    // deduplicates against the persisted signature index — the corpus is
    // never re-scanned, and the feed's batch id is the arrival
    val decisions = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Boolean, Option[String])]
    def drain(): Unit = {
      val q = spark.readStream.format(classOf[IceliteChangeFeed].getName)
        .option("root", cfg.tablePath).load()
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, bid: Long) =>
          val docs = docsOf(df.filter(!col("deleted")))
          if (!docs.isEmpty)
            decisions ++= IncrementalDedup
              .dedupeBatch(spark, s"$root/idx", docs, bid, "id", "text")
              .collect()
              .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2),
                Option(r.getString(3))))
          ()
        }
        .option("checkpointLocation", s"$root/fck")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    Ingest.applyBatch(spark, cfg, spark.createDataset(b0).toDF(), 0); drain()
    Ingest.applyBatch(spark, cfg, spark.createDataset(b1).toDF(), 1); drain()
    Ingest.applyBatch(spark, cfg, spark.createDataset(b2).toDF(), 2); drain()

    // the right documents were dropped, each against its true original
    val dropped = decisions.filter(!_._3).map(d => (d._1, d._4.get)).toSet
    assert(dropped === Set(("c#0", "a#0"), ("d#0", "a#1"), ("d#1", "b#0")))

    // and the streamed decisions equal a batch replay of the same
    // arrival partitioning through a fresh index
    val want = IncrementalDedup.replay(spark, s"$root/idx2",
        Seq(b0, b1, b2).map(evs => docsOf(spark.createDataset(evs).toDF())),
        "id", "text")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2),
        Option(r.getString(3)))).toSet
    assert(decisions.toSet === want)
  }

  test("streaming incremental dedup: per-trigger batches equal the batch replay decisions") {
    // documents arrive as a stream; each micro-batch dedupes against the
    // persisted index inside foreachBatch (batchId = arrival) — the same
    // shape as the CDC ingest loop, and the decisions must be identical
    // to driving the same batches through IncrementalDedup.replay
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.IncrementalDedup
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val work = tmpDir("incstream")
    val mkDocs = (lo: Long, n: Int) =>
      (lo until lo + n).map(i => (i, if (i % 5 == 0)
        "the quick brown fox jumps over the lazy dog every day"
      else s"unique doc $i with its own words ${i * 7} and ${i * 13}"))
    val b0 = mkDocs(0L, 10)
    val b1 = mkDocs(100L, 10)
    val input = MemoryStream[(Long, String)]
    val decisions = scala.collection.mutable.ArrayBuffer.empty[
      (Long, Long, Boolean, Option[Long])]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", s"$work/ck")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, batchId: Long) =>
        val dec = IncrementalDedup.dedupeBatch(
          spark, s"$work/idx", df, batchId, "doc_id", "text")
        decisions ++= dec.collect().map(r => (r.getLong(0), r.getLong(1),
          r.getBoolean(2), if (r.isNullAt(3)) None else Some(r.getLong(3))))
        ()
      }.start()
    try {
      input.addData(b0: _*); q.processAllAvailable()
      input.addData(b1: _*); q.processAllAvailable()
    } finally q.stop()

    val batch = IncrementalDedup.replay(spark, s"${tmpDir("incbatch")}/idx",
        Seq(b0.toDF("doc_id", "text"), b1.toDF("doc_id", "text")),
        "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    assert(decisions.toSet === batch)
    // the repeated boilerplate text dedups across the trigger boundary:
    // every %5 doc after the first collapses onto doc 0 through the index
    val m = decisions.map(d => d._1 -> ((d._3, d._4))).toMap
    assert(m(0L) === ((true, None)))
    assert(m(5L) === ((false, Some(0L))), "in-trigger dup")
    assert(m(100L) === ((false, Some(0L))), "cross-trigger dup via the index")
    assert(m(101L) === ((true, None)), "unique docs stay kept")
  }

  test("skewed stream (hot conversations) converges to the same state") {
    val root = tmpDir("st3")
    val ch = gen(3000, hot = 40).cache()
    Changelog.writeBinlog(ch, s"$root/binlog", shards = 4, segSize = 750)
    val cfg = Ingest.Config(s"$root/t", s"$root/c", "w-st3", buckets = 4,
      opts = Icelite.Options(targetRowsPerTask = 100)) // force salting
    Ingest.runStream(spark, cfg, s"$root/binlog")
    val table = Icelite.load(spark, cfg.tablePath)
    assert(diffEmpty(table.read(), Gen.expectedFinalState(ch)))
    // the hot conversations really are hot (skew generator sanity)
    val top = ch.groupBy("conv_id").count().orderBy(col("count").desc)
      .limit(1).head().getLong(1)
    assert(top > 3000 / 40 * 3)
  }
}
