package cdcbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.plans.{Icelite, IceliteTable}
import graft.sources.{Changelog, Gen, IceliteChangeFeed}
import graft.streaming.Ingest

/** State shared by one benchmark run: the session, its work directory,
  * the seed, the span recorder and the operation/failure counts. */
final class Ctx(val spark: SparkSession, val work: String, val seed: Long,
    val seconds: Int, val trace: Boolean, val spans: Spans) {
  var attempted = 0L
  var failed = 0L
  val notes = ArrayBuffer.empty[String]

  /** One output check, counted as an attempted operation. */
  def check(what: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) { failed += 1; notes += s"check failed: $what $detail".trim }
  }

  def dir(name: String): String = new File(work, name).getAbsolutePath

  private val t0 = System.nanoTime()
  /** Progress line in the run's log, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[cdcbench ${(System.nanoTime() - t0) / 1e9}%7.2f s] $msg")
}

/** One ingest run (a replay or the tail) as the analysis needs it:
  * published segments with their due times, the engine's `_lineage`
  * rows, and each snapshot's commit time. */
final case class IngestRun(kind: String, events: Long, wallMs: Double,
    startMs: Long, segments: Seq[Map[String, Any]], lineage: Seq[Map[String, Any]],
    snapshots: Seq[Map[String, Any]], triggers: Seq[Map[String, Any]]) {
  def toMap: Map[String, Any] = Map("kind" -> kind, "events" -> events,
    "wall_ms" -> wallMs, "start_ms" -> startMs, "segments" -> segments,
    "lineage" -> lineage, "snapshots" -> snapshots, "triggers" -> triggers)
}

/** Everything a workload measured; [[Main]] serializes it. */
final class Result {
  val setup = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val ingest = ArrayBuffer.empty[IngestRun]
  val lookups = ArrayBuffer.empty[Map[String, Any]]
  val reads = ArrayBuffer.empty[Map[String, Any]]
  val drains = ArrayBuffer.empty[Map[String, Any]]
  val layout = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  var windowStartMs = 0L
  var windowEndMs = 0L
  var publishLateMs: Seq[Double] = Nil
}

object Workloads {
  /** Ingest options stay at the `IngestMain` defaults (32 buckets,
    * compactThreshold 8, unaligned delta writes, 8 files per trigger). */
  def config(root: String, writer: String): Ingest.Config =
    Ingest.Config(tablePath = s"$root/table", checkpointDir = s"$root/checkpoint",
      writerId = writer)

  val PayloadCols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts")

  /** Timed lookups of 10 keys per read probe, after [[WarmLookups]]
    * untimed ones. */
  val Lookups = 7
  val WarmLookups = 2

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e6)
  }

  def genConfig(events: Long, seed: Long): Gen.GenConfig =
    Gen.GenConfig(events = events, convs = events / 50, seed = seed)

  /** Key string exactly as [[Gen.changelog]] renders conversation `n`. */
  def keyOf(n: Long, convs: Long): String = {
    val w = math.max(8, convs.toString.length)
    "c" + String.format(s"%0${w}d", java.lang.Long.valueOf(n))
  }

  def canon(r: Row): String =
    PayloadCols.indices.map(i => String.valueOf(r.get(i))).mkString("|")

  def dirBytes(path: String): Long = {
    val root = new File(path)
    if (!root.exists()) 0L
    else {
      val it = Files.walk(root.toPath)
      try it.filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
        .mapToLong(p => Files.size(p)).sum()
      finally it.close()
    }
  }

  def deleteTree(path: String): Unit = {
    val root = new File(path)
    if (root.exists()) {
      val it = Files.walk(root.toPath)
      try it.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
      finally it.close()
    }
  }

  /** Writes `events` seeded change events as a binlog of `segs` segments
    * over `shards` shard files each; returns the segment seq ranges. */
  def writeBinlog(ctx: Ctx, dir: String, events: Long, shards: Int,
      segs: Int): Seq[(Long, Long)] = ctx.spans.span("sources", "writeBinlog") {
    val segSize = events / segs
    Changelog.writeBinlog(Gen.changelog(ctx.spark, genConfig(events, ctx.seed)),
      dir, shards, segSize)
    (0 until segs).map(j => (j * segSize, math.min(events, (j + 1) * segSize) - 1))
  }

  def segmentBatches(spark: SparkSession, dir: String, segs: Int): Seq[DataFrame] = {
    val all = Changelog.readBinlog(spark, dir)
    (0 until segs).map(j => all.filter(col("seg") === j))
  }

  /** The engine's own record of an ingest: `_lineage` rows and snapshot
    * commit times (read after the timed section). */
  def engineRecord(ctx: Ctx, cfg: Ingest.Config): (Seq[Map[String, Any]], Seq[Map[String, Any]]) = {
    val lineage = Ingest.lineage(ctx.spark, cfg).collect().toSeq.map { r =>
      Map[String, Any]("batch_id" -> r.getLong(0), "shard" -> r.getInt(1),
        "rows" -> r.getLong(2), "start_seq" -> r.getLong(3), "end_seq" -> r.getLong(4),
        "snapshot_id" -> r.getLong(5), "wall_ms" -> r.getLong(6))
    }
    val snaps = Icelite.load(ctx.spark, cfg.tablePath).history().map { s =>
      Map[String, Any]("id" -> s.snapshotId, "committed_ms" -> s.committedAtMs,
        "batch_id" -> s.lastBatchId,
        "compacted" -> s.summary.getOrElse("buckets.compacted", "0").toInt)
    }
    (lineage, snaps)
  }

  /** Replays a pre-written binlog, one batch per segment, onto a fresh
    * table — the catch-up path. Every file of the binlog is due when the
    * replay starts, so freshness is sampled per (segment, shard) file. */
  def replay(ctx: Ctx, root: String, binlog: String, ranges: Seq[(Long, Long)],
      shards: Int): IngestRun = {
    val cfg = config(root, "bench")
    val batches = segmentBatches(ctx.spark, binlog, ranges.size)
    val startMs = System.currentTimeMillis()
    val (_, ms) = timed(ctx.spans.span("streaming", "Ingest.replay") {
      Ingest.replay(ctx.spark, cfg, batches)
    })
    ctx.attempted += ranges.size
    ctx.log(f"replay of ${ranges.size} batches: $ms%.0f ms")
    val (lineage, snaps) = engineRecord(ctx, cfg)
    val files = for (((lo, hi), j) <- ranges.zipWithIndex; k <- 0 until shards)
      yield Map[String, Any]("seg" -> s"$j/$k", "lo" -> lo, "hi" -> hi, "shards" -> Seq(k),
        "due_ms" -> startMs)
    IngestRun("replay", ranges.last._2 + 1, ms, startMs, files, lineage, snaps, Nil)
  }

  // ------------------------------------------------------------ read probe

  /** Seeded lookup key sets: 8 keys from the key space and 2 beyond it
    * (always absent). */
  def lookupKeys(seed: Long, convs: Long): Iterator[Seq[String]] = {
    val rnd = new scala.util.Random(seed * 7919L + 17L)
    Iterator.continually(
      Seq.fill(8)(keyOf((rnd.nextDouble() * convs).toLong, convs)) ++
        Seq.fill(2)(keyOf(convs + (rnd.nextDouble() * convs).toLong, convs)))
  }

  def lookup(ctx: Ctx, table: IceliteTable, keys: Seq[String]): (Array[Row], Double) =
    timed(ctx.spans.span("plans", "IceliteTable.lookup") {
      table.lookup(keys).select(PayloadCols.map(col): _*).collect()
    })

  /** A full merge-on-read scan that consumes every row and column: its
    * result is the table's [[fingerprint]], checked against the oracle's. */
  def fullRead(ctx: Ctx, table: IceliteTable): ((Long, java.math.BigDecimal), Double) =
    timed(ctx.spans.span("operators", "IceliteTable.read") { fingerprint(table.read()) })

  /** Drains the change feed from snapshot 0 with `AvailableNow` into a
    * `noop` sink; returns (rows drained, wall ms). */
  def feedDrain(ctx: Ctx, root: String, ckpt: String): (Long, Double) = {
    deleteTree(ckpt)
    val (q, ms) = timed(ctx.spans.span("sources", "IceliteChangeFeed.drain") {
      val q = ctx.spark.readStream.format(classOf[IceliteChangeFeed].getName)
        .option("root", s"$root/table").load()
        .writeStream.format("noop").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q
    })
    (q.recentProgress.map(_.numInputRows).sum, ms)
  }

  /** The same range as one drain, read through `changesBetween` into a
    * `noop` sink: the reference cost the feed adds its overhead to. */
  def changesNoop(ctx: Ctx, table: IceliteTable): Double = timed(
    ctx.spans.span("plans", "IceliteTable.changesBetween") {
      table.changesBetween(0L, table.publishedSnapshot().snapshotId)
        .write.format("noop").mode("overwrite").save()
    })._2

  /** The LWW oracle's answers for a run's seeded input, computed before
    * the timed section: the final state's row count and [[fingerprint]],
    * and each timed lookup's keys with their expected rows. */
  final case class Oracle(rows: Long, hash: java.math.BigDecimal,
      lookups: Seq[(Seq[String], Seq[String])])

  def oracle(ctx: Ctx, events: Long, convs: Long): Oracle = {
    val changes = Gen.changelog(ctx.spark, genConfig(events, ctx.seed))
    val (rows, hash) = fingerprint(Gen.expectedFinalState(changes))
    val keys = lookupKeys(ctx.seed, convs).take(Lookups).toSeq
    // LWW is per key, so the lookup keys' final rows are the final state
    // of just their changes
    val byKey = Gen.expectedFinalState(changes.filter(col("conv_id").isInCollection(keys.flatten)))
      .select(PayloadCols.map(col): _*).collect().toSeq.groupBy(_.getString(0))
    ctx.log("oracle")
    Oracle(rows, hash,
      keys.map(ks => ks -> ks.distinct.flatMap(k => byKey.getOrElse(k, Nil)).map(canon).sorted))
  }

  /** Untimed warm-up lookups (keys from another seed): a lookup's
    * latency falls by half or more over its first few calls in a JVM.
    * Adds its time to `warmup_s`. */
  def warmLookups(ctx: Ctx, res: Result, root: String, convs: Long): Unit = {
    val w0 = System.nanoTime()
    val table = Icelite.load(ctx.spark, s"$root/table")
    lookupKeys(ctx.seed + 1, convs).take(WarmLookups)
      .foreach(ks => table.lookup(ks).collect())
    res.setup("warmup_s") = res.setup.getOrElse("warmup_s", 0.0) + secs(w0)
  }

  /** Closed-loop reads on one table by one client: [[Lookups]] lookups of
    * 10 seeded keys, then a full read and a feed drain (plus, traced, the
    * drain's `changesBetween` reference). Outputs are kept and checked
    * after the timed section. */
  def readProbe(ctx: Ctx, res: Result, root: String, want: Oracle): Seq[Array[Row]] = {
    val table = Icelite.load(ctx.spark, s"$root/table")
    val got = want.lookups.map { case (ks, _) =>
      val (rows, ms) = lookup(ctx, table, ks)
      ctx.attempted += 1
      res.lookups += Map("ms" -> ms, "rows" -> rows.length)
      rows
    }
    val ((n, hash), readMs) = fullRead(ctx, table)
    ctx.attempted += 1
    res.reads += Map("ms" -> readMs, "rows" -> n, "hash" -> hash.toString)
    val (fed, drainMs) = feedDrain(ctx, root, s"$root/feed-ck")
    val noopMs = if (ctx.trace) changesNoop(ctx, table) else 0.0
    ctx.attempted += 1
    res.drains += Map("ms" -> drainMs, "rows" -> fed, "noop_ms" -> noopMs)
    ctx.log("reads: lookups " +
      res.lookups.map(l => f"${l("ms").asInstanceOf[Double]}%.0f").mkString(" ") +
      f" ms, read $readMs%.0f ms, drain $drainMs%.0f ms")
    got
  }

  /** (row count, order-free fingerprint) of a payload-column DataFrame:
    * the sum of a per-row hash, with nulls rendered distinctly so a value
    * cannot move between columns unseen. */
  def fingerprint(df: DataFrame): (Long, java.math.BigDecimal) = {
    val h = xxhash64(PayloadCols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)
    val r = df.select(PayloadCols.map(col): _*)
      .agg(count(lit(1)), sum(h.cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  /** Untimed output checks against the [[Oracle]]: the full read (the
    * whole table), every lookup, and the drained row count. */
  def checkOutputs(ctx: Ctx, res: Result, root: String, want: Oracle,
      got: Seq[Array[Row]]): Unit = {
    want.lookups.zip(got).foreach { case ((ks, w), rows) =>
      ctx.check("lookup", rows.map(canon).toSeq.sorted == w,
        s"keys=${ks.take(2).mkString(",")}… got ${rows.length} want ${w.size}")
    }
    res.reads.foreach(r => ctx.check("full read",
      r("rows") == want.rows && r("hash") == want.hash.toString,
      s"${r("rows")} rows vs oracle ${want.rows}"))
    val table = Icelite.load(ctx.spark, s"$root/table")
    val manifestRows = table.publishedSnapshot().files.map(f => math.max(f.rows, 0L)).sum
    res.drains.foreach(d => ctx.check("feed drain", d("rows") == manifestRows,
      s"${d("rows")} vs manifest $manifestRows"))
  }

  def layoutOf(ctx: Ctx, res: Result, root: String, binlog: String, binlogEvents: Long): Unit = {
    val table = Icelite.load(ctx.spark, s"$root/table")
    val (snap, snapMs) = timed(ctx.spans.span("plans", "IceliteTable.snapshot") { table.snapshot() })
    val perBucket = table.filesDf().filter(col("kind") === "delta")
      .groupBy("bucket").count().agg(max("count")).head()
    val tableBytes = snap.files.map(f => new File(s"$root/table/${f.path}").length()).sum
    res.layout ++= Seq("snapshot_ms" -> snapMs, "versions" -> table.history().size,
      "delta_files_per_bucket_max" -> (if (perBucket.isNullAt(0)) 0L else perBucket.getLong(0)),
      "table_bytes" -> tableBytes, "binlog_bytes" -> dirBytes(binlog),
      "binlog_events" -> binlogEvents)
  }

  // ------------------------------------------------------------ workloads

  /** Closed-loop catch-up: replays of a pre-written binlog (uniform keys,
    * 4 segments, so no compaction) onto fresh tables within `seconds`,
    * then the read probe on the last table. The oracle is computed during
    * warm-up. */
  object Backfill {
    val Events = 200000L
    val Shards = 25 // 100 binlog files, one freshness sample each
    val Segs = 4

    def run(ctx: Ctx, res: Result): Unit = {
      val binlog = ctx.dir("backfill-binlog")
      val (ranges, binlogMs) = timed(writeBinlog(ctx, binlog, Events, Shards, Segs))
      res.setup("binlog_s") = binlogMs / 1e3
      val convs = Events / 50
      // warm-up: replay the first segment onto a scratch table
      val (want, warmMs) = timed {
        val warm = ctx.dir("warmup")
        Ingest.replay(ctx.spark, config(warm, "warmup"), segmentBatches(ctx.spark, binlog, 1))
        deleteTree(warm)
        ctx.log("warm replay")
        oracle(ctx, Events, convs)
      }
      res.setup("warmup_s") = warmMs / 1e3
      ctx.log(f"setup ${res.setup}")

      val t0 = System.nanoTime()
      res.windowStartMs = System.currentTimeMillis()
      var i = 0
      var last = ""
      var lastS = 0.0
      // replay at least once, then again while another replay of the
      // last one's length fits in `seconds`
      while (i < 1 || secs(t0) + lastS <= ctx.seconds) {
        val root = ctx.dir(s"backfill-$i")
        val r0 = System.nanoTime()
        res.ingest += replay(ctx, root, binlog, ranges, Shards)
        lastS = secs(r0)
        if (last.nonEmpty) deleteTree(last)
        last = root
        i += 1
      }
      warmLookups(ctx, res, last, convs)
      val got = readProbe(ctx, res, last, want)
      res.windowEndMs = System.currentTimeMillis()

      ctx.log("timed section done; checking")
      layoutOf(ctx, res, last, binlog, Events)
      checkOutputs(ctx, res, last, want, got)
      ctx.log("checks done")
    }
  }

  /** Open-loop CDC tail. Set-up stages every segment; a generator thread
    * then publishes one staged segment every [[PeriodMs]] by atomic
    * directory renames, regardless of how far the engine has got, while
    * `Ingest.runStream` tails the binlog with a 2 s processing-time
    * trigger. The first [[WarmSegs]] segments make two untimed warm-up
    * triggers. The read probe runs on the tailed table afterwards. */
  object Tail {
    // 4 segments/s of 500 events = 2,000 events/s. The stream's source
    // lists every published file on every trigger, so fewer, larger
    // segments keep a warm trigger (about 1.5 s on a 4-core host) inside
    // the 2 s interval; 16.7 segments/s of 120 events did not
    val SegEvents = 500L
    val Shards = 1
    val PeriodMs = 250L
    val WarmSegs = 4
    val TriggerMs = 2000L // IngestMain's default interval
    /** High enough that the engine, not the cap, sets freshness. */
    val MaxFilesPerTrigger = 1024

    def run(ctx: Ctx, res: Result): Unit = {
      val timedSegs = (ctx.seconds * 1000 / PeriodMs).toInt
      val segs = WarmSegs + timedSegs
      val events = segs * SegEvents
      val staging = ctx.dir("tail-staging")
      val binlog = ctx.dir("tail-binlog")
      val (ranges, binlogMs) = timed(writeBinlog(ctx, staging, events, Shards, segs))
      res.setup("binlog_s") = binlogMs / 1e3
      val convs = events / 50
      val root = ctx.dir("tail")
      val cfg = config(root, "bench").copy(maxFilesPerTrigger = MaxFilesPerTrigger)
      val warm0 = System.nanoTime()
      new File(binlog).mkdirs()
      Changelog.writeSchemaSidecar(binlog, Changelog.readSchemaSidecar(staging).get)
      def publish(j: Int): Unit = {
        val now = System.currentTimeMillis()
        (0 until Shards).foreach { k =>
          val src = new File(staging, s"shard=$k/seg=$j")
          if (src.isDirectory) {
            Option(src.listFiles()).toSeq.flatten.foreach(_.setLastModified(now))
            val dst = new File(binlog, s"shard=$k")
            dst.mkdirs()
            Files.move(src.toPath, new File(dst, s"seg=$j").toPath,
              StandardCopyOption.ATOMIC_MOVE)
          }
        }
      }

      var table: IceliteTable = null
      var seenId = 0L
      var visible = 0L
      // events visible so far: Σ batch rows over new commits, polled from
      // snapshot metadata (no Spark job)
      def poll(): Long = {
        if (table == null && Icelite.exists(cfg.tablePath))
          table = Icelite.load(ctx.spark, cfg.tablePath)
        if (table != null) {
          val tip = table.snapshot().snapshotId
          while (seenId < tip) {
            seenId += 1
            visible += table.snapshotAt(seenId).summary.getOrElse("batch.rows", "0").toLong
          }
        }
        visible
      }
      def awaitVisible(n: Long): Boolean = {
        val end = System.currentTimeMillis() + 60000L
        while (poll() < n && System.currentTimeMillis() < end) Thread.sleep(20)
        poll() >= n
      }

      val streamErr = new Array[Throwable](1)
      val streamer = new Thread(() =>
        try ctx.spans.span("streaming", "Ingest.runStream") {
          Ingest.runStream(ctx.spark, cfg, binlog, Trigger.ProcessingTime(TriggerMs))
        } catch { case e: Throwable => streamErr(0) = e }, "cdcbench-tail")
      // two untimed warm-up triggers, half the warm-up segments each
      (0 until WarmSegs / 2).foreach(publish)
      streamer.start()
      require(awaitVisible(WarmSegs / 2 * SegEvents),
        s"tail warm-up segments not visible: ${streamErr(0)}")
      (WarmSegs / 2 until WarmSegs).foreach(publish)
      require(awaitVisible(WarmSegs * SegEvents),
        s"tail warm-up segments not visible: ${streamErr(0)}")
      // the stream idles meanwhile: nothing new is published. A lookup
      // also warms code the triggers share
      warmLookups(ctx, res, root, convs)
      val want = oracle(ctx, events, convs)
      res.setup("warmup_s") = secs(warm0)
      ctx.log(f"setup ${res.setup}")

      // start the schedule just after a trigger boundary (processing-time
      // triggers fire on multiples of the interval while they keep up), so
      // every run meets the trigger grid at the same phase
      val startMs = {
        val now = System.currentTimeMillis()
        now - now % TriggerMs + TriggerMs + 100
      }
      Thread.sleep(startMs - System.currentTimeMillis())
      res.windowStartMs = startMs
      val first = WarmSegs
      val due = (0 until timedSegs).map(i => startMs + PeriodMs * (i + 1))
      val published = new Array[Long](timedSegs)
      val gen = new Thread(() => (0 until timedSegs).foreach { i =>
        val wait = due(i) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        publish(first + i)
        published(i) = System.currentTimeMillis()
      }, "cdcbench-generator")
      gen.start()
      gen.join()
      val drained = awaitVisible(events)
      ctx.check("tail drained", drained, s"${poll()} of $events events visible")
      val query = ctx.spark.streams.active.find(_.name == s"graft-ingest-${cfg.writerId}")
      // the last trigger reports its progress just after its commit
      val lastBatch = Option(table).map(_.snapshot().lastBatchId).getOrElse(-1L)
      val progressEnd = System.currentTimeMillis() + 10000L
      while (query.exists(q => Option(q.lastProgress).forall(_.batchId < lastBatch)) &&
          System.currentTimeMillis() < progressEnd) Thread.sleep(20)
      query.foreach(_.stop())
      streamer.join()
      val ingestMs = System.currentTimeMillis() - startMs
      Option(streamErr(0)).foreach(e => ctx.check("tail stream", ok = false, e.toString))
      ctx.log(f"tail window done in $ingestMs ms")

      val (lineage, snaps) = engineRecord(ctx, cfg)
      val segments = (0 until timedSegs).map { i =>
        val (lo, hi) = ranges(first + i)
        Map[String, Any]("seg" -> (first + i), "lo" -> lo, "hi" -> hi,
          "shards" -> (0 until Shards).filter(k =>
            new File(binlog, s"shard=$k/seg=${first + i}").isDirectory),
          "due_ms" -> due(i), "published_ms" -> published(i))
      }
      ctx.attempted += timedSegs
      res.publishLateMs = (0 until timedSegs).map(i => (published(i) - due(i)).toDouble)
      res.ingest += IngestRun("tail", timedSegs * SegEvents, ingestMs.toDouble, startMs,
        segments, lineage, snaps, query.toSeq.flatMap(_.recentProgress).map { p =>
          Map[String, Any]("batch_id" -> p.batchId,
            "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
            "trigger_ms" -> Option(p.durationMs.get("triggerExecution"))
              .map(_.longValue).getOrElse(0L),
            "rows" -> p.numInputRows)
        })

      val got = readProbe(ctx, res, root, want)
      res.windowEndMs = System.currentTimeMillis()

      ctx.log("timed section done; checking")
      layoutOf(ctx, res, root, binlog, events)
      checkOutputs(ctx, res, root, want, got)
      ctx.log("checks done")
    }
  }
}
