package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.model.Model
import graft.plans.{Icelite, IceliteTable}
import graft.sources.Changelog

/** The ingest job: binlog → LWW → merge, batch-replay or streaming.
  *
  * Spark-first restatement of the reference's job container
  * (`core/.../job/JobContainer.java:96-182`: init → split → schedule →
  * run → stats): the micro-batch is the unit of work, the checkpoint dir
  * is the offset WAL (≈ `ShardCheckpoint`,
  * `otsstreamreader/.../model/ShardCheckpoint.java:8-53`), and per-batch
  * lineage rows replace the Communication counters
  * (`core/.../communication/CommunicationTool.java:16-50`).
  *
  * Exactly-once = checkpointed offsets × idempotent snapshot commit keyed
  * by (writerId, batchId): a replayed micro-batch is a metadata no-op.
  */
object Ingest {

  case class Config(
      tablePath: String,
      checkpointDir: String,
      writerId: String,
      buckets: Int = 32,
      opts: Icelite.Options = Icelite.Options(),
      maxFilesPerTrigger: Int = 8,
      /** route malformed change rows here instead of failing the batch —
        * the reference's dirty-record collector (F8, `core/.../statistics/
        * plugin/task/StdoutPluginCollector.java:21-60`). The dirty GATE
        * runs whenever this OR either error limit is set; with limits but
        * no sink, under-limit dirty rows are dropped with a logged
        * sample count. All three unset = gate off (hot path free). */
      deadLetterDir: Option[String] = None,
      /** fail the batch if dirty/total exceeds this ratio — the error-limit
        * gate (F9, `core/.../util/ErrorRecordChecker.java:18-81`). */
      errorPctLimit: Double = 1.0,
      /** fail the batch if the absolute dirty-record count exceeds this;
        * checked BEFORE the percentage — the record limit wins, matching
        * the reference (`ErrorRecordChecker.java:18-81`). None = off. */
      errorRecordLimit: Option[Long] = None,
      /** OBSERVE each batch's dirty rows (bounded driver-side sample) —
        * the reference's TaskPluginCollector reporting seam
        * ([[StdoutDirtyCollector]] / [[HttpDirtyCollector]]). Reporting
        * only: the gate's drop-vs-fail and the dead-letter sink are
        * unchanged, and a collector failure never fails the batch. */
      dirtyCollector: Option[DirtyCollector] = None,
      /** mirror per-batch StreamingQueryProgress JSON here (metrics). */
      metricsDir: Option[String] = None,
      /** persist the micro-batch across applyBatch's passes (gate, stats,
        * merge). Default FALSE: the engine's batches are parquet-backed
        * binlog reads, and re-scanning columnar parquet (riding the page
        * cache) measured ~1.6× faster than materializing a row cache
        * (A/B at 10^7 events: 3.7 s vs 6.0 s per replay — the cache write
        * is itself a full DRAM pass). Set true for expensive or
        * non-rescannable sources (JDBC pulls, computed batches). NOTE:
        * [[runStream]] forces true when `metricsDir` is set — an uncached
        * batch is scanned once per pass, which inflates the progress
        * report's numInputRows (each pass re-reads the source). */
      cacheBatch: Boolean = false,
      /** transform chain applied to every micro-batch BEFORE the dirty
        * gate and merge — the reference's transformer position on the
        * record path (reader → transform → writer,
        * `TransformerExchanger.java:53-127`); malformed rows a transform
        * produces are caught by the gate like any other. Name a chain
        * declaratively via IngestMain `transforms=` / the
        * [[graft.operators.TransformerRegistry]]. */
      transform: Option[DataFrame => DataFrame] = None,
      /** run once before/after the job — the reference's pre/post handlers
        * and preSql/postSql (F12 `JobContainer.preHandle/postHandle`,
        * W4 `CommonRdbmsWriter.java:97-137`): e.g. `s => s.sql(...)`. */
      preHook: Option[SparkSession => Unit] = None,
      postHook: Option[SparkSession => Unit] = None,
      /** hang monitor (F11, reference `TaskMonitor.java:16-94`): stop the
        * stream if one trigger is stuck making no progress for this long;
        * [[runStream]] then throws so a supervisor restarts from the
        * checkpoint (safe — exactly-once commit gate). None = off. */
      stallTimeoutMs: Option[Long] = None)

  class ErrorLimitExceeded(val dirty: Long, val total: Long, detail: String)
    extends RuntimeException(s"dirty records $dirty/$total $detail")

  /** A change row the merge cannot key or order — dirty by the same
    * definition the reference uses (unparseable / missing required fields,
    * `TransformerExchanger.java:110-120`). */
  def dirtyCond: org.apache.spark.sql.Column =
    col("op").isNull || !col("op").isin("I", "U", "D") ||
      col("conv_id").isNull || col("turn_idx").isNull ||
      col("event_ts").isNull || col("seq").isNull

  /** Columns of the batch that are not part of the change event. */
  private val sourceMeta = Seq("shard", "seg")

  /** Ensure the table exists (payload schema = batch payload). */
  def ensureTable(spark: SparkSession, cfg: Config, batch: DataFrame): IceliteTable =
    if (Icelite.exists(cfg.tablePath)) Icelite.load(spark, cfg.tablePath)
    else {
      val payload = org.apache.spark.sql.types.StructType(
        batch.schema.fields.filterNot(f =>
          Seq("op", "event_ts", "seq").contains(f.name) || sourceMeta.contains(f.name)))
      Icelite.create(spark, cfg.tablePath, payload, cfg.buckets)
    }

  /** Apply one change batch: merge + per-shard lineage row.
    * Lineage satisfies the north rule's "per-partition lineage (source
    * offset range → snapshot id)": one row per source shard per batch with
    * its seq range, plus rows/s — the reference's per-channel speed report
    * (`TaskGroupContainer.java:253-266`) as a queryable table.
    */
  /** Batches per `_lineage/` bucket directory: one file per batch lands in
    * `r=<batchId rounded down to this span>/`, so a long ProcessingTime
    * tail at small triggers (10^5+ batches) never piles every file into
    * one directory listing — and [[rollupLineage]] periodically folds
    * whole spans into parquet. */
  private[streaming] val LineageSpan = 10000L

  private def lineageFile(cfg: Config, batchId: Long, snapshotId: Long) =
    graft.plans.Hfs.path(cfg.tablePath, "_lineage",
      s"r=${batchId / LineageSpan * LineageSpan}",
      f"batch-$batchId%09d-$snapshotId%09d.jsonl")

  /** Pre-bucketing layout — probed so a checkpoint replay of the last
    * batch against a table written before the `r=` subdirs does not
    * double-write its lineage row. */
  private def legacyLineageFile(cfg: Config, batchId: Long, snapshotId: Long) =
    graft.plans.Hfs.path(cfg.tablePath, "_lineage",
      f"batch-$batchId%09d-$snapshotId%09d.jsonl")

  private[streaming] def lineageWritten(cfg: Config, batchId: Long,
      snapshotId: Long): Boolean =
    graft.plans.Hfs.isFile(lineageFile(cfg, batchId, snapshotId)) ||
      graft.plans.Hfs.isFile(legacyLineageFile(cfg, batchId, snapshotId))

  private def writeLineage(cfg: Config, rows: Seq[LineageRow], batchId: Long,
      snapshotId: Long): Unit = {
    // driver-side JSONL (via the scheme-aware Hfs — rides the table root's
    // filesystem): lineage is a handful of rows per batch, and a Spark
    // parquet job just to persist them costs a whole fixed-overhead job
    // per micro-batch (visible in scaling runs)
    val f = lineageFile(cfg, batchId, snapshotId)
    graft.plans.Hfs.mkdirs(f.getParent)
    val json = rows.map(r =>
      s"""{"batch_id":${r.batch_id},"shard":${r.shard},"rows":${r.rows},""" +
      s""""start_seq":${r.start_seq},"end_seq":${r.end_seq},""" +
      s""""snapshot_id":${r.snapshot_id},"wall_ms":${r.wall_ms}}""").mkString("", "\n", "\n")
    graft.plans.Hfs.write(f, json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  def applyBatch(spark: SparkSession, cfg: Config, batchIn: DataFrame, batchId: Long): Icelite.MergeStats = {
    // wallMs reported downstream (lineage rows, scaling statistics) covers
    // the batch apply through the snapshot commit — gate (incl. any
    // dead-letter write), fused stats pass, merge, commit — not just the
    // merge: per-trigger cost is what deployment math needs. The lineage
    // write that RECORDS the value necessarily falls outside it (a few ms
    // of driver-side JSONL).
    val tApply = System.nanoTime()
    // Idempotence pre-check BEFORE any side effect: a replayed micro-batch
    // (checkpoint recovery) must not re-append dead-letter rows or rerun
    // stats. The one thing a replay may do is backfill the lineage file if
    // the process died between the snapshot commit and the lineage write.
    if (Icelite.exists(cfg.tablePath)) {
      val snap = Icelite.load(spark, cfg.tablePath).snapshot()
      if (cfg.writerId == snap.writerId && batchId <= snap.lastBatchId) {
        if (batchId == snap.lastBatchId &&
            !lineageWritten(cfg, batchId, snap.snapshotId)) {
          val n = batchIn.count()
          writeLineage(cfg, Seq(LineageRow(batchId, -1, n, -1L, -1L,
            snap.snapshotId, 0L)), batchId, snap.snapshotId)
        }
        return Icelite.MergeStats(snap.snapshotId, batchId, skipped = true,
          0, 0, 0, 0, 0, 0)
      }
    }
    val transformed = cfg.transform.map(_(batchIn)).getOrElse(batchIn)
    // Cache the micro-batch once (when configured): the gate, the
    // shard-stats aggregate and the merge each run an action over it.
    // See Config.cacheBatch for when re-scanning beats caching.
    val src =
      if (cfg.cacheBatch)
        transformed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else transformed
    try {
      // dirty-record gate: split off malformed rows BEFORE the merge; one
      // counting aggregate only when the gate is configured (hot path
      // free). The gate is ON whenever a dead-letter sink OR either error
      // limit is configured — limits must fire even without a sink
      // (reference: ErrorRecordChecker runs regardless of the collector).
      val gateOn = cfg.deadLetterDir.isDefined || cfg.dirtyCollector.isDefined ||
        cfg.errorRecordLimit.isDefined || cfg.errorPctLimit < 1.0
      val batch = if (!gateOn) src else {
        val flagged = src.withColumn("_dirty", dirtyCond)
        val Array(total, dirty) = flagged.agg(
          count(lit(1)), count_if(col("_dirty"))).head().toSeq
          .map(v => v.asInstanceOf[Long]).toArray
        if (dirty > 0) {
          // idempotent dead-letter write: one `_batch_id=<id>` partition
          // dir per batch, overwritten on checkpoint retry — a batch that
          // fails AFTER this write (limit trip, crash during merge) and
          // replays cannot duplicate its dead-letter rows
          cfg.deadLetterDir.foreach { dl =>
            flagged.filter(col("_dirty")).drop("_dirty")
              .write.mode("overwrite")
              .parquet(s"${dl.stripSuffix("/")}/_batch_id=$batchId")
          }
          // reporting seam: best-effort by contract — a collector error
          // (endpoint down, render bug) must never fail the batch
          cfg.dirtyCollector.foreach { c =>
            try c.collect(batchId,
              flagged.filter(col("_dirty")).drop("_dirty"), dirty, total)
            catch {
              case e: Exception => System.err.println(
                s"[ingest] batch $batchId: dirty collector failed " +
                  s"(ignored): ${e.getMessage}")
            }
          }
          cfg.errorRecordLimit.foreach { lim =>
            if (dirty > lim) // record limit wins over the percentage
              throw new ErrorLimitExceeded(dirty, total, s"over record limit $lim")
          }
          if (total > 0 && dirty.toDouble / total > cfg.errorPctLimit)
            throw new ErrorLimitExceeded(dirty, total,
              f"= ${dirty.toDouble / total}%.4f over pct limit ${cfg.errorPctLimit}%.4f")
          if (cfg.deadLetterDir.isEmpty)
            System.err.println(s"[ingest] batch $batchId: $dirty/$total dirty rows " +
              "DROPPED (no deadLetterDir configured; under the error limits)")
        }
        flagged.filter(!col("_dirty")).drop("_dirty")
      }
      val table = ensureTable(spark, cfg, batch)
      val hasShard = batch.columns.contains("shard")
      // ONE fused aggregation computes both the per-shard offset ranges
      // (lineage) and the per-bucket stats the merge needs (salt slots,
      // compaction choice, manifest seq ranges, and how many binlog
      // (shard, seg) sources feed each bucket — which picks the delta
      // write path): group by (shard, seg, bucket), collect the tiny cross
      // product, roll both views up on the driver.
      val buckets = table.snapshot().buckets
      def meta(c: String) = // coalesce: shard/seg are nullable in binlogSchema
        (if (batch.columns.contains(c)) coalesce(col(c), lit(-1)) else lit(-1)).as(c)
      val fused = batch.groupBy(meta("shard"), meta("seg"), Icelite.bucketOf(buckets).as("_b"))
        .agg(
          count(lit(1)).as("n"),
          count_if(col("op") === lit("D")).as("d"),
          min(col("seq")).as("lo"),
          max(col("seq")).as("hi")).collect()
      val bucketStats: Map[Int, Icelite.BucketStats] = fused
        .groupBy(_.getInt(2)).map { case (b, rs) =>
          // one row per (shard, seg) source of this bucket; a null shard
          // (-1) is an unknown source
          val sources = if (!hasShard || rs.exists(_.getInt(0) < 0)) 0 else rs.length
          b -> Icelite.BucketStats(rs.map(_.getLong(3)).sum, rs.map(_.getLong(4)).sum,
            rs.map(_.getLong(5)).min, rs.map(_.getLong(6)).max, sources)
        }
      val shardStats: Seq[(Int, Long, Long, Long)] =
        if (hasShard)
          fused.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (s, rs) =>
            (s, rs.map(_.getLong(3)).sum, rs.map(_.getLong(5)).min, rs.map(_.getLong(6)).max)
          }
        else Seq.empty
      val stats0 = table.merge(batch.drop(sourceMeta: _*), batchId, cfg.writerId, cfg.opts,
        precomputedStats = Some(bucketStats))
      val stats =
        if (stats0.skipped) stats0
        else stats0.copy(wallMs = (System.nanoTime() - tApply) / 1000000)
      if (!stats.skipped) {
        val rows =
          if (shardStats.nonEmpty)
            shardStats.map { case (s, n, lo, hi) =>
              LineageRow(batchId, s, n, lo, hi, stats.snapshotId, stats.wallMs)
            }
          else Seq(LineageRow(batchId, -1, stats.inputRows, -1L, -1L,
            stats.snapshotId, stats.wallMs))
        writeLineage(cfg, rows, batchId, stats.snapshotId)
      }
      stats
    } finally src.unpersist()
  }

  case class LineageRow(batch_id: Long, shard: Int, rows: Long,
      start_seq: Long, end_seq: Long, snapshot_id: Long, wall_ms: Long)

  private val lineageDdl =
    "batch_id LONG, shard INT, rows LONG, start_seq LONG, end_seq LONG, " +
      "snapshot_id LONG, wall_ms LONG"

  /** Read the lineage/metrics table: live per-batch JSONL (current `r=`
    * buckets and the legacy flat layout — recursive lookup covers both)
    * unioned with any parquet roll-ups ([[rollupLineage]]). */
  def lineage(spark: SparkSession, cfg: Config): DataFrame = {
    val live = spark.read.schema(lineageDdl)
      .option("recursiveFileLookup", "true")
      .json(s"${cfg.tablePath}/_lineage")
    val rollDir = graft.plans.Hfs.path(cfg.tablePath, "_lineage_rollup")
    if (graft.plans.Hfs.isDir(rollDir))
      spark.read.schema(lineageDdl).parquet(rollDir.toString).unionByName(live)
    else live
  }

  /** Maintenance: fold accumulated per-batch lineage JSONL into parquet —
    * the unbounded-file-growth fix for long ProcessingTime tails (one
    * JSONL per trigger). Rolls every batch file EXCEPT the newest batch's
    * (the idempotence backfill probe checks for its existence on
    * checkpoint replay) and any already covered by a previous roll (crash
    * between the parquet append and the JSONL delete leaves known
    * duplicates, removed without re-rolling). [[lineage]] reads roll-up +
    * live transparently; a read racing an in-flight roll can transiently
    * see a rolling batch twice — schedule rolls like compaction, not
    * against live readers. Returns the number of files rolled. */
  def rollupLineage(spark: SparkSession, cfg: Config): Int = {
    import graft.plans.Hfs
    val dir = Hfs.path(cfg.tablePath, "_lineage")
    if (!Hfs.isDir(dir)) return 0
    val files = Hfs.listFilesRecursive(dir).map(_.getPath).filter { p =>
      p.getName.startsWith("batch-") && p.getName.endsWith(".jsonl")
    }.toList
    def batchOf(p: org.apache.hadoop.fs.Path): Long =
      p.getName.stripPrefix("batch-").takeWhile(_.isDigit).toLong
    if (files.isEmpty) return 0
    val maxBatch = files.map(batchOf).max
    val rollDir = Hfs.path(cfg.tablePath, "_lineage_rollup")
    val rolledMax: Long =
      if (Hfs.isDir(rollDir))
        spark.read.schema(lineageDdl).parquet(rollDir.toString)
          .agg(coalesce(max(col("batch_id")), lit(-1L))).head().getLong(0)
      else -1L
    val (stale, fresh) = files.partition(p => batchOf(p) <= rolledMax)
    val roll = fresh.filter(p => batchOf(p) < maxBatch)
    if (roll.nonEmpty) {
      spark.read.schema(lineageDdl).json(roll.map(_.toString): _*)
        .coalesce(1).write.mode("append").parquet(rollDir.toString)
    }
    (stale ++ roll).foreach { p =>
      Hfs.delete(p)
      Hfs.pruneEmptyDirsUpTo(p.getParent, dir)
    }
    roll.size
  }

  /** Pre-flight validation without moving data — the reference's dryRun /
    * preCheck path (`core/.../job/JobContainer.java:184-213`: validate
    * connectivity, split key, SQL grammar). Checks: the binlog exists and
    * carries the required change columns; an existing table's schema can
    * evolve to the batch payload (add/widen only); an existing checkpoint
    * belongs to this writer. Returns the passed checks; throws
    * IllegalArgumentException on the first failure. */
  def dryRun(spark: SparkSession, cfg: Config, binlogDir: String): Seq[String] = {
    val out = scala.collection.mutable.ListBuffer.empty[String]
    def fail(msg: String) = throw new IllegalArgumentException(s"dryRun: $msg")

    val schema =
      // the sidecar when present (O(1), same source the stream reads);
      // else footer-merged — otherwise the preflight would validate one
      // arbitrary footer's (possibly narrower) schema and miss exactly
      // the evolution it exists to check
      Changelog.readSchemaSidecar(binlogDir).getOrElse {
        try spark.read.option("mergeSchema", "true").parquet(binlogDir).schema
        catch { case e: Exception => fail(s"binlog unreadable at $binlogDir: ${e.getMessage}") }
      }
    val required = Seq("op", "event_ts", "seq") ++ Model.keyCols
    val missing = required.filterNot(schema.fieldNames.contains)
    if (missing.nonEmpty) fail(s"binlog lacks required columns: ${missing.mkString(", ")}")
    out += s"binlog readable, required columns present (${schema.fieldNames.length} cols)"

    if (Icelite.exists(cfg.tablePath)) {
      val table = Icelite.load(spark, cfg.tablePath)
      val payload = org.apache.spark.sql.types.StructType(schema.fields.filterNot(f =>
        Seq("op", "event_ts", "seq", "shard", "seg").contains(f.name)))
      val tablePayload = org.apache.spark.sql.types.StructType(
        table.currentSchema().fields.filterNot(f => Model.lineageCols.contains(f.name)))
      try Icelite.evolve(tablePayload, payload)
      catch { case e: Exception => fail(s"incompatible schema evolution: ${e.getMessage}") }
      out += s"table schema evolvable (snapshot ${table.snapshot().snapshotId})"
      val sw = table.snapshot().writerId
      if (sw.nonEmpty && sw != cfg.writerId)
        out += s"note: table last written by '$sw' (this job: '${cfg.writerId}') — " +
          "idempotence gate will not dedup across writers"
    } else out += "table absent — will be created"

    if (graft.plans.Hfs.isDir(graft.plans.Hfs.path(cfg.checkpointDir, "offsets")))
      out += "checkpoint present — stream resumes from recorded offsets"
    else out += "no checkpoint — stream starts from the beginning"
    out.toSeq
  }

  /** Batch-mode replay: apply pre-split batches sequentially. */
  def replay(spark: SparkSession, cfg: Config, batches: Seq[DataFrame]): Seq[Icelite.MergeStats] = {
    cfg.preHook.foreach(_(spark))
    val stats = batches.zipWithIndex.map { case (b, i) => applyBatch(spark, cfg, b, i.toLong) }
    cfg.postHook.foreach(_(spark))
    stats
  }

  /** Streaming ingest over a binlog dir.
    *
    * The default `Trigger.AvailableNow` drains what exists then stops
    * (tests/verify/backfill). Pass `Trigger.ProcessingTime(interval)` for
    * the long-running production tail — the actual CDC deployment mode —
    * optionally bounded by `stopAfterMs` (graceful stop + drain; without
    * it the call blocks until the query is stopped externally or fails).
    * Either way the checkpoint makes the job resumable exactly-once.
    *
    * Schema evolution is self-enforcing: every micro-batch first probes
    * the binlog's `_schema.json` sidecar and FAILS (before its offsets
    * commit) if it widened — so widened segments are never consumed
    * narrow — while a [[SchemaSentinel]] poll also stops an idle tail
    * promptly. Either way this loop restarts the tail with the wider
    * schema (re-inferred from the sidecar) and keeps going: a column
    * added mid-tail reaches the table without operator intervention.
    * The post-run warning remains the contract for foreign (sidecar-less)
    * binlogs, where there is nothing to probe.
    */
  def runStream(spark: SparkSession, cfg: Config, binlogDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      stopAfterMs: Option[Long] = None): Unit = {
    cfg.preHook.foreach(_(spark))
    val deadline = stopAfterMs.map(System.currentTimeMillis() + _)
    var lastSchema = org.apache.spark.sql.types.StructType(Nil)
    var widened: Seq[String] = Nil
    var first = true
    while (first ||
        (widened.nonEmpty && deadline.forall(_ > System.currentTimeMillis()))) {
      if (!first)
        System.err.println("[ingest] schema sentinel: binlog widened " +
          s"(${widened.mkString(", ")}); restarting the tail with the wider schema")
      first = false
      val src = Changelog.binlogStream(spark, binlogDir, cfg.maxFilesPerTrigger)
      lastSchema = src.schema
      widened = runLeg(spark, cfg, src, trigger,
        deadline.map(d => math.max(0L, d - System.currentTimeMillis())),
        sentinelProbe = Some(() => Changelog.readSchemaSidecar(binlogDir)))
    }
    // evolution blind spot check: reachable only for a sidecar-less
    // (foreign) binlog widened mid-run, or a widening that landed after
    // the deadline cut the restart loop — surface it loudly, not silently
    val widerNow = Changelog.inferBinlogSchema(spark, binlogDir)
      .fieldNames.diff(lastSchema.fieldNames)
    if (widerNow.nonEmpty)
      System.err.println("[ingest] WARNING: binlog now carries columns " +
        s"(${widerNow.mkString(", ")}) absent from this run's schema; any " +
        "segments with them consumed DURING this run lost those values — " +
        "restart ingests remaining segments with the wider schema")
    cfg.postHook.foreach(_(spark))
  }

  /** [[runStream]] over ANY streaming change-event source (the binlog
    * tail, a [[graft.sources.ShardCursorSource]] feed, a Kafka topic
    * where the connector exists) — the checkpoint/idempotent-commit/
    * watchdog/hook machinery is source-agnostic. No schema sentinel here:
    * a generic source has no sidecar to probe (the binlog path gets one
    * via [[runStream]]). */
  def runStreamSource(spark: SparkSession, cfg: Config, src: DataFrame,
      trigger: Trigger = Trigger.AvailableNow(),
      stopAfterMs: Option[Long] = None,
      postRunCheck: Option[org.apache.spark.sql.types.StructType => Unit] = None): Unit = {
    cfg.preHook.foreach(_(spark))
    val runSchema = src.schema
    runLeg(spark, cfg, src, trigger, stopAfterMs, sentinelProbe = None)
    postRunCheck.foreach(_(runSchema))
    cfg.postHook.foreach(_(spark))
  }

  /** One streaming leg: start → (watchdog, sentinel) → await → stop.
    * Returns the sentinel's widened-column list — non-empty means the
    * query was stopped for a schema restart and the caller should run
    * another leg with a re-inferred (wider) source schema. Hooks run in
    * the callers, ONCE around the whole loop (a pre/post SQL — e.g. a
    * truncate — must not re-fire on a sentinel restart). */
  private def runLeg(spark: SparkSession, cfg: Config, src: DataFrame,
      trigger: Trigger, stopAfterMs: Option[Long],
      sentinelProbe: Option[() => Option[org.apache.spark.sql.types.StructType]]): Seq[String] = {
    val name = s"graft-ingest-${cfg.writerId}"
    // see Config.cacheBatch: accurate numInputRows needs one source scan
    val eff = if (cfg.metricsDir.isDefined) cfg.copy(cacheBatch = true) else cfg
    val sink = cfg.metricsDir.map { d =>
      val s = new Metrics.ProgressSink(d, name)
      spark.streams.addListener(s); s
    }
    try {
      val srcSchema = src.schema
      val q = src.writeStream
        .queryName(name)
        .option("checkpointLocation", cfg.checkpointDir)
        .trigger(trigger)
        .foreachBatch { (df: DataFrame, id: Long) =>
          // per-batch widen guard — the CORRECTNESS half of the schema
          // sentinel (see SchemaSentinel's scaladoc): fail the batch
          // before its offsets commit so widened segments are never
          // consumed narrow; the polling thread below is promptness only
          sentinelProbe.foreach { p =>
            val w = p().map(SchemaSentinel.widerColumns(srcSchema, _))
              .getOrElse(Nil)
            if (w.nonEmpty) throw new SchemaSentinel.SchemaWidened(w)
          }
          applyBatch(spark, eff, df, id); ()
        }
        .start()
      val dog = cfg.stallTimeoutMs.map(ms => new Watchdog(q, ms))
      val sentinel = sentinelProbe.map(p => new SchemaSentinel(q, srcSchema, p))
      def widenedCause(e: Throwable): Option[SchemaSentinel.SchemaWidened] =
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16)
          .collectFirst { case s: SchemaSentinel.SchemaWidened => s }
      var guardWidened: Seq[String] = Nil
      try {
        try {
          stopAfterMs match {
            case Some(ms) =>
              q.awaitTermination(ms)
              if (q.isActive) q.stop()
              q.awaitTermination()
            case None => q.awaitTermination()
          }
        } catch {
          // the guard's failure is a planned restart, not an error
          case e: org.apache.spark.sql.streaming.StreamingQueryException
              if widenedCause(e).isDefined =>
            guardWidened = widenedCause(e).get.widened
        }
      } finally { dog.foreach(_.close()); sentinel.foreach(_.close()) }
      if (dog.exists(_.stalled))
        throw new IllegalStateException(
          s"ingest stalled: a trigger made no progress for ${cfg.stallTimeoutMs.get} ms " +
            "(watchdog stopped the query; restart resumes from the checkpoint)")
      (sentinel.map(_.widened).getOrElse(Nil) ++ guardWidened).distinct
    } finally sink.foreach(spark.streams.removeListener)
  }
}
