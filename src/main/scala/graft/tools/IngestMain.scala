package graft.tools

import org.apache.spark.sql.SparkSession

import graft.plans.Icelite
import graft.streaming.Ingest

/** CLI entry point — the `python datax.py job.json` analogue
  * (`core/.../Engine.java:201-221`; container flow `JobContainer.java:
  * 96-182`). The job is described as key=value args instead of a JSON
  * plugin tree; run under spark-submit for a real cluster, or
  * `sbt "runMain graft.tools.IngestMain ..."` locally.
  *
  * Required: table=<dir> checkpoint=<dir>; binlog=<dir> for ingest modes
  * Optional: writerId=<id> (default "cli") buckets=<n> (default 32)
  *   mode=stream|batch|continuous (default stream; continuous = long-
  *   running Trigger.ProcessingTime tail, intervalMs=<ms> default 2000,
  *   stopAfterMs=<ms> bounds the run for smoke tests)
  *   mode=shards feed=<name> [feedClass=name:fully.qualified.Class] —
  *   ingest from a registered shard-cursor feed
  *   ([[graft.sources.ShardCursorSource]], the DataHub/OTS pattern)
  *   instead of a binlog dir
  *   mode=kafka brokers=<host:port,..> topic=<t> — consume a CDC topic
  *   via `readStream.format("kafka")` (S10 execution seam;
  *   `kafkareader/.../KafkaReader.java:203-241`). Value shaping:
  *   kafkaParse=split|json|regex (default split),
  *   kafkaDelimiter=<d> kafkaPattern=<re>
  *   startingOffsets=earliest|latest (default earliest), plus
  *   intervalMs/stopAfterMs as for continuous. Needs the
  *   spark-sql-kafka connector jar on the classpath (ship via
  *   spark-submit --packages); absent — as in this offline sandbox —
  *   the mode fails fast with that instruction, and the broker-less
  *   contract test (StreamingSpec) covers the identical
  *   parse→gate→merge chain on a MemoryStream
  *   mode=compact|rebucket|expire|lineage-rollup — table maintenance
  *   without an ingest run (the Iceberg procedure analogues): compact
  *   folds delta files, rebucket newBuckets=<n> re-spreads a table that
  *   outgrew its bucket layout, expire keepLast=<n> (default 5) drops old
  *   snapshots + GCs their files via manifest diff (deepGc=true adds the
  *   full tree walk that also sweeps never-committed staged orphans),
  *   lineage-rollup folds per-batch lineage JSONL into parquet,
  *   rollback toSnapshot=<id>|asOfMs=<epochMs> reverts table state AND
  *   the exactly-once gate to a past snapshot (append-only metadata
  *   commit; the resumed stream re-applies the undone batches)
  *   mode=feed out=<dir> — OUTBOUND change-data-feed tail
  *   ([[graft.sources.IceliteChangeFeed]]): stream the table's commits
  *   (published view) into a parquet sink for a downstream consumer;
  *   startingSnapshotId=<id> seeds a later start, trigger=availableNow
  *   drains and stops, intervalMs/stopAfterMs as for continuous. The
  *   feed query checkpoints under <out>/_feed_checkpoint (override:
  *   feedCheckpoint=<dir>) — never the ingest stream's checkpoint=
  *   dir, which holds a different source's offsets
  *   mode=delete|update — engine-side DML (no binlog):
  *   predicate=<sql boolean expr> selects live rows;
  *   update adds set="col=expr[,col=expr...]" (split on top-level
  *   commas only, so `set=tool=concat(role,'-x'),text=upper(text)` is two
  *   assignments);
  *   dmlBatchId=<n> is the idempotence key (reruns with the same id are
  *   no-ops under the (writerId, batchId) gate)
  *   mode=files|snapshots [limit=<n>] — print the metadata tables
  *   ([[graft.plans.IceliteTable.filesDf]]/`snapshotsDf`): per-file
  *   bucket/kind/rows/seq-range, per-snapshot commit metadata
  *   maxFilesPerTrigger=<n> deadLetterDir=<dir> errorPctLimit=<0..1>
  *   errorRecordLimit=<n> metricsDir=<dir> stallTimeoutMs=<ms> (hang
  *   monitor: fail the job if a trigger stops making progress)
  *   dryRun=true compactThreshold=<n> (no delta-write key: a batch whose
  *   buckets each read one binlog (shard, seg) — shards == buckets, one
  *   segment per batch — writes its deltas with no exchange, any other
  *   layout through the salted (bucket, salt) exchange)
  *   transforms=<chain> — named transform chain applied per micro-batch
  *   before the gate/merge, e.g. transforms=dx_substr(text,0,80),
  *   dx_filter(role,like,user.*) — resolved via
  *   [[graft.operators.TransformerRegistry]] (the reference's job-config
  *   transformer list, `TransformerRegistry.java:28-105`)
  *   transformClasses=name:fully.qualified.Class[,name2:...] — register
  *   user [[graft.operators.NamedTransform]] implementations first (the
  *   runtime-loaded transformer-jar analogue; ship the jar via
  *   spark-submit --jars)
  *   password/accessKey-shaped keys are masked in the echoed config (F13).
  */
object IngestMain {

  def parse(args: Array[String]): Map[String, String] =
    args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"expected key=value, got '$a'")
      a.substring(0, i) -> a.substring(i + 1)
    }.toMap

  def configFrom(kv: Map[String, String]): Ingest.Config = {
    def req(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing required arg $k=<value>"))
    // user transforms register BEFORE the chain spec resolves its names
    kv.get("transformClasses").foreach(_.split(',').foreach { pair =>
      val i = pair.indexOf(':')
      require(i > 0, s"transformClasses expects name:class, got '$pair'")
      graft.operators.TransformerRegistry.registerClass(
        pair.substring(0, i).trim, pair.substring(i + 1).trim)
    })
    Ingest.Config(
      tablePath = req("table"),
      checkpointDir = req("checkpoint"),
      writerId = kv.getOrElse("writerId", "cli"),
      buckets = kv.getOrElse("buckets", "32").toInt,
      opts = Icelite.Options(
        compactThreshold = kv.getOrElse("compactThreshold", "8").toInt),
      maxFilesPerTrigger = kv.getOrElse("maxFilesPerTrigger", "8").toInt,
      deadLetterDir = kv.get("deadLetterDir"),
      errorPctLimit = kv.getOrElse("errorPctLimit", "1.0").toDouble,
      errorRecordLimit = kv.get("errorRecordLimit").map(_.toLong),
      // the reference's collector choice from job config: stdout sample,
      // http POST endpoint, or a custom class (no-arg ctor)
      dirtyCollector = kv.get("dirtyCollector").map {
        case "stdout" => graft.streaming.StdoutDirtyCollector
        case url if url.startsWith("http://") || url.startsWith("https://") =>
          new graft.streaming.HttpDirtyCollector(url)
        case cls => Class.forName(cls).getDeclaredConstructor()
          .newInstance().asInstanceOf[graft.streaming.DirtyCollector]
      },
      metricsDir = kv.get("metricsDir"),
      // parse eagerly: an unknown transform name fails the job at config
      // time (preflight), not in the middle of the first micro-batch
      transform = kv.get("transforms").map { spec =>
        graft.operators.TransformerRegistry.parseChain(spec)
          .foldLeft(identity[org.apache.spark.sql.DataFrame] _)(_ andThen _)
      },
      stallTimeoutMs = kv.get("stallTimeoutMs").map(_.toLong))
  }

  private val MaintenanceModes = Set("compact", "rebucket", "expire",
    "lineage-rollup", "rollback", "files", "snapshots", "delete", "update")
  /** modes that read no binlog dir (maintenance + non-binlog sources) */
  private val NoBinlogModes = MaintenanceModes ++ Set("shards", "kafka", "feed")

  /** Shared trigger parsing for the long-running modes: default =
    * ProcessingTime(intervalMs, 2000 ms); `trigger=availableNow` = drain
    * what exists and stop (backfills / smoke runs). */
  private def triggerOf(kv: Map[String, String]): org.apache.spark.sql.streaming.Trigger =
    if (kv.get("trigger").contains("availableNow"))
      org.apache.spark.sql.streaming.Trigger.AvailableNow()
    else org.apache.spark.sql.streaming.Trigger.ProcessingTime(
      kv.getOrElse("intervalMs", "2000").toLong)

  /** Build the S10 consume source config from CLI args — the executable
    * pipeline itself lives in [[graft.sources.KafkaIo]] (capability-
    * detected: offline it fails fast with the actionable connector-jar
    * fix; on a cluster it builds the real `readStream.format("kafka")`).
    * The option assembly is pure data so specs pin the exact wiring —
    * subscribe, startingOffsets, maxOffsetsPerTrigger — without a broker. */
  def kafkaSourceConfig(kv: Map[String, String]): graft.sources.KafkaIo.SourceConfig = {
    def req(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"mode=kafka needs $k=<value>"))
    graft.sources.KafkaIo.SourceConfig(
      brokers = req("brokers"),
      topic = req("topic"),
      startingOffsets = kv.getOrElse("startingOffsets", "earliest"),
      maxOffsetsPerTrigger = kv.get("maxOffsetsPerTrigger").map(_.toLong))
  }

  /** The shaped consume source: raw topic tail → typed change events (the
    * exact projection the broker-less contract test drives end-to-end). */
  def kafkaSource(spark: SparkSession, kv: Map[String, String]): org.apache.spark.sql.DataFrame =
    graft.sources.KafkaIo.changeStream(spark, kafkaSourceConfig(kv),
      kv.getOrElse("kafkaParse", "split"),
      kv.getOrElse("kafkaDelimiter", "\u0001"),
      kv.getOrElse("kafkaPattern", ""))

  /** `mode=update` `set=` spec → (column, SQL expression) pairs, split on
    * top-level commas only: a comma inside parentheses or a quoted
    * literal belongs to its expression, so
    * `tool=concat(role,'-x'),text=upper(text)` is two assignments. */
  def setAssignments(spec: String): Seq[(String, String)] = {
    val parts = scala.collection.mutable.ListBuffer.empty[String]
    var depth = 0
    var quote = Option.empty[Char]
    var start = 0
    var i = 0
    while (i < spec.length) {
      val c = spec(i)
      quote match {
        case Some(_) if c == '\\' => i += 1 // escaped char inside a literal
        case Some(q) => if (c == q) quote = None
        case None => c match {
          case '\'' | '"' | '`' => quote = Some(c)
          case '(' => depth += 1
          case ')' => depth -= 1
          case ',' if depth == 0 => parts += spec.substring(start, i); start = i + 1
          case _ =>
        }
      }
      i += 1
    }
    require(depth == 0 && quote.isEmpty, s"set has unbalanced parentheses or quotes: '$spec'")
    parts += spec.substring(start)
    parts.map(_.trim).filter(_.nonEmpty).map { a =>
      val eq = a.indexOf('=')
      require(eq > 0, s"set expects col=expr, got '$a'")
      a.substring(0, eq).trim -> a.substring(eq + 1).trim
    }.toSeq
  }

  def main(args: Array[String]): Unit = {
    val kv = parse(args)
    val cfg = configFrom(kv)
    val mode = kv.getOrElse("mode", "stream")
    val binlog = if (NoBinlogModes.contains(mode)) "" else kv.getOrElse("binlog",
      throw new IllegalArgumentException("missing required arg binlog=<dir>"))
    println("[ingest] config: " + Masking.mask(kv).toSeq.sorted
      .map { case (k, v) => s"$k=$v" }.mkString(" "))

    // under spark-submit the master comes from the submit args (spark.master
    // is set); standalone runs fall back to local
    val builder = SparkSession.builder()
      .appName(s"graft-ingest-${cfg.writerId}")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
    val spark = (if (sys.props.contains("spark.master")) builder
      else builder.master(kv.getOrElse("master", "local[8]"))).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      if (!NoBinlogModes.contains(mode)) {
        Ingest.dryRun(spark, cfg, binlog).foreach(c => println(s"[ingest] check: $c"))
        if (kv.get("dryRun").contains("true")) {
          println("[ingest] dryRun=true — validation only, no data moved")
          return
        }
      }
      mode match {
        case "compact" =>
          Icelite.load(spark, cfg.tablePath).compactAll(cfg.opts)
        case "rebucket" =>
          Icelite.load(spark, cfg.tablePath).rebucket(
            kv.getOrElse("newBuckets",
              throw new IllegalArgumentException(
                "mode=rebucket needs newBuckets=<n>")).toInt, cfg.opts)
        case "expire" =>
          val (snaps, files) = Icelite.load(spark, cfg.tablePath)
            .expireSnapshots(kv.getOrElse("keepLast", "5").toInt,
              deepGc = kv.getOrElse("deepGc", "false").toBoolean)
          println(s"[ingest] expired $snaps snapshots, deleted $files orphan files")
        case "lineage-rollup" =>
          val rolled = Ingest.rollupLineage(spark, cfg)
          println(s"[ingest] rolled $rolled lineage files into parquet")
        case "rollback" =>
          val table = Icelite.load(spark, cfg.tablePath)
          val target = kv.get("toSnapshot").map(_.toLong).orElse(
            kv.get("asOfMs").map(ts => table.snapshotIdAsOf(ts.toLong)))
            .getOrElse(throw new IllegalArgumentException(
              "mode=rollback needs toSnapshot=<id> or asOfMs=<epochMs>"))
          val head = table.rollbackTo(target)
          println(s"[ingest] rolled back to snapshot $target (new head $head)")
        case "delete" | "update" =>
          // engine-side DML over a live table (no binlog): predicate is a
          // SQL boolean expression over payload columns; update also takes
          // set="col=expr[,col=expr...]" ([[setAssignments]])
          val pred = org.apache.spark.sql.functions.expr(kv.getOrElse("predicate",
            throw new IllegalArgumentException(
              s"mode=$mode needs predicate=<sql boolean expr>")))
          val batchId = kv.getOrElse("dmlBatchId",
            throw new IllegalArgumentException(
              s"mode=$mode needs dmlBatchId=<n> (the idempotence key: reruns " +
                "with the same id are no-ops; use a fresh id per intended DML)"))
            .toLong
          val table = Icelite.load(spark, cfg.tablePath)
          val stats =
            if (mode == "delete") table.deleteWhere(pred, batchId, cfg.writerId)
            else {
              val sets = setAssignments(kv.getOrElse("set", throw new IllegalArgumentException(
                  "mode=update needs set=<col=expr[,col=expr...]>")))
                .map { case (c, e) => c -> org.apache.spark.sql.functions.expr(e) }.toMap
              table.updateWhere(pred, sets, batchId, cfg.writerId)
            }
          println(s"[ingest] $mode: snapshot=${stats.snapshotId} " +
            s"rows=${stats.inputRows} skipped=${stats.skipped}")
        case "files" => // metadata inspection (Iceberg table$files analogue)
          Icelite.load(spark, cfg.tablePath).filesDf()
            .orderBy("bucket", "path").show(kv.getOrElse("limit", "50").toInt, false)
        case "snapshots" =>
          Icelite.load(spark, cfg.tablePath).snapshotsDf()
            .orderBy("snapshot_id").show(kv.getOrElse("limit", "50").toInt, false)
        case "stream" => Ingest.runStream(spark, cfg, binlog)
        case "shards" =>
          // shard-cursor source (S11 pattern): feedClass=name:class
          // registers a ShardFeed implementation reflectively, feed=<name>
          // selects it (pre-registered names work too)
          kv.get("feedClass").foreach { pair =>
            val i = pair.indexOf(':')
            require(i > 0, s"feedClass expects name:class, got '$pair'")
            graft.sources.ShardFeeds.register(pair.substring(0, i).trim,
              Class.forName(pair.substring(i + 1).trim).getDeclaredConstructor()
                .newInstance().asInstanceOf[graft.sources.ShardFeed])
          }
          val feed = kv.getOrElse("feed",
            throw new IllegalArgumentException("mode=shards needs feed=<name>"))
          Ingest.runStreamSource(spark, cfg, spark.readStream
            .format(classOf[graft.sources.ShardCursorSource].getName)
            .option("feed", feed).load())
        case "kafka" =>
          // S10 execution seam: Kafka topic → changeEvents shaping → the
          // same gate/merge chain as every other source. Default trigger
          // follows `continuous` (a topic tail is long-running); pass
          // trigger=availableNow for a drain-and-stop run
          Ingest.runStreamSource(spark, cfg, kafkaSource(spark, kv),
            triggerOf(kv), kv.get("stopAfterMs").map(_.toLong))
        case "feed" =>
          // outbound CDC tail (mirror of the ingest modes): the table's
          // own commits stream OUT through the change feed into a parquet
          // sink — what a downstream consumer (search indexer, cache,
          // replica) runs. Long-running by default; trigger=availableNow
          // drains and stops (backfill / smoke runs)
          val out = kv.getOrElse("out", throw new IllegalArgumentException(
            "mode=feed needs out=<dir> (parquet sink path)"))
          val q = spark.readStream
            .format(classOf[graft.sources.IceliteChangeFeed].getName)
            .option("root", cfg.tablePath)
            .option("startingSnapshotId", kv.getOrElse("startingSnapshotId", "0"))
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            // the feed is its OWN query: its checkpoint must never share
            // the ingest stream's (checkpoint=...) — different source,
            // incompatible offsets. Defaults under the sink dir.
            .option("checkpointLocation",
              kv.getOrElse("feedCheckpoint", s"$out/_feed_checkpoint"))
            .trigger(triggerOf(kv))
            .start()
          kv.get("stopAfterMs").map(_.toLong) match {
            case Some(ms) =>
              q.awaitTermination(ms)
              if (q.isActive) q.stop()
              q.awaitTermination()
            case None => q.awaitTermination()
          }
        case "continuous" => Ingest.runStream(spark, cfg, binlog,
          org.apache.spark.sql.streaming.Trigger.ProcessingTime(
            kv.getOrElse("intervalMs", "2000").toLong),
          kv.get("stopAfterMs").map(_.toLong))
        case "batch" =>
          val all = graft.sources.Changelog.readBinlog(spark, binlog)
          val segs = all.select("seg").distinct().collect().map(_.getInt(0)).sorted
          Ingest.replay(spark, cfg, segs.toSeq.map(sg =>
            all.filter(org.apache.spark.sql.functions.col("seg") === sg)))
        case other => throw new IllegalArgumentException(s"mode=$other")
      }
      val t = Icelite.load(spark, cfg.tablePath)
      val s = t.snapshot()
      println(s"[ingest] done: snapshot=${s.snapshotId} lastBatchId=${s.lastBatchId} " +
        s"files=${s.files.size} rows=${t.read().count()}")
    } finally spark.stop()
  }
}
