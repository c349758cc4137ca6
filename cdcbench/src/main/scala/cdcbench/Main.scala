package cdcbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** The benchmark's JVM side: runs one workload against the engine's
  * public entry points and writes everything it measured as one raw JSON
  * record. `run.py` builds this, launches it and turns the record into
  * metrics.
  *
  * {{{
  * Main --workload backfill|tail --seed N --seconds S --trace 0|1
  *      --work <dir> --out <file.json>
  * }}}
  */
object Main {
  /** One client and one generator thread against a 4-core local engine. */
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val workload = req("workload")
    val seed = req("seed").toLong
    val seconds = req("seconds").toInt
    val trace = req("trace") == "1"
    val work = new File(req("work")).getAbsolutePath
    val out = req("out")
    val run: (Ctx, Result) => Unit = workload match {
      case "backfill" => Workloads.Backfill.run
      case "tail" => Workloads.Tail.run
      case w => sys.error(s"unknown workload $w")
    }

    val res = new Result
    val t0 = System.nanoTime()
    // session options follow IngestMain's builder
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"cdcbench-$workload")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count() // the session is ready once it has run a job
    res.setup("session_s") = Workloads.secs(t0)

    val spans = new Spans(trace)
    val sparkTrace = new SparkTrace
    if (trace) spark.sparkContext.addSparkListener(sparkTrace)
    val heap = new HeapWatch
    val ctx = new Ctx(spark, work, seed, seconds, trace, spans)
    var host: Map[String, Double] = Map.empty
    var liveHeap = 0.0
    try {
      val window = new HostWindow
      run(ctx, res)
      host = window.close()
      liveHeap = Proc.liveHeapMb()
    } finally {
      if (trace) spark.sparkContext.removeSparkListener(sparkTrace)
    }
    val record = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "cores" -> Cores,
      "setup" -> res.setup.toMap,
      "window" -> Map("start_ms" -> res.windowStartMs, "end_ms" -> res.windowEndMs),
      "host" -> host,
      "peak_rss_mb" -> Proc.peakRssMb(),
      "heap_after_gc_max_mb" -> heap.close(),
      "heap_live_mb" -> liveHeap,
      "ingest" -> res.ingest.map(_.toMap),
      "lookups" -> res.lookups, "reads" -> res.reads, "drains" -> res.drains,
      "layout" -> res.layout.toMap,
      "publish_late_ms" -> res.publishLateMs,
      "attempted" -> ctx.attempted, "failed" -> ctx.failed, "notes" -> ctx.notes,
      "spans" -> spans.all,
      "jobs" -> sparkTrace.allJobs, "stages" -> sparkTrace.allStages,
      "trace_self_ms" -> (spans.selfNs.get() + sparkTrace.selfNs.get()) / 1e6)
    Files.write(new File(out).toPath,
      Serialization.write(record)(DefaultFormats).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
