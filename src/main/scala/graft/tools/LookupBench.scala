package graft.tools

import org.apache.spark.sql.SparkSession

import graft.Bench
import graft.plans.Icelite
import graft.sources.{Changelog, Gen}
import graft.streaming.Ingest

/** A/B harness for the per-file `conv_id` bloom filters on the point-
  * lookup path: the same multi-generation table is built twice — blooms
  * on (production default) and off (`-Dgraft.keyBloom=false`) — and the
  * same keys are looked up against both. Bucket pruning already cuts the
  * read to 1/buckets of the table either way; the bloom additionally
  * lets the parquet reader row-group-skip the bucket's other generations
  * when the key's dictionary has overflowed (below that, a complete
  * dictionary page is already an exact filter and parquet writes no
  * bloom at all). Measured on the mixed base+delta layout this harness
  * builds (4×10^7 events, 16 buckets, 2.5M-row bases): bloom'd lookups
  * run 1.3–1.6× faster (median 264 vs 334 ms) for ~1% extra storage —
  * and the gap widens in the 100 TB regime (100+ MB row groups on
  * remote object storage, where decoding a key chunk costs orders more
  * than reading the ~1%-of-data adaptive bloom). Caveat on the bytes
  * metric: local-fs page reads are partly invisible to task input
  * metrics, so compare wall times, not bytes, at sandbox scale.
  *
  * Usage: sbt -batch "runMain graft.tools.LookupBench [events] [segments] [lookups]"
  * Prints one JSON line with median/mean ms per variant + bytes read.
  */
object LookupBench {

  private def buildTable(spark: SparkSession, binlog: String, work: String,
      bloom: Boolean): graft.plans.IceliteTable = {
    sys.props("graft.keyBloom") = bloom.toString
    try {
      val cfg = Ingest.Config(s"$work/table-$bloom", s"$work/ckpt-$bloom",
        writerId = "lookup-bench", buckets = 16,
        // low threshold: frequent compaction → lookups face the realistic
        // mixed layout of bloom-carrying bases + recent bloom-less deltas
        opts = Icelite.Options(compactThreshold = 2))
      val all = Changelog.readBinlog(spark, binlog)
      val segs = all.select("seg").distinct().collect().map(_.getInt(0)).sorted
      Ingest.replay(spark, cfg, segs.toSeq.map(sg =>
        all.filter(org.apache.spark.sql.functions.col("seg") === sg)))
      Icelite.load(spark, cfg.tablePath)
    } finally sys.props.remove("graft.keyBloom")
  }

  private def bytesRead(spark: SparkSession)(f: => Unit): Long = {
    val tally = new java.util.concurrent.atomic.AtomicLong(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          tally.addAndGet(t.taskMetrics.inputMetrics.bytesRead)
    }
    spark.sparkContext.addSparkListener(l)
    f
    Thread.sleep(500) // listener bus drains async
    spark.sparkContext.removeSparkListener(l)
    tally.get
  }

  def main(args: Array[String]): Unit = {
    val events = if (args.length > 0) args(0).toLong else 40000000L
    val segments = if (args.length > 1) args(1).toInt else 8
    val lookups = if (args.length > 2) args(2).toInt else 20
    val spark = Bench.session(Runtime.getRuntime.availableProcessors())
    spark.sparkContext.setLogLevel("WARN")
    val work = Bench.workDir("graft-lookup-bench")

    // convs = events/2: per-file key cardinality must OVERFLOW the 1 MB
    // parquet dictionary page, else no bloom is written at all (a complete
    // dictionary is already an exact filter) and the A/B measures nothing
    val ch = Gen.changelog(spark,
      Gen.GenConfig(events = events, convs = events / 2, hotPct = 0))
    Changelog.writeBinlog(ch, s"$work/binlog", shards = 16,
      segSize = math.max(events / segments, 1L))

    // the probed keys: spread across buckets, known present
    val keys = ch.select("conv_id").distinct().limit(lookups * 3)
      .collect().map(_.getString(0)).distinct.take(lookups)

    val results = Seq(true, false).map { bloom =>
      val t0 = System.nanoTime()
      val table = buildTable(spark, s"$work/binlog", work, bloom)
      val buildSecs = (System.nanoTime() - t0) / 1e9
      val gens = table.snapshot().files.count(_.kind == "delta")
      val dataMb = table.snapshot().files.map(f =>
        java.nio.file.Files.size(java.nio.file.Paths.get(
          s"${table.root}/${f.path}"))).sum / 1e6
      println(f"[lookup-bench] bloom=$bloom build=$buildSecs%.1f s table=$dataMb%.1f MB")
      // warmup (footers into page cache — isolates the row-group skip)
      table.lookup(keys.head).count()
      val times = new Array[Double](keys.length)
      var bytes = 0L
      keys.zipWithIndex.foreach { case (k, i) =>
        bytes += bytesRead(spark) {
          val t0 = System.nanoTime()
          val n = table.lookup(k).count()
          times(i) = (System.nanoTime() - t0) / 1e6
          require(n >= 0)
        }
      }
      java.util.Arrays.sort(times)
      val median = times(times.length / 2)
      val mean = times.sum / times.length
      println(f"[lookup-bench] bloom=$bloom deltaFiles=$gens " +
        f"median=$median%.1f ms mean=$mean%.1f ms " +
        f"bytesRead/lookup=${bytes / keys.length / 1024}%d KiB")
      // multi-key batch lookup: all keys in ONE call (per-bucket grouped
      // scans, IN pushdown + blooms) vs per-key calls vs the full-scan
      // filter — the serving-style read the batch API exists for
      def best2(f: => Unit): Double = (1 to 2).map { _ =>
        val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e6
      }.min
      val batchMs = best2 { require(table.lookup(keys.toSeq).count() >= 0) }
      val scanMs = best2 {
        require(table.read().filter(org.apache.spark.sql.functions
          .col("conv_id").isInCollection(keys.toSeq)).count() >= 0)
      }
      println(f"[lookup-bench] bloom=$bloom batch(${keys.length} keys)=" +
        f"$batchMs%.1f ms perKeySum=${times.sum}%.1f ms fullScanFilter=$scanMs%.1f ms")
      (bloom, median, mean, bytes / keys.length, batchMs, scanMs)
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(work))
    val on = results.find(_._1 == true).get
    val off = results.find(_._1 == false).get
    val json = f"""{"lookup_bench":{"events":$events,"segments":$segments,""" +
      f""""lookups":${keys.length},"bloom_median_ms":${on._2}%.1f,""" +
      f""""nobloom_median_ms":${off._2}%.1f,"bloom_mean_ms":${on._3}%.1f,""" +
      f""""nobloom_mean_ms":${off._3}%.1f,"bloom_bytes_per_lookup":${on._4},""" +
      f""""nobloom_bytes_per_lookup":${off._4},""" +
      f""""bytes_ratio":${off._4.toDouble / math.max(on._4, 1)}%.2f,""" +
      f""""batch_lookup_ms":${on._5}%.1f,"scan_filter_ms":${on._6}%.1f}}"""
    println(json)
    spark.stop()
  }
}
