package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Lww, Skew}

/** Physical-plan assertions — the scale contract, checked structurally:
  * filters/projections reach the parquet scan, the bucketed-write dedup
  * plans exactly one exchange, aggregations get map-side partial combine,
  * and a shard-aligned binlog writes its deltas without an exchange. A
  * plan regression here is a 100-TB performance bug even when results
  * stay correct (e.g. the constant-folded salt that silently added a
  * second exchange and 32× the files).
  */
class PlanSpec extends SparkSpec {
  import spark.implicits._

  private def executed(df: DataFrame): String = {
    df.write.mode("overwrite").format("noop").save() // force AQE final plan
    df.queryExecution.executedPlan.toString
  }

  private def count(plan: String, token: String): Int =
    token.r.findAllIn(plan).length

  test("parquet scan: filter pushdown and column pruning reach the reader") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val q = docs.filter($"lang" === "en").select("doc_id", "n_chars")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]"),
      s"filter not pushed:\n$scan")
    // pruned read schema: only the referenced columns are read
    assert(scan.contains("ReadSchema: struct<doc_id:bigint,lang:string,n_chars:bigint>"),
      s"columns not pruned:\n$scan")
  }

  test("composite slice predicates push down into the parquet scan") {
    import graft.sources.RangeSplit
    val dir = tmpDir("compush")
    (0 until 100).map(i => (f"c$i%03d", i % 7)).toDF("conv_id", "turn_idx")
      .write.parquet(s"$dir/t")
    val preds = RangeSplit.compositePredicates("conv_id", "turn_idx",
      Seq(("c050", 3)), RangeSplit.sqlString, (b: Int) => b.toString)
    // the lower-bounded slice: conv_id/turn_idx bounds must reach the
    // reader as an Or/And tree, not evaluate post-scan only — at scale
    // this is what lets a slice skip the row groups it does not own
    // default metadata truncation (100 chars) would cut the filter list
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    val scan = spark.read.parquet(s"$dir/t").filter(expr(preds(1)))
      .queryExecution.executedPlan.toString
    assert(scan.contains("Or(GreaterThan(conv_id,c050)"),
      s"composite bound not pushed:\n$scan")
    assert(scan.contains("EqualTo(conv_id,c050)") &&
      scan.contains("GreaterThanOrEqual(turn_idx,3)"),
      s"tie-break bound not pushed:\n$scan")
  }

  test("fused bucketed LWW write plans exactly ONE exchange (no re-shuffle)") {
    val df = spark.range(100000).select(
      concat(lit("c"), pmod($"id", lit(500))).as("conv_id"),
      pmod($"id", lit(5)).cast("int").as("turn_idx"),
      $"id".as("_seq"),
      timestamp_millis($"id").as("_event_ts"),
      lit(false).as("_deleted"),
      pmod(hash($"id"), lit(8)).cast("int").as("bkt"),
      pmod(xxhash64($"id"), lit(1)).cast("int").as("_ksalt"))
    val out = Lww.latestBucketed(df, Seq("conv_id", "turn_idx"),
      Seq("_event_ts", "_seq"), "bkt", "_ksalt")
    val plan = executed(out)
    assert(count(plan, "Exchange hashpartitioning") === 1,
      s"expected exactly 1 exchange:\n$plan")
  }

  test("LWW aggregation gets map-side partial combine") {
    val df = spark.range(100000).select(
      concat(lit("c"), pmod($"id", lit(100))).as("conv_id"),
      lit(0).as("turn_idx"),
      $"id".as("seq"),
      timestamp_millis($"id").as("event_ts"),
      concat(lit("t"), $"id").as("text"))
    val plan = executed(Lww.latest(df, Seq("conv_id", "turn_idx"), Seq("event_ts", "seq")))
    // partial_max_by BEFORE the exchange ⇒ a hot key collapses to ≤1 row
    // per input partition before any shuffle
    assert(plan.contains("partial_max_by"), s"no partial agg:\n$plan")
    assert(plan.indexOf("partial_max_by") > plan.indexOf("max_by"),
      "partial agg should sit below the final agg") // toString prints top-down
  }

  test("heavy hitters: partial count below the exchange, then top-k") {
    val df = spark.range(100000)
      .select(concat(lit("c"), pmod($"id", lit(97))).as("conv_id"))
    val plan = executed(Skew.heavyHitters(df, "conv_id", 10))
    assert(plan.contains("partial_count"), s"no partial count:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"no top-k operator:\n$plan")
  }

  test("aligned delta write: near-zero shuffle, identical final state") {
    import graft.plans.Icelite
    import graft.sources.{Changelog, Gen}
    import graft.streaming.Ingest
    val root = tmpDir("aligned")
    val ch = Gen.changelog(spark, Gen.GenConfig(events = 5000, convs = 50, hotPct = 20))
    // the binlog layout picks the delta path: over 8 buckets a 4-shard
    // binlog gives every bucket one shard (8 % 4 = 0) and, one segment per
    // batch, one source → aligned; 3 shards mix in every bucket → exchange
    def run(shards: Int): (Long, DataFrame, Set[String]) = {
      val binlog = s"$root/binlog-$shards"
      Changelog.writeBinlog(ch, binlog, shards = shards, segSize = 2500)
      val all = Changelog.readBinlog(spark, binlog)
      val segs = all.select("seg").distinct().collect().map(_.getInt(0)).sorted.toSeq
      val cfg = Ingest.Config(s"$root/s$shards/t", s"$root/s$shards/ck", s"s$shards",
        buckets = 8)
      val tally = new Bench.ShuffleTally
      spark.sparkContext.addSparkListener(tally)
      Ingest.replay(spark, cfg, segs.map(sg => all.filter(col("seg") === sg)))
      Thread.sleep(1000) // listener bus drains async
      spark.sparkContext.removeSparkListener(tally)
      val t = Icelite.load(spark, cfg.tablePath)
      (tally.shuffleWrite.get, t.read(), t.history().flatMap(_.summary.get("delta.write")).toSet)
    }
    val (alignedBytes, alignedDf, alignedPaths) = run(4)
    val (saltedBytes, saltedDf, saltedPaths) = run(3)
    assert(alignedPaths === Set("aligned") && saltedPaths === Set("exchange"))
    val cols = alignedDf.columns.sorted.map(col).toSeq
    assert(alignedDf.select(cols: _*).exceptAll(saltedDf.select(cols: _*)).isEmpty)
    assert(saltedDf.select(cols: _*).exceptAll(alignedDf.select(cols: _*)).isEmpty)
    // the salted path shuffles every row to its (bucket, salt); the aligned
    // path shuffles only the tiny per-(shard, seg, bucket) stats aggregate
    assert(alignedBytes < saltedBytes / 5,
      s"aligned=$alignedBytes salted=$saltedBytes")
  }

  test("whole-stage codegen covers the scan + dx_filter transform stage") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val q = docs.select($"doc_id",
      graft.operators.Transforms.dxSubstr($"text", 0, 5).as("s"))
      .filter(graft.operators.Transforms.keepFilter($"lang", "=", "xx"))
    val plan = q.queryExecution.executedPlan.toString
    // `*(n)` marks whole-stage-codegen stages in this plan rendering; the
    // scan→filter→project pipeline must be one fused codegen stage. (Array
    // higher-order functions — quality score etc. — run interpreted by
    // Spark design and are excluded from this assertion.)
    assert(plan.contains("*(1) Filter") || plan.contains("*(1) Project"),
      s"transform stage not codegen'd:\n$plan")
  }

  test("registry-named chain optimizes to the same plan as direct column code") {
    // a config-named chain must cost exactly what hand-written Catalyst
    // costs — the registry is a naming layer, not an interpretation layer
    // (unlike the reference's per-record evaluate() loop)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text", "lang")
    val direct = docs
      .withColumn("text", graft.operators.Transforms.dxSubstr($"text", 0, 5))
      .filter(graft.operators.Transforms.keepFilter($"lang", "=", "xx"))
    val named = graft.operators.TransformerRegistry.applyChain(docs,
      "dx_substr(text,0,5),dx_filter(lang,=,xx)")
    assert(named.queryExecution.optimizedPlan.canonicalized ===
      direct.queryExecution.optimizedPlan.canonicalized,
      s"plans diverge:\n${named.queryExecution.optimizedPlan}\nvs\n" +
        s"${direct.queryExecution.optimizedPlan}")
  }
}
