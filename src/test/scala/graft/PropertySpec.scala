package graft

import java.sql.Timestamp

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.model.Model
import graft.model.Model.ChangeEvent
import graft.operators.Lww
import graft.plans.Icelite
import graft.streaming.Ingest

/** Property-style suites (seeded randomness — deterministic reruns):
  * random I/U/D interleavings replay to the in-memory oracle; batch
  * segmentation and salting never change the result (SURVEY.md §5.2).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def ts(ms: Long) = new Timestamp(1700000000000L + ms)

  /** Random event stream: keys from a small pool (forces collisions),
    * event_ts with duplicates (forces seq tiebreaks), late arrivals. */
  private def randomEvents(rnd: Random, n: Int): Seq[ChangeEvent] =
    (0 until n).map { i =>
      val conv = s"c${rnd.nextInt(6)}"
      val turn = rnd.nextInt(4)
      val op = rnd.nextInt(100) match {
        case r if r < 55 => "I"
        case r if r < 85 => "U"
        case _           => "D"
      }
      val eventTs = ts(rnd.nextInt(50).toLong * 1000) // heavy ties
      val del = op == "D"
      ChangeEvent(op, conv, turn,
        if (del) null else "user",
        if (del) null else s"text-$i",
        if (del) null else (if (rnd.nextBoolean()) s"t${rnd.nextInt(3)}" else null),
        if (del) null else eventTs,
        eventTs, i.toLong)
    }

  private def oracle(events: Seq[ChangeEvent]): Set[(String, Int, String)] =
    events.groupBy(e => (e.conv_id, e.turn_idx))
      .map { case (_, es) => es.maxBy(e => (e.event_ts.getTime, e.seq)) }
      .filter(_.op != "D")
      .map(e => (e.conv_id, e.turn_idx, e.text)).toSet

  private def state(df: org.apache.spark.sql.DataFrame): Set[(String, Int, String)] =
    df.select("conv_id", "turn_idx", "text").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet

  test("random interleavings: replay equals oracle for 5 seeds") {
    for (seed <- 1 to 5) {
      val rnd = new Random(seed)
      val events = randomEvents(rnd, 400)
      val root = tmpDir(s"prop-$seed")
      val cfg = Ingest.Config(s"$root/t", s"$root/c", s"w$seed", buckets = 4)
      val df = spark.createDataset(events).toDF()
      // random contiguous segmentation into 1..5 batches
      val cuts = (0 +: Seq.fill(rnd.nextInt(4))(rnd.nextInt(400)).distinct.sorted :+ 400)
      val batches = cuts.sliding(2).map { case Seq(a, b) =>
        df.filter($"seq" >= a && $"seq" < b) }.toSeq
      Ingest.replay(spark, cfg, batches)
      val got = state(Icelite.load(spark, cfg.tablePath).read())
      assert(got === oracle(events), s"seed=$seed")
    }
  }

  test("segmentation invariance: 1 batch vs many, same final table") {
    val events = randomEvents(new Random(99), 300)
    val df = spark.createDataset(events).toDF()
    val r1 = tmpDir("prop-one"); val r2 = tmpDir("prop-many")
    Ingest.replay(spark, Ingest.Config(s"$r1/t", s"$r1/c", "w1", buckets = 4), Seq(df))
    Ingest.replay(spark, Ingest.Config(s"$r2/t", s"$r2/c", "w2", buckets = 4),
      (0 until 10).map(i => df.filter($"seq" % 10 === i))) // interleaved, NOT seq-contiguous
    val a = state(Icelite.load(spark, s"$r1/t").read())
    val b = state(Icelite.load(spark, s"$r2/t").read())
    assert(a === b && a === oracle(events))
  }

  test("salting invariance: aggressive salting does not change results") {
    val events = randomEvents(new Random(7), 300)
    val df = spark.createDataset(events).toDF()
    val r1 = tmpDir("prop-nosalt"); val r2 = tmpDir("prop-salt")
    Ingest.replay(spark, Ingest.Config(s"$r1/t", s"$r1/c", "w1", buckets = 2,
      opts = Icelite.Options(targetRowsPerTask = 1000000)), Seq(df))
    Ingest.replay(spark, Ingest.Config(s"$r2/t", s"$r2/c", "w2", buckets = 2,
      opts = Icelite.Options(targetRowsPerTask = 5)), Seq(df)) // every bucket salted
    assert(state(Icelite.load(spark, s"$r1/t").read()) ===
      state(Icelite.load(spark, s"$r2/t").read()))
  }

  test("compaction invariance: eager COW, periodic, and never-compact agree") {
    val events = randomEvents(new Random(21), 300)
    val df = spark.createDataset(events).toDF()
    val batches = (0 until 6).map(i => df.filter($"seq" % 6 === i))
    val states = Seq(0, 2, 100).map { thr => // 0 = compact every batch (COW)
      val r = tmpDir(s"prop-ct$thr")
      Ingest.replay(spark, Ingest.Config(s"$r/t", s"$r/c", s"w$thr", buckets = 4,
        opts = Icelite.Options(compactThreshold = thr)), batches)
      val t = Icelite.load(spark, s"$r/t")
      if (thr == 100) t.compactAll() // maintenance compaction afterwards
      state(t.read())
    }
    assert(states.distinct.size === 1)
    assert(states.head === oracle(events))
  }

  test("delta write path invariance: aligned and exchange layouts agree for 3 seeds") {
    for (seed <- Seq(41, 42, 43)) {
      val events = randomEvents(new Random(seed), 300)
      val df = spark.createDataset(events).toDF()
      // shard by the table's own bucket function, one seg per batch: every
      // bucket reads one (shard, seg) source → aligned. Shard by seq: each
      // bucket reads several shards → exchange.
      val layouts = Seq(
        "aligned" -> Icelite.bucketOf(4),
        "exchange" -> pmod($"seq", lit(3L)).cast("int"))
      val states = layouts.map { case (path, shard) =>
        val r = tmpDir(s"prop-$path$seed")
        val batches = (0 until 4).map(i => df.filter($"seq" % 4 === i)
          .withColumn("shard", shard).withColumn("seg", lit(i)))
        Ingest.replay(spark, Ingest.Config(s"$r/t", s"$r/c", s"w-$path", buckets = 4),
          batches)
        val t = Icelite.load(spark, s"$r/t")
        assert(t.history().flatMap(_.summary.get("delta.write")).toSet === Set(path),
          s"seed $seed: $path layout took another path")
        state(t.read())
      }
      assert(states.distinct.size === 1 && states.head === oracle(events),
        s"seed $seed diverged")
    }
  }

  test("time travel: readAt(mid) == prefix-only replay for random cut points") {
    for (seed <- Seq(61, 62)) {
      val rnd = new Random(seed)
      val events = randomEvents(rnd, 300)
      val df = spark.createDataset(events).toDF()
      val cut = 60 + rnd.nextInt(180) // random prefix boundary
      // full replay in two phases, snapshot captured between them
      val r1 = tmpDir(s"prop-tt$seed")
      val cfg = Ingest.Config(s"$r1/t", s"$r1/c", s"w$seed", buckets = 4)
      Ingest.applyBatch(spark, cfg, df.filter($"seq" < cut), 0L)
      val t = Icelite.load(spark, s"$r1/t")
      val mid = t.snapshot().snapshotId
      Ingest.applyBatch(spark, cfg, df.filter($"seq" >= cut), 1L)
      // reference: a table that only ever saw the prefix
      val r2 = tmpDir(s"prop-tt$seed-ref")
      Ingest.replay(spark, Ingest.Config(s"$r2/t", s"$r2/c", s"wr$seed",
        buckets = 4), Seq(df.filter($"seq" < cut)))
      assert(state(t.readAt(mid)) ===
        state(Icelite.load(spark, s"$r2/t").read()), s"seed=$seed")
      assert(state(t.readAt(mid)) === oracle(events.filter(_.seq < cut)))
      // and the incremental read covers exactly the suffix row versions
      val incSeqs = t.changesSince(mid).select("_seq").collect()
        .map(_.getLong(0)).toSet
      assert(incSeqs === events.filter(_.seq >= cut).map(_.seq).toSet, s"seed=$seed")
    }
  }

  test("manifest row stats equal physical parquet rows across maintenance") {
    // the write-side stats contract (no footer reads on the commit path):
    // per-bucket manifest sums must equal the files' true row counts
    // through delta appends, threshold compaction, compactAll and
    // rebucket — on random data and random segmentation
    for (seed <- Seq(71, 72)) {
      val rnd = new Random(seed)
      val events = randomEvents(rnd, 400)
      val df = spark.createDataset(events).toDF()
      val cut1 = 100 + rnd.nextInt(100)
      val cut2 = cut1 + 50 + rnd.nextInt(100)
      val root = tmpDir(s"prop-rows$seed")
      val cfg = Ingest.Config(s"$root/t", s"$root/c", s"w$seed", buckets = 4,
        opts = Icelite.Options(compactThreshold = 1 + rnd.nextInt(3)))
      Ingest.replay(spark, cfg, Seq(
        df.filter($"seq" < cut1),
        df.filter($"seq" >= cut1 && $"seq" < cut2),
        df.filter($"seq" >= cut2)))
      val t = Icelite.load(spark, s"$root/t")
      def invariant(tag: String): Unit = {
        val snap = t.snapshot()
        if (snap.files.isEmpty) return
        // ground truth per file (a LWW rewrite may collapse away even the
        // globally-highest seq, so compare against what the files HOLD)
        val perFile = spark.read
          .parquet(snap.files.map(f => s"${t.root}/${f.path}"): _*)
          .groupBy(input_file_name().as("f"))
          .agg(count(lit(1)).as("n"), min("_seq").as("lo"), max("_seq").as("hi"))
          .collect().map(r => r.getString(0) ->
            ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
        var physical = 0L
        snap.files.foreach { f =>
          val (n, lo, hi) = perFile.collectFirst {
            case (p, v) if p.endsWith(f.path) => v
          }.getOrElse(fail(s"seed=$seed $tag: ${f.path} not on disk"))
          physical += n
          // manifest seq range must CONTAIN the file's true range (exact
          // on measured paths, per-bucket-wide on fused-stats deltas) —
          // the soundness condition for changesSince pruning
          assert(f.minSeq <= lo && f.maxSeq >= hi, s"seed=$seed $tag ${f.path}")
        }
        assert(snap.files.map(_.rows).sum === physical, s"seed=$seed at $tag")
        assert(snap.files.forall(_.rows >= 0), s"seed=$seed at $tag")
      }
      invariant("after replay")
      t.compactAll(); invariant("after compactAll")
      t.rebucket(2 + rnd.nextInt(6)); invariant("after rebucket")
    }
  }

  test("composite split partitions random skewed tables for 3 seeds") {
    import graft.sources.RangeSplit
    for (seed <- Seq(11, 22, 33)) {
      val rnd = new Random(seed)
      // zipf-ish: a few hot conversations own most rows, plus null keys
      val rows = (0 until 800).map { i =>
        val conv = if (rnd.nextInt(10) < 6) s"hot${rnd.nextInt(2)}"
                   else f"c${rnd.nextInt(50)}%03d"
        (conv, rnd.nextInt(200))
      }
      val n = 2 + rnd.nextInt(10)
      val df = rows.toDF("conv_id", "turn_idx")
        .unionAll(Seq(("nullturn", -1)).toDF("c", "t")
          .select(col("c").as("conv_id"), lit(null).cast("int").as("turn_idx")))
      val cuts = RangeSplit.compositeCuts[String, Int](
        df, "conv_id", "turn_idx", n)(_.getString(0), _.getInt(1))
      // cuts strictly increase lexicographically (compositePredicates requires)
      cuts.sliding(2).foreach {
        case Seq(a, b) => assert(a._1 < b._1 || (a._1 == b._1 && a._2 < b._2))
        case _         =>
      }
      val preds = RangeSplit.compositePredicates("conv_id", "turn_idx", cuts,
        RangeSplit.sqlString, (b: Int) => b.toString)
      // the partition property: every row matches exactly one slice
      val m = df.select(
        preds.map(p => when(expr(p), 1).otherwise(0)).reduce(_ + _).as("m"))
        .agg(min("m"), max("m")).head()
      assert(m.getInt(0) === 1 && m.getInt(1) === 1,
        s"seed=$seed n=$n cuts=$cuts")
    }
  }

  test("LWW aggregation == window formulation on random data") {
    for (seed <- Seq(11, 12)) {
      val df = spark.createDataset(randomEvents(new Random(seed), 500)).toDF()
      val cols = df.columns.sorted.map(col).toSeq
      val a = Lww.latest(df, Model.keyCols, Seq("event_ts", "seq")).select(cols: _*)
      val b = Lww.latestByWindow(df, Model.keyCols, Seq("event_ts", "seq")).select(cols: _*)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, s"seed=$seed")
    }
  }
}
