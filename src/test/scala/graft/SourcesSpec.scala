package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{EsShape, FileIo, Jdbc, KafkaShape, RangeSplit}
import graft.tools.Masking

/** splitPk range math, Kafka value shaping, write modes, masking, and the
  * dx_groovy-analogue typed-lambda transform surface.
  */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------------ range split

  test("longRanges cover [min,max] exactly, contiguously, in order") {
    for ((min, max, n) <- Seq((0L, 99L, 4), (-50L, 49L, 7), (5L, 5L, 3), (0L, 2L, 10))) {
      val r = RangeSplit.longRanges(min, max, n)
      assert(r.head._1 === min)
      assert(r.last._2 === max)
      r.sliding(2).foreach {
        case Seq((_, hi), (lo2, _)) => assert(hi === lo2)
        case _ =>
      }
      assert(r.size === math.min(n, max - min + 1))
      // every value falls in exactly one [lo, hi) range (last inclusive)
      val covered = (min to max).count { v =>
        r.init.count { case (lo, hi) => v >= lo && v < hi } +
          (if (v >= r.last._1 && v <= r.last._2) 1 else 0) == 1
      }
      assert(covered === (max - min + 1))
    }
  }

  test("stringRanges split lexicographically and cover the endpoints") {
    val r = RangeSplit.stringRanges("aaa", "zzz", 8)
    assert(r.size === 8)
    assert(r.head._1 === "aaa" && r.last._2 === "zzz")
    r.foreach { case (lo, hi) => assert(lo <= hi, s"$lo > $hi") }
    r.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi === lo2)
      case _ =>
    }
  }

  test("predicates render range slices plus the IS NULL slice") {
    val p = RangeSplit.predicates("pk", RangeSplit.longRanges(0, 9, 2))
    assert(p === Seq(
      "pk >= 0 AND pk < 5",
      "pk >= 5 AND pk <= 9",
      "pk IS NULL"))
    // string pks quote
    val sp = RangeSplit.predicates("k", Seq(("a", "m"), ("m", "z")),
      RangeSplit.sqlString)
    assert(sp.head === "k >= 'a' AND k < 'm'" && sp.contains("k IS NULL"))
    // embedded quotes double, so cut points stay valid SQL literals
    assert(RangeSplit.sqlString("o'brien") === "'o''brien'")
  }

  test("quantileRanges balance a skewed pk where even ranges would not") {
    // 90% of pks live in [0,100); a long sparse tail reaches ~112k — the
    // shape that makes even arithmetic splitting put 9 of 10 rows in the
    // first slice (the reference's Oracle SAMPLE path exists for this,
    // SingleTableSplitUtil.java:293-388)
    val pks = (0 until 9000).map(i => (i % 100).toLong) ++
      (0 until 1000).map(i => 1000L + i * 111L)
    val df = pks.toDF("pk")
    val qr = RangeSplit.quantileRanges(df, "pk", 4)
    assert(qr.nonEmpty && qr.size <= 4)
    assert(qr.head._1 === 0L && qr.last._2 === pks.max)
    qr.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi === lo2)
      case _ =>
    }
    def cnt(r: (Long, Long), last: Boolean) =
      pks.count(p => p >= r._1 && (if (last) p <= r._2 else p < r._2))
    val counts = qr.zipWithIndex.map { case (r, i) => cnt(r, i == qr.size - 1) }
    assert(counts.sum === pks.size) // slices still cover every row exactly once
    // balanced: no slice holds the 90% an even split would give slice 0
    assert(counts.max <= pks.size / 2, s"unbalanced: $counts")
    // degenerate inputs
    assert(RangeSplit.quantileRanges(Seq.empty[Long].toDF("pk"), "pk", 4) === Seq.empty)
    assert(RangeSplit.quantileRanges(Seq(7L).toDF("pk"), "pk", 4) === Seq((7L, 7L)))
  }

  test("compositeCuts sub-split a hot partition key; slices partition the table") {
    // one conversation holds 60% of the rows — a single-dim split on
    // conv_id collapses every interior cut onto it and leaves one fat
    // slice; the composite (conv_id, turn_idx) cuts land INSIDE it
    val rows = (0 until 600).map(i => ("hot", i)) ++
      (0 until 40).flatMap(c => (0 until 10).map(i => (f"c$c%02d", i)))
    val df = rows.toDF("conv_id", "turn_idx")
    val cuts = RangeSplit.compositeCuts[String, Int](
      df, "conv_id", "turn_idx", n = 8)(_.getString(0), _.getInt(1))
    assert(cuts.nonEmpty && cuts.size <= 7)
    assert(cuts.exists(_._1 == "hot"), s"no cut inside the hot key: $cuts")
    val preds = RangeSplit.compositePredicates("conv_id", "turn_idx", cuts,
      RangeSplit.sqlString, (b: Int) => b.toString)
    // rows with a null key component go to the catch-all slice ONLY
    val withNulls = df
      .unionAll(Seq("x").toDF("conv_id")
        .select(col("conv_id"), lit(null).cast("int").as("turn_idx")))
      .unionAll(spark.range(1)
        .select(lit(null).cast("string").as("conv_id"),
          lit(3).cast("int").as("turn_idx")))
    // partition property: every row matches exactly one slice predicate
    val matches = withNulls.select(
      preds.map(p => when(expr(p), 1).otherwise(0)).reduce(_ + _).as("m"))
      .agg(min("m"), max("m")).head()
    assert(matches.getInt(0) === 1 && matches.getInt(1) === 1)
    val counts = preds.map(p => withNulls.filter(expr(p)).count())
    assert(counts.sum === rows.size + 2)
    assert(counts.last === 2) // the two null-key rows, nothing else
    // balance: the hot key's 600 rows spread across slices instead of
    // landing whole in one
    assert(counts.init.max < 400, s"hot key not sub-split: $counts")
    // degenerate inputs
    assert(RangeSplit.compositeCuts[String, Int](
      df.limit(0), "conv_id", "turn_idx", 4)(_.getString(0), _.getInt(1)) === Seq.empty)
    assert(RangeSplit.compositePredicates("a", "b", Seq.empty[(String, Int)],
      RangeSplit.sqlString, (b: Int) => b.toString) ===
      Seq("a IS NOT NULL AND b IS NOT NULL", "(a IS NULL OR b IS NULL)"))
  }

  test("jdbc scan assembly: min/max SQL, slice predicates, where AND") {
    val spec = Jdbc.Spec("jdbc:postgresql://h/db", "t_orders", "order_id", 3,
      where = Some("status = 'OPEN'"))
    assert(Jdbc.minMaxSql(spec) ===
      "(SELECT MIN(order_id) AS pk_min, MAX(order_id) AS pk_max" +
        " FROM t_orders WHERE status = 'OPEN') graft_minmax")
    val preds = Jdbc.slicePredicates(spec, 0L, 299L)
    assert(preds.size === 4) // 3 ranges + the IS NULL catch-all slice
    assert(preds.head === "(order_id >= 0 AND order_id < 100) AND (status = 'OPEN')")
    assert(preds(2) === "(order_id >= 200 AND order_id <= 299) AND (status = 'OPEN')")
    assert(preds.last === "(order_id IS NULL) AND (status = 'OPEN')")
    // no user filter: bare predicates
    assert(Jdbc.slicePredicates(spec.copy(where = None), 0L, 299L).head ===
      "order_id >= 0 AND order_id < 100")
    // quantile variant plans off a sample frame the caller supplies
    val sample = (0 until 100).map(i => (i % 10).toLong).toDF("order_id")
    val qp = Jdbc.quantileSlicePredicates(spec.copy(slices = 2, where = None), sample)
    assert(qp.size >= 2 && qp.last === "order_id IS NULL")
    // credentials land in connection props, not in SQL text
    val p = Jdbc.connProps(spec.copy(user = Some("u"), password = Some("s3cret")))
    assert(p.getProperty("user") === "u" && p.getProperty("password") === "s3cret")
  }

  test("jdbc cell decode: all-strings shape, binary as base64 (reference S2)") {
    val df = Seq((1L, "hi".getBytes("UTF-8"), 2.5, null.asInstanceOf[String]))
      .toDF("id", "blob", "v", "s")
    val out = Jdbc.decodeAllStrings(df)
    assert(out.schema.fields.forall(_.dataType ===
      org.apache.spark.sql.types.StringType))
    val r = out.head()
    assert(r.getString(0) === "1")
    assert(r.getString(1) ===
      java.util.Base64.getEncoder.encodeToString("hi".getBytes("UTF-8")))
    assert(r.getString(2) === "2.5" && r.isNullAt(3))
  }

  test("jdbc execution: splitPk scan round-trips rows against an embedded Derby DB (S1)") {
    // a REAL in-JVM JDBC engine (Derby ships on Spark's classpath for the
    // Hive metastore) closes the execution seam: the assembled predicates
    // actually run server-side, one Spark partition per slice
    val url = "jdbc:derby:memory:graftjdbc;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE turns (pk BIGINT, conv VARCHAR(16), body BLOB)")
      val ins = conn.prepareStatement("INSERT INTO turns VALUES (?, ?, ?)")
      (0L until 100L).foreach { i =>
        ins.setLong(1, i * 3); ins.setString(2, s"c$i")
        ins.setBytes(3, s"m$i".getBytes("UTF-8")); ins.executeUpdate()
      }
      // a NULL-pk row must survive via the catch-all slice
      st.execute("INSERT INTO turns VALUES (NULL, 'orphan', NULL)")

      val spec = Jdbc.Spec(url, "turns", "pk", slices = 4)
      val scanned = Jdbc.scan(spark, spec) // bounds discovered via minMaxSql
      assert(scanned.rdd.getNumPartitions === 5) // 4 ranges + pk IS NULL
      assert(scanned.count() === 101)
      val got = scanned.collect().map(r =>
        (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getString(1))).toSet
      assert(got.contains((Some(297L), "c99")) && got.contains((None, "orphan")))

      // the all-strings wire shape over REAL jdbc-decoded cells (S2):
      // Derby BLOB arrives as BinaryType and must render as Base64
      val wire = Jdbc.decodeAllStrings(scanned.filter("pk = 0")).head()
      assert(wire.getString(0) === "0")
      assert(wire.getString(2) ===
        java.util.Base64.getEncoder.encodeToString("m0".getBytes("UTF-8")))

      // querySql passthrough executes server-side as a derived table
      val q = Jdbc.scanQuery(spark, url,
        "SELECT conv, pk FROM turns WHERE pk >= 150")
      assert(q.count() === 50 && q.columns.toSeq === Seq("CONV", "PK"))

      // pushdown reaches the database: a pk filter prunes before Spark
      val pruned = Jdbc.scan(spark, spec.copy(where = Some("pk < 30")))
      assert(pruned.count() === 10)
    } finally {
      conn.close()
      // drop the in-memory db so reruns in the same JVM start clean
      try java.sql.DriverManager.getConnection(
        "jdbc:derby:memory:graftjdbc;drop=true")
      catch { case _: java.sql.SQLException => () } // drop "fails" by design
    }
  }

  test("kafka produce render: key + delimited value, nulls as nullFormat (W11)") {
    val df = Seq(("c1", 0, "hello", null.asInstanceOf[String]),
      ("c2", 1, "world", "t")).toDF("conv_id", "turn_idx", "text", "tool")
    val out = KafkaShape.render(df, "conv_id", "|",
      Seq("turn_idx", "text", "tool"), nullFormat = "\\N")
    assert(out.columns.toSeq === Seq("key", "value"))
    val rows = out.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows === Set(("c1", "0|hello|\\N"), ("c2", "1|world|t")))
  }

  test("es bulk render: action/source pairs, chunked bodies, item errors (W10)") {
    val df = Seq((1L, "click", "a\"b"), (2L, "view", null.asInstanceOf[String]),
      (3L, "buy", "z")).toDF("event_id", "event_type", "note")
    val lines = EsShape.bulkLines(df, "events", col("event_id"),
      Seq("event_id", "event_type", "note")).orderBy("bulk")
      .collect().map(_.getString(0))
    // to_json escapes embedded quotes and (Spark default) omits null fields
    assert(lines(0) ===
      "{\"index\":{\"_index\":\"events\",\"_id\":\"1\"}}\n" +
        "{\"event_id\":1,\"event_type\":\"click\",\"note\":\"a\\\"b\"}")
    assert(lines(1) ===
      "{\"index\":{\"_index\":\"events\",\"_id\":\"2\"}}\n" +
        "{\"event_id\":2,\"event_type\":\"view\"}")
    // bodies chunk per partition, ≤ batchSize docs each, trailing newline
    val bodies = EsShape.bulkBodies(
      EsShape.bulkLines(df.coalesce(1), "events", col("event_id"),
        Seq("event_id")), batchSize = 2).collect()
    assert(bodies.length === 2)
    assert(bodies.forall(_.endsWith("\n")))
    assert(bodies.map(_.linesIterator.size).toSeq === Seq(4, 2)) // 2 docs + 1 doc
    // per-item status check: error object OR status >= 300 → dirty, by position
    val resp = """{"took":3,"errors":true,"items":[
      {"index":{"_id":"1","status":201}},
      {"index":{"_id":"2","status":400,
        "error":{"type":"mapper_parsing_exception","reason":"bad field"}}},
      {"index":{"_id":"3","status":404}}]}"""
    assert(EsShape.bulkItemErrors(resp) === Seq(
      1 -> "mapper_parsing_exception: bad field", 2 -> "status 404"))
    assert(EsShape.bulkItemErrors("""{"took":1,"errors":false,"items":[
      {"index":{"_id":"1","status":200}}]}""") === Seq.empty)
  }

  test("zip codec: multi-entry archives read as one concatenated text stream (S3/S4)") {
    FileIo.registerZipCodec(spark)
    val dir = tmpDir("zip")
    // two entries + a directory entry that must be skipped
    val zf = new java.util.zip.ZipOutputStream(
      java.nio.file.Files.newOutputStream(java.nio.file.Paths.get(s"$dir/multi.zip")))
    zf.putNextEntry(new java.util.zip.ZipEntry("a/")); zf.closeEntry()
    zf.putNextEntry(new java.util.zip.ZipEntry("a/one.csv"))
    zf.write("1,alpha\n2,beta\n".getBytes("UTF-8")); zf.closeEntry()
    zf.putNextEntry(new java.util.zip.ZipEntry("b/two.csv"))
    zf.write("3,gamma\n".getBytes("UTF-8")); zf.closeEntry()
    zf.close()
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id INT, name STRING")
    val got = FileIo.readCsv(spark, s"$dir/multi.zip", schema)
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(got === Set((1, "alpha"), (2, "beta"), (3, "gamma")))

    // write side round-trips through the same codec by extension
    val df = Seq((10, "x"), (11, "y")).toDF("id", "name")
    FileIo.writeCsv(df, s"$dir/out", FileIo.TextOptions(compress = Some("zip")))
    val names = new java.io.File(s"$dir/out").listFiles().map(_.getName)
    assert(names.exists(_.endsWith(".zip")), s"no .zip parts in ${names.toSeq}")
    val back = FileIo.readCsv(spark, s"$dir/out", schema)
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(back === Set((10, "x"), (11, "y")))
  }

  // --------------------------------------------------- kafka executable IO

  test("KafkaIo reader options: subscribe, offsets, throttle wired exactly (S10)") {
    import graft.sources.KafkaIo
    val cfg = KafkaIo.SourceConfig("b1:9092,b2:9092", "transcript-cdc",
      startingOffsets = """{"transcript-cdc":{"0":42}}""",
      maxOffsetsPerTrigger = Some(500000L),
      extra = Map("kafka.group.id" -> "graft-ingest"))
    val o = cfg.options
    assert(o("kafka.bootstrap.servers") === "b1:9092,b2:9092")
    assert(o("subscribe") === "transcript-cdc")
    assert(o("startingOffsets") === """{"transcript-cdc":{"0":42}}""")
    assert(o("maxOffsetsPerTrigger") === "500000")
    assert(o("failOnDataLoss") === "false")
    assert(o("kafka.group.id") === "graft-ingest")
    // throttle omitted entirely when unset (Kafka source rejects blanks)
    assert(!KafkaIo.SourceConfig("b", "t").options.contains("maxOffsetsPerTrigger"))
    val sink = KafkaIo.SinkConfig("b1:9092", "out-topic").options
    assert(sink("topic") === "out-topic")
    assert(sink("kafka.bootstrap.servers") === "b1:9092")
  }

  test("KafkaIo CLI config: IngestMain kv args reach the reader options") {
    val cfg = graft.tools.IngestMain.kafkaSourceConfig(Map(
      "brokers" -> "k1:9092", "topic" -> "cdc",
      "startingOffsets" -> "latest", "maxOffsetsPerTrigger" -> "250000"))
    assert(cfg.options("subscribe") === "cdc")
    assert(cfg.options("startingOffsets") === "latest")
    assert(cfg.options("maxOffsetsPerTrigger") === "250000")
    intercept[IllegalArgumentException] {
      graft.tools.IngestMain.kafkaSourceConfig(Map("brokers" -> "k1:9092"))
    }
  }

  test("KafkaIo offline: fails fast with the connector-jar fix, no bare lookup error") {
    import graft.sources.KafkaIo
    assume(!KafkaIo.connectorAvailable,
      "connector on classpath: executable path active, offline guard untestable")
    val e = intercept[IllegalStateException] {
      KafkaIo.readStream(spark, KafkaIo.SourceConfig("b:9092", "t"))
    }
    assert(e.getMessage.contains("spark-sql-kafka"))
    intercept[IllegalStateException] {
      KafkaIo.writeBatch(Seq(("k", "v")).toDF("key", "value"),
        KafkaIo.SinkConfig("b:9092", "t"))
    }
  }

  test("KafkaIo online: builds the real format(\"kafka\") pipeline when the jar exists") {
    import graft.sources.KafkaIo
    assume(KafkaIo.connectorAvailable, "connector jar absent (offline sandbox) — skip")
    // construction only — no broker contact until .start(); the analyzed
    // plan must expose Kafka's record schema
    val raw = KafkaIo.readStream(spark, KafkaIo.SourceConfig("b:9092", "t"))
    assert(raw.isStreaming)
    assert(raw.schema.fieldNames.toSet.intersect(
      Set("key", "value", "topic", "partition", "offset")).size === 5)
  }

  // ------------------------------------------------------------ kafka shape

  test("kafka value parsing: json, split, regex, writerOrder, synthetic") {
    val vals = Seq("""{"a": 1, "b": "x"}""", """{"a": 2}""", "not json").toDF("value")
    val j = KafkaShape.parseJson(vals, "value", Seq("a" -> "$.a", "b" -> "$.b"))
      .collect().map(r => (Option(r.getString(0)), Option(r.getString(1))))
    assert(j(0) === (Some("1"), Some("x")))
    assert(j(1) === (Some("2"), None))
    assert(j(2) === (None, None)) // malformed → nulls, not an abort

    val s = KafkaShape.parseSplit(Seq("a|b|c", "x|y").toDF("value"), "value", "|",
      Seq("c1", "c2", "c3")).collect()
    assert(s(0).toSeq === Seq("a", "b", "c"))
    assert(s(1).toSeq === Seq("x", "y", null))

    val r = KafkaShape.parseRegex(Seq("id=42;u=bob").toDF("value"), "value",
      "id=(\\d+);u=(\\w+)", Seq("id", "u")).head()
    assert(r.toSeq === Seq("42", "bob"))

    val ordered = KafkaShape.writerOrder(
      Seq((1, "a")).toDF("x", "y"), Seq("y", "missing", "x"))
    assert(ordered.columns.toSeq === Seq("y", "missing", "x"))
    assert(ordered.head().isNullAt(1))

    val syn = KafkaShape.withSynthetic(Seq("v").toDF("value"), "kafka-topic-1")
    assert(syn.columns.toSet === Set("value", "uuid", "datax_time", "data_from"))
    assert(syn.select("data_from").head().getString(0) === "kafka-topic-1")
  }

  test("changeEvents: render round-trips to typed change events (S10 wiring)") {
    import graft.sources.Gen
    // the projection shared by IngestMain.kafkaSource and the MemoryStream
    // contract test — typed round-trip over generated change events
    val ch = Gen.changelog(spark, Gen.GenConfig(events = 300, convs = 20))
    val names = graft.model.Model.changeSchema.fieldNames.toSeq
    val rendered = KafkaShape.render(ch, "conv_id", "\u0001", names)
    val back = KafkaShape.changeEvents(rendered, "split", "\u0001")
    assert(back.schema === graft.model.Model.changeSchema
      .copy(fields = graft.model.Model.changeSchema.fields.map(_.copy(nullable = true))))
    val cols = names.sorted.map(col)
    assert(ch.select(cols: _*).exceptAll(back.select(cols: _*)).isEmpty)
    assert(back.select(cols: _*).exceptAll(ch.select(cols: _*)).isEmpty)

    // json mode: one object per record, from_json typing in one pass
    val asJson = ch.select(to_json(struct(names.map(col): _*)).as("value"))
    val backJ = KafkaShape.changeEvents(asJson, "json")
    assert(ch.select(cols: _*).exceptAll(backJ.select(cols: _*)).isEmpty)

    // regex mode + malformed records: nulls (dirty-gate food), not aborts;
    // the pattern carries one capture group per change-schema column
    val re = Seq("I,c7,3,user,hi,,2024-01-01 00:00:00,2024-01-01 00:00:00,5",
      "garbage").toDF("value")
    val backR = KafkaShape.changeEvents(re, "regex",
      pattern = Seq.fill(9)("([^,]*)").mkString(","))
    val rows = backR.select("op", "conv_id", "turn_idx", "seq").collect()
    assert(rows(0).toSeq === Seq("I", "c7", 3, 5L))
    assert(rows(1).toSeq === Seq(null, null, null, null))
    intercept[IllegalArgumentException](KafkaShape.changeEvents(re, "bogus"))
    intercept[IllegalArgumentException](KafkaShape.changeEvents(re, "regex"))
  }

  test("mode=kafka fails fast with the --packages instruction offline") {
    import graft.tools.IngestMain
    // connector jar absent in this offline sandbox: the seam must surface
    // the actionable fix, not a bare DATA_SOURCE_NOT_FOUND. Capability
    // detection (KafkaIo.connectorAvailable) fires BEFORE any provider
    // lookup, so there is no underlying lookup failure to preserve.
    val e = intercept[IllegalStateException](IngestMain.kafkaSource(spark,
      Map("brokers" -> "broker:9092", "topic" -> "cdc")))
    assert(e.getMessage.contains("--packages"))
    intercept[IllegalArgumentException](
      IngestMain.kafkaSource(spark, Map("topic" -> "cdc")))
    intercept[IllegalArgumentException](
      IngestMain.kafkaSource(spark, Map("brokers" -> "b:9092")))
  }

  // ------------------------------------------------------------ write modes

  test("writeMode truncate/append/nonConflict semantics") {
    val root = tmpDir("modes")
    val df = Seq(1, 2).toDF("n")
    FileIo.writeOrc(df, s"$root/t", "truncate")
    FileIo.writeOrc(df, s"$root/t", "append")
    assert(FileIo.readOrc(spark, s"$root/t", df.schema).count() === 4)
    FileIo.writeOrc(df, s"$root/t", "truncate")
    assert(FileIo.readOrc(spark, s"$root/t", df.schema).count() === 2)
    intercept[Exception] { FileIo.writeOrc(df, s"$root/t", "nonConflict") }
    intercept[IllegalArgumentException] { FileIo.writeOrc(df, s"$root/t", "bogus") }
  }

  test("readCsv keepCorrupt routes malformed rows to a _corrupt column") {
    val root = tmpDir("corrupt")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("n", IntegerType)))
    // the malformed row has EXTRA columns — in Spark 4's CSV contract both
    // missing trailing fields and unparseable field values merely become
    // nulls; only structural excess marks a record malformed
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "data.csv"), "1,10\n2,20,junk,extra\n3,30\n")
    val kept = FileIo.readCsv(spark, s"$root/data.csv", schema, keepCorrupt = true)
    assert(kept.filter(col("_corrupt").isNotNull).count() === 1)
    assert(kept.filter(col("_corrupt").isNull).count() === 2)
    // default: malformed rows silently dropped. NB collect(), not count():
    // a CSV count() prunes every column, the parser never runs, and
    // DROPMALFORMED has nothing to drop — documented Spark behavior
    val dropped = FileIo.readCsv(spark, s"$root/data.csv", schema)
    assert(dropped.collect().length === 2)
  }

  // ------------------------------------------------------------ cli config

  test("IngestMain parses key=value args into a job config") {
    import graft.tools.IngestMain
    val kv = IngestMain.parse(Array(
      "binlog=/b", "table=/t", "checkpoint=/c", "buckets=64",
      "deadLetterDir=/dl", "errorPctLimit=0.25",
      "note=a=b")) // values may contain '='
    assert(kv("note") === "a=b")
    val cfg = IngestMain.configFrom(kv)
    assert(cfg.tablePath === "/t" && cfg.buckets === 64)
    assert(cfg.deadLetterDir === Some("/dl") && cfg.errorPctLimit === 0.25)
    intercept[IllegalArgumentException] {
      IngestMain.configFrom(Map("table" -> "/t")) // checkpoint missing
    }
    intercept[IllegalArgumentException] { IngestMain.parse(Array("novalue")) }
  }

  test("IngestMain update set= splits on top-level commas only") {
    import graft.tools.IngestMain
    val set = IngestMain.parse(Array("set=tool=concat(role,'-x'),text=upper(text)"))("set")
    assert(IngestMain.setAssignments(set) ===
      Seq("tool" -> "concat(role,'-x')", "text" -> "upper(text)"))
    // commas inside quoted literals (an escaped quote included) stay put
    assert(IngestMain.setAssignments("""text='a,b', tool="it\"s,x"""") ===
      Seq("text" -> "'a,b'", "tool" -> """"it\"s,x""""))
    intercept[IllegalArgumentException] { IngestMain.setAssignments("text=upper(text") }
    intercept[IllegalArgumentException] { IngestMain.setAssignments("upper(text)") }
  }

  // ------------------------------------------------------------ masking

  test("credential-shaped config keys are masked") {
    val masked = Masking.mask(Map(
      "jdbc.password" -> "hunter2", "aliyun.accessKey" -> "AK", "user" -> "bob",
      "apiToken" -> "t", "clientSecret" -> "s"))
    assert(masked("jdbc.password") === "*****")
    assert(masked("aliyun.accessKey") === "*****")
    assert(masked("apiToken") === "*****")
    assert(masked("clientSecret") === "*****")
    assert(masked("user") === "bob")
  }

  // ------------------------------------------------------------ dx_groovy analogue

  test("arbitrary row transform = typed flatMap (set columns / filter by None)") {
    // the reference's dx_groovy can rewrite any column or return null to
    // drop the record (GroovyTransformer.java:17-95); the Spark-first
    // equivalent is a typed Dataset lambda — JIT'd Scala, no script engine
    import SourcesSpec.Rec
    val ds = Seq(Rec(1, "keep me"), Rec(2, "drop"), Rec(3, "keep too")).toDS()
    val out = ds.flatMap { r =>
      if (r.text.startsWith("drop")) None
      else Some(r.copy(text = r.text.toUpperCase))
    }.collect().sortBy(_.id)
    assert(out.map(_.text).toSeq === Seq("KEEP ME", "KEEP TOO"))
  }

  // ------------------------------------------------------------ SEQ (S4)

  test("sequencefile text mode round-trips schema'd rows (S4 SEQ)") {
    val dir = tmpDir("seq")
    val df = Seq(
      (1L, "alpha", Some(1.5)),
      (2L, "with,comma", None),
      (3L, null.asInstanceOf[String], Some(-2.0))
    ).toDF("id", "name", "score")
    FileIo.writeSeq(df, s"$dir/t")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType)))
    val back = FileIo.readSeq(spark, s"$dir/t", schema)
    assert(back.collect().map(r => (r.get(0), r.get(1), r.get(2))).toSet ===
      Set((1L, "alpha", 1.5), (2L, "with,comma", null), (3L, null, -2.0)))
    // nonConflict refuses the existing dir; append doubles the rows
    intercept[IllegalArgumentException] {
      FileIo.writeSeq(df, s"$dir/t", writeMode = "nonConflict")
    }
    FileIo.writeSeq(df, s"$dir/t", writeMode = "append")
    assert(FileIo.readSeq(spark, s"$dir/t", schema).count() === 6)
  }

  // ------------------------------------------------------------ RC (S4)

  test("rcfile text mode round-trips schema'd rows incl nulls (S4 RC)") {
    val dir = tmpDir("rc")
    val df = Seq(
      (1L, "alpha", Some(1.5)),
      (2L, "comma, \"quote\", and\ttab", None),
      (3L, null.asInstanceOf[String], Some(-2.0))
    ).toDF("id", "name", "score")
    FileIo.writeRc(df, s"$dir/t")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType)))
    val back = FileIo.readRc(spark, s"$dir/t", schema)
    // columnar cells: no delimiter/quote collision possible, unlike CSV modes
    assert(back.collect().map(r => (r.get(0), r.get(1), r.get(2))).toSet ===
      Set((1L, "alpha", 1.5), (2L, "comma, \"quote\", and\ttab", null),
        (3L, null, -2.0)))
    intercept[IllegalArgumentException] {
      FileIo.writeRc(df, s"$dir/t", writeMode = "nonConflict")
    }
    intercept[IllegalArgumentException] {
      FileIo.writeRc(df, s"$dir/t", writeMode = "append")
    }
  }

  // ------------------------------------------------------------ Mongo (S12)

  test("mongo extended json round-trips typed rows; objectid ranges split (S12)") {
    val df = Seq(
      (1L, "alpha", Some(java.sql.Timestamp.valueOf("2026-01-02 03:04:05.123"))),
      (2L, null.asInstanceOf[String], None)
    ).toDF("n", "s", "t")
    import graft.sources.MongoShape
    val oid = lpad(hex(col("n")), 24, "0")
    val docs = MongoShape.renderExtended(df, lower(oid), Seq("n", "s", "t"))
    val doc1 = docs.orderBy("doc").collect()(0).getString(0)
    // canonical extended JSON: wrapped int64 + epoch-millis date, plain strings
    assert(doc1 === """{"_id":{"$oid":"000000000000000000000001"},""" +
      """"n":{"$numberLong":"1"},"s":"alpha",""" +
      """"t":{"$date":{"$numberLong":"1767323045123"}}}""")
    val schema = StructType(Seq(StructField("n", LongType),
      StructField("s", StringType), StructField("t", TimestampType)))
    val back = MongoShape.parseExtended(docs, "doc", schema).orderBy("n")
    assert(back.columns.toSeq === Seq("_id", "n", "s", "t"))
    val rows = back.collect()
    assert(rows(0).getString(0) === "000000000000000000000001")
    assert(rows(0).getLong(1) === 1L && rows(0).getString(2) === "alpha")
    assert(rows(0).getTimestamp(3) ===
      java.sql.Timestamp.valueOf("2026-01-02 03:04:05.123"))
    assert(rows(1).getLong(1) === 2L && rows(1).isNullAt(2) && rows(1).isNullAt(3))
    // _id range split: contiguous, ordered, endpoint-inclusive 96-bit ranges
    val r = MongoShape.objectIdRanges(
      "000000000000000000000000", "00000000000000000000ffff", 4)
    assert(r.size === 4)
    assert(r.head._1 === "000000000000000000000000")
    assert(r.last._2 === "00000000000000000000ffff")
    r.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi === lo2)
      case _ =>
    }
    assert(r.forall { case (a, b) => a.length == 24 && b.length == 24 && a <= b })
    intercept[IllegalArgumentException] {
      MongoShape.objectIdRanges("xyz", "00000000000000000000ffff", 4)
    }
  }

  // ------------------------------------------------------------ dx_url2base64

  test("dx_url2base64: fetch to base64, null through, failure keeps value") {
    import graft.operators.Transforms
    val dir = tmpDir("url")
    val payload = "hello graft é".getBytes("UTF-8")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/blob.bin"), payload)
    val b64 = java.util.Base64.getEncoder.encodeToString(payload)
    val df = Seq(
      (1L, s"file://$dir/blob.bin"),
      (2L, null.asInstanceOf[String]),
      (3L, s"file://$dir/missing.bin"), // fetch fails → original value kept
      (4L, "data:text/plain;base64," +
        java.util.Base64.getEncoder.encodeToString("inline".getBytes)),
      (5L, "data:,plain%20text")
    ).toDF("id", "url")
    val out = Transforms.urlToBase64(df, "url").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === b64)
    assert(out(2L) === null)
    assert(out(3L) === s"file://$dir/missing.bin")
    assert(new String(java.util.Base64.getDecoder.decode(out(4L))) === "inline")
    assert(new String(java.util.Base64.getDecoder.decode(out(5L))) === "plain text")
    // non-url columns intact
    assert(Transforms.urlToBase64(df, "url").select("id").collect()
      .map(_.getLong(0)).toSet === Set(1L, 2L, 3L, 4L, 5L))
  }

  test("enumerate expands globs, recurses directories, errors on no match") {
    val dir = tmpDir("enum")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/sub"))
    for (f <- Seq("a1.txt", "a2.txt", "b.csv", "sub/c.txt"))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/$f"), "x")
    def names(pattern: String) =
      FileIo.enumerate(spark, pattern).map(_.split('/').last)
    assert(names(s"$dir/a*.txt") === Seq("a1.txt", "a2.txt"))
    assert(names(s"$dir/a?.txt") === Seq("a1.txt", "a2.txt"))
    // a matched directory recurses to its files (reference dir-path case)
    assert(names(s"$dir/sub") === Seq("c.txt"))
    assert(names(s"$dir/*").toSet === Set("a1.txt", "a2.txt", "b.csv", "c.txt"))
    intercept[IllegalArgumentException] { FileIo.enumerate(spark, s"$dir/z*.none") }
  }

  // --------------------------------------------------- transformer registry

  test("registry chain spec parses and applies; last arg keeps its commas") {
    import graft.operators.TransformerRegistry
    val df = Seq((1L, "hello world"), (2L, "error code"), (3L, null))
      .toDF("id", "text")
    // dx_filter regex contains a comma ({5,7}) — must survive the parse;
    // dx_expr SQL contains commas too
    val out = TransformerRegistry.applyChain(df,
      "dx_substr(text,0,5),dx_filter(text,like,e.{3,5}),dx_expr(tag,concat('v', id, '!'))")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1), r.getString(2)))
    // 'error' (5 chars) full-matches e.{3,5} => dropped; null kept
    assert(out.toSet === Set((1L, "hello", "v1!"), (3L, null, "v3!")))

    // pad + replace builtins, in place
    val padded = TransformerRegistry.applyChain(
      Seq(("ab")).toDF("s"), "dx_pad(s,r,6,.),dx_replace(s,1,2,XY)")
      .head().getString(0)
    assert(padded === "aXY...")

    intercept[IllegalArgumentException] {
      TransformerRegistry.applyChain(df, "dx_nope(text,1)")
    }
    intercept[IllegalArgumentException] { // built-ins cannot be shadowed
      TransformerRegistry.register("dx_filter", 3, _ => identity)
    }
  }

  test("dx_script compiles config text into a record transform (GroovyTransformer parity)") {
    import graft.operators.{ScriptedTransform, TransformerRegistry}
    val df = Seq((1L, "keep me", 10L), (2L, "drop me", 3L), (3L, null, 99L))
      .toDF("id", "text", "n")
    // filter (return null) + in-place rewrite + null-safe slot access,
    // all from ONE config string through the normal registry parse
    val out = TransformerRegistry.applyChain(df,
      "dx_script(" +
        "if (((Long) record[2]).longValue() < 5L) return null; " +
        "record[1] = record[1] == null ? \"<null>\" : ((String) record[1]).toUpperCase(java.util.Locale.ROOT); " +
        "return record;)")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out === Set((1L, "KEEP ME"), (3L, "<null>")))

    // schema is preserved by contract
    val shaped = ScriptedTransform.transform(df, "return record;")
    assert(shaped.schema === df.schema)
    assert(shaped.count() === 3)

    // syntax errors fail at assembly time, before any executor sees them
    intercept[Exception] {
      ScriptedTransform.transform(df, "this is not java")
    }
    // wrong-arity return fails the task with a clear message
    val bad = ScriptedTransform.transform(df, "return new Object[] { record[0] };")
    val e = intercept[Exception] { bad.collect() }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("slots")))
  }

  test("registerClass loads a NamedTransform reflectively (user-jar analogue)") {
    import graft.operators.TransformerRegistry
    TransformerRegistry.registerClass("dx_suffix",
      classOf[SourcesSpec.SuffixTransform].getName)
    val out = TransformerRegistry.applyChain(
      Seq(("a"), ("b")).toDF("s"), "dx_suffix(s,-Z)")
      .collect().map(_.getString(0)).toSet
    assert(out === Set("a-Z", "b-Z"))
  }

  test("ingest applies a config-named transform chain per micro-batch") {
    import graft.plans.Icelite
    import graft.streaming.Ingest
    val root = tmpDir("registry-ingest")
    val kv = graft.tools.IngestMain.parse(Array(
      s"table=$root/t", s"checkpoint=$root/ck", "writerId=w", "buckets=2",
      "transforms=dx_substr(text,0,4),dx_filter(conv_id,=,cDrop)"))
    val cfg = graft.tools.IngestMain.configFrom(kv)
    val batch = Seq(
      ("I", "c1", 0, "user", "longtext", null, 1L),
      ("I", "cDrop", 0, "user", "gone", null, 2L))
      .toDF("op", "conv_id", "turn_idx", "role", "text", "tool", "seq")
      .withColumn("ts", expr("timestamp_millis(1700000000000 + seq)"))
      .withColumn("event_ts", col("ts"))
    Ingest.applyBatch(spark, cfg, batch, 0L)
    val rows = Icelite.load(spark, cfg.tablePath).read()
      .select("conv_id", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(rows.toSeq === Seq(("c1", "long"))) // truncated; cDrop filtered
  }
}

object SourcesSpec {
  case class Rec(id: Long, text: String)

  /** Test double for the runtime-loaded transformer-jar path. */
  class SuffixTransform extends graft.operators.NamedTransform {
    def arity: Int = 2
    def apply(args: Seq[String]): org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = {
      val Seq(c, suffix) = args
      df => df.withColumn(c, org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.col(c),
        org.apache.spark.sql.functions.lit(suffix)))
    }
  }
}
