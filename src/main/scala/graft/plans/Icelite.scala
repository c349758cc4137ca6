package graft.plans

import scala.util.Try

import org.apache.hadoop.fs.{Path => HPath}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.model.Model
import graft.operators.Lww

/** "icelite": a minimal snapshot-transactional table format over parquet.
  *
  * No Iceberg/Delta runtime is resolvable in this sandbox (offline coursier),
  * so we implement the subset of Iceberg semantics the engine actually needs
  * (SURVEY.md §7.0): atomic snapshot commits (versioned metadata JSON +
  * manifest of data files), snapshot ids + time travel, merge-on-read deltas
  * with copy-on-write compaction, schema evolution (add-column / type-widen)
  * and idempotent commits keyed by (writerId, batchId) — the analogue of the
  * reference's at-least-once read + idempotent REPLACE/ON-DUPLICATE-KEY write
  * (`plugin-rdbms-util/.../writer/WriterUtil.java:113-196`) upgraded to true
  * exactly-once.
  *
  * Layout:
  * {{{
  *   <root>/_icelite/v0000000042.json       // snapshot metadata (atomic unit)
  *   <root>/data/d-<snap>/bkt=<k>/part-*.parquet   // delta files (LWW'd batch)
  *   <root>/data/b-<snap>/bkt=<k>/part-*.parquet   // base files (compacted)
  * }}}
  *
  * Data files are hash-bucketed by `conv_id` (`pmod(hash(conv_id), buckets)`)
  * so a merge touches only the buckets its keys map to; the manifest records
  * per-file bucket + row count + seq range, so reads plan from metadata
  * (the Iceberg manifest-pruning trick) rather than directory listing. Rows
  * carry lineage `(_event_ts, _seq, _deleted)`; deletes are tombstones so a
  * late event older than a delete cannot resurrect a row.
  *
  * Scale notes (100 TB / 10^10 events):
  *  - merge never reads unaffected buckets; delta append is O(batch);
  *  - compaction cost is bounded per bucket and amortized by the threshold;
  *  - the LWW reduction is an aggregation (map-side combine) so hot keys
  *    collapse before the shuffle; hot buckets are salted at write
  *    (`writeBucketed`, slots sized from the merge's own bucket stats);
  *  - file lists above [[Icelite.inlineManifestMax]] entries spill to a
  *    gzipped side manifest (Iceberg's manifest-list idea, one level):
  *    the version JSON stays O(1) and snapshot reads stay flat to
  *    O(10^6) data files — the 100 TB regime;
  *  - bucket count is set at table creation (like Iceberg's bucket
  *    transform). Size it for the TARGET scale up front: ~1 bucket per
  *    0.5-2 GB of steady-state table, so a 100 TB table wants O(10^4-10^5)
  *    buckets, not the 32 default (which is sized for the local bench).
  *    Small tables with many buckets only cost manifest entries, while
  *    big tables with few buckets serialize merges behind fat buckets —
  *    a table that outgrew its layout is re-spread in place by
  *    [[IceliteTable.rebucket]] (one bounded full rewrite, history and
  *    exactly-once gate preserved).
  */
object Icelite {

  case class DataFileMeta(
      path: String, // relative to table root
      bucket: Int,
      kind: String, // "base" | "delta"
      /** Write-side row stats, never a post-hoc footer read. Exact per
        * file for collapsing writes (measured — see `listStagedMeasured`);
        * for non-collapsing delta appends the bucket's exact total is
        * apportioned evenly across its part files, so per-BUCKET sums are
        * exact (all consumers aggregate per bucket) while a single file's
        * value may be off by the apportioning. -1 = unknown (legacy). */
      rows: Long,
      schemaId: Int,
      minSeq: Long,
      maxSeq: Long)

  /** A named pointer into snapshot history (Iceberg branch/tag refs).
    * `kind` is "tag" (immutable pin — protects its snapshot and files
    * from [[IceliteTable.expireSnapshots]]) or "branch" (movable — the
    * "main" branch, when present, is the PUBLISHED read view behind
    * write-audit-publish, see [[IceliteTable.wapBegin]]). */
  case class RefMeta(snapshotId: Long, kind: String)

  case class SnapshotMeta(
      snapshotId: Long,
      parentId: Long,
      writerId: String,
      lastBatchId: Long,
      buckets: Int,
      schemas: List[String], // StructType.json per schemaId (full file schema)
      currentSchemaId: Int,
      files: List[DataFileMeta],
      summary: Map[String, String],
      committedAtMs: Long,
      /** When the file list is too large to inline (>[[inlineManifestMax]]),
        * it lives in a gzipped side manifest under `_icelite/` and this
        * holds its root-relative path; `files` is empty ON DISK then.
        * [[readSnapshot]] always inflates, so in-memory `files` is complete
        * either way. Absent (None) in pre-manifest snapshots — old tables
        * read unchanged. */
      manifestRef: Option[String] = None,
      /** Named refs (Iceberg-style), carried in table metadata so a ref
        * change is itself an atomic snapshot commit and every commit's
        * `base.copy` carries the map forward. Absent in pre-refs
        * snapshots — old tables read unchanged (json4s default). */
      refs: Map[String, RefMeta] = Map.empty)

  /** Per-merge counters. `inputRows`/`deletes` count raw change events in
    * the batch (pre-dedup — the deduped row counts live in the manifest's
    * per-file `rows`). */
  case class MergeStats(
      snapshotId: Long,
      batchId: Long,
      skipped: Boolean,
      inputRows: Long,
      upserts: Long,
      deletes: Long,
      bucketsTouched: Int,
      bucketsCompacted: Int,
      wallMs: Long)

  /** One bucket's share of a merge batch: change rows, deletes, seq range,
    * and `sources` — how many distinct binlog `(shard, seg)` sources its
    * rows came from (0 = unknown: no `shard` column, or stats the merge
    * computed itself). [[IceliteTable.merge]] plans salt slots, the
    * compaction choice and manifest seq ranges from these, and writes its
    * deltas without an exchange only when every delta bucket has exactly
    * one source. */
  case class BucketStats(rows: Long, deletes: Long, minSeq: Long, maxSeq: Long,
      sources: Int = 0)

  /** Merge and maintenance knobs. The delta write path is not one of
    * them: the batch's layout picks it ([[BucketStats.sources]]). */
  case class Options(
      /** compact a bucket when its delta-file count would exceed this;
        * 0 = always compact = classic copy-on-write MERGE. */
      compactThreshold: Int = 8,
      /** salting target: max rows a single write task should own. */
      targetRowsPerTask: Long = 2000000L,
      /** drop tombstones when compacting — only safe once (a) no event
        * older than the delete can still arrive (a watermark decision) AND
        * (b) no incremental consumer still needs to observe the delete:
        * [[IceliteTable.changesSince]] cannot return a tombstone that
        * compaction physically removed. */
      dropTombstonesOnCompact: Boolean = false)

  /** A snapshot version we tried to commit already exists — another writer
    * won the race. Callers either rebase + retry ([[IceliteTable.merge]],
    * [[IceliteTable.compactAll]]) or surface it. */
  class CommitConflictException(msg: String, cause: Throwable = null)
    extends IllegalStateException(msg, cause)

  private implicit val fmts: DefaultFormats = DefaultFormats
  private[plans] val BucketCol = "bkt"

  /** The branch ref that, when present, IS the published read view
    * ([[IceliteTable.publishedSnapshot]]). */
  val PublishedRef = "main"

  /** THE bucket function — every site (bucketed write, batch stats, point
    * lookup) must agree on it or data mis-buckets relative to the
    * manifest. Murmur3 `hash` (seed 42) of the conversation id. */
  def bucketOf(buckets: Int): org.apache.spark.sql.Column =
    pmod(hash(col("conv_id")), lit(buckets))

  /** Driver-side evaluation of [[bucketOf]] for a known key — no Spark job. */
  def bucketOfKey(convId: String, buckets: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.Murmur3Hash(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(convId),
        org.apache.spark.sql.types.StringType)), 42)
      .eval(null).asInstanceOf[Int]
    ((h % buckets) + buckets) % buckets
  }

  // ---------------------------------------------------------------- create/load

  /** Create an empty table. `payloadSchema` = public columns incl. keys. */
  def create(spark: SparkSession, root: String, payloadSchema: StructType,
      buckets: Int): IceliteTable = {
    require(Model.keyCols.forall(k => payloadSchema.fieldNames.contains(k)),
      s"payload schema must contain key columns ${Model.keyCols}")
    val full = withLineage(payloadSchema)
    Hfs.mkdirs(Hfs.path(root, "_icelite"))
    Hfs.mkdirs(Hfs.path(root, "data"))
    val snap = SnapshotMeta(0L, -1L, "", -1L, buckets, List(full.json), 0,
      Nil, Map("created" -> "true"), System.currentTimeMillis())
    writeSnapshot(root, snap)
    new IceliteTable(spark, root)
  }

  def load(spark: SparkSession, root: String): IceliteTable = new IceliteTable(spark, root)

  def exists(root: String): Boolean =
    Hfs.isDir(Hfs.path(root, "_icelite")) && latestVersion(root).isDefined

  // ---------------------------------------------------------------- metadata io
  // All metadata IO resolves the filesystem from the root's scheme via
  // [[Hfs]] — a table root on hdfs:// / an object-store connector / the
  // test graftmem:// works end to end; data files go through Spark's own
  // (already scheme-aware) parquet IO.

  private[plans] def versionFile(root: String, id: Long): HPath =
    Hfs.path(root, "_icelite", f"v$id%010d.json")

  /** All committed snapshot ids at `root`, ascending. */
  private[plans] def listVersions(root: String): Seq[Long] =
    Hfs.list(Hfs.path(root, "_icelite"))
      .map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .flatMap(n => Try(n.stripPrefix("v").stripSuffix(".json").toLong).toOption)
      .sorted

  private[plans] def latestVersion(root: String): Option[Long] =
    listVersions(root).lastOption

  /** Above this many files the snapshot JSON stores its file list in a
    * gzipped side manifest (Iceberg's manifest-list idea, one level): the
    * version file stays O(1) however many data files the table carries,
    * and the manifest compresses ~20× (paths share long prefixes). At
    * O(10^6) files — a 100 TB table at ~100 MB/file — the inline JSON
    * would be ~300 MB parsed on every snapshot() call; the side manifest
    * keeps commit/read latency flat. Overridable for tests via system
    * property `graft.manifest.inlineMax`. */
  private[plans] def inlineManifestMax: Int =
    sys.props.get("graft.manifest.inlineMax").map(_.toInt).getOrElse(2048)

  /** Parsed-snapshot LRU. Version files are immutable once committed
    * (atomic link creation; a version conflict throws), so caching the
    * parsed form is sound; the key still carries the file's (mtime, size)
    * so a table DROPPED and RECREATED at the same path with the same
    * version id can never serve stale metadata. Kept tiny (4 entries) —
    * the hot consumer is the ingest loop re-reading the LATEST snapshot
    * several times per micro-batch (idempotence gate, bucket lookup,
    * merge), which at a 10^6-file manifest would otherwise re-inflate and
    * re-parse ~100 MB of JSON per batch on the driver. */
  private val snapCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, Long, Long, Long), SnapshotMeta](
        8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long, Long), SnapshotMeta]): Boolean =
        size() > 4
    })

  private[plans] def readSnapshot(root: String, id: Long): SnapshotMeta = {
    val vf = versionFile(root, id)
    val st = Hfs.status(vf).getOrElse(
      throw new java.io.FileNotFoundException(vf.toString))
    val key = (Hfs.qualified(vf).toString, id,
      st.getModificationTime, st.getLen)
    val hit = snapCache.get(key)
    if (hit != null) return hit
    val head = Serialization.read[SnapshotMeta](new String(
      Hfs.readBytes(vf), java.nio.charset.StandardCharsets.UTF_8))
    val snap = head.manifestRef match {
      case None => head
      case Some(rel) =>
        val in = new java.util.zip.GZIPInputStream(Hfs.open(Hfs.path(root, rel)))
        try head.copy(files = Serialization.read[List[DataFileMeta]](
          new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)))
        finally in.close()
    }
    snapCache.put(key, snap)
    snap
  }

  /** Atomic commit: stage the side manifest (if any), then publish the
    * version JSON through the [[CommitStore]] seam — one atomic exclusive
    * create (fails if the version already exists — optimistic
    * concurrency). Data/manifest files written before it are invisible
    * orphans if we crash first (crash-safe). The store is pluggable per
    * storage system (local hard link / HDFS exclusive create / user CAS
    * impl) — see [[CommitStore]].
    */
  private[plans] def writeSnapshot(root: String, snapIn: SnapshotMeta): Unit = {
    // spill a large file list to a gzipped side manifest BEFORE the atomic
    // link — like staged data files, a manifest whose commit loses the race
    // (or crashes) is an invisible orphan swept by expireSnapshots
    val snap =
      if (snapIn.files.size <= inlineManifestMax) snapIn.copy(manifestRef = None)
      else {
        val rel = s"_icelite/m-${snapIn.snapshotId}-${java.util.UUID.randomUUID().toString.take(8)}.json.gz"
        val bos = new java.io.ByteArrayOutputStream()
        val gz = new java.util.zip.GZIPOutputStream(bos)
        try gz.write(Serialization.write(snapIn.files)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally gz.close()
        Hfs.write(Hfs.path(root, rel), bos.toByteArray)
        snapIn.copy(files = Nil, manifestRef = Some(rel))
      }
    val target = Hfs.qualified(versionFile(root, snap.snapshotId))
    try CommitStore.forRoot(root).publishAtomic(target.toUri,
      Serialization.write(snap).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: CommitConflictException =>
      throw new CommitConflictException(
        s"commit conflict: snapshot ${snap.snapshotId} already exists at $root", e)
    }
  }

  // ---------------------------------------------------------------- schema

  private[plans] def withLineage(payload: StructType): StructType =
    StructType(payload.fields.toSeq ++ Seq(
      StructField("_event_ts", TimestampType, nullable = false),
      StructField("_seq", LongType, nullable = false),
      StructField("_deleted", BooleanType, nullable = false)))

  private[plans] def payloadPart(full: StructType): StructType =
    StructType(full.fields.filterNot(f => Model.lineageCols.contains(f.name)))

  /** Is `from -> to` a lossless widening? (the reference has no schema
    * evolution at all — writer errors on column-count mismatch,
    * `CommonRdbmsWriter.java:290-300`; the north rule requires add-column +
    * type-widen, which we do Iceberg-style: metadata change now, cast at
    * read/merge time.)
    */
  def canWiden(from: DataType, to: DataType): Boolean = (from, to) match {
    case (a, b) if a == b => true
    case (ByteType, ShortType | IntegerType | LongType) => true
    case (ShortType, IntegerType | LongType) => true
    case (IntegerType, LongType) => true
    case (FloatType, DoubleType) => true
    case _ => false
  }

  /** Unify table payload schema with an incoming batch payload schema:
    * widen shared columns, append new ones (nullable). Narrowing or
    * incompatible changes are rejected.
    */
  def evolve(table: StructType, batch: StructType): StructType = {
    val evolved = table.fields.map { tf =>
      batch.fields.find(_.name == tf.name) match {
        case None => tf
        case Some(bf) if canWiden(bf.dataType, tf.dataType) => tf
        case Some(bf) if canWiden(tf.dataType, bf.dataType) =>
          require(!Model.keyCols.contains(tf.name),
            s"key column ${tf.name} type may not change")
          tf.copy(dataType = bf.dataType)
        case Some(bf) =>
          throw new IllegalArgumentException(
            s"incompatible schema change for ${tf.name}: ${tf.dataType} -> ${bf.dataType}")
      }
    }
    val added = batch.fields.filterNot(bf => table.fieldNames.contains(bf.name))
      .map(_.copy(nullable = true))
    StructType(evolved.toSeq ++ added.toSeq)
  }

  /** Project/cast `df` onto `target` — missing columns become nulls,
    * present ones are cast (upcast only, by construction). */
  private[graft] def align(df: DataFrame, target: StructType): DataFrame = {
    val cols = target.fields.map { f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    df.select(cols.toSeq: _*)
  }
}

/** Handle to an icelite table. Single-writer (commit conflicts throw). */
class IceliteTable(val spark: SparkSession, val root: String) {
  import Icelite._

  def snapshot(): SnapshotMeta = {
    val v = latestVersion(root).getOrElse(
      throw new IllegalStateException(s"not an icelite table: $root"))
    readSnapshot(root, v)
  }

  /** Test seam: invoked immediately before each snapshot commit attempt —
    * lets specs deterministically interleave a competing commit into the
    * race window. No-op in production. */
  private[graft] var beforeCommit: () => Unit = () => ()

  /** Optimistic-concurrency commit (the Iceberg retry loop): try `first`;
    * on a version conflict, re-read the latest snapshot and let `rebase`
    * re-validate + re-target the commit onto it. `rebase` returns None to
    * abandon (e.g. the idempotence gate is now satisfied) and throws when
    * the conflict is not rebasable (concurrent schema change, the files
    * this commit rewrote are gone). Returns the committed snapshot, or
    * None if abandoned. */
  private def commitWithRetry(first: SnapshotMeta,
      rebase: SnapshotMeta => Option[SnapshotMeta],
      maxRetries: Int = 5): Option[SnapshotMeta] = {
    var attempt = first
    var tries = 0
    while (true) {
      beforeCommit()
      try { writeSnapshot(root, attempt); return Some(attempt) }
      catch { case e: CommitConflictException =>
        tries += 1
        if (tries > maxRetries) throw e
        rebase(snapshot()) match {
          case Some(next) => attempt = next
          case None => return None
        }
      }
    }
    None // unreachable
  }

  def snapshotAt(id: Long): SnapshotMeta = readSnapshot(root, id) // time travel

  def currentSchema(): StructType =
    DataType.fromJson(snapshot().schemas(snapshot().currentSchemaId)).asInstanceOf[StructType]

  private def schemaFor(snap: SnapshotMeta, id: Int): StructType =
    DataType.fromJson(snap.schemas(id)).asInstanceOf[StructType]

  // ---------------------------------------------------------------- read

  /** Read raw rows (payload + lineage, incl. tombstones) from a snapshot.
    * Buckets that consist of a single compacted generation (base files only)
    * are emitted as-is — they were LWW'd at write time, so no shuffle; only
    * buckets carrying deltas pay the LWW aggregation. At scale this is the
    * difference between "read = scan" and "read = scan + full-table shuffle".
    */
  def readRaw(snapOpt: Option[SnapshotMeta] = None): DataFrame = {
    val snap = snapOpt.getOrElse(snapshot())
    val cur = schemaFor(snap, snap.currentSchemaId)
    if (snap.files.isEmpty)
      return spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), cur)
    val deltaBuckets = snap.files.filter(_.kind == "delta").map(_.bucket).toSet
    val (mixed, baseOnly) = snap.files.partition(f => deltaBuckets.contains(f.bucket))
    def readGroup(files: Seq[DataFileMeta]): Option[DataFrame] =
      if (files.isEmpty) None
      else Some(files.groupBy(_.schemaId).map { case (sid, fs) =>
        val df = spark.read.schema(schemaFor(snap, sid))
          .parquet(fs.map(f => s"$root/${f.path}"): _*)
        align(df, cur)
      }.reduce(_.unionByName(_)))
    val basePart = readGroup(baseOnly)
    val mixedPart = readGroup(mixed)
      .map(df => Lww.latest(df, Model.keyCols, Seq("_event_ts", "_seq")))
    (basePart, mixedPart) match {
      case (Some(a), Some(b)) => a.unionByName(b)
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case _ => spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), cur)
    }
  }

  /** The snapshot read-side consumers serve from: the `main` branch ref
    * when one exists (the PUBLISHED view — see [[wapBegin]]: commits
    * staged after `wapBegin` are invisible here until [[wapPublish]]),
    * else the tip. Writers, maintenance, and explicit time travel always
    * address the tip / explicit ids. */
  def publishedSnapshot(): SnapshotMeta = {
    val tip = snapshot()
    tip.refs.get(PublishedRef) match {
      case Some(r) => snapshotAt(r.snapshotId)
      case None => tip
    }
  }

  /** Public read: live rows, public columns only, from the PUBLISHED view
    * ([[publishedSnapshot]] — identical to the tip unless a
    * write-audit-publish cycle is staging). */
  def read(): DataFrame = readLive(publishedSnapshot())

  /** Audit read: live rows at the TIP, staged commits included — what a
    * WAP validation job inspects before deciding to publish. */
  def readTip(): DataFrame = readLive(snapshot())

  /** Time-travel read — Iceberg `VERSION AS OF`: live rows, public columns,
    * exactly as they stood at snapshot `id`. Pure metadata dispatch: the old
    * manifest lists its own files (data files are immutable and retained
    * until [[expireSnapshots]]), so this costs the same as [[read]] at that
    * point in history — no log replay, no extra shuffle. */
  def readAt(id: Long): DataFrame = readLive(snapshotAt(id))

  private def readLive(snap: SnapshotMeta): DataFrame = {
    val payload = payloadPart(schemaFor(snap, snap.currentSchemaId))
    readRaw(Some(snap)).filter(!col("_deleted"))
      .select(payload.fieldNames.map(col).toSeq: _*)
  }

  /** Point lookup with manifest bucket pruning: reads only the files of
    * `hash(convId) % buckets` — the engine-side analogue of partition
    * pruning (reference: splitPk range pruning, `SingleTableSplitUtil.java`).
    */
  def lookup(convId: String): DataFrame = lookup(Seq(convId))

  /** Batch point lookups (serving-style reads). Keys group by bucket
    * DRIVER-side (no Spark job — [[Icelite.bucketOfKey]]); each touched
    * bucket's files open ONCE with a `conv_id IN (...)` predicate pushed
    * into the parquet scan: manifest bucket pruning cuts the read to the
    * touched buckets, then the base files' key blooms row-group-skip
    * inside each bucket. k keys therefore cost one scan per TOUCHED
    * bucket — not k single lookups (which would re-open shared files k
    * times) and not a bucket-per-key table scan. Filtering runs BEFORE
    * the LWW aggregation (semantically identical — LWW groups per key),
    * and buckets holding only base generations skip LWW entirely, as in
    * [[read]]. */
  def lookup(convIds: Seq[String]): DataFrame = {
    val snap = publishedSnapshot() // serving read — WAP-staged commits invisible
    val cur = schemaFor(snap, snap.currentSchemaId)
    val payload = payloadPart(cur)
    val byBucket = convIds.distinct
      .groupBy(k => Icelite.bucketOfKey(k, snap.buckets))
    val parts = byBucket.toSeq.sortBy(_._1).flatMap { case (b, keys) =>
      val files = snap.files.filter(_.bucket == b)
      if (files.isEmpty) None
      else {
        val df = files.groupBy(_.schemaId).map { case (sid, fs) =>
          align(spark.read.schema(schemaFor(snap, sid))
            .parquet(fs.map(f => s"$root/${f.path}"): _*), cur)
        }.reduce(_.unionByName(_))
          .filter(col("conv_id").isInCollection(keys))
        Some(
          if (files.exists(_.kind == "delta"))
            Lww.latest(df, Model.keyCols, Seq("_event_ts", "_seq"))
          else df)
      }
    }
    parts.reduceOption(_.unionByName(_))
      .map(_.filter(!col("_deleted"))
        .select(payload.fieldNames.map(col).toSeq: _*))
      .getOrElse(spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), payload))
  }

  /** All retained snapshots, oldest first — Iceberg `table.history()`. */
  def history(): Seq[SnapshotMeta] = listVersions(root).map(readSnapshot(root, _))

  /** The current manifest as a DataFrame — Iceberg's `table$files`
    * metadata-table analogue (ops/debug surface: file skew per bucket,
    * delta pileup before compaction, seq-range pruning ranges). Built
    * from the in-memory manifest — no data-file IO, localized to the
    * driver like every manifest read. */
  def filesDf(snapOpt: Option[SnapshotMeta] = None): DataFrame = {
    import spark.implicits._
    val snap = snapOpt.getOrElse(snapshot())
    snap.files
      .map(f => (f.path, f.bucket, f.kind, f.rows, f.schemaId, f.minSeq, f.maxSeq))
      .toDF("path", "bucket", "kind", "rows", "schema_id", "min_seq", "max_seq")
  }

  /** Retained snapshots as a DataFrame — Iceberg's `table$snapshots`
    * analogue; one row per version with commit metadata, file/row
    * totals (rows from the write-side manifest stats) and the commit's
    * `summary` map — for a merge, e.g. `buckets.compacted` and
    * `delta.write` (`aligned` | `exchange`: the delta path it took). */
  def snapshotsDf(): DataFrame = {
    import spark.implicits._
    history()
      .map(s => (s.snapshotId, s.parentId, s.writerId, s.lastBatchId,
        s.buckets, s.currentSchemaId, s.files.size.toLong,
        // clamp unknown (-1 legacy) per-file counts like every other
        // consumer, else each legacy file SUBTRACTS one from the total
        s.files.map(f => math.max(f.rows, 0L)).sum, s.committedAtMs, s.summary))
      .toDF("snapshot_id", "parent_id", "writer_id", "last_batch_id",
        "buckets", "current_schema_id", "n_files", "n_rows", "committed_at_ms",
        "summary")
  }

  /** Incremental changelog read (Iceberg incremental-scan analogue): every
    * row version — upserts AND tombstones — committed after snapshot `sid`,
    * i.e. with `_seq` greater than the highest sequence present then.
    * Planned from the manifest's per-file seq ranges, so only files that
    * can contain newer rows are opened; while deltas dominate this is
    * O(new data), not O(table). Rows are raw versions (a key may repeat);
    * run [[graft.operators.Lww.latest]] on the result for net changes.
    */
  def changesSince(sid: Long): DataFrame =
    // incremental consumers are read-side: they must not observe commits a
    // WAP cycle has staged but not published (same view rule as [[read]])
    changesBetween(sid, publishedSnapshot().snapshotId)

  /** [[changesSince]] with an explicit upper snapshot — the deterministic
    * form the change-feed stream ([[graft.sources.IceliteChangeFeed]])
    * plans its micro-batches from: every row version with `_seq` above
    * snapshot `fromSid`'s highest, planned from snapshot `toSid`'s OWN
    * manifest (so commits landing after `toSid` never leak into an
    * already-committed batch). Same at-least-once caveat as
    * [[changesSince]]: a compaction inside the range collapses superseded
    * intermediate versions into their surviving winners. */
  def changesBetween(fromSid: Long, toSid: Long): DataFrame = {
    val from = readSnapshot(root, fromSid)
    val fromMax = from.files.map(_.maxSeq).foldLeft(-1L)(math.max)
    val snap = readSnapshot(root, toSid)
    val cur = schemaFor(snap, snap.currentSchemaId)
    // manifest pruning; a file with unknown maxSeq (-1) is never pruned
    val files = snap.files.filter(f => f.maxSeq < 0 || f.maxSeq > fromMax)
    if (files.isEmpty)
      return spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), cur)
    files.groupBy(_.schemaId).map { case (schId, fs) =>
      align(spark.read.schema(schemaFor(snap, schId))
        .parquet(fs.map(f => s"$root/${f.path}"): _*), cur)
    }.reduce(_.unionByName(_))
      .filter(col("_seq") > fromMax)
  }

  // ---------------------------------------------------------------- merge

  /** Apply one change batch (op/key/payload/event_ts/seq rows) exactly once.
    *
    * Pipeline: idempotence gate → schema evolve → LWW dedup (aggregation,
    * map-side combine) → bucket → append deltas for cool buckets / compact
    * hot ones (read base+deltas of ONLY those buckets, union, LWW, rewrite)
    * → atomic snapshot commit carrying (writerId, batchId).
    */
  /** Phase timing for perf work: set env GRAFT_MERGE_TIMING=1 to print
    * per-merge phase durations on stderr. */
  private val timing = sys.env.get("GRAFT_MERGE_TIMING").contains("1")
  private def phase[A](tag: String, t0: Long)(f: => A): A = {
    val s = System.nanoTime(); val a = f
    if (timing) System.err.println(
      f"[merge-timing] $tag%-12s ${(System.nanoTime() - s) / 1e9}%7.2fs (t+${(System.nanoTime() - t0) / 1e9}%6.2fs)")
    a
  }

  /** @param precomputedStats per-bucket [[Icelite.BucketStats]] computed
    *   by the caller in a fused aggregation (see
    *   [[graft.streaming.Ingest.applyBatch]]) — skips the merge's own
    *   stats pass, saving one job + one scan per micro-batch, and carries
    *   the source counts that can make the delta write exchange-free. */
  def merge(batchIn: DataFrame, batchId: Long, writerId: String,
      opts: Options = Options(),
      precomputedStats: Option[Map[Int, BucketStats]] = None): MergeStats = {
    val t0 = System.nanoTime()
    val snap = snapshot()
    if (writerId == snap.writerId && batchId <= snap.lastBatchId)
      return MergeStats(snap.snapshotId, batchId, skipped = true, 0, 0, 0, 0, 0, 0)

    val curFull = schemaFor(snap, snap.currentSchemaId)
    val curPayload = payloadPart(curFull)

    // columns of the batch that are payload (everything but op/ordering/internal)
    val reserved = Set("op", "event_ts", "seq")
    val batchPayload = StructType(batchIn.schema.fields.filterNot(f =>
      reserved.contains(f.name) || f.name.startsWith("_") || f.name == BucketCol))
    val newPayload = evolve(curPayload, batchPayload)
    val newFull = withLineage(newPayload)
    val schemaChanged = newFull.json != curFull.json
    val schemas = if (schemaChanged) snap.schemas :+ newFull.json else snap.schemas
    val schemaId = if (schemaChanged) schemas.size - 1 else snap.currentSchemaId

    // Normalize to table row shape (LWW dedup happens fused into each
    // bucketed write — [[Lww.latestBucketed]]: ONE shuffle moves the rows
    // to their write buckets AND collapses duplicates, instead of a
    // dedup shuffle followed by a repartition shuffle).
    val norm = align(
      batchIn
        .withColumn("_event_ts", col("event_ts"))
        .withColumn("_seq", col("seq"))
        .withColumn("_deleted", col("op") === lit("D")),
      newFull)
    val withBRaw = norm.withColumn(BucketCol, bucketOf(snap.buckets))

    // one small aggregate: per-bucket row counts + seq ranges + delete counts
    val stats = precomputedStats.getOrElse(phase("stats-agg", t0) {
      withBRaw.groupBy(col(BucketCol)).agg(
        count(lit(1)).as("n"),
        sum(col("_deleted").cast("long")).as("d"),
        min(col("_seq")).as("lo"),
        max(col("_seq")).as("hi")).collect()
        .map(r => r.getInt(0) -> BucketStats(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap
    })

    if (stats.isEmpty) { // empty batch: metadata-only commit advances the gate
      def buildEmpty(base: SnapshotMeta): SnapshotMeta = base.copy(
        snapshotId = base.snapshotId + 1, parentId = base.snapshotId,
        writerId = writerId, lastBatchId = batchId, schemas = schemas,
        currentSchemaId = schemaId, committedAtMs = System.currentTimeMillis())
      return commitWithRetry(buildEmpty(snap), latest =>
        if (writerId == latest.writerId && batchId <= latest.lastBatchId) None
        else if (latest.schemas != snap.schemas || latest.currentSchemaId != snap.currentSchemaId)
          throw new CommitConflictException("concurrent schema change; cannot rebase")
        else Some(buildEmpty(latest))) match {
        case Some(next) => MergeStats(next.snapshotId, batchId, skipped = false, 0, 0, 0, 0, 0,
          (System.nanoTime() - t0) / 1000000)
        case None => MergeStats(snapshot().snapshotId, batchId, skipped = true, 0, 0, 0, 0, 0, 0)
      }
    }

    val affected = stats.keySet
    val deltaCount: Map[Int, Int] = snap.files.filter(_.kind == "delta")
      .groupBy(_.bucket).map { case (b, fs) => b -> fs.size }
    val compactSet =
      if (opts.compactThreshold <= 0) affected
      else affected.filter(b => deltaCount.getOrElse(b, 0) + 1 > opts.compactThreshold)
    val deltaSet = affected -- compactSet
    val nextId = snap.snapshotId + 1
    var newFiles = List.empty[DataFileMeta]

    // Cache the normalized batch only when BOTH a delta and a compact write
    // will scan it; the common path (delta-only with precomputed stats) has
    // a single consumer, and building a columnar cache for one read costs
    // more memory bandwidth than the read saves.
    val bothWrites = deltaSet.nonEmpty && compactSet.nonEmpty
    val withB =
      if (bothWrites)
        withBRaw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else withBRaw

    // salt slots per bucket from the stats we already collected — no
    // second counting pass over the data. The effective per-task target
    // adapts downward for small batches: a "hot" bucket is one that would
    // serialize a meaningful fraction of the batch behind a single task,
    // which at high parallelism happens far below the absolute cap.
    val totalRows = stats.values.map(_.rows).sum
    val adaptiveTarget = math.min(opts.targetRowsPerTask,
      math.max(totalRows / (2L * spark.sparkContext.defaultParallelism), 50000L))
    def slotsFor(n: Long): Int =
      math.max(1, math.ceil(n.toDouble / adaptiveTarget).toInt)
    val batchSlots: Map[Int, Int] = stats.map { case (b, s) => b -> slotsFor(s.rows) }

    // unique staging suffix: a crashed writer's abandoned `d-<id>` dir must
    // never collide with (and leak files into) a later commit that reuses
    // the same snapshot id
    val stage = java.util.UUID.randomUUID().toString.take(8)
    // Delta path, chosen by the batch's layout. When every delta bucket's
    // rows come from ONE binlog (shard, seg) source — a WAL sharded like
    // the table, one segment per batch — the scan task holding that source
    // already holds the whole bucket, so `partitionBy(bkt)` straight off
    // the scan writes the same one file per bucket as the exchange, minus
    // the full-data shuffle. Any other layout (several shards or segments
    // per bucket, or unknown sources) would fan a bucket over several scan
    // tasks and files, so it takes the (bucket, salt) exchange. A source
    // file larger than `spark.sql.files.maxPartitionBytes` still splits
    // over several scan tasks, one file per bucket each — the aligned
    // path's analogue of salting a hot bucket. Deltas are appended
    // un-collapsed either way: read and compaction LWW across generations.
    val deltaWrite =
      if (deltaSet.isEmpty) None
      else Some(if (deltaSet.forall(b => stats(b).sources == 1)) "aligned" else "exchange")
    deltaWrite.foreach { path =>
      val rel = s"data/d-$nextId-$stage"
      val part = withB.filter(col(BucketCol).isInCollection(deltaSet))
      phase("delta-write", t0) {
        if (path == "aligned") part.write.partitionBy(BucketCol).parquet(s"$root/$rel")
        else writeBucketed(part, s"$root/$rel", batchSlots, delta = true)
      }
      newFiles ++= phase("delta-list", t0) { listStagedFromStats(rel, schemaId, stats) }
    }
    if (compactSet.nonEmpty) {
      val rel = s"data/b-$nextId-$stage"
      val oldFiles = snap.files.filter(f => compactSet.contains(f.bucket))
      val old = if (oldFiles.isEmpty) None else Some(
        oldFiles.groupBy(_.schemaId).map { case (sid, fs) =>
          align(spark.read.schema(schemaFor(snap, sid))
            .parquet(fs.map(f => s"$root/${f.path}"): _*), newFull)
        }.reduce(_.unionByName(_))
          .withColumn(BucketCol, bucketOf(snap.buckets)))
      val incoming = withB.filter(col(BucketCol).isInCollection(compactSet))
      val combined = old.map(_.unionByName(incoming)).getOrElse(incoming)
      // compaction rewrites whole buckets: slots sized by total bucket
      // rows (existing + incoming) against the ABSOLUTE per-task target —
      // the batch-derived adaptiveTarget would let a small batch that
      // trips compaction of a large bucket explode it into hundreds of
      // small files (rows/adaptiveTarget tasks instead of rows/target)
      val oldRows: Map[Int, Long] = snap.files.filter(f => compactSet.contains(f.bucket))
        .groupBy(_.bucket).map { case (b, fs) => b -> fs.map(f => math.max(f.rows, 0L)).sum }
      val compactSlots = compactSet.map { b =>
        val n = oldRows.getOrElse(b, 0L) + stats.get(b).map(_.rows).getOrElse(0L)
        b -> math.max(1, math.ceil(n.toDouble / opts.targetRowsPerTask).toInt)
      }.toMap
      phase("compact-write", t0) {
        writeBucketed(combined, s"$root/$rel", compactSlots,
          dropTombstones = opts.dropTombstonesOnCompact)
      }
      // compacted base files carry MEASURED per-file seq ranges, which
      // automatically cover the OLD rows being rewritten (their surviving
      // winners keep their original _seq) — a late (low-seq) batch that
      // triggers compaction cannot manifest a low maxSeq over high-seq
      // rows, so changesSince's pruning never skips committed changes
      newFiles ++= phase("compact-list", t0) { listStagedMeasured(rel, schemaId) }
    }
    if (bothWrites) withB.unpersist()

    // paths this commit folds into a new base generation; a rebase is only
    // valid while every one of them still exists in the latest snapshot
    // (concurrently-ADDED files in the same buckets are fine — they stay,
    // and the read path LWWs across generations)
    val replaced = snap.files.filter(f => compactSet.contains(f.bucket)).map(_.path).toSet
    val nDel = stats.values.map(_.deletes).sum
    // base.copy, NOT a positional construction: metadata fields this merge
    // does not own (refs, and any future additions) must carry forward
    def buildNext(base: SnapshotMeta): SnapshotMeta = base.copy(
      snapshotId = base.snapshotId + 1, parentId = base.snapshotId,
      writerId = writerId, lastBatchId = batchId,
      schemas = schemas, currentSchemaId = schemaId,
      files = base.files.filterNot(f => replaced.contains(f.path)) ++ newFiles,
      summary = Map("batch.rows" -> totalRows.toString,
        "batch.deletes" -> nDel.toString,
        "buckets.touched" -> affected.size.toString,
        "buckets.compacted" -> compactSet.size.toString) ++
        deltaWrite.map("delta.write" -> _),
      committedAtMs = System.currentTimeMillis(),
      manifestRef = None) // writeSnapshot re-spills if the list is large
    commitWithRetry(buildNext(snap), latest =>
      if (writerId == latest.writerId && batchId <= latest.lastBatchId) None
      else if (latest.schemas != snap.schemas || latest.currentSchemaId != snap.currentSchemaId)
        throw new CommitConflictException("concurrent schema change; cannot rebase")
      else if (!replaced.subsetOf(latest.files.map(_.path).toSet))
        throw new CommitConflictException(
          "files compacted by this merge were concurrently rewritten; cannot rebase")
      else Some(buildNext(latest))) match {
      case Some(next) => MergeStats(next.snapshotId, batchId, skipped = false, totalRows,
        totalRows - nDel, nDel, affected.size, compactSet.size,
        (System.nanoTime() - t0) / 1000000)
      case None => MergeStats(snapshot().snapshotId, batchId, skipped = true, 0, 0, 0, 0, 0, 0)
    }
  }

  // ---------------------------------------------------------------- dml

  /** Engine-side `DELETE FROM t WHERE cond` (the Delta/Iceberg DML
    * analogue, which the reference lacks entirely): one exactly-once
    * merge batch of tombstones for every live row matching `cond`. The
    * tombstones carry the table's next sequence number and commit-time
    * event ts, so they win LWW over every existing version, cannot be
    * resurrected by late events below that seq, and flow to incremental
    * consumers ([[changesSince]], the change feed) like any other
    * delete. Cost: one table scan for victims + a merge touching only
    * their buckets; retention physically removes the data at the next
    * compact-with-drop-tombstones + expire (the GDPR path). */
  def deleteWhere(cond: org.apache.spark.sql.Column, batchId: Long,
      writerId: String, opts: Options = Options()): MergeStats = {
    val snap = snapshot()
    val maxSeq = snap.files.map(_.maxSeq).foldLeft(0L)(math.max)
    val batch = readLive(snap).filter(cond)
      .select(Model.keyCols.map(col): _*)
      .withColumn("op", lit("D"))
      .withColumn("event_ts",
        lit(new java.sql.Timestamp(System.currentTimeMillis())))
      .withColumn("seq", lit(maxSeq + 1))
    merge(batch, batchId, writerId, opts)
  }

  /** Engine-side `UPDATE t SET ... WHERE cond`: rewrites matching live
    * rows as one merge batch of upserts carrying the updated payload at
    * the table's next sequence number. `set` assigns payload columns
    * only — keys are immutable (move = delete + insert by contract). */
  def updateWhere(cond: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column], batchId: Long,
      writerId: String, opts: Options = Options()): MergeStats = {
    val snap = snapshot()
    val payload = payloadPart(schemaFor(snap, snap.currentSchemaId))
    set.keys.foreach { k =>
      require(payload.fieldNames.contains(k), s"unknown payload column: $k")
      require(!Model.keyCols.contains(k),
        s"key column $k is immutable; delete + insert to move a row")
    }
    val maxSeq = snap.files.map(_.maxSeq).foldLeft(0L)(math.max)
    val batch = set.foldLeft(readLive(snap).filter(cond)) {
        case (df, (k, v)) => df.withColumn(k, v)
      }
      .withColumn("op", lit("U"))
      .withColumn("event_ts",
        lit(new java.sql.Timestamp(System.currentTimeMillis())))
      .withColumn("seq", lit(maxSeq + 1))
    merge(batch, batchId, writerId, opts)
  }

  // ---------------------------------------------------------------- maintenance

  /** Roll the table back to snapshot `targetId` (the Iceberg
    * `rollback_to_snapshot` analogue): publishes a NEW head whose
    * files/schema replicate the target's — history stays append-only, so
    * the rolled-back snapshots remain readable (and their files
    * referenced) until [[expireSnapshots]] retires them; nothing is
    * deleted here, making rollback an O(manifest) metadata commit at any
    * data scale. The exactly-once gate (writerId, lastBatchId) reverts
    * WITH the state: a checkpointed stream that resumes after a rollback
    * re-applies the undone batches instead of skipping them (pinned by
    * MaintenanceSpec — rollback + re-apply converges to the same final
    * state). Rollback is an explicit operator action, so on a commit race
    * it rebases by re-targeting the same target state onto the winner
    * (last rollback wins, like Iceberg). Throws FileNotFoundException if
    * `targetId` has already been expired. */
  def rollbackTo(targetId: Long): Long = {
    val target = snapshotAt(targetId)
    def buildNext(base: SnapshotMeta): SnapshotMeta = base.copy(
      snapshotId = base.snapshotId + 1,
      parentId = base.snapshotId,
      writerId = target.writerId,
      lastBatchId = target.lastBatchId,
      buckets = target.buckets,
      schemas = target.schemas,
      currentSchemaId = target.currentSchemaId,
      files = target.files,
      summary = Map("op" -> "rollback", "rollback.to" -> targetId.toString),
      committedAtMs = System.currentTimeMillis(),
      manifestRef = None) // writeSnapshot re-spills if the list is large
    commitWithRetry(buildNext(snapshot()),
      latest => Some(buildNext(latest))).get.snapshotId
  }

  /** Latest snapshot committed at or before `tsMs` — Iceberg's
    * `TIMESTAMP AS OF` resolution. Commit timestamps come from the
    * committing driver's clock (monotonic under the single-writer rule;
    * ties and clock skew between racing writers break by snapshot id,
    * which IS the commit order). O(retained snapshots) driver-side metadata
    * reads, bounded by [[expireSnapshots]]. */
  def snapshotIdAsOf(tsMs: Long): Long = {
    val h = history().filter(_.committedAtMs <= tsMs)
    require(h.nonEmpty, s"no snapshot committed at or before $tsMs")
    h.maxBy(s => (s.committedAtMs, s.snapshotId)).snapshotId
  }

  /** Time-travel read by wall-clock timestamp (`TIMESTAMP AS OF`). */
  def readAsOf(tsMs: Long): DataFrame = readAt(snapshotIdAsOf(tsMs))

  // ---------------------------------------------------------------- refs

  /** Current named refs (tip metadata). */
  def refs(): Map[String, RefMeta] = snapshot().refs

  /** Shared ref-mutation commit: a metadata-only snapshot (files/schema/
    * gate carried from the base) whose `refs` map is `update(base.refs)`.
    * Validation runs INSIDE the build so a rebase after losing a commit
    * race re-validates against the winner (e.g. a tag created
    * concurrently still errors instead of being clobbered). O(manifest)
    * at any data scale, like rollback. */
  private def refCommit(op: String, extra: Map[String, String])(
      update: SnapshotMeta => Map[String, RefMeta]): Long = {
    def buildNext(base: SnapshotMeta): SnapshotMeta = base.copy(
      snapshotId = base.snapshotId + 1,
      parentId = base.snapshotId,
      summary = Map("op" -> op) ++ extra,
      committedAtMs = System.currentTimeMillis(),
      manifestRef = None, // writeSnapshot re-spills if the list is large
      refs = update(base))
    commitWithRetry(buildNext(snapshot()),
      latest => Some(buildNext(latest))).get.snapshotId
  }

  private def requireRefName(name: String): Unit =
    require(name.nonEmpty && name.forall(c =>
        c.isLetterOrDigit || c == '.' || c == '_' || c == '-'),
      s"ref name must be [A-Za-z0-9._-]+ (got '$name')")

  /** Create a ref (Iceberg `CREATE TAG` / `CREATE BRANCH`): `kind` is
    * "tag" (immutable — re-pointing an existing tag throws; drop and
    * recreate to move deliberately) or "branch" (movable via [[setRef]]
    * again or [[fastForward]]). The target snapshot must exist; once
    * ref'd it is protected from [[expireSnapshots]]. Returns the new
    * (metadata) snapshot id. */
  def setRef(name: String, snapshotId: Long, kind: String = "tag"): Long = {
    requireRefName(name)
    require(kind == "tag" || kind == "branch",
      s"ref kind must be tag|branch (got '$kind')")
    snapshotAt(snapshotId) // throws FileNotFoundException if expired/absent
    refCommit("set-ref", Map("ref.name" -> name, "ref.kind" -> kind,
        "ref.snapshot" -> snapshotId.toString)) { base =>
      val rs = base.refs
      rs.get(name).foreach { old =>
        require(old.kind == kind,
          s"ref '$name' already exists as a ${old.kind}")
        require(kind != "tag" || old.snapshotId == snapshotId,
          s"tag '$name' is immutable (pinned to ${old.snapshotId}); " +
            "drop it first to re-point")
      }
      rs + (name -> RefMeta(snapshotId, kind))
    }
  }

  /** Drop a ref; its snapshot loses expiry protection. Throws if absent
    * (a silent no-op would hide typos). */
  def dropRef(name: String): Long =
    refCommit("drop-ref", Map("ref.name" -> name)) { base =>
      require(base.refs.contains(name), s"no such ref: '$name'")
      base.refs - name
    }

  /** Advance a branch to a DESCENDANT snapshot (Iceberg `fast_forward`) —
    * ancestry is verified by walking `parentId` from the target back to
    * the branch's current position, so a branch can never silently jump
    * to an unrelated or older state (use [[setRef]] on a dropped ref, or
    * [[rollbackTo]], for deliberate resets). */
  def fastForward(name: String, toSnapshotId: Long): Long = {
    snapshotAt(toSnapshotId)
    refCommit("fast-forward", Map("ref.name" -> name,
        "ref.snapshot" -> toSnapshotId.toString)) { base =>
      val rs = base.refs
      val cur = rs.getOrElse(name,
        throw new IllegalArgumentException(s"no such branch: '$name'"))
      require(cur.kind == "branch", s"ref '$name' is a ${cur.kind}, not a branch")
      var walk = toSnapshotId
      while (walk > cur.snapshotId) walk = Try(snapshotAt(walk).parentId)
        .getOrElse(throw new IllegalStateException(
          s"cannot verify ancestry: snapshot $walk in the chain is expired"))
      require(walk == cur.snapshotId,
        s"$toSnapshotId is not a descendant of '$name' (at ${cur.snapshotId})")
      rs + (name -> RefMeta(toSnapshotId, cur.kind))
    }
  }

  /** Read the table as of a named ref (tag pin or branch head). */
  def readRef(name: String): DataFrame = {
    val r = refs().getOrElse(name,
      throw new IllegalArgumentException(s"no such ref: '$name'"))
    readAt(r.snapshotId)
  }

  /** Refs as a DataFrame — Iceberg's `table$refs` metadata table. */
  def refsDf(): DataFrame = {
    import spark.implicits._
    refs().toSeq.sortBy(_._1)
      .map { case (n, r) => (n, r.kind, r.snapshotId) }
      .toDF("name", "kind", "snapshot_id")
  }

  // ------------------------------------------------------- write-audit-publish

  /** Begin a write-audit-publish cycle: pin the PUBLISHED view
    * ([[Icelite.PublishedRef]]) at the current head. Commits made after
    * this are STAGED — they advance the tip (and the exactly-once gate,
    * so a resumed stream never re-applies them) but stay invisible to
    * [[read]]/[[lookup]]/[[changesSince]] until [[wapPublish]]. Audit
    * jobs validate the staged state via [[readTip]]. Single-writer like
    * every other commit; O(manifest) metadata-only.
    *
    * Throws if a cycle is already open (the `main` ref exists) — a retry
    * of a crashed orchestration must NOT re-pin at the staged tip, which
    * would instantly publish the unaudited commits; publish or abort the
    * open cycle first. The guard re-validates inside the commit retry, so
    * a raced competing wapBegin cannot slip through. */
  def wapBegin(): Long =
    refCommit("wap-begin", Map("ref.name" -> PublishedRef)) { base =>
      base.refs.get(PublishedRef).foreach { r =>
        throw new IllegalStateException(
          s"a WAP cycle is already open ('$PublishedRef' pinned at " +
            s"${r.snapshotId}); wapPublish or wapAbort it first")
      }
      // pin at the commit's own base = the pre-WAP head, even if this
      // commit raced others and rebased onto a newer tip
      base.refs + (PublishedRef -> RefMeta(base.snapshotId, "branch"))
    }

  /** Publish and CLOSE the cycle: one atomic metadata commit drops the
    * `main` pin, so readers switch from the pre-WAP state to the full
    * staged tip AND subsequent normal commits are immediately visible
    * again (the pin does not outlive the cycle — a forgotten pin would
    * freeze every reader forever). For a permanently pinned published
    * view, manage a branch ref directly with [[setRef]]/[[fastForward]]. */
  def wapPublish(): Long =
    refCommit("wap-publish", Map("ref.name" -> PublishedRef)) { base =>
      require(base.refs.get(PublishedRef).exists(_.kind == "branch"),
        s"no '$PublishedRef' ref — not inside a WAP cycle")
      base.refs - PublishedRef
    }

  /** Abort and close: roll the TIP back to the published state
    * ([[rollbackTo]] — gate reverts with it, so the staged batches will
    * be re-applied by a resumed stream after the operator fixes the
    * input), then drop the pin. Readers saw nothing throughout. */
  def wapAbort(): Long = {
    val r = refs().getOrElse(PublishedRef, throw new IllegalStateException(
      s"no '$PublishedRef' ref — not inside a WAP cycle"))
    rollbackTo(r.snapshotId)
    dropRef(PublishedRef)
  }

  /** Maintenance compaction: rewrite every bucket carrying delta files into
    * a single base generation (the Iceberg `rewrite_data_files` analogue).
    * Bounded per bucket; buckets without deltas are untouched. Does NOT
    * advance the (writerId, batchId) idempotence gate, and on a commit
    * conflict rebases onto the winner (keeping its gate fields and any
    * files it added) — so maintenance genuinely interleaves with a
    * concurrent ingest writer (pinned by MaintenanceSpec). Returns the new
    * snapshot id (or the current one if there was nothing to do). */
  def compactAll(opts: Options = Options(),
      dropTombstones: Boolean = false): Long = {
    val snap = snapshot()
    val compactSet = snap.files.filter(_.kind == "delta").map(_.bucket).toSet
    if (compactSet.isEmpty) return snap.snapshotId
    val full = schemaFor(snap, snap.currentSchemaId)
    val nextId = snap.snapshotId + 1
    val rel = s"data/b-$nextId-${java.util.UUID.randomUUID().toString.take(8)}"
    val oldFiles = snap.files.filter(f => compactSet.contains(f.bucket))
    val df = oldFiles.groupBy(_.schemaId).map { case (sid, fs) =>
      align(spark.read.schema(schemaFor(snap, sid))
        .parquet(fs.map(f => s"$root/${f.path}"): _*), full)
    }.reduce(_.unionByName(_))
      .withColumn(BucketCol, bucketOf(snap.buckets))
    val slots = oldFiles.groupBy(_.bucket).map { case (b, fs) =>
      val n = fs.map(f => math.max(f.rows, 0L)).sum
      b -> math.max(1, math.ceil(n.toDouble / opts.targetRowsPerTask).toInt)
    }
    writeBucketed(df, s"$root/$rel", slots, dropTombstones)
    val newFiles = listStagedMeasured(rel, snap.currentSchemaId)
    // rebase keeps the winner's gate fields (base.copy) and any files it
    // added; only the exact files this compaction folded are swapped out
    val replaced = oldFiles.map(_.path).toSet
    def buildNext(base: SnapshotMeta): SnapshotMeta = base.copy(
      snapshotId = base.snapshotId + 1, parentId = base.snapshotId,
      files = base.files.filterNot(f => replaced.contains(f.path)) ++ newFiles,
      summary = Map("maintenance" -> "compact",
        "buckets.compacted" -> compactSet.size.toString),
      committedAtMs = System.currentTimeMillis())
    commitWithRetry(buildNext(snap), latest =>
      if (latest.schemas != snap.schemas || latest.currentSchemaId != snap.currentSchemaId)
        throw new CommitConflictException("concurrent schema change; cannot rebase")
      else if (!replaced.subsetOf(latest.files.map(_.path).toSet))
        throw new CommitConflictException(
          "files folded by this compaction were concurrently rewritten; cannot rebase")
      else Some(buildNext(latest))).get.snapshotId
  }

  /** Change the table's bucket count — the missing half of "bucket count is
    * fixed at creation" (Iceberg analogue: `REPLACE PARTITION FIELD` +
    * `rewrite_data_files`). A table sized for 1 TB that grew to 100 TB
    * serializes merges behind fat buckets; rebucket to O(10^4) buckets
    * restores bounded per-bucket work without recreating the table or
    * breaking snapshot history/time travel.
    *
    * Full rewrite by construction (every row changes bucket): reads the
    * current snapshot raw (LWW across generations, tombstones kept so
    * late events still cannot resurrect deletes), re-buckets by
    * `pmod(hash(conv_id), newBuckets)`, writes one new base generation,
    * and commits `buckets = newBuckets`. Cost is one table scan + one
    * shuffle + one write — schedule it like compaction, not like ingest.
    *
    * Parallelism does not wait for the new bucket layout: writes are
    * salted to `targetRowsPerTask`, so a fat source bucket fans out over
    * many tasks during the rewrite itself.
    *
    * Concurrency: rebases over metadata-only commits (gate advances,
    * empty batches) but conflicts with any concurrent file change — a
    * data commit racing a full rewrite cannot be merged, matching
    * Iceberg's rewrite semantics. Run it when ingest is quiesced or let
    * the ingest writer retry after it wins.
    *
    * `changesSince` across the boundary stays correct AND keeps pruning:
    * new files carry measured per-file seq ranges of their surviving
    * rows, so post-rebucket incremental reads open only files that can
    * hold newer winners and re-emit at most those (the same
    * at-least-once contract compaction already has). */
  def rebucket(newBuckets: Int, opts: Options = Options()): Long = {
    require(newBuckets >= 1, s"newBuckets must be >= 1 (got $newBuckets)")
    val snap = snapshot()
    if (newBuckets == snap.buckets) return snap.snapshotId
    val full = schemaFor(snap, snap.currentSchemaId)
    val nextId = snap.snapshotId + 1
    val rel = s"data/b-$nextId-${java.util.UUID.randomUUID().toString.take(8)}"
    val totalRows = snap.files.map(f => math.max(f.rows, 0L)).sum
    if (snap.files.nonEmpty) {
      val df = readRaw(Some(snap)).withColumn(BucketCol, bucketOf(newBuckets))
      // uniform hash spreads keys evenly: size every new bucket's salt
      // slots from the expected rows/bucket instead of a counting pass
      val perBucket = math.max(1L, totalRows / newBuckets)
      val slots = (0 until newBuckets).map(b =>
        b -> math.max(1, math.ceil(perBucket.toDouble / opts.targetRowsPerTask).toInt)).toMap
      writeBucketed(df, s"$root/$rel", slots,
        dropTombstones = opts.dropTombstonesOnCompact)
    }
    // per-new-bucket seq ranges + rows are MEASURED from the staged write
    // (one executor-side job): the first changesSince after a rebucket
    // prunes on real per-file ranges instead of re-emitting the whole
    // table under the old conservative global range
    val newFiles =
      if (snap.files.isEmpty) Nil
      else listStagedMeasured(rel, snap.currentSchemaId)
    val replaced = snap.files.map(_.path).toSet
    def buildNext(base: SnapshotMeta): SnapshotMeta = base.copy(
      snapshotId = base.snapshotId + 1, parentId = base.snapshotId,
      buckets = newBuckets,
      files = newFiles,
      summary = Map("maintenance" -> "rebucket",
        "buckets.from" -> snap.buckets.toString,
        "buckets.to" -> newBuckets.toString),
      committedAtMs = System.currentTimeMillis())
    commitWithRetry(buildNext(snap), latest =>
      if (latest.schemas != snap.schemas || latest.currentSchemaId != snap.currentSchemaId)
        throw new CommitConflictException("concurrent schema change; cannot rebase")
      else if (latest.files.map(_.path).toSet != replaced)
        throw new CommitConflictException(
          "files changed concurrently during rebucket; rerun when ingest is quiesced")
      else Some(buildNext(latest))).get.snapshotId
  }

  /** Expire all but the newest `keepLast` snapshots and delete data files
    * no kept snapshot references (Iceberg `expire_snapshots` + orphan-file
    * removal). Time travel to expired ids stops working, by design.
    *
    * `orphanGraceMs`: an unreferenced file younger than this is SPARED —
    * it may be the staged output of an in-flight writer that has not yet
    * committed its snapshot (the same age threshold Iceberg's
    * remove_orphan_files applies). Pass 0 only when no writer can be
    * active. Returns (snapshots expired, data files deleted).
    *
    * Default mode is TARGETED: candidates come from diffing the dropped
    * snapshots' own manifests against the kept set — O(dropped manifest
    * entries) driver work, no filesystem tree walk, so routine retention
    * on a 10^6-file table stays flat. Files a dropped snapshot never
    * referenced (a crashed writer's staged output that no commit ever
    * adopted) are invisible to the diff; pass `deepGc = true` for the
    * full `data/` tree walk that sweeps those too (Iceberg's
    * remove_orphan_files analogue — a rare, scheduled deep clean, not
    * the per-retention path). */
  def expireSnapshots(keepLast: Int, orphanGraceMs: Long = 3600000L,
      deepGc: Boolean = false): (Int, Int) = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val versions = listVersions(root)
    // ref'd snapshots (tags, branch heads — per the TIP's ref map) are
    // PINNED: retention can never expire a tagged release or the
    // published WAP view, however old (Iceberg's ref-aware expiry)
    val pinned: Set[Long] = versions.lastOption
      .map(v => readSnapshot(root, v).refs.values.map(_.snapshotId).toSet)
      .getOrElse(Set.empty)
    val (drop0, keep0) = versions.splitAt(math.max(versions.size - keepLast, 0))
    val drop = drop0.filterNot(pinned.contains)
    val keep = keep0 ++ drop0.filter(pinned.contains)
    val kept = keep.map(v => readSnapshot(root, v))
    val referenced: Set[String] = kept.flatMap(_.files.map(_.path)).toSet
    val referencedManifests: Set[String] = kept.flatMap(_.manifestRef).toSet
    // read the dropped snapshots' manifests BEFORE deleting their version
    // files — they name exactly the data files that can have just become
    // unreferenced (the targeted candidate set)
    val droppedRefs: Seq[String] =
      if (deepGc) Nil
      else drop.flatMap(v => Try(readSnapshot(root, v)).toOption)
        .flatMap(_.files.map(_.path)).distinct
    drop.foreach(v => Hfs.delete(versionFile(root, v)))
    val cutoff = System.currentTimeMillis() - orphanGraceMs
    var deleted = 0
    // side manifests of dropped snapshots (and of commit attempts that
    // lost their race) are unreferenced now — same age-guarded sweep as
    // data files, so an in-flight writer's staged manifest survives. The
    // `_icelite/` listing is O(snapshots + manifests), flat at any data
    // scale, so it runs in both modes.
    Hfs.list(Hfs.path(root, "_icelite")).foreach { st =>
      val name = st.getPath.getName
      val rel = s"_icelite/$name"
      if (name.startsWith("m-") && !referencedManifests.contains(rel) &&
          st.getModificationTime <= cutoff) {
        Hfs.delete(st.getPath); deleted += 1
      }
    }
    val dataDir = Hfs.path(root, "data")
    val rootQ = Hfs.qualified(Hfs.path(root)).toString
    def relOf(p: HPath): String =
      Hfs.qualified(p).toString.stripPrefix(rootQ).stripPrefix("/")
    if (deepGc && Hfs.isDir(dataDir)) {
      Hfs.listFilesRecursive(dataDir).foreach { st =>
        val rel = relOf(st.getPath)
        if (rel.endsWith(".parquet") && !referenced.contains(rel) &&
            st.getModificationTime <= cutoff) {
          Hfs.delete(st.getPath); deleted += 1
        }
      }
      // deep GC sweeps ALL empty dirs under data/ bottom-up — including
      // ones a previous run (or a crash between file deletes and dir
      // prune) left behind, not just this run's parents. Virtual on
      // object stores — the listing is empty and the loop no-ops.
      def sweepEmptyDirs(d: HPath): Boolean = { // returns "d is now empty"
        val children = Hfs.list(d)
        val (dirs, fs) = children.partition(_.isDirectory)
        val emptiedAll = dirs.map(c => sweepEmptyDirs(c.getPath))
          .forall(identity)
        val empty = fs.isEmpty && emptiedAll
        if (empty && d != dataDir &&
            Hfs.qualified(d) != Hfs.qualified(dataDir))
          Hfs.delete(d, recursive = false)
        empty
      }
      sweepEmptyDirs(dataDir)
    } else if (!deepGc) {
      droppedRefs.filterNot(referenced.contains).foreach { rel =>
        val p = Hfs.path(root, rel)
        Hfs.status(p).foreach { st =>
          if (st.isFile && st.getModificationTime <= cutoff) {
            Hfs.delete(p); deleted += 1
            // prune now-empty parent dirs up to (not including) data/
            Hfs.pruneEmptyDirsUpTo(p.getParent, dataDir)
          }
        }
      }
    }
    (drop.size, deleted)
  }

  /** Salted, deduped, bucketed write in ONE shuffle: key-salt (a function
    * of the key, `slots(bucket)` slots per bucket) fans hot buckets over
    * several tasks while keeping key locality; [[Lww.latestBucketed]]
    * repartitions by (bucket, salt) and aggregates in place — no second
    * exchange; `partitionBy(bkt)` lays files per bucket. Slot counts come
    * from the merge's own bucket stats — no extra counting job.
    * `delta = true` (the exchange delta path) only repartitions — deltas
    * are appended un-collapsed — and writes no bloom ([[bloomKeyed]]). */
  private def writeBucketed(df: DataFrame, absDir: String, slots: Map[Int, Int],
      dropTombstones: Boolean = false, delta: Boolean = false): Unit = {
    val hot = slots.filter(_._2 > 1)
    // IMPORTANT: the salt must stay a non-foldable expression even in the
    // no-hot-bucket case. A literal 0 constant-folds out of the grouping,
    // the aggregate's required distribution no longer matches the
    // repartition's (bucket, salt) hash partitioning, and Spark inserts a
    // SECOND exchange keyed on (bucket, salt, key) — which spreads every
    // bucket over every task and makes partitionBy(bkt) emit
    // tasks × buckets files per write (measured: 2048 instead of 64).
    val saltExpr =
      if (hot.isEmpty)
        pmod(xxhash64(Model.keyCols.map(col): _*), lit(1L)).cast("int") // ≡ 0, non-foldable
      else {
        val slotMap = map(hot.toSeq.flatMap { case (b, s) => Seq(lit(b), lit(s)) }: _*)
        pmod(xxhash64(Model.keyCols.map(col): _*),
          coalesce(element_at(slotMap, col(BucketCol)), lit(1))).cast("int")
      }
    val salted = df.withColumn("_ksalt", saltExpr)
    // max_by(struct) agg measured ~1.2-1.5× faster than a sort+window
    // formulation at 10^7 events on both 8 and 32 cores
    val deduped =
      if (delta) salted.repartition(col(BucketCol), col("_ksalt"))
      else Lww.latestBucketed(salted, Model.keyCols, Seq("_event_ts", "_seq"),
        BucketCol, "_ksalt")
    val out = if (dropTombstones) deduped.filter(!col("_deleted")) else deduped
    val w = out.drop("_ksalt").write
    (if (delta) w else bloomKeyed(w))
      .partitionBy(BucketCol).parquet(absDir)
  }

  /** BASE (compacted/rebucketed) files carry a parquet bloom filter on
    * `conv_id` — adaptive sizing, so bytes track the file's actual key
    * count (~1 B/key ≈ 1% of data). Point lookups then skip row groups
    * without the key INSIDE a bucket: bucket pruning cuts the read to
    * 1/buckets of the table, the bloom cuts it again past the base
    * generations that cannot hold the key — min/max stats cannot do this
    * because hash-bucketed key strings span each file's whole range, and
    * at base-file cardinality the complete-dictionary fallback (parquet's
    * built-in exact filter) has long overflowed. DELTA writes skip the
    * bloom deliberately: they are the ingest hot path, and delta files
    * are small and short-lived (folded at `compactThreshold`) — pure
    * build cost, little skip value ([[graft.tools.LookupBench]] A/B).
    * `turn_idx` needs no bloom (low cardinality; min/max works). */
  private def bloomKeyed(w: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row]) =
    // -Dgraft.keyBloom=false: A/B control for graft.tools.LookupBench only.
    // adaptive sizing MUST use the un-suffixed key — the `#conv_id` form is
    // silently ignored for this option (measured: 1.05 MB flat bloom with
    // the suffix vs 0.26 MB for 311k keys ≈ 0.85 B/key without); global is
    // safe because blooms are only ENABLED for conv_id
    if (!sys.props.get("graft.keyBloom").contains("false"))
      w.option("parquet.bloom.filter.enabled#conv_id", "true")
        .option("parquet.bloom.filter.adaptive.enabled", "true")
    else w

  /** Enumerate `(relPath, bucket)` under a staged write dir — a driver
    * directory listing only, no file opens. */
  private def stagedPaths(relDir: String): List[(String, Int)] = {
    val staged = scala.collection.mutable.ListBuffer.empty[(String, Int)]
    Hfs.list(Hfs.path(root, relDir)).foreach { d =>
      val name = d.getPath.getName
      if (d.isDirectory && name.startsWith(s"$BucketCol=")) {
        val b = name.stripPrefix(s"$BucketCol=").toInt
        Hfs.list(d.getPath).foreach { f =>
          val fn = f.getPath.getName
          if (fn.endsWith(".parquet")) staged += ((s"$relDir/$name/$fn", b))
        }
      }
    }
    staged.toList
  }

  /** Manifest entries for a NON-collapsing staged write (delta append
    * without LWW — every input row was written): per-bucket rows and seq
    * ranges come straight from the caller's fused stats, so the commit
    * path opens NO files (round-2 verdict item 2: the old per-file
    * parquet-footer reads cost ~25 ms/file of driver wall — ~15 s on a
    * 10^4-file rebucket commit). Within a bucket, rows apportion evenly
    * across its part files: per-bucket TOTALS are exact, which is all any
    * consumer uses (slot sizing, rebucket estimates, summaries — they sum
    * per bucket); per-file splits are approximate and documented so. */
  private def listStagedFromStats(relDir: String, schemaId: Int,
      stats: Map[Int, BucketStats]): List[DataFileMeta] =
    stagedPaths(relDir).groupBy(_._2).toList.flatMap { case (b, fs) =>
      val s = stats.getOrElse(b, BucketStats(0L, 0L, -1L, -1L))
      val (n, k) = (s.rows, fs.size)
      fs.map(_._1).sorted.zipWithIndex.map { case (path, i) =>
        val share = n / k + (if (i < n % k) 1L else 0L)
        DataFileMeta(path, b, "delta", share, schemaId, s.minSeq, s.maxSeq)
      }
    }

  /** Manifest entries for a COLLAPSING staged base write (LWW dedup
    * and/or tombstone drop — written rows ≠ input rows): ONE executor-side Spark
    * job over the staged files computes exact per-FILE rows and seq
    * ranges (`input_file_name()` grouping; column-pruned to `_seq`, page-
    * cache warm — the files were just written). Exact per-file ranges are
    * strictly better pruning metadata than the old per-bucket unions: in
    * particular `rebucket` no longer manifests the global seq range on
    * every new file, so the first `changesSince` after a rebucket prunes
    * to files that genuinely carry newer winners (round-2 verdict item 3).
    * Ranges reflect SURVIVING rows, which is exactly the set an
    * incremental read can still emit — pruning stays sound. */
  private def listStagedMeasured(relDir: String, schemaId: Int): List[DataFileMeta] = {
    // a fully-collapsing write (e.g. dropTombstones over all-tombstone
    // buckets) stages no files at all — nothing to measure or manifest
    val staged = stagedPaths(relDir)
    if (staged.isEmpty) return Nil
    val bucketByPath = staged.toMap
    // scan exactly the staged file list (reuses the listing above instead
    // of a second directory walk inside the reader); basePath keeps the
    // bkt= partition column resolvable from explicit leaf-file paths
    val measured = spark.read
      .option("basePath", s"$root/$relDir")
      .parquet(staged.map { case (rel, _) => s"$root/$rel" }: _*)
      .groupBy(input_file_name().as("_f"), col(BucketCol))
      .agg(count(lit(1)).as("n"), min(col("_seq")).as("lo"),
        max(col("_seq")).as("hi"))
      .collect() // one row per staged file — bounded per commit
    // relativize scheme-agnostically: qualify both the root and the
    // scanned file through the SAME FileSystem, then strip the root
    // prefix — works for file:, hdfs:, graftmem:, ... alike; a file
    // outside the root (impossible by construction) fails loudly rather
    // than manifesting a broken path. stripSuffix("/"): a root at a
    // scheme's authority root ("hdfs://nn:8020", "graftmem://store")
    // qualifies WITH a trailing slash, which would otherwise double up
    // in the prefix and fail every commit.
    val rootQ = Hfs.qualified(Hfs.path(root)).toString.stripSuffix("/")
    measured.toList.map { r =>
      val fileQ = Hfs.qualified(new HPath(new java.net.URI(r.getString(0)))).toString
      require(fileQ.startsWith(rootQ + "/"),
        s"listStagedMeasured: staged file $fileQ is not under table root $rootQ")
      val rel = fileQ.stripPrefix(rootQ + "/")
      DataFileMeta(rel,
        bucketByPath.getOrElse(rel, r.getInt(1)),
        "base", r.getLong(2), schemaId, r.getLong(3), r.getLong(4))
    }
  }
}
