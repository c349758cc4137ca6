package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Last-writer-wins dedup per key — the engine's core "apply" reduction.
  *
  * Semantics mirror the reference's keyed upsert sinks: HBase cell-version
  * LWW (`hbase11xwriter/.../Hbase11xHelper.java:282-293`) and the OTS stream
  * per-shard `seq_id` ordering (`otsstreamreader/.../MultiVerModeRecordSender
  * .java:135-141`): for each key keep the row with the greatest
  * `(event_ts, seq)`.
  *
  * Implemented as a hash aggregation with `max_by(struct(payload),
  * struct(ordering))`, NOT a window: aggregation gets map-side partial
  * combine (duplicates collapse before the shuffle), so a key updated a
  * million times ships at most one row per input partition to the reducer —
  * the skew story at 10^10 events. A `row_number` window would shuffle every
  * duplicate to one task and sort it.
  */
object Lww {

  /** Keep, per `keys`, the single row with max `ordering` (lexicographic).
    * `ordering` column pairs must be unique per key for determinism (our
    * `seq` is globally unique, so `(event_ts, seq)` qualifies).
    */
  def latest(df: DataFrame, keys: Seq[String], ordering: Seq[String]): DataFrame = {
    val payload = df.columns.filterNot(keys.contains).toSeq
    df.groupBy(keys.map(col): _*)
      .agg(max_by(struct(payload.map(col): _*), struct(ordering.map(col): _*)).as("_w"))
      .select(keys.map(col) ++ payload.map(c => col(s"_w.`$c`").as(c)): _*)
  }

  /** Two-phase salted variant: pre-aggregate per (key, salt) then reduce per
    * key. Equivalent result (LWW is commutative/associative); use when input
    * partitioning defeats map-side combine (e.g. a pre-shuffled source where
    * one reducer would still receive ~#partitions rows for a hot key and the
    * reduce-side struct comparison is expensive).
    */
  def latestSalted(df: DataFrame, keys: Seq[String], ordering: Seq[String],
      saltBuckets: Int): DataFrame = {
    val salted = df.withColumn("_salt",
      pmod(xxhash64(ordering.map(col): _*), lit(saltBuckets)))
    val phase1 = latest(salted, keys :+ "_salt", ordering)
    latest(phase1.drop("_salt"), keys, ordering)
  }

  /** Single-shuffle bucketed LWW: repartition by (bucket, salt) — both
    * functions of the key, so key locality is preserved — then aggregate
    * grouped by (bucket, salt, keys). Spark sees the child partitioning
    * satisfy the grouping distribution and plans NO second exchange: the
    * rows land shuffled exactly as the bucketed writer needs them, and the
    * dedup happens in place. Halves the shuffle volume of the merge path
    * vs dedup-then-repartition (the 10^10-event difference).
    */
  def latestBucketed(df: DataFrame, keys: Seq[String], ordering: Seq[String],
      bucketCol: String, saltCol: String): DataFrame = {
    val grouping = Seq(bucketCol, saltCol) ++ keys
    val payload = df.columns.filterNot(c => grouping.contains(c)).toSeq
    df.repartition(col(bucketCol), col(saltCol))
      .groupBy(grouping.map(col): _*)
      .agg(max_by(struct(payload.map(col): _*), struct(ordering.map(col): _*)).as("_w"))
      .select((grouping.map(col) ++ payload.map(c => col(s"_w.`$c`").as(c))): _*)
  }

  /** Window-rank formulation (`row_number() over (partition by key order by
    * ordering desc) = 1`) — reference semantics spelled the declarative way;
    * kept for property-testing equivalence with [[latest]], not for the hot
    * path (full shuffle + sort of all duplicates).
    */
  def latestByWindow(df: DataFrame, keys: Seq[String], ordering: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(ordering.map(c => col(c).desc): _*)
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }
}
