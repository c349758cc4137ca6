package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hot-key / hot-bucket handling.
  *
  * The reference balances load by assigning tasks round-robin over source
  * "resource marks" (`core/.../container/util/JobAssignUtil.java:129-175`)
  * and by shuffling CDC shards over slaves
  * (`otsstreamreader/.../OTSStreamReaderMasterProxy.java:86`). In Spark the
  * analogue for a hash-bucketed write is salting: a hot bucket (one very
  * active conversation) must fan out over several tasks/files instead of
  * serializing one fat task. The merge salts inline in its bucketed write,
  * with slots sized from its own per-bucket stats (`IceliteTable.merge`);
  * this object keeps the heavy-hitter sketch.
  *
  * Salting changes partitioning, never results (property-tested).
  */
object Skew {

  /** Top-N heavy hitters by key — the frequency sketch feeding salting
    * decisions and the skew report in metrics. Cheap: partial-agg'd count.
    */
  def heavyHitters(df: DataFrame, keyCol: String, topN: Int): DataFrame =
    df.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col(keyCol)).limit(topN)
}
