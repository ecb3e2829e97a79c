package graft.operators

import org.apache.spark.sql.DataFrame

/** Shared partitioning idioms for the operator library (and the
  * query layer's per-row-heavy reference ops). */
private[graft] object Partitioning {
  /** Spread a narrow input across the session's shuffle-partition
    * count before a wide per-row stage (similarity scoring, hashing):
    * the single-file test inputs arrive as one row group, which would
    * otherwise run the expensive stage single-task. It is NOT free at
    * scale: the repartition is an unconditional full round-robin
    * exchange, paid even when the scan already yields many splits — at
    * cluster scale that is a corpus-sized shuffle in front of what
    * would otherwise be a scan → map stage. */
  def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt)
}
