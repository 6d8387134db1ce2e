package graft.core

import org.apache.spark.sql.DataFrame

/** Scan-parallelism guard for compute-heavy per-row stages (optimization
  * guide §2.5: "one huge unsplittable file … repartition immediately after
  * the read").
  *
  * The harness parquet files ship ONE row group each (verified with
  * `parquet_metadata` on every table/SF), so a scan plans one task per
  * file no matter how many cores the session has — byte-range splitting
  * cannot parallelize a single row group — and every per-row-expensive
  * stage fused into the scan (signature hashing, replicate explodes,
  * n-gram generation) runs single-threaded. That was the round-13
  * scaling-block signature: 8-core ≈ 32-core on the whole dedup/text
  * family.
  *
  * [[fanout]] round-robin repartitions to the session's shuffle
  * parallelism ONLY when the frame's planned parallelism is below it. On
  * any real multi-split layout (a cluster reading 100 TB) the guard is
  * the identity — no exchange is added — so it can never pessimize a
  * large scan; the decision derives from the planned partition count and
  * session conf, never from a testdata-specific constant. Round-robin
  * repartition is deterministic under task retries (sortBeforeRepartition,
  * SPARK-23207), and every consumer is partition-order invariant (the
  * engine's exact-decimal-sum / total-order-window discipline), so
  * results are unchanged — the oracle gate re-checks every key.
  */
object Fanout {
  def fanout(df: DataFrame): DataFrame = {
    val np = df.sparkSession.sessionState.conf.numShufflePartitions
    if (df.rdd.getNumPartitions < np) df.repartition(np) else df
  }
}
