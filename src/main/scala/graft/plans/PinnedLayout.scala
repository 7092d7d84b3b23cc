package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Reuse-a-partitioning-across-stages, as a first-class device for the
  * iterative algorithms (ALS half-solves, PageRank rounds, label
  * propagation): shuffle the BIG static table ONCE into a hash layout on
  * its join key, materialize it, and have every iteration's join consume
  * that layout — so the per-round traffic is only the entity-sized table
  * (factors / ranks / labels), never the corpus.
  *
  * Three pieces make the claim real (any one missing and Spark silently
  * re-shuffles the corpus every round — the r11 ALS `weak` mark):
  *  1. `repartition(n, key)` with an EXPLICIT count: REPARTITION_BY_NUM
  *     output is never AQE-coalesced, so the materialized rows genuinely
  *     sit at `pmod(hash(key), n)`.
  *  2. `localCheckpoint()` to cut the lineage (the Lloyd plan-depth
  *     discipline) — but under AQE the checkpoint's LogicalRDD records
  *     UnknownPartitioning, forgetting the layout just paid for.
  *  3. `graftshim.declareHashPartitioned` puts the (truthful) layout
  *     fact back on the LogicalRDD so EnsureRequirements can consume it.
  *
  * Callers pair this with a SHUFFLE_HASH hint on the entity-sized side
  * of each round's join: the hash map builds on the small side and the
  * pinned corpus STREAMS — no sort, no exchange beneath it (plan-pinned
  * in AlsSpec and KnnGraphSpec).
  */
object PinnedLayout {

  /** Rows per pinned partition when the caller supplies a row count
    * (r16, guide §2.2: size shuffle partitions by DATA, not by core
    * count). Pinned rows here are narrow (2–5 longs, ≲ 64 B unsafe), so
    * 2²⁰ rows ≈ 32–64 MB per partition — inside the guide's band. The
    * constant is the local default of a scale-adaptive RULE (the LSH
    * band-count discipline: the layout law is the contract, not the
    * number): partition count grows linearly with input rows and caps
    * at `spark.sql.shuffle.partitions`, so a 100 TB corpus pins at full
    * cluster parallelism while a kilobyte-scale round frame stops
    * paying cluster-width task scheduling for every iteration — the
    * measured r15 pathology where iterative entries ran FASTER on 8
    * cores than 32 because every round shuffled into `cpus` tasks.
    */
  private val RowsPerPartition = 1L << 20

  /** Partition count for a pinned layout of `rows` rows: linear in the
    * input, capped at the configured shuffle parallelism (public so a
    * caller that re-declares a DERIVED layout — e.g. a window output that
    * preserved the pin — can use the identical count).
    */
  def partitionsForRows(spark: org.apache.spark.sql.SparkSession, rows: Long): Int = {
    val cap = spark.sessionState.conf.numShufflePartitions
    // ceil(rows / RowsPerPartition) without the overflow of rows + 2^20 - 1
    val needed = rows / RowsPerPartition + (if (rows % RowsPerPartition > 0) 1 else 0)
    math.max(1L, math.min(cap.toLong, needed)).toInt
  }

  private def partitionsFor(df: DataFrame, rows: Long): Int =
    partitionsForRows(df.sparkSession, rows)

  /** One corpus shuffle, pinned and declared, at full configured
    * parallelism — for callers with no cheap row count.
    */
  def pinByKey(df: DataFrame, key: String): DataFrame = {
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    org.apache.spark.sql.graftshim.declareHashPartitioned(
      df.repartition(n, col(key)).localCheckpoint(), n, key)
  }

  /** Size-adaptive pin: the partition count derives from the caller's
    * (exact or safely-overestimated) row count instead of the core
    * count — see [[RowsPerPartition]]. `rows` is typically one bounded
    * driver pull of a long off an already-checkpointed frame (the Lloyd
    * contract), or arithmetic on one (n·k edges of a kNN graph).
    */
  def pinByKeySized(df: DataFrame, key: String, rows: Long): DataFrame = {
    val n = partitionsFor(df, rows)
    org.apache.spark.sql.graftshim.declareHashPartitioned(
      df.repartition(n, col(key)).localCheckpoint(), n, key)
  }
}
