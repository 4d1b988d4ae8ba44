package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Per-key dedup + ordering (the max-LSN window), north rule N1.
 *
 * The reference delegates per-key ordering to YugabyteDB's per-tablet LSN
 * order and tracks only "last offset per source-partition wins"
 * (reference cdcsdk-engine/.../MTEngine.java:1012-1016). Replaying a whole
 * LSN range at once makes that reduction explicit: keep, per (repo, path),
 * the event with the highest LSN.
 *
 * Two equivalent implementations:
 *
 *  - [[lastPerKey]]: `groupBy(keys).agg(max_by(payload, lsn))`. `max_by` is a
 *    native Catalyst aggregate, so Spark runs it as partial (map-side) +
 *    final aggregation — hot keys collapse to one row per map partition
 *    BEFORE the shuffle, which is exactly the skew defense the north rule
 *    asks for, with no sort at all. This is the engine's hot path.
 *
 *  - [[saltedLastPerKey]]: explicit two-phase variant with a salt column in
 *    the physical grouping key (north rule N5). With max_by the partial agg
 *    already de-skews, so this exists for the case where the input arrives
 *    pre-partitioned so badly that even map-side partials overflow one task
 *    (e.g. one parquet file holding one hot key) — and as the explicit
 *    demonstration the rule requires.
 *
 * DedupSpec cross-checks both against a `row_number()` window formulation.
 */
object Dedup {

  /** Last event per key by `ordCol` (max-LSN reduction). Keeps every non-key
    * column, including `ordCol`. One shuffle, no sort, partial-agg friendly. */
  def lastPerKey(df: DataFrame, keyCols: Seq[String], ordCol: String): DataFrame = {
    val payload = df.columns.filterNot(keyCols.contains).toSeq
    val packed = struct(payload.map(col): _*)
    df.groupBy(keyCols.map(col): _*)
      .agg(max_by(packed, col(ordCol)).as("_last"))
      .selectExpr(keyCols ++ Seq("_last.*"): _*)
  }

  /** Explicit salted two-phase max-LSN reduction: phase 1 groups by
    * (key, salt) — the salt spreads a hot key over `salts` reducers — and
    * phase 2 reduces the per-salt winners to the global per-key winner.
    * Logical key stays (repo, path); only the physical partitioning is salted. */
  def saltedLastPerKey(df: DataFrame, keyCols: Seq[String], ordCol: String, salts: Int): DataFrame = {
    val payload = df.columns.filterNot(keyCols.contains).toSeq
    val packed = struct(payload.map(col): _*)
    val phase1 = df
      .withColumn("_salt", pmod(xxhash64(col(ordCol)), lit(salts)))
      .groupBy((keyCols.map(col) :+ col("_salt")): _*)
      .agg(max_by(packed, col(ordCol)).as("_last"), max(col(ordCol)).as("_ord"))
    phase1
      .groupBy(keyCols.map(col): _*)
      .agg(max_by(col("_last"), col("_ord")).as("_last"))
      .selectExpr(keyCols ++ Seq("_last.*"): _*)
  }
}
