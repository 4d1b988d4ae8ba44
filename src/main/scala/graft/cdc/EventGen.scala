package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Deterministic, splittable change-event generator.
 *
 * Modeled on the reference's deterministic test source
 * (cdcsdk-engine/src/main/java/io/debezium/connector/simple/SimpleSourceConnector.java:107-215
 * — same records in same order on every run, resume skips `id <= lastId`),
 * but built for 10^10 scale: every column is a pure function of the LSN,
 * so any LSN range can be (re)generated on any executor with
 * no state and no materialized input. This is what makes crash-replay and the
 * two-cluster-size scaling runs use byte-identical input.
 *
 * Skew: a configurable fraction of events lands on a small hot-key set that
 * maps to a handful of hot repos (Zipf-ish head), exercising the north rule's
 * salting / AQE-skew requirements.
 */
final case class GenConfig(
    numKeys: Long = 1L << 20,
    hotKeys: Long = 64,          // hot head of the key space
    hotFraction: Int = 20,       // percent of events hitting the hot head
    filesPerRepo: Long = 512,    // key -> (repo = key / filesPerRepo, path = key % filesPerRepo)
    snapshotLsn: Long = 0,       // events with lsn < snapshotLsn are op='r' (initial snapshot)
    deletePct: Int = 8,          // of non-snapshot events: % deletes
    insertPct: Int = 12,         // % explicit inserts ('c'); rest are updates ('u')
    seed: Long = 42L
)

object EventGen {

  private val langs = Array("scala", "java", "py", "go", "rs", "c", "cpp", "js")

  /** Change events for lsn in [lo, hi). Columns follow Model.eventSchemaV0.
    * `schemaId` is constant per call; the engine unions ranges generated at
    * different schema versions to exercise evolution. */
  def events(spark: SparkSession, lo: Long, hi: Long, cfg: GenConfig = GenConfig(),
             schemaId: Int = 0, numSlices: Int = 0): DataFrame =
    eventsFromLsns(lsnRange(spark, lo, hi, numSlices), cfg, schemaId)

  /** The LSNs [lo, hi) as one `lsn` column. The bounds live in the RDD, not
    * in the plan: `spark.range` writes them into its generated Java source,
    * so every epoch's range would compile a new class and run it cold. This
    * way the stages over it compile once per run. */
  private def lsnRange(spark: SparkSession, lo: Long, hi: Long, numSlices: Int): DataFrame = {
    import spark.implicits._
    val slices = if (numSlices > 0) numSlices else spark.sparkContext.defaultParallelism
    spark.createDataset(spark.sparkContext.range(lo, hi, 1, slices)).toDF("lsn")
  }

  private def lsnHash(cfg: GenConfig)(salt: Int): Column = xxhash64(col("lsn"), lit(cfg.seed + salt))

  /** The generator's key id of `lsn`: a hot-head or uniform draw. */
  private def keyOf(cfg: GenConfig): Column = {
    val h = lsnHash(cfg) _
    when(pmod(h(1), lit(100)) < lit(cfg.hotFraction), pmod(h(2), lit(cfg.hotKeys)))
      .otherwise(pmod(h(2), lit(cfg.numKeys)))
  }

  /** Materialize full events for an arbitrary `lsn` column — the
    * "re-read the log by offset" primitive every real binlog/WAL source has.
    * Because every column is a pure function of lsn, the engine can dedup on
    * the (key, lsn) skeleton only and late-materialize winner payloads,
    * shuffling ~15% of the bytes (see CdcEngine late materialization).
    * One projection over `lsns`: its columns, then the event columns. */
  def eventsFromLsns(lsns: DataFrame, cfg: GenConfig = GenConfig(),
                     schemaId: Int = 0): DataFrame = {
    val h = lsnHash(cfg) _
    val key = keyOf(cfg)
    val opRoll = pmod(h(3), lit(100))
    val op = when(col("lsn") < lit(cfg.snapshotLsn), lit("r"))
      .when(opRoll < lit(cfg.deletePct), lit("d"))
      .when(opRoll < lit(cfg.deletePct + cfg.insertPct), lit("c"))
      .otherwise(lit("u"))
    val repo = concat(lit("repo-"), (key / lit(cfg.filesPerRepo)).cast("long"))
    val path = concat(lit("src/f"), pmod(key, lit(cfg.filesPerRepo)), lit(".scala"))
    // after-image columns are null on delete (Debezium: after == null for op='d')
    def afterImage(c: Column) = when(op === "d", lit(null: String)).otherwise(c)

    lsns.select(lsns.columns.map(col).toSeq ++ Seq(
      op.as("op"),
      repo.as("repo"),
      path.as("path"),
      afterImage(lpad(hex(h(4)), 16, "0")).as("commit"),
      afterImage(element_at(lit(langs), (pmod(h(5), lit(langs.length)) + 1).cast("int"))).as("lang"),
      // the ~64-hex-char high-entropy body comes from four xxhash64 segments,
      // NOT sha2: Spark's Sha2 allocates a MessageDigest per row, and the r5
      // per-phase scaling attribution measured generation as the WORST-scaling
      // stage (0.57 eff 1->4 cores, an allocation-bandwidth ceiling) — the
      // synthetic source is scaffolding, not the engine under test, so it
      // should cost as little as a real log read/decode would. Same length
      // class, same compressibility (hex of independent 64-bit hashes), same
      // determinism (pure function of lsn+seed).
      afterImage(concat(
        lit("content:"), repo, lit(":"), path, lit(":lsn="), col("lsn"),
        lit(":"), hex(h(10)), hex(h(11)), hex(h(12)), hex(h(13)))).as("content"),
      lit(schemaId).as("schemaId"),
      (lit(1704067200000L) + col("lsn") * lit(10L)).as("ts_ms")): _*)
  }

  /** Key-skeleton for late-materialized dedup: only (key, lsn) as two longs
    * — no string construction at all. The per-key max-LSN winner is fully
    * determined by these two columns (the key id is a bijection with
    * (repo, path) inside the generator; a real source would use its primary
    * key / key-bytes column the same way). Phase-1 shuffle rows shrink to
    * 16 bytes and the aggregation is a pure primitive-type codegen loop. */
  def keySkeleton(spark: SparkSession, lo: Long, hi: Long, cfg: GenConfig = GenConfig(),
                  numSlices: Int = 0): DataFrame = {
    val base = lsnRange(spark, lo, hi, numSlices)
    base.select(col("lsn"), keyOf(cfg).as("key"))
  }

  /** The expected final table state ("reference final state") after replaying
    * lsn in [lo, hi): per-key last-wins by LSN, deletes remove the key. This is
    * the oracle the engine's materialized table is sha256-compared against. */
  def finalState(spark: SparkSession, lo: Long, hi: Long, cfg: GenConfig = GenConfig()): DataFrame = {
    val ev = events(spark, lo, hi, cfg)
    Dedup.lastPerKey(ev, Model.keyCols, "lsn")
      .filter(col("op") =!= "d")
      .select("repo", "path", "commit", "lang", "content")
  }
}
