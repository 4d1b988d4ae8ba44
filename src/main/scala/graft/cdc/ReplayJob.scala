package graft.cdc

import org.apache.spark.sql.functions._

/**
 * spark-submit entry point for a full CDC replay — the equivalent of the
 * reference's server `Main` (cdcsdk-server-core/.../Main.java:11-18) +
 * `ServerApp.start`: configure, run the engine to completion, print metrics.
 *
 * Usage (all args optional):
 *   ReplayJob <tableRoot> <numEvents> <epochs> <numBuckets> <numKeys> [master]
 *
 * The job is restartable: re-running with the same tableRoot resumes from
 * the manifest ledger (committed epochs fence to no-ops), and prints
 * per-run + cumulative totals. Exit code 0 iff the final state matches the
 * generator oracle by per-row sha256.
 */
object ReplayJob {
  def main(args: Array[String]): Unit = {
    val tableRoot = if (args.length > 0) args(0) else "/tmp/graft-cdc-table"
    val numEvents = if (args.length > 1) args(1).toLong else 1_000_000L
    val epochs    = if (args.length > 2) args(2).toInt else 10
    val buckets   = if (args.length > 3) args(3).toInt else 32
    val numKeys   = if (args.length > 4) args(4).toLong else 100_000L
    val master    = if (args.length > 5) args(5) else sys.env.getOrElse("SPARK_MASTER", "local[8]")

    val builder0 = graft.GraftSession.builder(master, "graft-cdc-replay")
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", "/tmp"))
    // extra session confs: SPARK_GRAFT_CONF="k=v;k2=v2"
    val spark = sys.env.get("SPARK_GRAFT_CONF").map(_.split(";").filter(_.contains("=")))
      .getOrElse(Array.empty)
      .foldLeft(builder0) { (b, kv) =>
        val Array(k, v) = kv.split("=", 2); b.config(k, v)
      }
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val gen = GenConfig(numKeys = numKeys, hotKeys = math.max(4, numKeys / 10000),
      snapshotLsn = numEvents / 10)
    val bcast = sys.env.getOrElse("SPARK_GRAFT_BCAST", (256L << 20).toString).toLong // bytes
    val tableMode = sys.env.getOrElse("SPARK_GRAFT_TABLE_MODE", "cow")
    val table = new SnapshotTable(spark, tableRoot, buckets, mode = tableMode)
    // generic config plumbing (reference ServerApp.java:237-253): any
    // GRAFT_ENGINE_* env var remaps to a graft.engine.* property and
    // configures the engine (format selection, offset-flush cadence, ...);
    // the job's explicit args/knobs override on top
    val base = ServerConfig.engineConfig(ServerConfig.propsFromEnv(sys.env))
    val engine = new CdcEngine(spark, table,
      base.copy(numBuckets = buckets, broadcastThresholdBytes = bcast))

    val t0 = System.nanoTime()
    val stats = engine.replayGenerated(0, numEvents, epochs, gen)
    val secs = (System.nanoTime() - t0) / 1e9

    val (rows, bytes) = engine.totals()
    println(f"[replay] epochs=${stats.epochs} fenced=${stats.fencedEpochs} " +
      f"rowsApplied=${stats.rowsApplied} cumulativeRows=$rows cumulativeBytes=$bytes " +
      f"wall=${secs}%.1fs events/sec=${numEvents / math.max(secs, 1e-9)}%.0f")

    if (sys.env.get("SPARK_GRAFT_NOVERIFY").contains("1")) { spark.stop(); return }

    // final-state verification: per-row sha256 vs the generator oracle
    val got = table.read().select(col("repo"), col("path"),
      sha2(coalesce(col("content"), lit("")), 256).as("sha"))
    val want = EventGen.finalState(spark, 0, numEvents, gen)
      .select(col("repo"), col("path"),
        sha2(coalesce(col("content"), lit("")), 256).as("sha"))
    val diff = got.exceptAll(want).count() + want.exceptAll(got).count()
    println(s"[verify] tableRows=${got.count()} oracleRows=${want.count()} shaDiff=$diff " +
      (if (diff == 0) "MATCH" else "MISMATCH"))
    spark.stop()
    if (diff != 0) sys.exit(1)
  }
}
