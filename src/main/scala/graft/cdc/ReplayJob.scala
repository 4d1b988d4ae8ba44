package graft.cdc

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

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
 * per-run + cumulative totals. Each epoch prints the Spark jobs it started
 * and the generated classes it compiled, so a per-epoch cost that creeps
 * back in shows without a probe. Exit code 0 iff the final state matches
 * the generator oracle by per-row sha256.
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

    val counters = new WorkCounters(spark.sparkContext)
    val t0 = System.nanoTime()
    val stats = engine.replayGenerated(0, numEvents, epochs, gen, onEpoch = { (epochId, n) =>
      val (jobs, compiled, wall) = counters.take()
      println(f"[epoch] id=$epochId ${if (n < 0) "fenced" else s"rows=$n"} jobs=$jobs " +
        f"compiled=$compiled wall=$wall%.2fs")
    })
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

/** Spark jobs started, generated classes compiled and wall seconds since
  * the last [[take]] — the counters the tests use: a listener's job-start
  * events and `CodegenMetrics`' compile count. Listener events arrive
  * asynchronously, so `take` first runs a marker job and waits for its
  * start event; every job before it has been counted by then. */
private final class WorkCounters(sc: SparkContext) {
  private val markKey = "graft.replay.marker"
  private val jobs = new AtomicInteger()
  private val markers = new LinkedBlockingQueue[String]()
  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(markKey))) match {
        case Some(m) => markers.put(m)
        case None    => jobs.incrementAndGet()
      }
  })
  private def compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private var last = (0, compiled, System.nanoTime())
  private var marks = 0

  def take(): (Int, Long, Double) = {
    val t = System.nanoTime()
    marks += 1
    sc.setLocalProperty(markKey, marks.toString)
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(markKey, null)
    require(markers.poll(60, TimeUnit.SECONDS) == marks.toString, "marker job not seen")
    val now = (jobs.get(), compiled, System.nanoTime())
    val out = (now._1 - last._1, now._2 - last._2, (t - last._3) / 1e9)
    last = now
    out
  }
}
