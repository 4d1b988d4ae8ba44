package graft.cdc

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Snapshot-table scans planned from the manifest ([[ManifestFileIndex]]):
  * no Spark listing job, the bucket id as partition value, partition-filter
  * pruning, and the layouts a bucket can have on disk. */
class ManifestScanSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private val gen = GenConfig(numKeys = 4000, hotKeys = 8)

  private def digests(df: DataFrame) =
    df.select(col("repo"), col("path"), sha2(coalesce(col("content"), lit("")), 256).as("sha"))

  private def assertSame(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.count() == want.count(), s"$what: row count")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, s"$what: rows")
  }

  /** 64-bucket copy-on-write table after one epoch that fills every bucket. */
  private def table64(): SnapshotTable = {
    val table = new SnapshotTable(spark, tmpDir("scan64"), 64)
    new CdcEngine(spark, table, EngineConfig(numBuckets = 64))
      .applyEpoch(EventGen.events(spark, 0, 8000, gen), 0L)
    assert(table.loadManifest().get.buckets.size == 64)
    table
  }

  /** Deletes of every key the table holds in `bucket`, at LSNs above `lsn0`. */
  private def deleteBucket(table: SnapshotTable, bucket: Int, lsn0: Long): DataFrame =
    table.read().where(col("bucket") === bucket).select("repo", "path")
      .withColumn("op", lit("d"))
      .withColumn("lsn", lit(lsn0) + monotonically_increasing_id())

  test("a full read of a 64-bucket table is one Spark job (no listing job)") {
    val table = table64()
    val jobs = jobsDuring(table.read().write.format("noop").mode("overwrite").save())
    assert(jobs == 1, s"full read ran $jobs jobs")
  }

  test("a CoW merge over all 64 buckets: no listing job, survivor scan unshuffled, keys broadcast") {
    val table = table64()
    val d = Dedup.lastPerKey(EventGen.events(spark, 8000, 16000, gen), Model.keyCols, "lsn")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val jobs = try jobsDuring {
      val res = table.merge(d, 1L)
      assert(res.applied && res.stats.size == 64)
    } finally spark.listenerManager.unregister(listener)
    // dedup, delta materialization with its stats, broadcast keys, the
    // bucket write's shuffle and write, the lineage write
    assert(jobs == 6, s"merge ran $jobs jobs")

    import scala.jdk.CollectionConverters._
    val antiJoins = plans.asScala.toSeq.flatMap(p => collect(p) {
      case j: BroadcastHashJoinExec if j.joinType == LeftAnti => j
    })
    assert(antiJoins.size == 1, s"expected one broadcast left_anti join, got ${antiJoins.size}")
    val j = antiJoins.head
    val survivorSide = j.left
    assert(collect(survivorSide) { case e: ShuffleExchangeExec => e }.isEmpty,
      s"the snapshot side of the anti-join must not shuffle:\n$survivorSide")
    val scans = collect(survivorSide) { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty && scans.forall(_.relation.location.isInstanceOf[ManifestFileIndex]),
      s"survivors must come from the manifest-planned scan:\n$survivorSide")
    assert(collect(j.right) { case b: BroadcastExchangeExec => b }.nonEmpty,
      s"the delta keys must be broadcast:\n${j.right}")
    assertSame(digests(table.read()), digests(EventGen.finalState(spark, 0, 16000, gen)), "after merge")
  }

  test("bucket partition value is the key's bucket; a bucket filter prunes exactly") {
    val table = table64()
    val full = table.read().select("repo", "path", "content", "bucket").collect()
    assert(full.length == EventGen.finalState(spark, 0, 8000, gen).count())
    val misplaced = table.read().where(col("bucket") =!= table.bucketCol).count()
    assert(misplaced == 0, s"$misplaced rows carry a bucket their key does not hash to")
    for (k <- Seq(0, 17, 63)) {
      val pruned = table.read().where(col("bucket") === k)
        .select("repo", "path", "content", "bucket").collect()
      assert(pruned.nonEmpty)
      assert(pruned.toSet == full.filter(_.getInt(3) == k).toSet, s"bucket = $k")
    }
    val range = table.read().where(col("bucket") >= 60).select("repo", "path", "content", "bucket")
      .collect()
    assert(range.toSet == full.filter(_.getInt(3) >= 60).toSet, "bucket >= 60")
  }

  test("filesPerBucket = 2: every file of a bucket is read back") {
    val table = new SnapshotTable(spark, tmpDir("scanfan"), 4, filesPerBucket = 2)
    // AQE sizes writer tasks by bytes and would merge this small table's
    // sub-buckets into one task; the fan-out is what is checked here
    withSqlConf("spark.sql.adaptive.coalescePartitions.enabled", "false") {
      new CdcEngine(spark, table, EngineConfig(numBuckets = 4))
        .applyEpoch(EventGen.events(spark, 0, 20000, GenConfig(numKeys = 10000)), 0L)
    }
    val files = new java.io.File(table.root, "data/snap-0").listFiles().filter(_.isDirectory)
      .map(_.listFiles().count(_.getName.endsWith(".parquet")))
    // sub-buckets can share a writer task, so not every bucket gets 2 files
    assert(files.length == 4 && files.max == 2, s"files per bucket: ${files.toSeq}")
    assertSame(digests(table.read()),
      digests(EventGen.finalState(spark, 0, 20000, GenConfig(numKeys = 10000))), "read")
  }

  for (mode <- Seq("cow", "mor")) test(s"$mode: a bucket whose every key was deleted reads empty") {
    val g = GenConfig(numKeys = 800, hotKeys = 8)
    val table = new SnapshotTable(spark, tmpDir(s"scandel-$mode"), 4, mode = mode,
      compactionThreshold = 99)
    val engine = new CdcEngine(spark, table, EngineConfig(numBuckets = 4))
    engine.applyEpoch(EventGen.events(spark, 0, 4000, g), 0L)
    val victims = table.read().where(col("bucket") === 0).select("repo", "path").cache()
    assert(victims.count() > 0)
    table.merge(deleteBucket(table, 0, 1000000L), 1L)
    if (mode == "mor") table.compact()
    // ledger entry, but no bucket directory behind it
    val st = table.loadManifest().get.buckets("0")
    assert(!new java.io.File(table.root, s"${st.dir}/bucket=0").exists(), st.dir)
    val want = EventGen.finalState(spark, 0, 4000, g).join(victims, Model.keyCols, "left_anti")
    val emptied = table.loadManifest().get.version
    assert(table.read().where(col("bucket") === 0).count() == 0)
    assertSame(digests(table.read()), digests(want), "read")
    // the next epoch refills the bucket on top of its missing directory
    engine.applyEpoch(EventGen.events(spark, 4000, 8000, g), 2L)
    val refilled = Dedup.lastPerKey(
        want.withColumn("op", lit("r")).withColumn("lsn", lit(-1L))
          .unionByName(EventGen.events(spark, 4000, 8000, g)
            .select("repo", "path", "commit", "lang", "content", "op", "lsn")),
        Model.keyCols, "lsn")
      .filter(col("op") =!= "d")
    assertSame(digests(table.read()), digests(refilled), "read after refill")
    if (mode == "mor") {
      table.compact()
      assertSame(digests(table.read()), digests(refilled), "compact after refill")
    }
    assertSame(digests(table.readVersion(emptied)), digests(want), "readVersion")
    victims.unpersist()
  }

  test("readVersion over buckets in different snapshot directories and schema versions") {
    val g = GenConfig(numKeys = 800, hotKeys = 8)
    val table = new SnapshotTable(spark, tmpDir("scanmixed"), 4)
    val engine = new CdcEngine(spark, table, EngineConfig(numBuckets = 4))
    val ev0 = EventGen.events(spark, 0, 4000, g)
    engine.applyEpoch(ev0, 0L)
    // epoch 1 touches buckets 0 and 1 only, and adds a column
    val ev1 = EventGen.events(spark, 4000, 8000, g)
      .where(table.bucketCol.isin(0, 1))
      .withColumn("stars", (col("lsn") % 7).cast("int"))
    engine.applyEpoch(ev1, 1L)
    val m1 = table.loadManifest().get
    val layouts = m1.buckets.values.map(st => (st.dir, st.schemaId)).toSet
    assert(layouts.size == 2 && layouts.map(_._1).size == 2 && layouts.map(_._2).size == 2,
      m1.buckets.toString)
    engine.applyEpoch(EventGen.events(spark, 8000, 12000, g), 2L)

    val want = Dedup.lastPerKey(ev0.withColumn("stars", lit(null).cast("int")).unionByName(ev1),
        Model.keyCols, "lsn")
      .filter(col("op") =!= "d")
    val got = table.readVersion(m1.version)
    assert(got.columns.contains("stars"))
    def rows(df: DataFrame) = df.select("repo", "path", "content", "stars")
    assertSame(rows(got), rows(want), "readVersion")
    assert(got.where(col("bucket") =!= table.bucketCol).count() == 0)
    assert(got.where(col("bucket") >= 2 && col("stars").isNotNull).count() == 0)
  }
}
