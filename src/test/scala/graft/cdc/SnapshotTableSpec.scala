package graft.cdc

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Durability/safety contract of the snapshot table: versioned atomic
  * manifests, fail-fast reopen validation, pending-safe maintenance ops,
  * monotone resume LSN, sub-bucketed write fan-out, epoch watermark. */
class SnapshotTableSpec extends SparkTestBase {

  private val gen = GenConfig(numKeys = 400, hotKeys = 8)

  test("versioned manifest: one file per commit, max version wins, no delete window") {
    val root = tmpDir("manif")
    val table = new SnapshotTable(spark, root, 4)
    val engine = new CdcEngine(spark, table, EngineConfig(numBuckets = 4))
    engine.applyEpoch(EventGen.events(spark, 0, 3000, gen), 0L)
    engine.applyEpoch(EventGen.events(spark, 3000, 6000, gen), 1L)
    val files = new java.io.File(root).listFiles()
      .map(_.getName).filter(_.matches("manifest-v\\d+\\.json")).sorted
    assert(files.length == 2, s"expected 2 manifest versions, got: ${files.mkString(",")}")
    assert(table.loadManifest().get.version == 1L)
    // a stale tmp or junk file must not confuse the reader
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, ".manifest-v99.json.tmp"), "{garbage")
    assert(table.loadManifest().get.version == 1L)
  }

  test("manifest without epochWatermark fails loudly instead of fencing epoch 0") {
    // jackson-module-scala would deserialize the missing field to 0 (not the
    // Scala default -1), silently marking never-committed epoch 0 as fenced
    // — e.g. in a hand-migrated legacy manifest.json
    val root = tmpDir("manifnowm")
    val table = new SnapshotTable(spark, root, 2)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, f"manifest-v${0L}%020d.json"),
      """{"version":0,"numBuckets":2,"schemas":{},"currentSchemaId":0,"buckets":{},"epochs":[]}""")
    val e = intercept[IllegalStateException](table.loadManifest())
    assert(e.getMessage.contains("epochWatermark"))
  }

  test("unreadable top manifest version falls back to the next-lower one") {
    val root = tmpDir("maniffall")
    val table = new SnapshotTable(spark, root, 4)
    val engine = new CdcEngine(spark, table, EngineConfig(numBuckets = 4))
    engine.applyEpoch(EventGen.events(spark, 0, 2000, gen), 0L)
    engine.applyEpoch(EventGen.events(spark, 2000, 4000, gen), 1L)
    assert(table.loadManifest().get.version == 1L)
    // delete v1's file after it was listed-as-present: loadManifest must
    // fall through to v0 (open failure inside the try), not throw
    java.nio.file.Files.delete(java.nio.file.Paths.get(root, f"manifest-v${1L}%020d.json"))
    assert(table.loadManifest().get.version == 0L)
  }

  test("old manifest versions are pruned, keeping the newest 3") {
    val root = tmpDir("manifprune")
    val table = new SnapshotTable(spark, root, 2)
    val engine = new CdcEngine(spark, table, EngineConfig(numBuckets = 2))
    (0 until 5).foreach(i =>
      engine.applyEpoch(EventGen.events(spark, i * 1000L, (i + 1) * 1000L, gen), i.toLong))
    val files = new java.io.File(root).listFiles()
      .map(_.getName).filter(_.matches("manifest-v\\d+\\.json"))
    assert(files.length == 3, s"got: ${files.sorted.mkString(",")}")
    assert(table.loadManifest().get.version == 4L)
  }

  test("reopening with a different numBuckets fails fast") {
    val root = tmpDir("buckets")
    val table = new SnapshotTable(spark, root, 4)
    new CdcEngine(spark, table, EngineConfig(numBuckets = 4))
      .applyEpoch(EventGen.events(spark, 0, 2000, gen), 0L)
    val ex = intercept[IllegalArgumentException](new SnapshotTable(spark, root, 8))
    assert(ex.getMessage.contains("numBuckets"))
  }

  test("vacuum/compact refuse to run with staged uncommitted epochs") {
    val root = tmpDir("pendingsafe")
    val table = new SnapshotTable(spark, root, 4, mode = "mor")
    val engine = new CdcEngine(spark, table,
      EngineConfig(numBuckets = 4, commitPolicy = CommitPolicy.everyNEpochs(100)))
    engine.applyEpoch(EventGen.events(spark, 0, 2000, gen), 0L)
    assert(table.hasPending)
    intercept[IllegalArgumentException](table.vacuum())
    intercept[IllegalArgumentException](table.compact())
    engine.flush()
    table.vacuum() // now safe
  }

  test("MOR resume LSN is monotone under out-of-order epoch application") {
    val root = tmpDir("morlsn")
    val table = new SnapshotTable(spark, root, 1, mode = "mor")
    // epoch 0 carries HIGHER lsns than epoch 1 (file order != LSN order)
    table.merge(Dedup.lastPerKey(
      EventGen.events(spark, 5000, 6000, gen), Model.keyCols, "lsn"), 0L)
    val after0 = table.loadManifest().get.buckets("0").lastLsn
    table.merge(Dedup.lastPerKey(
      EventGen.events(spark, 0, 1000, gen), Model.keyCols, "lsn"), 1L)
    val after1 = table.loadManifest().get.buckets("0").lastLsn
    assert(after0 == 5999L && after1 == 5999L,
      s"lastLsn must not move backwards: $after0 -> $after1")
  }

  test("write fan-out: a bucket's rows spread over filesPerBucket writer tasks") {
    val root = tmpDir("fanout")
    val table = new SnapshotTable(spark, root, 2, filesPerBucket = 4)
    // AQE sizes writer tasks by bytes and would merge this small table's
    // sub-buckets into one task; the fan-out is what is checked here
    withSqlConf("spark.sql.adaptive.coalescePartitions.enabled", "false") {
      new CdcEngine(spark, table, EngineConfig(numBuckets = 2))
        .applyEpoch(EventGen.events(spark, 0, 40000, GenConfig(numKeys = 20000)), 0L)
    }
    val perBucket = new java.io.File(s"$root/data/snap-0").listFiles()
      .filter(_.isDirectory)
      .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet")))
    assert(perBucket.nonEmpty)
    perBucket.foreach { case (b, n) =>
      assert(n > 1, s"bucket $b written by a single task ($n files) despite fanout=4")
      assert(n <= 4, s"bucket $b has $n files > fanout")
    }
  }

  test("a CoW epoch over all 64 buckets writes 64 files from at most 2 x defaultParallelism tasks") {
    val g = GenConfig(numKeys = 4000, hotKeys = 8)
    val table = new SnapshotTable(spark, tmpDir("writetasks"), 64)
    val engine = new CdcEngine(spark, table, EngineConfig(numBuckets = 64))
    engine.applyEpoch(EventGen.events(spark, 0, 20000, g), 0L)
    val writeTasks = tasksDuring(engine.applyEpoch(EventGen.events(spark, 20000, 40000, g), 1L))
      .count(e => e.taskMetrics != null && e.taskMetrics.outputMetrics.recordsWritten > 0)
    assert(table.loadManifest().get.buckets.values.count(_.dir == "data/snap-1") == 64)
    val files = new java.io.File(table.root, "data/snap-1").listFiles().filter(_.isDirectory)
      .map(_.listFiles().count(_.getName.endsWith(".parquet")))
    assert(files.length == 64 && files.forall(_ == 1), s"files per bucket: ${files.toSeq}")
    // the bucket write's tasks plus the lineage write's one task; one task
    // per bucket would be 64 + 1
    val limit = 2 * spark.sparkContext.defaultParallelism
    assert(writeTasks <= limit, s"$writeTasks tasks wrote rows, limit $limit")
  }

  test("epoch watermark absorbs contiguous ids; out-of-order ids wait in the recent set") {
    import SnapshotTable.Manifest
    val m0 = Manifest(0, 1, Map.empty, 0, Map.empty, Seq(0L, 1L, 2L)).normalized
    assert(m0.epochWatermark == 2L && m0.epochs.isEmpty)
    val m1 = Manifest(0, 1, Map.empty, 0, Map.empty, Seq(0L, 2L)).normalized
    assert(m1.epochWatermark == 0L && m1.epochs == Seq(2L))
    assert(m1.containsEpoch(0L) && m1.containsEpoch(2L) && !m1.containsEpoch(1L))
    val m2 = m1.copy(epochs = m1.epochs :+ 1L).normalized
    assert(m2.epochWatermark == 2L && m2.epochs.isEmpty)
  }

  test("the first epoch into an empty table keeps schema id 0 (cow and mor)") {
    for (mode <- Seq("cow", "mor")) {
      val table = new SnapshotTable(spark, tmpDir(s"schema0-$mode"), 2, mode = mode)
      new CdcEngine(spark, table, EngineConfig(numBuckets = 2))
        .applyEpoch(EventGen.events(spark, 0, 1000, gen), 0L)
      val m = table.loadManifest().get
      assert(m.schemas.keySet == Set("0") && m.currentSchemaId == 0,
        s"$mode: schemas ${m.schemas.keySet}, current ${m.currentSchemaId}")
    }
  }

  test("an empty-delta epoch still commits its id (no watermark gap)") {
    val root = tmpDir("emptyepoch")
    val table = new SnapshotTable(spark, root, 2)
    val engine = new CdcEngine(spark, table, EngineConfig(numBuckets = 2))
    engine.applyEpoch(EventGen.events(spark, 0, 1000, gen), 0L)
    // epoch 1 routes zero rows (RoutingEngine's empty-slice case)
    val empty = EventGen.events(spark, 1000, 2000, gen).filter(lit(false))
    assert(engine.applyEpoch(empty, 1L) == 0L)
    engine.applyEpoch(EventGen.events(spark, 2000, 3000, gen), 2L)
    val m = table.loadManifest().get
    assert(m.epochWatermark == 2L && m.epochs.isEmpty,
      s"empty epoch must not leave a gap: watermark=${m.epochWatermark} recent=${m.epochs}")
    assert(table.isCommitted(1L))
  }

  test("legacy single-file manifest.json refuses to open (no silent empty read)") {
    val root = tmpDir("legacy")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(root, "manifest.json"), "{}")
    val ex = intercept[IllegalArgumentException](new SnapshotTable(spark, root, 4))
    assert(ex.getMessage.contains("legacy"))
  }

  test("resume with a different epoch chunking fails loudly instead of losing data") {
    val root = tmpDir("chunking")
    val table = new SnapshotTable(spark, root, 4)
    val engine = new CdcEngine(spark, table, EngineConfig(numBuckets = 4))
    engine.replayGenerated(0, 12000, 3, gen) // chunk = 4000, epochs 0,1,2
    val resumed = new CdcEngine(spark, new SnapshotTable(spark, root, 4),
      EngineConfig(numBuckets = 4))
    // same stream, different chunking: epoch 0 would now mean [0,6000) but
    // the committed epoch 0 covered [0,4000) — must abort, not fence+skip
    val ex = intercept[IllegalArgumentException](resumed.replayGenerated(0, 12000, 2, gen))
    assert(ex.getMessage.contains("chunk"))
    // identical chunking resumes fine
    assert(resumed.replayGenerated(0, 12000, 3, gen).fencedEpochs == 3)
  }

  test("crash between data write and manifest commit leaves previous version intact") {
    val root = tmpDir("crashpoint")
    val table = new SnapshotTable(spark, root, 2)
    val engine = new CdcEngine(spark, table, EngineConfig(numBuckets = 2))
    engine.applyEpoch(EventGen.events(spark, 0, 2000, gen), 0L)
    val v0 = table.loadManifest().get
    // simulate a crashed attempt at the NEXT version: partial file on disk
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, f"manifest-v${1L}%020d.json"), "{\"version\": 1, truncated")
    val reopened = new SnapshotTable(spark, root, 2)
    assert(reopened.loadManifest().get.version == v0.version,
      "reader must fall back past an unparseable top version")
    // and the next real commit supersedes the garbage
    new CdcEngine(spark, reopened, EngineConfig(numBuckets = 2))
      .applyEpoch(EventGen.events(spark, 2000, 4000, gen), 1L)
    assert(reopened.loadManifest().get.version == 1L)
    assert(reopened.isCommitted(0L) && reopened.isCommitted(1L))
  }

  private def delta(lo: Long, hi: Long) =
    Dedup.lastPerKey(EventGen.events(spark, lo, hi, gen), Model.keyCols, "lsn")
  private def digests(df: org.apache.spark.sql.DataFrame) =
    df.select(col("repo"), col("path"), sha2(coalesce(col("content"), lit("")), 256))

  /** `table` reads exactly the oracle state of LSNs [0, hi). */
  private def assertReads(table: SnapshotTable, hi: Long): Unit = {
    val want = digests(EventGen.finalState(spark, 0, hi, gen))
    val got = digests(table.read())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("a stale writer's commit conflicts instead of replacing another writer's manifest") {
    val root = tmpDir("twowriters")
    val a = new SnapshotTable(spark, root, 4)
    val b = new SnapshotTable(spark, root, 4)
    // B stages epoch 1 on the empty table, then A commits epoch 0 first;
    // both touch every bucket (400 keys over 4 buckets)
    b.merge(delta(3000, 6000), 1L, commit = false)
    a.merge(delta(0, 3000), 0L)
    val committed = a.loadManifest().get
    val ex = intercept[IllegalStateException](b.commitPending())
    assert(ex.getMessage.contains(s"manifest version ${committed.version}"), ex.getMessage)
    // A's manifest and rows are intact
    val fresh = new SnapshotTable(spark, root, 4)
    assert(fresh.loadManifest().get == committed)
    assert(fresh.isCommitted(0L) && !fresh.isCommitted(1L))
    assertReads(fresh, 3000)
  }

  test("a stale writer's merge conflicts before it overwrites another writer's files") {
    val root = tmpDir("stalemerge")
    val a = new SnapshotTable(spark, root, 4)
    val b = new SnapshotTable(spark, root, 4)
    // B stages epoch 5, A commits epoch 0, then B merges its own epoch 0:
    // both would write data/snap-0 and lineage/epoch=0
    b.merge(delta(3000, 6000), 5L, commit = false)
    a.merge(delta(0, 3000), 0L)
    val committed = a.loadManifest().get
    var ex: IllegalStateException = null
    val jobs = jobsDuring { ex = intercept[IllegalStateException](b.merge(delta(6000, 9000), 0L)) }
    assert(ex.getMessage.contains(s"manifest version ${committed.version}"), ex.getMessage)
    assert(jobs == 0, s"the conflicting merge ran $jobs jobs")
    // A's v0 still reads A's rows, and its lineage still covers A's LSNs
    val fresh = new SnapshotTable(spark, root, 4)
    assert(fresh.loadManifest().get == committed)
    assertReads(fresh, 3000)
    val lineage = spark.read.parquet(s"$root/lineage/epoch=0").agg(max("lastLSN")).head().getLong(0)
    assert(lineage < 3000L, s"lineage of epoch 0 records LSN $lineage")
  }

  test("a bucket that records an epoch its manifest's ledger lacks fails the merge") {
    val root = tmpDir("badledger")
    val table = new SnapshotTable(spark, root, 2)
    table.merge(delta(0, 1000), 0L)
    // rewrite the manifest with its ledger emptied: its buckets still
    // record epoch 0, which it no longer does
    val m = table.loadManifest().get
    val name = f"manifest-v${m.version}%020d.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(root, name),
      SnapshotTable.mapper.writeValueAsBytes(m.copy(epochs = Seq.empty, epochWatermark = -1L)))
    // its checksum no longer matches, and a bad checksum reads as no manifest
    java.nio.file.Files.delete(java.nio.file.Paths.get(root, s".$name.crc"))
    assert(table.loadManifest().get.epochWatermark == -1L)
    var ex: IllegalStateException = null
    val jobs = jobsDuring { ex = intercept[IllegalStateException](table.merge(delta(1000, 2000), 0L)) }
    assert(ex.getMessage.contains("records epoch 0"), ex.getMessage)
    assert(jobs == 0, s"the refused merge ran $jobs jobs")
  }
}
