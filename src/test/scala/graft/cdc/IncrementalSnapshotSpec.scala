package graft.cdc

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** S7 ad-hoc incremental snapshot: an execute-snapshot signal mid-stream
  * triggers a chunked, LSN-watermark-consistent re-read interleaved with
  * streaming (reference AbstractIncrementalSnapshotTest.java:124-184). */
class IncrementalSnapshotSpec extends SparkTestBase {

  private val gen = GenConfig(numKeys = 600, hotKeys = 8, filesPerRepo = 16)
  // the "data collection" being re-snapshotted: a deterministic repo subset
  private val selection = pmod(xxhash64(col("repo")), lit(3)) === 0

  private def digests(df: org.apache.spark.sql.DataFrame) =
    df.select(col("repo"), col("path"), sha2(coalesce(col("content"), lit("")), 256).as("sha"))

  test("signal mid-replay backfills an uncaptured collection; final state == oracle") {
    val root = tmpDir("incsnap")
    val table = new SnapshotTable(spark, root, 4)
    val engine = new CdcEngine(spark, table, EngineConfig(numBuckets = 4))

    // phase 1: the stream does NOT capture the selected collection yet
    // (reference scenario: collection added to the capture list later)
    engine.applyEpoch(EventGen.events(spark, 0, 4000, gen).filter(!selection), 0L)
    engine.applyEpoch(EventGen.events(spark, 4000, 8000, gen).filter(!selection), 1L)
    assert(digests(table.read()).count() ==
      EventGen.finalState(spark, 0, 8000, gen).filter(!selection).count())

    // phase 2: signal an ad-hoc snapshot of the selection, then continue
    // streaming (now capturing everything); chunks interleave with epochs
    engine.signalSnapshot(1_000_000L, selection, numChunks = 3)
    val stats = engine.replayGenerated(8000, 16000, 2, gen)
    assert(stats.epochs == 2 && stats.fencedEpochs == 0)
    assert(!engine.snapshotInProgress)

    // watermark consistency: snapshot rows (state at the watermark) must not
    // clobber newer stream updates, and must backfill everything older
    val want = digests(EventGen.finalState(spark, 0, 16000, gen))
    val got = digests(table.read())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)

    // re-snapshot rows are observable in lineage under their chunk epochs
    val snapEpochs = engine.readLineage().filter(col("epochId") >= 1_000_000L)
      .select("epochId").distinct().collect().map(_.getLong(0)).sorted
    assert(snapEpochs.toSeq == Seq(1_000_000L, 1_000_001L, 1_000_002L))
  }

  test("two queued signals both execute (second activates after the first drains)") {
    val root = tmpDir("incsnap3")
    val table = new SnapshotTable(spark, root, 4)
    val engine = new CdcEngine(spark, table, EngineConfig(numBuckets = 4))
    val selB = pmod(xxhash64(col("repo")), lit(3)) === 1
    engine.signalSnapshot(1_000_000L, selection, numChunks = 2)
    engine.signalSnapshot(2_000_000L, selB, numChunks = 2)
    engine.replayGenerated(0, 8000, 2, gen)
    assert(!engine.snapshotInProgress, "both signals must fully drain")
    val snapEpochs = engine.readLineage().filter(col("epochId") >= 1_000_000L)
      .select("epochId").distinct().collect().map(_.getLong(0)).toSet
    assert(snapEpochs == Set(1_000_000L, 1_000_001L, 2_000_000L, 2_000_001L), s"$snapEpochs")
  }

  test("queued signal survives a crash: restart completes it WITHOUT re-issue") {
    val root = tmpDir("incsnap4")
    val table = new SnapshotTable(spark, root, 4)
    val engine = new CdcEngine(spark, table, EngineConfig(numBuckets = 4))
    // stream never captured the selection; signal accepted, then "crash"
    // before any epoch runs (the engine object is simply abandoned)
    engine.applyEpoch(EventGen.events(spark, 0, 4000, gen).filter(!selection), 0L)
    engine.signalSnapshot(1_000_000L, selection, numChunks = 2)

    // restart: the durable signal row under <root>/signals/ reloads — no
    // re-issue (reference signal-table semantics: a written signal row is
    // the request of record until executed)
    val engine2 = new CdcEngine(spark, table, EngineConfig(numBuckets = 4))
    assert(engine2.snapshotInProgress, "restart must reload the pending signal")
    engine2.replayGenerated(4000, 8000, 1, gen)
    assert(!engine2.snapshotInProgress)
    val want = digests(EventGen.finalState(spark, 0, 8000, gen))
    val got = digests(table.read())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)

    // executed signal is retired: a THIRD engine sees nothing pending
    val engine3 = new CdcEngine(spark, table, EngineConfig(numBuckets = 4))
    assert(!engine3.snapshotInProgress, "completed signal must not re-queue")
  }

  test("durable signals are crash-safe against themselves: bad predicate " +
      "rejected BEFORE persisting; truncated file quarantined, not fatal") {
    val root = tmpDir("incsnap5")
    val table = new SnapshotTable(spark, root, 4)
    val engine = new CdcEngine(spark, table, EngineConfig(numBuckets = 4))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sigDir = new org.apache.hadoop.fs.Path(s"$root/signals")

    // an unparseable predicate must throw to the caller WITHOUT leaving a
    // poison signal file (validation-before-persist)
    intercept[Exception] {
      engine.signalSnapshotSql(1_000_000L, "this is ((( not sql", 2)
    }
    assert(!fs.exists(new org.apache.hadoop.fs.Path(sigDir, "signal-1000000.json")),
      "rejected signal must not persist")
    assert(!engine.snapshotInProgress)

    // a foreign truncated signal file (simulated crash mid-write by a writer
    // without the tmp+rename protocol) must not block engine construction
    fs.mkdirs(sigDir)
    val bad = new org.apache.hadoop.fs.Path(sigDir, "signal-2000000.json")
    val out = fs.create(bad, true)
    try out.write("""{"baseEpoch":2000000,"selec""".getBytes("UTF-8")) finally out.close()
    // plus one GOOD signal issued through the API (lands via tmp+rename)
    engine.signalSnapshotSql(3_000_000L, "pmod(xxhash64(repo), 3) = 0", 2)

    val engine2 = new CdcEngine(spark, table, EngineConfig(numBuckets = 4))
    assert(engine2.snapshotInProgress, "good signal must survive the bad neighbor")
    assert(!fs.exists(bad), "bad file must be quarantined away")
    assert(fs.exists(new org.apache.hadoop.fs.Path(sigDir,
      "signal-2000000.json.quarantined")), "quarantine keeps the evidence")
    // the SQL-string primary entry drives the snapshot end-to-end
    engine2.replayGenerated(0, 8000, 1, gen)
    assert(!engine2.snapshotInProgress)
    val want = digests(EventGen.finalState(spark, 0, 8000, gen))
    val got = digests(table.read())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("a signal predicate holding a quote, a backslash and a tab survives a restart") {
    val root = tmpDir("incsnap6")
    val table = new SnapshotTable(spark, root, 4)
    val engine = new CdcEngine(spark, table, EngineConfig(numBuckets = 4))
    engine.applyEpoch(EventGen.events(spark, 0, 4000, gen).filter(!selection), 0L)
    // the string literal is q, a quote, one escaped backslash and a raw tab;
    // no repo equals it, so the predicate selects the same keys as `selection`
    val sql = "pmod(xxhash64(repo), 3) = 0 AND repo <> 'q\"\\\\\t'"
    assert(Seq("\"", "\\", "\t").forall(sql.contains))
    engine.signalSnapshotSql(1_000_000L, sql, 2)
    val stored = SnapshotTable.mapper.readTree(
      new java.io.File(s"$root/signals/signal-1000000.json")).get("selectionSql").asText()
    assert(stored == sql)

    val engine2 = new CdcEngine(spark, table, EngineConfig(numBuckets = 4))
    assert(engine2.snapshotInProgress, "restart must reload the pending signal")
    engine2.replayGenerated(4000, 8000, 1, gen)
    assert(!engine2.snapshotInProgress)
    val want = digests(EventGen.finalState(spark, 0, 8000, gen))
    val got = digests(table.read())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("re-issued signal + re-run fence to no-ops (resume semantics)") {
    val root = tmpDir("incsnap2")
    val table = new SnapshotTable(spark, root, 4)
    val engine = new CdcEngine(spark, table, EngineConfig(numBuckets = 4))
    engine.signalSnapshot(1_000_000L, selection, numChunks = 2)
    engine.replayGenerated(0, 8000, 2, gen)
    val v1 = table.loadManifest().get.version

    // crash-resume: new engine, same signal, same replay window
    val engine2 = new CdcEngine(spark, table, EngineConfig(numBuckets = 4))
    engine2.signalSnapshot(1_000_000L, selection, numChunks = 2)
    val stats = engine2.replayGenerated(0, 8000, 2, gen)
    assert(stats.fencedEpochs == 2)
    assert(table.loadManifest().get.version == v1, "everything fenced => no new commits")
    val want = digests(EventGen.finalState(spark, 0, 8000, gen))
    val got = digests(table.read())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }
}
