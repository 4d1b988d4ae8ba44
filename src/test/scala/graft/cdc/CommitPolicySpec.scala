package graft.cdc

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Mirrors the reference's OffsetCommitPolicyTest combinator coverage
  * (cdcsdk-engine/src/test/.../OffsetCommitPolicyTest.java:26-97) plus the
  * deferred-commit engine semantics. */
class CommitPolicySpec extends SparkTestBase {

  test("policy combinators: always / periodic / or / and") {
    val always = CommitPolicy.Always
    val periodic = CommitPolicy.periodic(60000)
    assert(always.performCommit(0, 0))
    assert(!periodic.performCommit(100, 59999))
    assert(periodic.performCommit(0, 60000))
    val or = always.or(periodic)
    val and = always.and(periodic)
    assert(or.performCommit(1, 0))
    assert(!and.performCommit(1, 0))
    assert(and.performCommit(1, 60001))
    assert(CommitPolicy.everyNEpochs(3).performCommit(3, 0))
    assert(!CommitPolicy.everyNEpochs(3).performCommit(2, 0))
  }

  private val gen = GenConfig(numKeys = 500, hotKeys = 8)

  private def digests(df: org.apache.spark.sql.DataFrame) =
    df.select(col("repo"), col("path"), sha2(coalesce(col("content"), lit("")), 256).as("sha"))

  test("deferred commits: uncommitted epochs compose, flush makes them durable") {
    val root = tmpDir("policy")
    val table = new SnapshotTable(spark, root, 4)
    val engine = new CdcEngine(spark, table,
      EngineConfig(numBuckets = 4, commitPolicy = CommitPolicy.everyNEpochs(2)))
    // epoch 0: staged only (no manifest yet)
    engine.applyEpoch(EventGen.events(spark, 0, 5000, gen), 0L)
    assert(table.loadManifest().isEmpty && table.hasPending)
    // in-process reads still see the staged epoch
    assert(table.read().count() > 0)
    // epoch 1: policy fires -> one manifest covering both epochs
    engine.applyEpoch(EventGen.events(spark, 5000, 10000, gen), 1L)
    val m = table.loadManifest().get
    assert(m.epochWatermark == 1L && m.epochs.isEmpty && !table.hasPending)
    val want = digests(EventGen.finalState(spark, 0, 10000, gen))
    val got = digests(table.read())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("a fenced re-delivery leaves the commit-policy counters alone") {
    val table = new SnapshotTable(spark, tmpDir("policy-fence"), 4)
    val engine = new CdcEngine(spark, table,
      EngineConfig(numBuckets = 4, commitPolicy = CommitPolicy.everyNEpochs(2)))
    assert(engine.applyEpoch(EventGen.events(spark, 0, 5000, gen), 0L) > 0)
    // the staged epoch 0 fences its re-delivery; that must not count as an
    // epoch towards the policy, nor reset it as a commit would
    assert(engine.applyEpoch(EventGen.events(spark, 0, 5000, gen), 0L) == -1L)
    assert(table.loadManifest().isEmpty && table.hasPending)
    engine.applyEpoch(EventGen.events(spark, 5000, 10000, gen), 1L)
    val m = table.loadManifest()
    assert(m.exists(_.epochWatermark == 1L) && !table.hasPending,
      "the second applied epoch must commit under everyNEpochs(2)")
  }

  test("crash before flush loses only staged epochs; replay converges") {
    val root = tmpDir("policy2")
    val t1 = new SnapshotTable(spark, root, 4)
    val e1 = new CdcEngine(spark, t1,
      EngineConfig(numBuckets = 4, commitPolicy = CommitPolicy.everyNEpochs(2)))
    e1.applyEpoch(EventGen.events(spark, 0, 5000, gen), 0L)
    e1.applyEpoch(EventGen.events(spark, 5000, 10000, gen), 1L)  // commits 0+1
    e1.applyEpoch(EventGen.events(spark, 10000, 15000, gen), 2L) // staged only
    // "crash": new table instance, staged state gone
    val t2 = new SnapshotTable(spark, root, 4)
    assert(t2.loadManifest().get.epochWatermark == 1L)
    assert(!t2.isCommitted(2L), "staged epoch must not fence after crash")
    // replay driver re-runs everything; 0+1 fence, 2 re-applies, final flush
    val e2 = new CdcEngine(spark, t2,
      EngineConfig(numBuckets = 4, commitPolicy = CommitPolicy.everyNEpochs(2)))
    val stats = e2.replayGenerated(0, 15000, 3, gen)
    assert(stats.fencedEpochs == 2)
    assert(t2.loadManifest().get.epochWatermark == 2L)
    val want = digests(EventGen.finalState(spark, 0, 15000, gen))
    val got = digests(t2.read())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("maxRecordsPerFile caps snapshot file sizes (roller equivalent)") {
    val root = tmpDir("roller")
    val table = new SnapshotTable(spark, root, 2)
    val engine = new CdcEngine(spark, table,
      EngineConfig(numBuckets = 2, maxRecordsPerFile = 500L))
    engine.applyEpoch(EventGen.events(spark, 0, 20000, gen), 0L)
    val files = new java.io.File(s"$root/data/snap-0")
      .listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    val counts = files.map(f => spark.read.parquet(f.getAbsolutePath).count())
    assert(counts.forall(_ <= 500L), s"file row counts: ${counts.mkString(",")}")
  }
}
