package graft.cdc

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The fixed cost every epoch pays: once an epoch of a given shape has run,
  * the next ones compile no generated class, and a merge leaves no RDD
  * persisted behind it. */
class EpochOverheadSpec extends SparkTestBase {

  private val gen = GenConfig(numKeys = 4000, hotKeys = 8)

  private def delta(lo: Long, hi: Long) =
    Dedup.lastPerKey(EventGen.events(spark, lo, hi, gen), Model.keyCols, "lsn")

  test("equal-size replayGenerated epochs after the second compile no class") {
    val table = new SnapshotTable(spark, tmpDir("compile-replay"), 64)
    val engine = new CdcEngine(spark, table, EngineConfig(numBuckets = 64))
    // epochs 0 (into the empty table) and 1 (over a full one), then 2-4;
    // every run chunks by 20000 LSNs
    engine.replayGenerated(0, 40000, 2, gen)
    val compiles = compilesDuring {
      val stats = engine.replayGenerated(40000, 100000, 3, gen)
      assert(stats.epochs == 3 && stats.fencedEpochs == 0)
    }
    assert(table.loadManifest().get.buckets.values.count(_.lastEpoch == 4L) == 64)
    assert(compiles == 0, s"epochs 2-4 compiled $compiles classes")
  }

  test("stream applyEpoch epochs of different sizes over all 64 buckets compile no class after two warm-up epochs") {
    val table = new SnapshotTable(spark, tmpDir("compile-stream"), 64)
    val engine = new CdcEngine(spark, table, EngineConfig(numBuckets = 64))
    val bounds = Seq(20000L, 20000L, 17000L, 23000L, 19000L).scanLeft(0L)(_ + _)
    def epoch(i: Int): Unit = {
      engine.applyEpoch(EventGen.events(spark, bounds(i), bounds(i + 1), gen), i.toLong)
      assert(table.loadManifest().get.buckets.values.count(_.lastEpoch == i) == 64, s"epoch $i")
    }
    epoch(0); epoch(1)
    val compiles = compilesDuring((2 until bounds.size - 1).foreach(epoch))
    assert(compiles == 0, s"epochs 2-4 compiled $compiles classes")
  }

  for (mode <- Seq("cow", "mor"))
    test(s"$mode: no RDD stays persisted after a merge returns: applied, empty and fenced epochs") {
      val table = new SnapshotTable(spark, tmpDir(s"persist-$mode"), 4, mode = mode)
      def persisted = spark.sparkContext.getPersistentRDDs.keySet
      val before = persisted
      assert(table.merge(delta(0, 4000), 0L).applied)
      assert(persisted == before, "applied epoch")
      val empty = table.merge(delta(4000, 8000).filter(lit(false)), 1L)
      assert(empty.applied && empty.stats.isEmpty)
      assert(persisted == before, "empty epoch")
      assert(!table.merge(delta(0, 4000), 0L).applied)
      assert(persisted == before, "fenced epoch")
    }
}
