package graft.cdc

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The SURVEY §7.2 end-to-end slice: replay generated CDC events into the
  * snapshot table, assert sha256 final-state equality vs the generator
  * oracle, fencing idempotence, and crash-resume. */
class EngineE2ESpec extends SparkTestBase {

  private val gen = GenConfig(numKeys = 2000, hotKeys = 16, snapshotLsn = 5000)

  private def digests(df: org.apache.spark.sql.DataFrame) =
    df.select(col("repo"), col("path"),
        sha2(coalesce(col("content"), lit("")), 256).as("content_sha"))

  private def assertTableMatchesOracle(table: SnapshotTable, lo: Long, hi: Long): Unit = {
    val got = digests(table.read())
    val want = digests(EventGen.finalState(spark, lo, hi, gen))
    assert(got.count() == want.count(), "row count mismatch")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "sha256 final-state mismatch")
  }

  test("replay 50k events in 5 epochs == oracle final state (sha256)") {
    val root = tmpDir("snap")
    val table = new SnapshotTable(spark, root, numBuckets = 8)
    val engine = new CdcEngine(spark, table)
    val stats = engine.replayGenerated(0, 50000, epochs = 5, gen)
    assert(stats.epochs == 5 && stats.fencedEpochs == 0)
    assertTableMatchesOracle(table, 0, 50000)
    // lineage covers every epoch and the row/byte totals are positive
    val lineage = engine.readLineage()
    assert(lineage.select("epochId").distinct().count() == 5)
    val (rows, bytes) = engine.totals()
    assert(rows > 0 && bytes > 0)
  }

  test("re-applying a committed epoch is a fenced no-op") {
    val root = tmpDir("snap")
    val table = new SnapshotTable(spark, root, numBuckets = 8)
    val engine = new CdcEngine(spark, table)
    engine.replayGenerated(0, 20000, epochs = 4, gen)
    val before = table.loadManifest().get
    // re-deliver epoch 2 (e.g. checkpoint replay after crash)
    val ev = EventGen.events(spark, 10000, 15000, gen)
    val n = engine.applyEpoch(ev, 2L)
    assert(n == -1L, "fenced epoch must be a no-op")
    assert(table.loadManifest().get.version == before.version, "manifest must not advance")
    assertTableMatchesOracle(table, 0, 20000)
  }

  test("a re-delivered epoch is fenced before any Spark job on both apply paths") {
    val table = new SnapshotTable(spark, tmpDir("snap"), numBuckets = 8)
    val engine = new CdcEngine(spark, table)
    engine.replayGenerated(0, 20000, epochs = 4, gen)
    val version = table.loadManifest().get.version
    val redeliveries = Seq[(String, () => Long)](
      "applyEpochLateMat" -> (() => engine.applyEpochLateMat(10000, 15000, 2L, gen)),
      "applyEpoch" -> (() => engine.applyEpoch(EventGen.events(spark, 10000, 15000, gen), 2L)))
    redeliveries.foreach { case (path, apply) =>
      var n = 0L
      val jobs = jobsDuring { n = apply() }
      assert(n == -1L, s"$path: fenced epoch must be a no-op")
      assert(jobs == 0, s"$path: a fenced epoch started $jobs Spark jobs")
      assert(table.loadManifest().get.version == version, s"$path: manifest must not advance")
    }
    assertTableMatchesOracle(table, 0, 20000)
  }

  test("crash between epochs: a fresh engine resumes and converges") {
    val root = tmpDir("snap")
    val t1 = new SnapshotTable(spark, root, numBuckets = 8)
    new CdcEngine(spark, t1).replayGenerated(0, 30000, epochs = 6, gen) // full run
    // simulate operator re-running the whole job after a crash: every epoch
    // is re-delivered; all must fence; state must stay correct
    val t2 = new SnapshotTable(spark, root, numBuckets = 8)
    val stats = new CdcEngine(spark, t2).replayGenerated(0, 30000, epochs = 6, gen)
    assert(stats.fencedEpochs == 6 && stats.rowsApplied == 0)
    assertTableMatchesOracle(t2, 0, 30000)
  }

  test("partial run then continue: resume applies only the tail epochs") {
    val root = tmpDir("snap")
    val table = new SnapshotTable(spark, root, numBuckets = 8)
    val engine = new CdcEngine(spark, table)
    // first 3 of 6 epochs (10k each)
    (0 until 3).foreach { i =>
      engine.applyEpoch(EventGen.events(spark, i * 10000L, (i + 1) * 10000L, gen), i.toLong)
    }
    assert(table.lastCommittedEpoch.contains(2L))
    // "restart": full replay driver loops over all 6 epochs
    var fenced = 0
    (0 until 6).foreach { i =>
      val n = engine.applyEpoch(EventGen.events(spark, i * 10000L, (i + 1) * 10000L, gen), i.toLong)
      if (n < 0) fenced += 1
    }
    assert(fenced == 3)
    assertTableMatchesOracle(table, 0, 60000)
  }

  test("schema evolution: added column + widened type flow through MERGE") {
    val root = tmpDir("snap")
    val table = new SnapshotTable(spark, root, numBuckets = 4)
    val engine = new CdcEngine(spark, table)
    // epoch 0: base schema
    engine.applyEpoch(EventGen.events(spark, 0, 5000, gen), 0L)
    assert(table.currentSchema().fieldNames.toSeq ==
      Seq("repo", "path", "commit", "lang", "content"))
    // epoch 1: events arrive with an extra column `stars` (int)
    val ev1 = EventGen.events(spark, 5000, 10000, gen, schemaId = 1)
      .withColumn("stars", (pmod(col("lsn"), lit(100))).cast("int"))
    engine.applyEpoch(ev1, 1L)
    val s1 = table.currentSchema()
    assert(s1.fieldNames.contains("stars") && s1("stars").nullable)
    // rows from epoch 0 survive with null stars
    val snap = table.read()
    assert(snap.filter(col("stars").isNull).count() > 0)
    // epoch 2: stars widens int -> long
    val ev2 = EventGen.events(spark, 10000, 15000, gen, schemaId = 2)
      .withColumn("stars", col("lsn") * 1000L)
    engine.applyEpoch(ev2, 2L)
    val s2 = table.currentSchema()
    assert(s2("stars").dataType == org.apache.spark.sql.types.LongType)
    // final state on the base columns still matches the oracle
    assertTableMatchesOracle(table, 0, 15000)
  }

  Seq("cow", "mor").foreach { mode =>
    test(s"schema evolution across staged epochs publishes both schema ids in one flush ($mode)") {
      val table = new SnapshotTable(spark, tmpDir(s"stagedschema-$mode"), 4, mode = mode)
      val engine = new CdcEngine(spark, table,
        EngineConfig(numBuckets = 4, commitPolicy = CommitPolicy.everyNEpochs(3)))
      // a durable base at schema 0, so there is a version to stay unchanged
      engine.applyEpoch(EventGen.events(spark, 0, 5000, gen), 0L)
      assert(engine.flush())
      val before = table.loadManifest().get
      // staged epoch 1 adds `stars` (int), staged epoch 2 widens it to long
      engine.applyEpoch(EventGen.events(spark, 5000, 10000, gen, schemaId = 1)
        .withColumn("stars", pmod(col("lsn"), lit(100)).cast("int")), 1L)
      engine.applyEpoch(EventGen.events(spark, 10000, 15000, gen, schemaId = 2)
        .withColumn("stars", col("lsn") * 1000L), 2L)
      assert(table.hasPending)
      val staged = table.read()
      assert(staged.schema("stars").dataType == org.apache.spark.sql.types.LongType)
      assert(staged.filter(col("stars").isNull).count() > 0, "base rows read with null stars")
      assert(table.loadManifest().get == before, "staged epochs must not touch the durable manifest")

      assert(engine.flush() && !table.hasPending)
      val after = table.loadManifest().get
      assert(after.version == before.version + 1 && table.retainedVersions().size == 2)
      val added = (after.schemas.keySet -- before.schemas.keySet).map(_.toInt).toSeq.sorted
      val starsType = added.map(id => org.apache.spark.sql.types.DataType
        .fromJson(after.schemas(id.toString)).asInstanceOf[org.apache.spark.sql.types.StructType]
        ("stars").dataType.typeName)
      assert(starsType == Seq("integer", "long") && after.currentSchemaId == added.last,
        s"schemas added by the flush: ${added.zip(starsType)}")
      assert(after.epochWatermark == 2L && after.epochs.isEmpty)
      assertTableMatchesOracle(table, 0, 15000)
    }
  }

  test("late materialization and full-shuffle dedup produce identical tables") {
    val late = new CdcEngine(spark, new SnapshotTable(spark, tmpDir("lm1"), 8))
    val full = new CdcEngine(spark, new SnapshotTable(spark, tmpDir("lm2"), 8))
    late.replayGenerated(0, 30000, 3, gen)
    // the same three LSN chunks and epoch ids through the full-shuffle path
    (0 until 3).foreach { i =>
      full.applyEpoch(EventGen.events(spark, i * 10000L, (i + 1) * 10000L, gen), i.toLong)
    }
    full.flush()
    val a = digests(late.table.read())
    val b = digests(full.table.read())
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("vacuum removes unreferenced snapshots, table still reads") {
    val root = tmpDir("snap")
    val table = new SnapshotTable(spark, root, numBuckets = 4)
    val engine = new CdcEngine(spark, table)
    engine.replayGenerated(0, 20000, epochs = 4, gen)
    val removed = table.vacuum()
    assert(removed >= 0)
    assertTableMatchesOracle(table, 0, 20000)
  }

  test("deletes remove keys: final state excludes keys whose last op is d") {
    val root = tmpDir("snap")
    val table = new SnapshotTable(spark, root, numBuckets = 4)
    val engine = new CdcEngine(spark, table)
    engine.replayGenerated(0, 40000, epochs = 4, gen)
    val lastOps = Dedup.lastPerKey(
      EventGen.events(spark, 0, 40000, gen), Model.keyCols, "lsn")
    val deletedKeys = lastOps.filter(col("op") === "d").select("repo", "path")
    val leaked = table.read().join(deletedKeys, Model.keyCols, "left_semi").count()
    assert(deletedKeys.count() > 0, "generator must produce trailing deletes")
    assert(leaked == 0, "deleted keys must not be present")
  }
}
