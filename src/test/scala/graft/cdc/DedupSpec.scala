package graft.cdc

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private def ev(lsn: Long, op: String, repo: String, path: String, content: String) =
    Model.ChangeEvent(lsn, op, repo, path, s"c$lsn", "scala", content, 0, lsn * 10)

  test("lastPerKey keeps the max-LSN event per key") {
    val df = Seq(
      ev(1, "c", "r1", "a", "v1"),
      ev(5, "u", "r1", "a", "v5"),
      ev(3, "u", "r1", "a", "v3"),
      ev(2, "c", "r2", "b", "w2"),
      ev(4, "d", "r2", "b", null)
    ).toDS.toDF
    val got = Dedup.lastPerKey(df, Seq("repo", "path"), "lsn")
      .select("repo", "path", "lsn", "op", "content")
      .as[(String, String, Long, String, String)].collect().toSet
    assert(got == Set(("r1", "a", 5L, "u", "v5"), ("r2", "b", 4L, "d", null)))
  }

  /** Window-function cross-check: `row_number() over (partition by keys
    * order by lsn desc) = 1`, the SQL-expressible formulation. It needs a
    * full shuffle + per-key sort, so the engine uses `Dedup.lastPerKey`; the
    * two agree when `ordCol` is unique per key (the generator guarantees
    * LSN uniqueness). */
  private def lastPerKeyWindow(df: org.apache.spark.sql.DataFrame, keyCols: Seq[String],
                               ordCol: String): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(col(ordCol).desc)
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  test("all three variants agree on generated events") {
    val events = EventGen.events(spark, 0, 20000, GenConfig(numKeys = 500, hotKeys = 8))
    val a = Dedup.lastPerKey(events, Model.keyCols, "lsn")
    val b = lastPerKeyWindow(events, Model.keyCols, "lsn")
    val c = Dedup.saltedLastPerKey(events, Model.keyCols, "lsn", salts = 16)
    val cols = Seq("repo", "path", "lsn", "op", "commit", "lang", "content")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*).orderBy("repo", "path")
    assert(canon(a).exceptAll(canon(b)).isEmpty && canon(b).exceptAll(canon(a)).isEmpty)
    assert(canon(a).exceptAll(canon(c)).isEmpty && canon(c).exceptAll(canon(a)).isEmpty)
    // every key appears exactly once
    val n = a.groupBy("repo", "path").count().filter($"count" > 1).count()
    assert(n == 0)
  }

  test("generator is deterministic and LSN-unique") {
    val e1 = EventGen.events(spark, 100, 1100)
    // a different slicing must produce the same rows (splittable purity)
    val e2 = EventGen.events(spark, 100, 1100, numSlices = 3)
    assert(e1.count() == 1000 && e1.select("lsn").distinct().count() == 1000)
    assert(e1.exceptAll(e2).isEmpty && e2.exceptAll(e1).isEmpty)
    // op mix sanity: all of c/u/d present, snapshot phase emits r
    val ops = e1.select("op").distinct().as[String].collect().toSet
    assert(Set("c", "u", "d").subsetOf(ops))
    val snap = EventGen.events(spark, 0, 100, GenConfig(snapshotLsn = 100))
    assert(snap.select("op").distinct().as[String].collect().toSet == Set("r"))
  }

  test("generator rows are pinned: count and xor of row hashes for one fixed range") {
    // the oracle runs the same generator, so only fixed fingerprints can
    // show that a rewrite of the generator still emits the same rows
    val g = GenConfig(numKeys = 4000, hotKeys = 8, snapshotLsn = 2000)
    def fingerprint(df: org.apache.spark.sql.DataFrame) = {
      val r = df.agg(count(lit(1)), bit_xor(xxhash64(df.columns.map(col).toSeq: _*))).head()
      (r.getLong(0), r.getLong(1))
    }
    val events = EventGen.events(spark, 1000, 6000, g)
    assert(events.columns.toSeq ==
      Seq("lsn", "op", "repo", "path", "commit", "lang", "content", "schemaId", "ts_ms"))
    assert(fingerprint(events) == ((5000L, 4224813891398812283L)))
    assert(fingerprint(EventGen.events(spark, 1000, 6000, g, numSlices = 3)) ==
      ((5000L, 4224813891398812283L)))
    val skeleton = EventGen.keySkeleton(spark, 1000, 6000, g)
    assert(skeleton.columns.toSeq == Seq("lsn", "key"))
    assert(fingerprint(skeleton) == ((5000L, 1020591924034982702L)))
    assert(fingerprint(EventGen.events(spark, 0, 50000)) == ((50000L, -3034286114416665947L)))
  }
}
