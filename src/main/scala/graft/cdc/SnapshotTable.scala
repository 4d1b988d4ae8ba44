package graft.cdc

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, DataFrameWriter, InternalRowsBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import java.nio.charset.StandardCharsets
import scala.util.control.NonFatal

/**
 * Keyed snapshot table with Iceberg-style snapshot isolation, built from
 * first principles on parquet + an atomically-swapped JSON manifest
 * (no Iceberg jar exists in this environment — see SURVEY.md §7.0).
 *
 * Layout:
 * {{{
 *   <root>/manifest-v<N>.json       # THE commit point (highest version wins)
 *   <root>/data/snap-<epoch>/bucket=<b>/part-*.parquet
 *   <root>/lineage/epoch=<e>/part-... .parquet
 * }}}
 *
 * Rows are hash-bucketed by key: `bucket = pmod(hash(repo, path), numBuckets)`.
 * A MERGE epoch rewrites ONLY the buckets its delta touches (copy-on-write at
 * bucket granularity); untouched buckets keep pointing at their old snapshot
 * directory via the manifest. At 10^10-event scale this is the difference
 * between rewriting a 100 TB table per epoch and rewriting only the deltas'
 * working set.
 *
 * Exactly-once: the manifest embeds the commit ledger — the set of
 * committed epoch ids, which fences a re-delivered epoch, plus each bucket's
 * `lastEpoch`, always one of those ids. Data files are written first, the
 * manifest rename is the single atomic decision (same contract as the
 * reference's only transactional sink, the Pravega txn consumer:
 * cdcsdk-server-pravega/.../PravegaChangeConsumer.java:117-167 — stage all,
 * commit once at markBatchFinished). A crash between data write and manifest
 * rename leaves orphan data that the deterministic re-run of the same epoch
 * simply overwrites; a re-delivered committed epoch is fenced to a no-op.
 *
 * Schema evolution: the manifest records a schema registry (id -> DDL json)
 * and each bucket's schema version; readers align every bucket group to the
 * current schema (SchemaEvolution.alignTo) so old snapshots remain readable
 * after column add / type widen.
 *
 * Reads: every scan (read, the copy-on-write survivor read in merge, the
 * merge-on-read base + delta reconcile, compact, readVersion) is planned
 * from the manifest's bucket -> directory map through [[ManifestFileIndex]]:
 * one parquet relation per written schema version, the bucket id as the
 * `bucket` partition value, and no Spark job to discover the files.
 *
 * Writes: a bucket write's tasks are sized by bytes, not by bucket count —
 * AQE coalesces the `(bucket, sub-bucket)` shuffle into about
 * defaultParallelism tasks, each writing one file per bucket it holds, while
 * a large bucket still spreads over several sub-buckets (see
 * [[writerPartitioned]]). Every write under the root (bucket data, merge-on-
 * read deltas, compaction, lineage, the manifest, signals, dead letters) goes
 * through [[NoForkLocalFileSystem]] on `file:` paths, so none forks `chmod`.
 *
 * Merges: an epoch's delta is materialized once. One Spark job runs its plan
 * into a persisted RDD of rows (lineage kept, so a lost block is recomputed)
 * and computes the per-bucket stats — LSN range, rows, bytes — in the same
 * pass; there is no columnar cache and no separate stats query. The epoch's
 * later queries plan over those rows, and [[merge]] unpersists them before
 * it returns.
 *
 * @param mode "cow" (copy-on-write: each epoch rewrites touched buckets —
 *             cheapest reads) or "mor" (merge-on-read: each epoch appends its
 *             deduped delta; readers reconcile base+deltas by max-LSN and
 *             buckets auto-compact past `compactionThreshold` stacked deltas
 *             — Iceberg's two write modes, rebuilt on parquet + manifest)
 * @param filesPerBucket write fan-out: each touched bucket's rows are
 *        sub-bucketed by key hash into this many groups, which AQE may place
 *        in different writer tasks, so one giant bucket is not a single-task
 *        write at scale; 0 = auto (2·defaultParallelism spread over the
 *        touched buckets, min 1)
 */
class SnapshotTable(val spark: SparkSession, val root: String, val numBuckets: Int,
                    val mode: String = "cow", val compactionThreshold: Int = 8,
                    val filesPerBucket: Int = 0) {
  import SnapshotTable._
  require(mode == "cow" || mode == "mor", s"unknown table mode $mode")

  /** A1 Roller / flush.records equivalent: per-WRITE `maxRecordsPerFile`
    * option (NOT session-global conf — that would leak file sizing into
    * every other writer on the session). 0 = unlimited. Set by the engine
    * from its config. */
  @volatile var maxRecordsPerFile: Long = 0L

  /** Table-write codec, applied per WRITE (never session-global): zstd —
    * Iceberg's own parquet default — measured 41% fewer bytes than
    * snappy on this content (90.1 vs 153.4 MB for the same table), and
    * write volume is what saturates first under parallel CoW epochs (an
    * uncompressed run collapsed the 4-core replay >2x); smaller objects
    * are also the right trade against object-store throughput at scale.
    * `w` comes from [[writer]] (its files never fork `chmod`) over
    * [[writerPartitioned]] rows (AQE sizes its tasks by bytes). */
  private def withRollover(w: DataFrameWriter[Row]) = {
    val c = w.option("compression", "zstd")
      // content/commit are unique-per-row high-entropy values: parquet's
      // dictionary attempt on them is guaranteed to fall back after burning
      // CPU + dictionary-page memory on every writer task. Per-column
      // disable (ColumnConfigParser '#column' form); repo/path/lang keep
      // dictionaries — they repeat heavily and prune well.
      .option("parquet.enable.dictionary#content", "false")
      .option("parquet.enable.dictionary#commit", "false")
      // zstd level 1, not parquet-mr's default 3: on this table the bulk of
      // the bytes is incompressible high-entropy content, and the measured
      // ratio curve is flat (level 1/3/19 within ±3% of each other, level 1
      // marginally SMALLER than 3) — so the higher level buys nothing and
      // write CPU is the contended resource under parallel CoW epochs
      .option("parquet.compression.codec.zstd.level", "1")
    if (maxRecordsPerFile > 0) c.option("maxRecordsPerFile", maxRecordsPerFile) else c
  }

  private val hconf = spark.sparkContext.hadoopConfiguration
  /** The root's filesystem for driver-side writes (manifest, signals):
    * [[NoForkLocalFileSystem]] on `file:`, the cached instance otherwise. */
  private[cdc] val fs: FileSystem = new Path(root).getFileSystem(NoForkLocalFileSystem.conf(hconf))

  /** `df.write` for a write under the root: `file:` paths go through
    * [[NoForkLocalFileSystem]] for this write only, on driver and executors. */
  private[cdc] def writer(df: DataFrame): DataFrameWriter[Row] =
    df.write.options(NoForkLocalFileSystem.hadoopKeys)

  /** Overwrite `<root>/<dir>` with `df`'s rows as `bucket=<b>` directories. */
  private def writeBuckets(df: DataFrame, touchedBuckets: Int, dir: String): Unit =
    withRollover(writer(writerPartitioned(df, touchedBuckets)).mode("overwrite"))
      .partitionBy("bucket")
      .parquet(s"$root/$dir")

  // ---- manifest ----------------------------------------------------------
  // The commit point is a VERSIONED manifest file (manifest-v<N>.json),
  // written via tmp + rename-to-a-fresh-name — a single atomic decision with
  // no delete-then-rename window (a crash at any point leaves the previous
  // version as the valid commit point; Iceberg's versioned-metadata pattern).
  // Readers resolve the current manifest as the highest parseable version.

  private val manifestRe = "manifest-v(\\d+)\\.json".r

  private def manifestFile(version: Long) = new Path(root, f"manifest-v$version%020d.json")

  /** All manifest versions present on disk, descending. */
  private def manifestVersions(): Seq[Long] = {
    val rootPath = new Path(root)
    if (!fs.exists(rootPath)) Seq.empty
    else fs.listStatus(rootPath).toSeq
      .flatMap(s => s.getPath.getName match {
        case manifestRe(v) => Some(v.toLong)
        case _             => None
      })
      .sorted(Ordering[Long].reverse)
  }

  def loadManifest(): Option[Manifest] = {
    // fall back to the next-lower version if the top one is unreadable
    // (cannot happen under tmp+rename, but costs nothing to tolerate).
    // fs.open sits INSIDE the try: a version pruned between listStatus and
    // open must also fall through to the next one, not propagate.
    manifestVersions().iterator.flatMap(loadManifestVersion).nextOption()
  }

  /** Parse one specific manifest version; None if missing/unreadable. */
  def loadManifestVersion(v: Long): Option[Manifest] =
    try {
      val in = fs.open(manifestFile(v))
      try {
        val node = mapper.readTree(in: java.io.InputStream)
        // jackson-module-scala does NOT apply the Scala constructor
        // default for a missing field — epochWatermark would silently
        // deserialize to 0 and fence a never-committed epoch 0. A manifest
        // without the field is malformed (e.g. a hand-migrated legacy
        // manifest.json): fail loudly instead of mis-fencing.
        if (!node.has("epochWatermark"))
          throw new IllegalStateException(
            s"manifest ${manifestFile(v)} lacks epochWatermark — a migrated " +
              "manifest must carry \"epochWatermark\": -1 explicitly")
        Some(mapper.treeToValue(node, classOf[Manifest]).normalized)
      } finally in.close()
    } catch { case _: java.io.IOException => None }

  /** Manifest versions still on disk, newest first — the time-travel
    * surface (commitManifest retains the trailing 3, like a short Iceberg
    * snapshot-expiry window). */
  def retainedVersions(): Seq[Long] = manifestVersions()

  // A root written by the pre-versioned-manifest layout (single
  // manifest.json) would read as an EMPTY table here and vacuum() could then
  // delete its data — refuse to open it rather than lose it silently.
  require(!fs.exists(new Path(root, "manifest.json")),
    s"table at $root has a legacy single-file manifest.json — migrate it to " +
      "manifest-v<N>.json (and add \"epochWatermark\": -1, which the legacy " +
      "layout lacks) before opening with this version")

  // Reopening an existing table with a different bucketing would silently
  // misroute keys (constructor bucketCol vs on-disk layout) — fail fast.
  loadManifest().foreach { m =>
    require(m.numBuckets == numBuckets,
      s"table at $root has numBuckets=${m.numBuckets}, opened with $numBuckets")
  }

  // ---- deferred-commit (periodic offset-flush) state ---------------------
  // An epoch applied under a non-Always CommitPolicy is staged as the whole
  // next manifest, built by `merge` from the one manifest it read (the last
  // staged one, else the durable head); the next epoch builds on it, and
  // `commitPending` publishes it exactly as built. It becomes durable (and
  // fenced across a crash) only at that manifest rename. A crash discards
  // it — the deterministic replay re-applies those epochs, overwriting the
  // same snap dirs (at-least-once window upgraded to exactly-once by
  // determinism + overwrite).
  private var staged: Option[Manifest] = None

  def hasPending: Boolean = staged.nonEmpty

  /** The manifest merges and reads see: the staged one (so back-to-back
    * uncommitted epochs compose), else the durable head, else an empty
    * table at version -1. */
  def effectiveManifest(): Manifest =
    staged.orElse(loadManifest()).getOrElse(Manifest(-1L, numBuckets,
      Map("0" -> Model.tableSchemaV0.json), 0, Map.empty, Seq.empty))

  /** Flush the staged manifest, as built, into a durable one (the offset
    * flush). */
  def commitPending(): Boolean = staged match {
    case None => false
    case Some(m) =>
      commitManifest(m)
      staged = None
      true
  }

  /** Write manifest-v<N>.json via temp file + rename-to-fresh-name: the
    * atomic commit point (nothing is ever deleted on the commit path, so no
    * crash window can leave the table without a valid manifest). Older
    * versions are pruned afterwards, keeping a couple for post-mortems.
    * A version's number is fixed when it is staged, so a parseable file
    * already at the target means another writer committed it first: that
    * is a conflict, never overwritten. */
  private def commitManifest(m: Manifest): Unit = {
    val target = manifestFile(m.version)
    if (fs.exists(target)) {
      if (loadManifestVersion(m.version).nonEmpty) throw staleConflict(m.version)
      // a crashed earlier attempt at this same (never-committed) version
      // left an unparseable file — garbage by construction, clear it
      fs.delete(target, false)
    }
    val tmp = new Path(root, s".manifest-v${m.version}.json.tmp")
    val out = fs.create(tmp, true)
    try out.write(mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(m))
    finally out.close()
    if (!fs.rename(tmp, target))
      throw new IllegalStateException(s"manifest commit failed for version ${m.version}")
    manifestVersions().drop(3).foreach(v => fs.delete(manifestFile(v), false))
  }

  private def staleConflict(version: Long) = new IllegalStateException(s"manifest version " +
    s"$version at $root was committed by another writer; this writer's staged epochs are stale")

  def currentSchema(): StructType = schemaOf(effectiveManifest())

  /** durable (manifest) OR staged: both fence re-application in-process;
    * only durable survives a crash. */
  def isCommitted(epochId: Long): Boolean = effectiveManifest().containsEpoch(epochId)

  def lastCommittedEpoch: Option[Long] = loadManifest().flatMap(_.maxEpoch)

  /** Highest LSN applied to any bucket — the resume point (reference model:
    * offset restore skipping `id <= lastId`, SimpleSourceConnector.java:143-157). */
  def lastLsn: Long = loadManifest() match {
    case Some(m) if m.buckets.nonEmpty => m.buckets.values.map(_.lastLsn).max
    case _ => -1L
  }

  // ---- read --------------------------------------------------------------

  def bucketCol: org.apache.spark.sql.Column =
    pmod(hash(col("repo"), col("path")), lit(numBuckets))

  /** Read the current snapshot (all buckets), aligned to the current schema,
    * with the `bucket` partition column present. The scan is planned from the
    * manifest's bucket -> directory map: no Spark listing job. */
  def read(): DataFrame = readBuckets(None)

  /** Read only the given buckets (partition pruning: each bucket is a
    * distinct directory, so unread buckets cost zero IO; a filter on
    * `bucket` prunes the same way). For MOR buckets with stacked deltas,
    * base and deltas are reconciled by max-LSN (deletes win by tombstone)
    * — Iceberg merge-on-read semantics. */
  def readBuckets(only: Option[Set[Int]]): DataFrame =
    readWith(effectiveManifest(), only)

  /** Iceberg-style time travel: read the table state AS OF a committed
    * manifest version (see [[retainedVersions]]). Fails loudly — rather than
    * silently returning a partial state — if the version is gone or any
    * snapshot directory it references was removed by [[vacuum]] (the
    * expired-snapshot case). */
  def readVersion(version: Long, only: Option[Set[Int]] = None): DataFrame = {
    val m = loadManifestVersion(version).getOrElse(throw new IllegalArgumentException(
      s"no manifest version $version at $root — retained: ${retainedVersions().mkString(", ")}"))
    m.buckets.values.flatMap(st => st.dir +: st.deltas.map(_.dir)).toSet
      .filter(_.nonEmpty).foreach { dir =>
        if (!fs.exists(new Path(root, dir))) throw new IllegalStateException(
          s"snapshot expired: manifest v$version references $dir which was vacuumed")
      }
    readWith(m, only)
  }

  private def readWith(m: Manifest, only: Option[Set[Int]]): DataFrame = {
    // time travel presents the table THROUGH the historical manifest: its
    // schema version, its bucket->dir mapping; the current path is the same
    // code with the effective (staged-inclusive) manifest
    val schema = schemaOf(m)
    val wanted = m.buckets.toSeq
      .map { case (k, v) => (k.toInt, v) }
      .filter { case (b, _) => only.forall(_.contains(b)) }
    val base = scan(m, wanted.collect { case (b, st) if st.dir.nonEmpty => (b, st.dir, st.schemaId) },
      withBucket(schema), Seq.empty)
    val deltaRefs = wanted.flatMap { case (b, st) => st.deltas.map(d => (b, d.dir, d.schemaId)) }
    if (deltaRefs.isEmpty) base.getOrElse(emptyDf(schema))
    else {
      // reconcile: base rows lose to any delta row for the same key
      // (base lsn = -1); per-key max-LSN winner decides, tombstones drop
      val reconTarget = StructType(withBucket(schema).fields ++ lsnOp)
      val baseR = base.map(_.withColumn("lsn", lit(-1L)).withColumn("op", lit("r")))
      val deltas = scan(m, deltaRefs, reconTarget, lsnOp)
      Dedup.lastPerKey((baseR ++ deltas).reduce(_ unionByName _), Model.keyCols, "lsn")
        .filter(col("op") =!= "d")
        .drop("lsn", "op")
    }
  }

  /** Scan of `(bucket, dir, schemaId)` parts, planned from the manifest (no
    * Spark listing job, see [[ManifestFileIndex]]): one relation per written
    * schema version, whose files hold that version's columns plus `extra`,
    * aligned to `target`. `bucket` is each part's partition value. None when
    * there are no parts. */
  private def scan(m: Manifest, parts: Seq[(Int, String, Int)], target: StructType,
                   extra: Seq[StructField]): Option[DataFrame] =
    parts.groupBy(_._3).toSeq.sortBy(_._1).map { case (sid, ps) =>
      val index = new ManifestFileIndex(hconf,
        ps.map { case (b, dir, _) => b -> new Path(root, s"$dir/bucket=$b") })
      val written = StructType(schemaOf(m, sid).fields ++ extra)
      val relation = HadoopFsRelation(index, index.partitionSchema, written, None,
        new ParquetFileFormat, Map.empty)(spark)
      SchemaEvolution.alignTo(spark.baseRelationToDataFrame(relation), target)
    }.reduceOption(_ unionByName _)

  private def emptyDf(schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], withBucket(schema))

  /** Writer repartition with sub-bucket fan-out: partition on
    * (bucket, pmod(xxhash64(key), fanout)) so a bucket's rows can spread over
    * up to `fanout` writer tasks. Partitioning on `bucket` alone caps each
    * bucket at ONE task — at 100 TB / 64 buckets that is a ~1.5 TB single-task
    * write. The sub-bucket hash must differ from the bucket's own `hash`: with
    * the same one, whenever fanout and numBuckets share a factor (64 buckets,
    * fanout 2) a bucket's keys all fall into the same sub-bucket and the
    * fan-out does nothing.
    *
    * No partition count is given, so AQE sizes the writer tasks by bytes: it
    * coalesces the shuffle into about defaultParallelism tasks, each writing
    * one file per bucket it holds. An explicit count (touchedBuckets ×
    * fanout) would run a task per bucket: 64 tasks of ~2.8k rows for a
    * 64-bucket epoch, each paying a task's fixed cost. */
  private def writerPartitioned(df: DataFrame, touchedBuckets: Int): DataFrame = {
    val fanout =
      if (filesPerBucket > 0) filesPerBucket
      else math.max(1, 2 * spark.sparkContext.defaultParallelism / math.max(1, touchedBuckets))
    df.repartition(col("bucket"), pmod(xxhash64(Model.keyCols.map(col): _*), lit(fanout)))
  }

  // ---- merge (the exactly-once upsert/delete sink) ------------------------

  /**
   * Apply one deduped delta as a MERGE: upsert rows with op in (c,u,r),
   * delete rows with op = 'd'. `delta` must be one-row-per-key (run
   * Dedup.lastPerKey first) and carry `op` + the key/payload columns.
   *
   * Materialization: ONE Spark job runs the delta's plan, keeps its rows in
   * a persisted RDD (memory, spilling to disk; its lineage is kept, so a
   * lost block is recomputed) and computes the per-bucket stats in the same
   * pass over them. Every later query of the epoch (broadcast keys, upserts,
   * the merge-on-read delta write) plans over that RDD as its leaf, not over
   * the delta's dedup and generator plan again. The RDD is unpersisted
   * before `merge` returns.
   *
   * Join strategy: the surviving-rows side is `current LEFT ANTI JOIN
   * deltaKeys` — with a small delta Spark broadcasts the key set, so the
   * 100 TB snapshot side is NEVER shuffled; upserts are a cheap union after.
   * This beats a full-outer join (which would shuffle both sides) and is the
   * scale-critical choice.
   *
   * Returns per-bucket merge stats. Idempotent: the fence runs first, so a
   * re-delivered committed (or staged) epoch returns `applied = false`
   * before any Spark job starts. A writer whose staged epochs another writer
   * has since overtaken gets its conflict here too, before any file is
   * written.
   */
  def merge(delta: DataFrame, epochId: Long, broadcastThresholdBytes: Long = 256L << 20,
            commit: Boolean = true): MergeResult = {
    // one manifest snapshot for the whole merge: the fence check, the
    // schema and the survivor read all see the same commit
    val prev = effectiveManifest()
    if (prev.containsEpoch(epochId))
      return MergeResult(epochId, applied = false, Seq.empty)
    // a bucket's lastEpoch is always an epoch its manifest records, so no
    // bucket can hold this epoch yet; one that does means a corrupt ledger
    prev.buckets.collectFirst { case (b, st) if !prev.containsEpoch(st.lastEpoch) => (b, st.lastEpoch) }
      .foreach { case (b, e) => throw new IllegalStateException(s"bucket $b of manifest " +
        s"v${prev.version} at $root records epoch $e, which the manifest's ledger does not") }
    // building on staged epochs: another writer that has committed their
    // version meanwhile makes them stale — fail before this epoch's data
    // directory and lineage overwrite that writer's files
    if (hasPending) manifestVersions().takeWhile(_ >= prev.version)
      .find(loadManifestVersion(_).nonEmpty).foreach(v => throw staleConflict(v))

    // stage the next manifest, built whole from `prev`; commit = atomic
    // manifest rename. Its version is fixed here: the staged one's while
    // epochs accumulate, else one past the durable head.
    def stage(next: Manifest): Manifest = {
      val m = next.copy(version = if (hasPending) prev.version else prev.version + 1,
        epochs = next.epochs :+ epochId).normalized
      staged = Some(m)
      if (commit) commitPending()
      m
    }

    val tableSchema = schemaOf(prev)
    val eventDataSchema = StructType(delta.schema.fields
      .filter(f => !Set("lsn", "op", "schemaId", "ts_ms", "bucket", "_salt").contains(f.name)))
    val mergedSchema = SchemaEvolution.merge(tableSchema, eventDataSchema)
    val schemaChanged = mergedSchema != tableSchema

    val keyed = delta.withColumn("bucket", bucketCol)
    val (deltaRdd, stats) = materialize(keyed, epochId)
    try {
      val rows = InternalRowsBridge.dataFrame(spark, deltaRdd, keyed.schema)
      if (stats.isEmpty) {
        // an EMPTY epoch still commits its id: leaving a gap would stop the
        // epoch watermark forever and regrow the O(all-epochs) recent set
        // (a destination with zero routed rows this epoch hits this)
        stage(prev)
        return MergeResult(epochId, applied = true, Seq.empty)
      }
      // broadcast decision is BYTE-based on what actually ships: the key
      // columns (plus per-row struct overhead), not a row count — 4M rows of
      // two long strings can be hundreds of MB
      val deltaKeyBytes = stats.map(s => s.keyBytes + 16 * s.rows).sum
      val touched = stats.map(_.bucket).toSet
      val snapDir = if (mode == "mor") s"data/delta-$epochId" else s"data/snap-$epochId"

      if (mode == "mor") {
        // merge-on-read: append ONLY the deduped delta (with lsn + op
        // tombstones); no base read, no join — O(|delta|) write per epoch.
        // Readers reconcile; compaction amortizes read amplification.
        writeBuckets(
          SchemaEvolution.alignTo(rows, StructType(withBucket(mergedSchema).fields ++ lsnOp)),
          touched.size, snapDir)
      } else {
        // copy-on-write: rewrite touched buckets = survivors ∪ upserts.
        // The surviving-rows side is current LEFT ANTI JOIN delta keys —
        // with a small delta the key set broadcasts and the snapshot side
        // never shuffles.
        val current = SchemaEvolution.alignTo(readWith(prev, Some(touched)), withBucket(mergedSchema))
        val keys = rows.select(Model.keyCols.map(col): _*)
        val keysMaybeBroadcast =
          if (deltaKeyBytes <= broadcastThresholdBytes) broadcast(keys) else keys
        val survivors = current.join(keysMaybeBroadcast, Model.keyCols, "left_anti")
        val upserts = SchemaEvolution.alignTo(
          rows.filter(col("op") =!= "d"), withBucket(mergedSchema))
        writeBuckets(survivors.unionByName(upserts), touched.size, snapDir)
      }

      // lineage rows (partition, firstLSN, lastLSN, rowCount, bytes) from the
      // already-collected stats — written BEFORE the manifest rename so a
      // committed epoch always has its lineage (a crash in between leaves
      // orphan lineage that the epoch re-run simply overwrites)
      import spark.implicits._
      writer(stats.map(s =>
          Model.LineageRow(epochId, s.bucket, s.firstLsn, s.maxLsn, s.rows, s.bytes))
        .toDF()
        .coalesce(1))
        .mode("overwrite").parquet(s"$root/lineage/epoch=$epochId")

      // this epoch's schema and bucket states on top of `prev`
      val (schemas, schemaId) =
        if (!schemaChanged) (prev.schemas, prev.currentSchemaId)
        else {
          val next = prev.schemas.keys.map(_.toInt).max + 1
          (prev.schemas + (next.toString -> mergedSchema.json), next)
        }
      val epochBuckets = stats.map { s =>
        val key = s.bucket.toString
        val old = prev.buckets.get(key)
        // resume point must be monotone: out-of-LSN-order epochs (e.g.
        // streaming batches whose file order != LSN order) are reconciled at
        // read time, but lastLsn moving backwards would make a resume-by-LSN
        // driver re-read or skip ranges
        val lsnHighWater = math.max(old.map(_.lastLsn).getOrElse(-1L), s.maxLsn)
        val st =
          if (mode == "mor")
            BucketState(old.map(_.dir).getOrElse(""), epochId, lsnHighWater,
              old.map(_.schemaId).getOrElse(schemaId),
              old.map(_.deltas).getOrElse(Seq.empty) :+ DeltaRef(snapDir, schemaId))
          else BucketState(snapDir, epochId, lsnHighWater, schemaId)
        key -> st
      }
      val next = stage(prev.copy(schemas = schemas, currentSchemaId = schemaId,
        buckets = prev.buckets ++ epochBuckets))
      if (mode == "mor" && commit) compactIfNeeded(next)
      MergeResult(epochId, applied = true, stats)
    } finally deltaRdd.unpersist(blocking = false)
  }

  /** Run `keyed`'s plan once: its rows land in a persisted RDD, returned
    * with their per-bucket stats (ordered by bucket), computed from the
    * same rows in the same job. The caller unpersists the RDD. */
  private def materialize(keyed: DataFrame, epochId: Long): (RDD[InternalRow], Seq[BucketMergeStat]) = {
    val schema = keyed.schema
    val ord = schema.fieldNames.zipWithIndex.toMap
    val content = ord.get("content").map(i => (i, schema(i).dataType))
    val keys = Model.keyCols.map(k => (ord(k), schema(k).dataType))
    val (bucket, lsn) = (ord("bucket"), ord("lsn"))
    InternalRowsBridge.withRows(keyed, s"merge epoch $epochId: materialize delta") { it =>
      val rows = it.map(_.copy()).setName(s"delta of epoch $epochId")
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val parts = spark.sparkContext.runJob(rows,
          (rs: Iterator[InternalRow]) => bucketStats(rs, bucket, lsn, content, keys))
        (rows, parts.flatten.groupBy(_.bucket).values.map(_.reduce(_ combine _)).toSeq.sortBy(_.bucket))
      } catch { case NonFatal(e) => rows.unpersist(blocking = false); throw e }
    }
  }

  /** Compact the buckets of the just-committed `m` whose stacked delta
    * count exceeds the threshold: materialize the reconciled state as a new
    * base and clear the deltas. A separate committed operation (new
    * manifest version). */
  private def compactIfNeeded(m: Manifest): Unit = {
    val targets = m.buckets.collect {
      case (k, st) if st.deltas.size > compactionThreshold => k.toInt
    }.toSet
    if (targets.nonEmpty) compact(m, Some(targets))
  }

  /** Rewrite the reconciled state of the given buckets (default: all buckets
    * with deltas) as a fresh base snapshot; clears their delta stacks. */
  def compact(only: Option[Set[Int]] = None): Unit = {
    // compaction reads the DURABLE manifest; staged epochs would be silently
    // dropped from the rewritten base — flush before compacting
    require(!hasPending, "compact() with staged uncommitted epochs would drop them; flush first")
    loadManifest().foreach(compact(_, only))
  }

  private def compact(m: Manifest, only: Option[Set[Int]]): Unit = {
    val targets = m.buckets.toSeq.map { case (k, v) => (k.toInt, v) }
      .filter { case (b, st) => st.deltas.nonEmpty && only.forall(_.contains(b)) }
    if (targets.isEmpty) return
    val bucketSet = targets.map(_._1).toSet
    val compDir = s"data/compact-${m.version + 1}"
    writeBuckets(readWith(m, Some(bucketSet)), bucketSet.size, compDir)
    val sid = m.currentSchemaId
    val updated = m.buckets ++ targets.map { case (b, st) =>
      b.toString -> BucketState(compDir, st.lastEpoch, st.lastLsn, sid)
    }.toMap
    commitManifest(m.copy(version = m.version + 1, buckets = updated))
  }

  /** Delete snapshot directories no longer referenced by the manifest.
    * Refuses to run with staged uncommitted epochs: their snap-/delta- dirs
    * are not yet referenced by the durable manifest and would be deleted,
    * then published — permanent data loss. */
  def vacuum(): Int = {
    require(!hasPending, "vacuum() with staged uncommitted epochs would delete their data; flush first")
    loadManifest() match {
    case None => 0
    case Some(m) =>
      val live = m.buckets.values.flatMap(st => st.dir +: st.deltas.map(_.dir)).toSet
      val dataDir = new Path(root, "data")
      if (!fs.exists(dataDir)) 0
      else {
        val dead = fs.listStatus(dataDir).map(_.getPath)
          .filter(p => !live.contains(s"data/${p.getName}"))
        dead.foreach(p => fs.delete(p, true))
        dead.length
      }
  }}

  /** Deterministic per-row digest for final-state verification:
    * sha256 over the full row (north rule: per-row content sha256 equality). */
  def rowDigests(): DataFrame =
    read().select(
      col("repo"), col("path"),
      sha2(coalesce(col("content"), lit("")), 256).as("content_sha"))
}

object SnapshotTable {
  private[cdc] val mapper: ObjectMapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m
  }

  private def schemaOf(m: Manifest, schemaId: Int): StructType =
    DataType.fromJson(m.schemas(schemaId.toString)).asInstanceOf[StructType]

  /** The table schema a manifest presents. */
  private def schemaOf(m: Manifest): StructType = schemaOf(m, m.currentSchemaId)

  private def withBucket(schema: StructType): StructType =
    StructType(schema.fields :+ StructField("bucket", IntegerType, nullable = true))

  /** Columns a merge-on-read delta stores after the table columns. */
  private val lsnOp = Seq(StructField("lsn", LongType, nullable = true),
    StructField("op", StringType, nullable = true))

  /** A stacked merge-on-read delta file set for one bucket. */
  case class DeltaRef(dir: String, schemaId: Int)

  /** Per-bucket commit-ledger entry: which snapshot dir holds the bucket's
    * base, the fencing epoch, resume LSN, schema version, and any stacked
    * MOR deltas awaiting compaction. */
  case class BucketState(dir: String, lastEpoch: Long, lastLsn: Long, schemaId: Int,
                         deltas: Seq[DeltaRef] = Seq.empty)

  /** Committed-epoch ledger = contiguous-prefix watermark + small recent set:
    * `epochs` holds ONLY ids beyond `epochWatermark` (out-of-order commits,
    * e.g. interleaved incremental-snapshot chunks); everything `<= watermark`
    * is committed. Keeps the per-commit manifest O(recent), not O(all epochs)
    * — at 10^5 epochs a flat Seq[Long] rewritten per commit is quadratic. */
  case class Manifest(
      version: Long,
      numBuckets: Int,
      schemas: Map[String, String],   // schemaId -> StructType.json
      currentSchemaId: Int,
      buckets: Map[String, BucketState],
      // jackson-module-scala erases Seq[Long] to boxed Integer for small
      // values; contentAs pins the element type (fencing depends on it)
      @com.fasterxml.jackson.databind.annotation.JsonDeserialize(contentAs = classOf[java.lang.Long])
      epochs: Seq[Long],
      epochWatermark: Long = -1L) {

    def containsEpoch(e: Long): Boolean = e <= epochWatermark || epochs.contains(e)

    def maxEpoch: Option[Long] = {
      val m = (epochs :+ epochWatermark).max
      if (m < 0) None else Some(m)
    }

    /** Absorb the contiguous prefix of `epochs` into the watermark. */
    def normalized: Manifest = {
      val recent = epochs.filter(_ > epochWatermark).distinct.sorted
      var w = epochWatermark
      var rest = recent
      while (rest.nonEmpty && rest.head == w + 1) { w = rest.head; rest = rest.tail }
      copy(epochs = rest, epochWatermark = w)
    }
  }

  case class BucketMergeStat(bucket: Int, firstLsn: Long, maxLsn: Long, rows: Long, bytes: Long,
                             keyBytes: Long = 0L) {
    /** Stats of this bucket's rows together with `o`'s (same bucket). */
    def combine(o: BucketMergeStat): BucketMergeStat =
      BucketMergeStat(bucket, math.min(firstLsn, o.firstLsn), math.max(maxLsn, o.maxLsn),
        rows + o.rows, bytes + o.bytes, keyBytes + o.keyBytes)
  }

  /** Per-bucket stats of one partition of delta rows: LSN range (nulls
    * skipped), row count, content bytes and key bytes (the UTF-8 length of
    * each value as a string, 0 for null), by the ordinals of the `bucket`,
    * `lsn`, `content` (if present) and key columns. */
  private def bucketStats(rows: Iterator[InternalRow], bucket: Int, lsn: Int,
                          content: Option[(Int, DataType)],
                          keys: Seq[(Int, DataType)]): Seq[BucketMergeStat] = {
    // per bucket: firstLsn, maxLsn, rows, bytes, keyBytes
    val acc = scala.collection.mutable.HashMap.empty[Int, Array[Long]]
    rows.foreach { r =>
      val a = acc.getOrElseUpdate(r.getInt(bucket), Array(Long.MaxValue, Long.MinValue, 0L, 0L, 0L))
      if (!r.isNullAt(lsn)) {
        val l = r.getLong(lsn)
        a(0) = math.min(a(0), l); a(1) = math.max(a(1), l)
      }
      a(2) += 1
      content.foreach { case (i, t) => a(3) += octets(r, i, t) }
      keys.foreach { case (i, t) => a(4) += octets(r, i, t) }
    }
    acc.map { case (b, a) => BucketMergeStat(b, a(0), a(1), a(2), a(3), a(4)) }.toSeq
  }

  /** Byte length of a value as Spark's `octet_length(cast(v as string))`. */
  private def octets(r: InternalRow, i: Int, t: DataType): Long =
    if (r.isNullAt(i)) 0L
    else t match {
      case StringType => r.getUTF8String(i).numBytes
      case other => r.get(i, other).toString.getBytes(StandardCharsets.UTF_8).length
    }
  case class MergeResult(epochId: Long, applied: Boolean, stats: Seq[BucketMergeStat])
}
