package graft.cdc

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The replay loop — the Spark equivalent of the reference's engine run loop
 * (poll -> transform -> sink -> offset commit; MTEngine.java:879-934 and
 * :1012-1138), re-expressed as LSN-chunked epochs over a Dataset pipeline:
 *
 *   events(epoch) -> per-key max-LSN dedup -> schema align -> MERGE into
 *   snapshot table -> lineage append -> (manifest rename = offset commit)
 *
 * One epoch == one micro-batch == one offset-commit unit, and every apply
 * path ends in the same commit step (`commitEpoch`). Exactly-once comes from
 * the table's (bucket, epochId) fencing; resume comes from the manifest
 * ledger: `merge` checks it before any Spark job, so a committed epoch is
 * skipped entirely — the analogue of the reference's offset restore
 * skipping `id <= lastId`, SimpleSourceConnector.java:143-157.
 *
 * Scale notes (10^10 events / 1000 executors):
 *  - the raw stream is never materialized: each epoch's events are generated
 *    (or read with an lsn-range filter that prunes at the source);
 *  - dedup is a partial-agg `max_by` (map-side combine kills hot-key skew
 *    before the shuffle; explicit salting available via `saltBuckets`);
 *  - MERGE shuffles only delta-side data (anti-join broadcasts the delta key
 *    set under the threshold) and rewrites only touched buckets;
 *  - AQE is expected on (skew-join splits + partition coalescing).
 */
final case class EngineConfig(
    numBuckets: Int = 32,
    saltBuckets: Int = 0,        // 0 = rely on max_by partial agg; >0 = explicit two-phase salt
    broadcastThresholdBytes: Long = 256L << 20,
    // offset-flush cadence (reference OffsetCommitPolicy.java:30-93);
    // Always = manifest rename per epoch (perf-run default in the reference)
    commitPolicy: CommitPolicy = CommitPolicy.Always,
    // A1 Roller / flush.records equivalent: caps parquet file size on the
    // snapshot write (reference StorageSinkConnectorConfig.java:31-38)
    maxRecordsPerFile: Long = 0L,
    // F2 format selection (reference cdcsdk.server.format.{key,value},
    // ServerApp.java:152-161): the VALUE and KEY converters are selected
    // INDEPENDENTLY, as in the reference (an Avro-key/JSON-value registry
    // deployment is expressible)
    format: graft.formats.WireFormat = graft.formats.WireFormat.Json,
    keyFormat: graft.formats.WireFormat = graft.formats.WireFormat.Json,
    // schemas.enable (reference ServerApp.java:177-183): embed the Connect
    // schema block in every JSON wire record
    schemasEnable: Boolean = false,
    // wire-sink text compression (reference S3 CompressionType): "none"|"gzip"
    wireCompression: String = "none",
    // registry-header framing for the binary formats (reference selects
    // Confluent- vs Apicurio-protocol converter classes,
    // ConvertingEngineBuilder.java:198-234)
    registryFraming: graft.formats.RegistryFraming = graft.formats.RegistryFraming.Confluent
)

class CdcEngine(spark: SparkSession, val table: SnapshotTable, conf: EngineConfig = EngineConfig()) {

  // per-write rollover option (not session conf); only set when configured,
  // so a second engine with the default config cannot silently disable a
  // cap someone set on the shared table
  if (conf.maxRecordsPerFile > 0) table.maxRecordsPerFile = conf.maxRecordsPerFile

  private var epochsSinceCommit = 0L
  private var lastCommitMs = System.currentTimeMillis()

  def lineageDir: String = s"${table.root}/lineage"

  /** Serialized-delivery sink in the engine's configured wire formats (the
    * F2 selection knobs actually selecting something): JSON / Avro / proto /
    * CloudEvents for value AND key independently, with the engine's
    * file-rollover cap, schema embedding, and text compression. */
  def wireSink(root: String): graft.formats.WireSink =
    new graft.formats.WireSink(spark, root, conf.format, conf.maxRecordsPerFile,
      conf.keyFormat, conf.schemasEnable, conf.wireCompression,
      conf.registryFraming)

  /** Apply one epoch of raw (possibly duplicated / out-of-order) events.
    * Returns the number of rows applied, or -1 if the epoch was fenced. */
  def applyEpoch(events: DataFrame, epochId: Long): Long =
    commitEpoch(
      if (conf.saltBuckets > 0)
        Dedup.saltedLastPerKey(events, Model.keyCols, "lsn", conf.saltBuckets)
      else Dedup.lastPerKey(events, Model.keyCols, "lsn"),
      epochId)

  /** The one commit step of every apply path: MERGE the one-row-per-key
    * delta and let the commit policy decide whether this epoch's manifest
    * rename happens now (offset flush) or is deferred (reference
    * maybeFlush/commitOffsets, MTEngine.java:1080-1138). `merge` fences on
    * the manifest before it runs any Spark action and `delta` is lazy, so a
    * re-delivered epoch starts no job; it also leaves the policy counters
    * alone, as nothing was staged. Returns the rows applied, or -1 if
    * fenced. */
  private def commitEpoch(delta: DataFrame, epochId: Long): Long = {
    val doCommit = conf.commitPolicy.performCommit(
      epochsSinceCommit + 1, System.currentTimeMillis() - lastCommitMs)
    val res = table.merge(delta, epochId, conf.broadcastThresholdBytes, commit = doCommit)
    if (!res.applied) return -1L
    if (doCommit) { epochsSinceCommit = 0; lastCommitMs = System.currentTimeMillis() }
    else epochsSinceCommit += 1
    res.stats.map(_.rows).sum
  }

  /** S4 retriable-error retry (reference: a RetriableException from poll is
    * swallowed and the same records re-served on the next poll,
    * MTEngine.java:900-905). Transient faults (IO, fetch, task failures
    * surfacing as SparkException) retry the SAME epoch at the driver:
    * nothing was committed (the manifest rename is the last step), so the
    * deterministic re-evaluation plus (bucket, epochId) fencing makes the
    * retry exactly-once, not just at-least-once. Non-transient errors
    * propagate. */
  def applyEpochWithRetry(events: DataFrame, epochId: Long, maxAttempts: Int = 3): Long = {
    var attempt = 1
    while (true) {
      try return applyEpoch(events, epochId)
      catch {
        case scala.util.control.NonFatal(e) if attempt < maxAttempts && isRetriable(e) =>
          attempt += 1
      }
    }
    -1L // unreachable
  }

  /** Retriable = an IOException anywhere in the cause chain (the analogue
    * of Kafka-Connect's RetriableException classification). Deliberately
    * NOT every SparkException — that wraps ALL task failures, including
    * deterministic bugs that would fail identically on every attempt. */
  private def isRetriable(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
      .exists(_.isInstanceOf[java.io.IOException])

  /** Final offset flush (graceful-stop path, reference ServerApp.java:269-284). */
  def flush(): Boolean = {
    val did = table.commitPending()
    if (did) { epochsSinceCommit = 0; lastCommitMs = System.currentTimeMillis() }
    did
  }

  /** Apply one epoch with late materialization: phase 1 runs the max-LSN
    * reduction over the (repo, path, lsn) skeleton — Catalyst prunes the
    * payload expressions out of the scan/generation entirely — and phase 2
    * re-materializes ONLY the winning rows from the source by LSN
    * (`EventGen.eventsFromLsns` ≡ a binlog re-read by offset). The merge
    * input is already one-row-per-key, so no second dedup happens. */
  def applyEpochLateMat(lo: Long, hi: Long, epochId: Long, gen: GenConfig,
                        schemaId: Int = 0): Long = {
    // phase 1 on the pure-numeric (key, lsn) skeleton: no string allocation,
    // 16-byte shuffle rows, primitive-typed max aggregation
    val winners = EventGen.keySkeleton(spark, lo, hi, gen)
      .groupBy(col("key")).agg(max(col("lsn")).as("lsn"))
    commitEpoch(EventGen.eventsFromLsns(winners.select("lsn"), gen, schemaId), epochId)
  }

  // ---- ad-hoc incremental snapshot (reference S7) --------------------------
  // A signal requests a chunked re-read of selected keys, interleaved with
  // the stream and made consistent by an LSN watermark: every snapshot row
  // carries lsn = watermark-1, so any stream event at/after the watermark
  // wins the per-key max-LSN merge and the re-delivered old image can never
  // clobber newer data — the DBLog-style algorithm behind Debezium's
  // execute-snapshot signal (reference
  // cdcsdk-engine/src/test/java/io/debezium/pipeline/source/snapshot/incremental/AbstractIncrementalSnapshotTest.java:124-184).
  // The signal queue is DURABLE (the reference's signal is a table row, not
  // driver memory): each accepted signal lands as a JSON file under
  // <root>/signals/ before it enters the in-memory queue, pending files are
  // reloaded on engine construction, and a signal's file is deleted only
  // when its last chunk has been applied — so a crash can never lose an
  // accepted-but-unfinished signal, and a half-done snapshot resumes with
  // its committed chunk epochs fencing to no-ops.

  /** @param baseEpoch deterministic epoch-id base for the chunk epochs
    *        (chunk i commits as epoch baseEpoch + i) — pick a range disjoint
    *        from stream epochs, e.g. 1_000_000 */
  case class SnapshotRequest(baseEpoch: Long, selection: org.apache.spark.sql.Column,
                             numChunks: Int)

  private val pendingSignals = scala.collection.mutable.Queue.empty[SnapshotRequest]
  private case class ActiveSnapshot(req: SnapshotRequest, var next: Int = 0)
  private var activeSnapshot: Option[ActiveSnapshot] = None

  private def signalsDir = new Path(s"${table.root}/signals")
  private def signalPath(baseEpoch: Long) = new Path(signalsDir, s"signal-$baseEpoch.json")

  // restore still-pending signals from a previous (possibly crashed) run —
  // the signal-table semantics: issued once, survives restarts until done.
  // TOLERANT: a malformed file (e.g. truncated by a crash mid-write, which
  // the tmp+rename protocol below makes near-impossible but a foreign writer
  // could still produce) is QUARANTINED with a warning, never a constructor
  // throw — a bad signal row must not permanently block engine restart.
  locally {
    val fs = table.fs
    if (fs.exists(signalsDir)) {
      fs.listStatus(signalsDir).map(_.getPath)
        .filter(_.getName.matches("signal-\\d+\\.json"))
        .sortBy(_.getName.stripPrefix("signal-").stripSuffix(".json").toLong)
        .foreach { p =>
          scala.util.Try {
            val in = fs.open(p)
            val node = try SnapshotTable.mapper.readTree(in) finally in.close()
            // field-presence validation (jackson does NOT apply scala
            // defaults for missing fields — a hole would read as 0)
            require(node.hasNonNull("baseEpoch") && node.hasNonNull("selectionSql")
              && node.hasNonNull("numChunks"), s"malformed signal file $p")
            val sql = node.get("selectionSql").asText()
            // eager parse (Spark 4 expr() is lazy): an unparseable stored
            // predicate must quarantine here, not explode mid-replay
            spark.sessionState.sqlParser.parseExpression(sql)
            SnapshotRequest(node.get("baseEpoch").asLong(), expr(sql),
              node.get("numChunks").asInt())
          } match {
            case scala.util.Success(req) => pendingSignals.enqueue(req)
            case scala.util.Failure(e) =>
              val q = new Path(p.getParent, p.getName + ".quarantined")
              fs.rename(p, q)
              System.err.println(
                s"[cdc] WARN: unreadable signal file $p quarantined as $q: $e")
          }
        }
    }
  }

  /** Column-typed SUGAR over [[signalSnapshotSql]] (the primary, Spark-
    * version-stable entry): renders the Column to SQL text for the durable
    * signal row via a `private[sql]` bridge — convenient, but the bridge can
    * break on a Spark minor bump, so programmatic callers that already hold
    * predicate text should call `signalSnapshotSql` directly. */
  def signalSnapshot(baseEpoch: Long, selection: org.apache.spark.sql.Column,
                     numChunks: Int = 4): Unit =
    signalSnapshotSql(baseEpoch,
      org.apache.spark.sql.ColumnSqlBridge.sql(selection), numChunks)

  /** Primary (version-stable) signal entry: the predicate as SQL text.
    * Validation order matters for durability: the predicate must RE-PARSE
    * before anything is persisted (a Column rendered by the sugar overload is
    * not guaranteed SQL-round-trippable), so an unparseable predicate is
    * rejected to the caller without ever leaving a poison signal file; the
    * file then lands via tmp-write + atomic rename, so a crash mid-write
    * leaves only an ignored `.tmp`, never a truncated `signal-*.json`. */
  def signalSnapshotSql(baseEpoch: Long, selectionSql: String,
                        numChunks: Int = 4): Unit = {
    // validate BEFORE persisting — Spark 4's expr() is lazy (Column nodes
    // parse at analysis time), so force the parse through the session parser
    spark.sessionState.sqlParser.parseExpression(selectionSql)
    val selection = expr(selectionSql)
    val json = SnapshotTable.mapper.createObjectNode()
      .put("baseEpoch", baseEpoch).put("selectionSql", selectionSql).put("numChunks", numChunks)
    // persist FIRST (accepted signal == durable signal), then enqueue
    val fs = table.fs
    val dst = signalPath(baseEpoch)
    val tmp = new Path(dst.getParent, dst.getName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(SnapshotTable.mapper.writeValueAsBytes(json)) finally out.close()
    if (fs.exists(dst)) fs.delete(dst, false) // re-issue of the same baseEpoch
    require(fs.rename(tmp, dst), s"could not publish signal file $dst")
    pendingSignals.enqueue(SnapshotRequest(baseEpoch, selection, numChunks))
  }

  def snapshotInProgress: Boolean = activeSnapshot.nonEmpty || pendingSignals.nonEmpty

  /** One chunk of source state re-read AT the given watermark, as op='r'
    * events stamped lsn = watermark-1 so every stream event at/after the
    * watermark outranks them in the per-key max-LSN merge. */
  private def chunkEvents(watermark: Long, gen: GenConfig,
                          req: SnapshotRequest, i: Int): DataFrame =
    EventGen.finalState(spark, 0, watermark, gen) // ≡ chunked SELECT vs live table
      .filter(req.selection)
      .filter(pmod(hash(Model.keyCols.map(col): _*), lit(req.numChunks)) === i)
      .select(lit(watermark - 1).as("lsn"), lit("r").as("op"),
        col("repo"), col("path"), col("commit"), col("lang"), col("content"),
        lit(0).as("schemaId"), (lit(1704067200000L) + lit(watermark) * 10L).as("ts_ms"))

  private def maybeActivateSnapshot(): Unit =
    if (activeSnapshot.isEmpty && pendingSignals.nonEmpty)
      activeSnapshot = Some(ActiveSnapshot(pendingSignals.dequeue()))

  /** Apply ONE snapshot chunk at the CURRENT stream watermark (the
    * interleave step). DBLog-style: each chunk re-reads the live source with
    * its own fresh watermark, so a chunk can never re-deliver an image older
    * than stream events already applied — no pinned stale state. */
  private def advanceSnapshot(watermark: Long, gen: GenConfig): Boolean = activeSnapshot match {
    case None => false
    case Some(run) =>
      applyEpoch(chunkEvents(watermark, gen, run.req, run.next),
        run.req.baseEpoch + run.next)
      run.next += 1
      if (run.next >= run.req.numChunks) {
        activeSnapshot = None
        // last chunk applied -> retire the durable signal row
        table.fs.delete(signalPath(run.req.baseEpoch), false)
      }
      true
  }

  /** Replay generated events for lsn in [lo, hi) in `epochs` equal chunks,
    * resuming past already-committed epochs. The generator re-reads by LSN,
    * so every epoch takes the late-materialized path: its dedup shuffles
    * ~6x less than one over full after-images (`applyEpoch`, kept for
    * sources that cannot re-read by LSN). Queued snapshot signals
    * activate at the next epoch boundary and interleave one chunk per
    * stream epoch (remaining chunks drain at the end). */
  def replayGenerated(lo: Long, hi: Long, epochs: Int, gen: GenConfig = GenConfig()): ReplayStats = {
    require(epochs > 0 && hi > lo)
    val chunk = math.max(1L, (hi - lo + epochs - 1) / epochs)
    var applied = 0L
    var skipped = 0
    var i = 0
    var cursor = lo
    while (cursor < hi) {
      val end = math.min(hi, cursor + chunk)
      // epoch id = LSN chunk index (not loop index): deterministic across
      // partial/resumed runs over different [lo, hi) windows of the same
      // stream, so fencing lines up with WHAT was applied, not when
      val epochId = cursor / chunk
      val n = applyEpochLateMat(cursor, end, epochId, gen)
      if (n < 0) skipped += 1 else applied += n
      if (n < 0) assertResumeChunkingMatches(epochId, end)
      cursor = end
      i += 1
      maybeActivateSnapshot()
      advanceSnapshot(cursor, gen)
    }
    // drain remaining snapshot chunks AND any still-queued signals
    while ({ maybeActivateSnapshot(); advanceSnapshot(cursor, gen) }) {}
    flush() // graceful-stop final commit
    ReplayStats(i, skipped, applied)
  }

  /** Epoch-id fencing is only sound when every run chunks the LSN axis the
    * same way (epoch id = chunk index). A resumed run with a DIFFERENT chunk
    * size would collide ids across different LSN ranges and silently fence
    * never-applied data — cross-check the committed epoch's recorded
    * lastLSN (lineage) against this run's chunk end and fail loudly. */
  private var chunkingChecked = false
  private def assertResumeChunkingMatches(epochId: Long, end: Long): Unit = {
    // one successful check per run suffices: equal recorded lastLSN at any
    // fenced epoch k implies the chunk sizes agree (both equal (k+1)*chunk-1)
    if (chunkingChecked) return
    val dir = new Path(s"$lineageDir/epoch=$epochId")
    if (table.fs.exists(dir)) {
      val recorded = spark.read.parquet(dir.toString)
        .agg(max(col("lastLSN"))).head().getLong(0)
      require(recorded == end - 1,
        s"epoch $epochId was committed covering LSNs up to $recorded but this run's " +
          s"chunking expects ${end - 1} — resume must use the same epoch chunk size")
      chunkingChecked = true
    }
  }

  def readLineage(): DataFrame = {
    if (!table.fs.exists(new Path(lineageDir)))
      spark.emptyDataFrame
    else spark.read.option("basePath", lineageDir).parquet(lineageDir)
  }

  /** Metrics parity with the reference's counters
    * (cdcsdk.sink.totalRecordsWritten / totalBytesWritten, Metrics.java:10-29). */
  def totals(): (Long, Long) = {
    val l = readLineage()
    if (l.isEmpty) (0L, 0L)
    else {
      val r = l.agg(sum("rowCount"), sum("bytes")).head()
      (r.getLong(0), r.getLong(1))
    }
  }
}

case class ReplayStats(epochs: Int, fencedEpochs: Int, rowsApplied: Long)
