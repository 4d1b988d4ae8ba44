package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.cdc.{CdcEngine, EngineConfig, EventGen, GenConfig, SnapshotTable}

/** One benchmark JVM. `perfbench/run.py` starts it with `key=value`
  * arguments and reads the JSON object it writes to `out=`.
  *
  *  - `cdc`: catch-up replay into an empty copy-on-write table through
  *    `CdcEngine.applyEpochLateMat`, then an open-loop stream into the same
  *    table through `CdcEngine.applyEpoch`, one full read per epoch. With
  *    `trace=1`, the same stream also runs into a merge-on-read table.
  *  - `queries`: `SparkEntry.queries` entries into the noop sink.
  *
  * Every mode first warms up on the plan shapes it times, then measures
  * with the listener off. With `trace=1` it measures an untraced half, a
  * traced whole and an untraced half, and reports per-layer numbers from
  * the traced part only; the order cancels warm-up and drift between the
  * two kinds in the tracing overhead. */
object PerfBench {

  val Buckets = 64
  // an operator's vacuum cadence, scaled to the few stream epochs one run has
  val VacuumEvery = 2
  // the open loop's first cycle applies a handful of events and compiles
  // the stream's plan shapes; the second, on what came due meanwhile, is
  // near the steady batch size but still slower than the ones after it
  val WarmCycles = 2
  // the merge-on-read table of traced runs compacts a bucket holding more
  // deltas than this, i.e. every second epoch, so that compactions fire in
  // its short window; two warm-up cycles compile the compaction too
  val MorCompactionThreshold = 1
  val MorWarmCycles = 2
  // closed-loop full reads of the table after a stream's windows: with the
  // one read of each stream epoch they give read_p50_s its median
  val ExtraReads = 4
  // the untraced stream window runs at least this many epochs, so that its
  // freshness percentiles are never those of a single batch
  val StreamEpochs = 2
  // a query's first runs still compile; two untimed passes settle it
  val WarmPasses = 2
  val MinPasses = 3
  // the scan-heavy query whose wall query-suite reports as read_p50_s, run
  // this many times in each pass for a steadier median
  val ScanQuery = "q1_pricing_summary"
  val ScanRepeats = 3

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    // the module opens spark-submit starts a driver with (the list build.sbt
    // copies), from the Spark distribution in use
    if (args.sameElements(Seq("jvm-options"))) {
      println(org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptionArray()
        .filter(_.startsWith("--add-opens")).mkString(" "))
      return
    }
    val o = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val cores = o("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-${o("mode")}")
      .config("spark.local.dir", o("scratch") + "/spark-local")
      .config("spark.sql.shuffle.partitions", (if (o("mode") == "cdc") cores * 4 else cores).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tr = new Tracer(spark.sparkContext)
    val b = new Bench(spark, tr, o)
    val result = tr.span("run", o("mode")) {
      o("mode") match {
        case "cdc" => b.cdc()
        case "queries" => b.queries()
      }
    }
    if (o.get("trace").contains("1")) tr.writeSpans(o("spans"))
    val out = result ++ Map(
      "peak_rss_mb" -> peakRssMb(),
      "spark_version" -> spark.version,
      "jvm_version" -> System.getProperty("java.vm.version"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0)
    json.writeValue(new File(o("out")), out)
    spark.stop()
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1)
      val i = pos.toInt
      if (i + 1 < s.size) s(i) + (s(i + 1) - s(i)) * (pos - i) else s(i)
    }
  }
}

final class Bench(spark: SparkSession, tr: Tracer, o: Map[String, String]) {
  import PerfBench._

  private val cores = o("cores").toInt
  private val seconds = o("seconds").toDouble
  private val traced = o.get("trace").contains("1")
  private val scratch = o("scratch")
  private var attempted = 0
  private var failed = 0
  private val errors = scala.collection.mutable.ArrayBuffer.empty[String]

  /** Count one operation; a thrown error counts as failed and is kept. */
  private def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case scala.util.control.NonFatal(e) =>
        failed += 1
        errors += s"$what: $e"
        None
    }
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def outcome: Map[String, Any] =
    Map("attempted" -> attempted, "failed" -> failed, "errors" -> errors.toList)

  private def engine(t: SnapshotTable) = new CdcEngine(spark, t, EngineConfig(numBuckets = Buckets))

  // ---- correctness ---------------------------------------------------------

  private def rowSha(df: DataFrame): DataFrame =
    df.select(col("repo"), col("path"), sha2(concat_ws("\u0001",
      coalesce(col("commit"), lit("")), coalesce(col("lang"), lit("")),
      coalesce(col("content"), lit(""))), 256).as("sha"))

  /** Per-row sha256 of the table against `EventGen.finalState` over the
    * LSNs [lo, hi) it applied, plus the table's row count and an order-free
    * digest. */
  private def verifyTable(t: SnapshotTable, gen: GenConfig, lo: Long, hi: Long): Map[String, Any] = {
    val got = rowSha(t.read()).as("g")
    val want = rowSha(EventGen.finalState(spark, lo, hi, gen)).as("w")
    val diff = got.join(want, Seq("repo", "path"), "full_outer")
      .filter(!(col("g.sha") <=> col("w.sha"))).count()
    Map("root" -> new File(t.root).getName, "match" -> (diff == 0), "mismatched_rows" -> diff) ++ digest(t)
  }

  /** Row count and an order-free digest of the table's rows. */
  private def digest(t: SnapshotTable): Map[String, Any] = {
    val r = t.read().agg(count(lit(1)),
      bit_xor(xxhash64(col("repo"), col("path"), col("commit"), col("lang"), col("content")))).head()
    Map("rows" -> r.getLong(0), "digest" -> java.lang.Long.toHexString(r.getLong(1)))
  }

  private def checkTable(t: SnapshotTable, gen: GenConfig, lo: Long, hi: Long): Map[String, Any] =
    op(s"verify ${t.root}")(tr.span("verify", new File(t.root).getName)(verifyTable(t, gen, lo, hi))) match {
      case Some(v) =>
        if (v("match") != true) { failed += 1; errors += s"verify ${t.root}: mismatch" }
        v
      case None => Map("root" -> new File(t.root).getName, "match" -> false)
    }

  // ---- table-layer facts read from the table root ----------------------------

  private def filesUnder(dir: File): Seq[File] =
    if (!dir.exists) Nil
    else java.nio.file.Files.walk(dir.toPath).iterator().asScala
      .map(_.toFile).filter(f => f.isFile && !f.getName.startsWith(".")).toSeq

  /** Bytes on disk under data/ over the bytes of the files the current
    * manifest references. */
  private def diskPerLive(t: SnapshotTable): Double = {
    val m = t.loadManifest().get
    val live = m.buckets.toSeq.flatMap { case (b, st) =>
      (st.dir +: st.deltas.map(_.dir)).filter(_.nonEmpty)
        .flatMap(d => filesUnder(new File(s"${t.root}/$d/bucket=$b")))
    }.map(_.length).sum
    filesUnder(new File(s"${t.root}/data")).map(_.length).sum.toDouble / math.max(1L, live)
  }

  private def manifestVersions(t: SnapshotTable): Int =
    Option(new File(t.root).list()).getOrElse(Array.empty[String])
      .count(_.matches("manifest-v\\d+\\.json"))

  private def logicalBytes(t: SnapshotTable, epoch: Long): Long = {
    val dir = s"${t.root}/lineage/epoch=$epoch"
    if (!new File(dir).exists) 0L
    else spark.read.parquet(dir).agg(sum("bytes")).head().getLong(0)
  }

  // ---- cdc-replay ----------------------------------------------------------------

  /** What one measured window of a stream saw: (epoch, lo, hi, commit
    * time) per batch, and the call spans. */
  private final class Window(val traced: Boolean) {
    val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    val applies, reads, vacuums = scala.collection.mutable.ArrayBuffer.empty[Tracer.Span]
    var compactions = 0
    var backlog = 0L
  }

  /** An open loop on table `t` from LSN `from`: LSN i is due at
    * t0 + (i - from)/rate. Each cycle applies every LSN that has come due
    * through `CdcEngine.applyEpoch`, the path `StreamingCdc` uses, then reads
    * the whole table once; every `VacuumEvery`-th epoch is followed by a
    * vacuum. Compactions are counted from the manifest: each one leaves its
    * buckets on a new `data/compact-<v>` base. */
  private final class Stream(t: SnapshotTable, e: CdcEngine, gen: GenConfig, rate: Double,
                             from: Long, firstEpoch: Long, warmCycles: Int) {
    val t0 = tr.now / 1e3
    private def due(i: Long) = t0 + (i - from) / rate
    private def arrived = from + ((tr.now / 1e3 - t0) * rate).toLong
    private var cursor = from
    private var epoch = firstEpoch
    private val compacted = scala.collection.mutable.Set.empty[String]
    var setupSeconds = 0.0
    def next: Long = cursor

    private def cycle(w: Option[Window]): Unit = {
      val hi = arrived
      if (hi <= cursor) Thread.sleep(1)
      else tr.span(if (w.isEmpty) "warmup" else "epoch", s"epoch-$epoch") {
        val (lo, ep) = (cursor, epoch)
        op(s"epoch $ep")(tr.call("call", "CdcEngine.applyEpoch")(
          e.applyEpoch(EventGen.events(spark, lo, hi, gen), ep))).foreach { case (_, s) =>
          w.foreach { x => x.batches += ((ep, lo, hi, s.end / 1e3)); x.applies += s }
        }
        op("read")(tr.call("call", "SnapshotTable.read")(noop(t.read()))._2)
          .foreach(r => w.foreach(_.reads += r))
        if ((ep - firstEpoch + 1) % VacuumEvery == 0)
          op("vacuum")(tr.call("call", "SnapshotTable.vacuum")(t.vacuum())._2)
            .foreach(v => w.foreach(_.vacuums += v))
        val m = tr.span("call", "SnapshotTable.loadManifest")(t.loadManifest())
        val bases = m.toSeq.flatMap(_.buckets.values.map(_.dir)).filter(_.startsWith("data/compact-"))
        val fresh = bases.toSet -- compacted
        compacted ++= fresh
        w.foreach(_.compactions += fresh.size)
        cursor = hi; epoch += 1
      }
    }

    /** `warmCycles` warm-up cycles, then one window per (traced, seconds,
      * epochs) of `plan`, which lasts that long and at least that many
      * epochs, the listener on in the traced ones; then `ExtraReads` reads
      * of the table, counted with the last window. */
    def run(plan: Seq[(Boolean, Double, Int)]): Seq[Window] = {
      while (epoch < firstEpoch + warmCycles) cycle(None)
      setupSeconds = tr.now / 1e3 - t0
      val ws = plan.map { case (on, secs, epochs) =>
        if (on) tr.listen() else tr.pause()
        val w = new Window(on)
        val end = tr.now / 1e3 + secs
        while (w.batches.size < epochs || tr.now / 1e3 < end) cycle(Some(w))
        w.backlog = arrived - cursor
        w
      }
      ws.lastOption.foreach { w =>
        (1 to ExtraReads).foreach(_ => op("read")(tr.call("call", "SnapshotTable.read")(noop(t.read()))._2)
          .foreach(w.reads += _))
      }
      tr.pause()
      ws
    }

    /** Figures over windows `ws`; per-layer ones when they were traced. */
    def summary(ws: Seq[Window]): Map[String, Any] = tr.span("summary", new File(t.root).getName) {
      // freshness of LSN i: the return of the applyEpoch that committed it,
      // minus its due time
      val fresh = ws.flatMap(_.batches).flatMap { case (_, lo, hi, done) =>
        (lo until hi).iterator.map(i => done - due(i))
      }
      val applies = ws.flatMap(_.applies)
      val reads = ws.flatMap(_.reads)
      val vacuums = ws.flatMap(_.vacuums)
      val walls = applies.map(_.seconds)
      val base = Map(
        "latency_p50_s" -> quantile(fresh, 0.5),
        "latency_p90_s" -> quantile(fresh, 0.9),
        "read_p50_s" -> quantile(reads.map(_.seconds), 0.5),
        "apply_s_p50" -> quantile(walls, 0.5),
        "apply_s" -> walls, "read_s" -> reads.map(_.seconds),
        "stream_events" -> ws.flatMap(_.batches).map(b => b._3 - b._2).sum, "stream_epochs" -> walls.size,
        "backlog_at_end" -> ws.lastOption.map(_.backlog).getOrElse(0L),
        "vacuums" -> vacuums.size, "compactions" -> ws.map(_.compactions).sum)
      if (!ws.forall(_.traced)) base
      else {
        val cps = tr.callStats()
        val st = applies.flatMap(c => cps.get(c.id).map(c -> _))
        val rd = reads.flatMap(c => cps.get(c.id))
        val written = st.map(_._2.writeBytes).sum
        // logical delta bytes from the lineage, read after the windows
        val logical = ws.flatMap(_.batches).map(b => logicalBytes(t, b._1)).sum
        def perEpoch(f: Tracer.CallStats => Double) = st.map(x => f(x._2)).sum / math.max(1, st.size)
        base ++ Map("layers" -> Map(
          "engine.stream_epoch_s_p50" -> quantile(walls, 0.5),
          "engine.stream_driver_s_p50" -> quantile(st.map { case (c, x) => c.seconds - x.jobSeconds }, 0.5),
          "engine.stream_jobs_per_epoch" -> perEpoch(_.jobs),
          "engine.stream_cpu_util" -> st.map(_._2.cpuSeconds).sum / (walls.sum * cores),
          "table.snapshot_rows_read" -> perEpoch(_.scanRows),
          "table.merge_shuffle_bytes" -> perEpoch(_.otherShuffleBytes),
          "table.bytes_written" -> perEpoch(_.writeBytes),
          "table.write_amp" -> written.toDouble / math.max(1L, logical),
          "table.files_written" -> perEpoch(_.writeFiles),
          "table.spill_bytes" -> st.map(_._2.spillBytes).sum.toDouble,
          "table.read_rows_scanned" -> rd.map(_.scanRows).sum.toDouble / math.max(1, rd.size),
          "table.read_shuffle_bytes" -> rd.map(_.otherShuffleBytes).sum.toDouble / math.max(1, rd.size),
          "table.vacuums" -> vacuums.size.toDouble,
          "table.vacuum_s" -> vacuums.map(_.seconds).sum / math.max(1, vacuums.size),
          "table.compactions" -> ws.map(_.compactions).sum.toDouble,
          "table.compaction_s" -> st.map(_._2.compactionSeconds).sum / math.max(1, ws.map(_.compactions).sum),
          "table.manifest_versions" -> manifestVersions(t).toDouble,
          "table.disk_bytes_per_live_byte" -> diskPerLive(t)))
      }
    }
  }

  /** Catch-up replay then an open-loop stream, on one cow table.
    *
    * Catch-up: `epochs` epochs of `epoch_events` events through
    * `CdcEngine.applyEpochLateMat`, the default path of `ReplayJob`. The first
    * two epochs (into the empty, then the non-empty table) are warm-up.
    * `replay_epochs` stops the catch-up early, on the same input.
    *
    * Stream (`rate` > 0): the open loop of `Stream`, whose first `WarmCycles`
    * cycles are warm-up; then one untraced window of `seconds`, or with
    * trace=1 windows of a quarter (untraced), a half (traced) and a quarter
    * (untraced) of `seconds`; each window runs at least one cycle. The
    * tracing overhead is the traced window's `applyEpoch` p50 over the
    * untraced ones'. With trace=1 an empty merge-on-read table then gets the
    * same stream, from the same LSN: `MorWarmCycles` warm-up cycles and one
    * traced window of half of `seconds`.
    *
    * A JVM that stops the catch-up early leaves its table to be verified by
    * the one given its root as `verify=`. */
  def cdc(): Map[String, Any] = {
    val epochs = o("epochs").toInt
    val chunk = o("epoch_events").toLong
    val rate = o("rate").toDouble
    val catchUp = epochs * chunk
    val gen = GenConfig(numKeys = o("keys").toLong, hotKeys = 64, snapshotLsn = catchUp / 10,
      seed = o("seed").toLong)
    // epoch 0 meets the empty table, epoch 1 the non-empty one
    val warmEpochs = 2
    // a core level may replay only the first epochs of the same input
    val replayEpochs = o.get("replay_epochs").map(_.toInt).getOrElse(epochs)

    /** Catch-up into `t`; `onWarm` runs once the warm-up epochs are done. */
    def catchUpPhase(t: SnapshotTable, e: CdcEngine, onWarm: => Unit) = {
      val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
      val calls = scala.collection.mutable.ArrayBuffer.empty[Tracer.Span]
      var in, out = 0L
      var gc0 = gcSeconds()
      for (ep <- 0 until replayEpochs) {
        val (lo, hi) = (ep * chunk, (ep + 1) * chunk)
        val kind = if (ep < warmEpochs) "warmup" else "epoch"
        tr.span(kind, s"epoch-$ep") {
          op(s"epoch $ep")(tr.call("call", "CdcEngine.applyEpochLateMat")(
            e.applyEpochLateMat(lo, hi, ep, gen))).foreach { case (n, s) =>
            if (ep >= warmEpochs) { walls += s.seconds; calls += s; in += hi - lo; out += n }
          }
        }
        if (ep == warmEpochs - 1) { onWarm; gc0 = gcSeconds() }
      }
      val base = Map(
        "rate_per_s" -> chunk / quantile(walls.toSeq, 0.5),
        "epoch_s" -> walls.toList,
        "dedup.records_in" -> in, "dedup.records_out" -> out)
      if (!tr.listening) base
      else {
        val cps = tr.callStats()
        val st = calls.toSeq.flatMap(c => cps.get(c.id).map(c -> _))
        base ++ Map(
          "jobs_per_epoch" -> st.map(_._2.jobs).toList,
          "layers" -> Map(
            "engine.epoch_s_p50" -> quantile(walls.toSeq, 0.5),
            "engine.driver_s_p50" -> quantile(st.map { case (c, x) => c.seconds - x.jobSeconds }, 0.5),
            "engine.jobs_per_epoch" -> st.map(_._2.jobs).sum.toDouble / math.max(1, st.size),
            "engine.cpu_util" -> st.map(_._2.cpuSeconds).sum / (walls.sum * cores),
            "jvm.gc_s" -> (gcSeconds() - gc0),
            "dedup.shuffle_write_bytes" -> st.map(_._2.dedupShuffleBytes).sum.toDouble,
            "dedup.task_skew" -> st.flatMap(_._2.dedupTaskSkew).maxOption.getOrElse(0.0),
            "dedup.records_in" -> in.toDouble,
            "dedup.records_out" -> out.toDouble,
            "dedup.records_in_out" -> in.toDouble / math.max(1L, out)))
      }
    }

    def table(name: String, mode: String = "cow") = {
      val t =
        if (mode == "cow") new SnapshotTable(spark, s"$scratch/$name", Buckets)
        else new SnapshotTable(spark, s"$scratch/$name", Buckets, mode = mode,
          compactionThreshold = MorCompactionThreshold)
      (t, engine(t))
    }

    val (t, e) = table(s"table-c$cores")
    var setupEnd = 0.0
    val catchUpRes = catchUpPhase(t, e, { setupEnd = tr.now / 1e3; if (traced) tr.listen() })
    tr.pause()
    // the repeat check's record; a core level that stops early has none
    val catchUpState =
      if (replayEpochs < epochs) Map.empty else op("catch-up digest")(digest(t)).getOrElse(Map.empty)
    val stream = if (rate > 0) Some(new Stream(t, e, gen, rate, catchUp, epochs, WarmCycles)) else None
    val plan =
      if (traced) Seq((false, seconds / 4, 1), (true, seconds / 2, 1), (false, seconds / 4, 1))
      else Seq((false, seconds, StreamEpochs))
    val windows = stream.map(_.run(plan)).getOrElse(Nil)
    val mor = if (!traced || rate <= 0) None else {
      val (m, me) = table(s"table-c$cores-mor", "mor")
      val s = new Stream(m, me, gen, rate, catchUp, 0, MorWarmCycles)
      Some((m, s, s.run(Seq((true, seconds / 2, 1)))))
    }
    val own = if (replayEpochs < epochs) None else Some(t)
    val checks = own.map(checkTable(_, gen, 0, stream.map(_.next).getOrElse(replayEpochs * chunk))).toSeq ++
      mor.map { case (m, s, _) => checkTable(m, gen, catchUp, s.next) } ++
      o.get("verify").toSeq.map(r => checkTable(new SnapshotTable(spark, r, Buckets), gen, 0,
        o("verify_epochs").toLong * chunk))
    val untracedStream = stream.map(_.summary(windows.filterNot(_.traced))).getOrElse(Map.empty)
    val untraced = (if (traced) Map.empty[String, Any] else catchUpRes) ++ untracedStream
    val tracedOut =
      if (!traced) Map.empty
      else {
        val ts = stream.map(_.summary(windows.filter(_.traced))).getOrElse(Map.empty[String, Any])
        def layersOf(m: Map[String, Any]) =
          m.get("layers").map(_.asInstanceOf[Map[String, Double]]).getOrElse(Map.empty)
        val overhead = ts.get("apply_s_p50").map(v =>
          v.asInstanceOf[Double] / untracedStream("apply_s_p50").asInstanceOf[Double] - 1)
        val morSummary = mor.map { case (_, s, ws) => s.summary(ws) }
        val morLayers = morSummary.map { ms =>
          val l = layersOf(ms)
          Map(
            "mor.epoch_s_p50" -> ms("apply_s_p50"),
            "mor.read_s_p50" -> ms("read_p50_s"),
            "mor.freshness_p90_s" -> ms("latency_p90_s"),
            "mor.bytes_written" -> l("table.bytes_written"),
            "mor.read_rows_scanned" -> l("table.read_rows_scanned"),
            "mor.read_shuffle_bytes" -> l("table.read_shuffle_bytes")) ++
            l.filter(_._1.startsWith("table.compaction"))
        }.getOrElse(Map.empty)
        val layers = layersOf(catchUpRes) ++ layersOf(ts) ++ morLayers ++ overhead.map("trace.overhead" -> _)
        Map("traced" -> (catchUpRes ++ ts ++ Map("layers" -> layers))) ++
          morSummary.map(ms => "mor" -> (ms - "layers"))
      }
    Map("setup_end" -> setupEnd, "setup_extra_s" -> stream.map(_.setupSeconds).getOrElse(0.0),
      "catch_up" -> catchUpState, "untraced" -> untraced, "checks" -> checks) ++ tracedOut ++ outcome
  }

  // ---- query-suite --------------------------------------------------------------

  /** The `SparkEntry.queries` entries named in `queries=` into the noop
    * sink: `WarmPasses` warm-up passes, then whole passes until `seconds`
    * have gone by and at least `MinPasses` ran (with trace=1: untraced for
    * half of that, traced for all of it, untraced for the other half), then
    * one pass that writes each result for the oracle comparison. */
  def queries(): Map[String, Any] = {
    val dir = o("data")
    val wanted = o("queries").split(",").toSet
    val all = SparkEntry.queries.toSeq.filter(q => wanted.contains(q._1)).sortBy(_._1)
    require(all.size == wanted.size, s"unknown queries: ${wanted -- all.map(_._1)}")
    var n = 0
    def pass(kind: String): Map[String, Seq[Double]] = tr.span(kind, s"$kind-$n") {
      n += 1
      all.map { case (name, fn) =>
        name -> (1 to (if (name == ScanQuery) ScanRepeats else 1)).flatMap(_ =>
          op(s"query $name")(tr.call("call", s"query:$name")(noop(fn(spark, dir)))._2.seconds))
      }.filter(_._2.nonEmpty).toMap
    }
    (1 to WarmPasses).foreach(_ => pass("warmup"))
    val setupEnd = tr.now / 1e3

    def passes(secs: Double, min: Int): Seq[Map[String, Seq[Double]]] = {
      val end = tr.now / 1e3 + secs
      val ps = scala.collection.mutable.ArrayBuffer.empty[Map[String, Seq[Double]]]
      while (ps.size < min || tr.now / 1e3 < end) ps += pass("epoch")
      ps.toSeq
    }

    // a query's median takes all of its walls; the latency percentiles are
    // over the queries' medians, so they weigh the same queries in every run
    def summary(passes: Seq[Map[String, Seq[Double]]]): Map[String, Any] = {
      val wallsOf = all.map(_._1).map(q => q -> passes.flatMap(_.getOrElse(q, Nil))).toMap
      val perQuery = wallsOf.map { case (q, w) => q -> quantile(w, 0.5) }
      val total = perQuery.values.sum
      Map(
        "rate_per_s" -> perQuery.size / total,
        "latency_p50_s" -> quantile(perQuery.values.toSeq, 0.5),
        "latency_p90_s" -> quantile(perQuery.values.toSeq, 0.9),
        "read_p50_s" -> perQuery.getOrElse(ScanQuery, 0.0),
        "query_total_s" -> total,
        "passes" -> passes.size,
        "per_query_s" -> perQuery,
        "walls_s" -> wallsOf)
    }

    val (untraced, tracedPhase) =
      if (!traced) (summary(passes(seconds, MinPasses)), None)
      else {
        val u1 = passes(seconds / 2, 1)
        tr.listen()
        val t = passes(seconds, 2)
        tr.pause()
        val u2 = passes(seconds / 2, 1)
        (summary(u1 ++ u2), Some(summary(t)))
      }

    // verification output, outside the timed window
    val out = o("results")
    all.foreach { case (name, fn) =>
      op(s"write $name")(fn(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$out/$name"))
    }
    op("oracle fixtures")(OracleFixtures.write(spark, dir, s"$out/_fixtures"))
    val oracles = SparkEntry.oracleSql.map { case (k, v) =>
      k -> v.replace(graft.Fixtures.dir, s"$out/_fixtures")
    }
    json.writeValue(new File(s"$out/oracle_sql.json"), oracles)

    Map("setup_end" -> setupEnd, "untraced" -> untraced, "queries" -> all.map(_._1)) ++
      tracedPhase.map("traced" -> _) ++ outcome
  }
}
