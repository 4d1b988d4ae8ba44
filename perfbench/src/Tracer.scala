package graftbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, RangeExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.graftbench.SparkInternals

/** Spans recorded around the benchmark's calls into the engine's public
  * functions: run -> epoch -> call, and (when listening) call -> Spark job ->
  * stage. A call span tags the jobs it submits through a thread-local Spark
  * property; nothing inside the engine knows about it.
  *
  * Times are epoch milliseconds with sub-millisecond resolution. */
final class Tracer(sc: SparkContext) {
  import Tracer._

  private val n0 = System.nanoTime()
  private val m0 = System.currentTimeMillis().toDouble
  def now: Double = m0 + (System.nanoTime() - n0) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var recorder: Option[Recorder] = None

  private var on = false
  def listening: Boolean = on

  /** Register the job/stage/SQL listener; spans opened from now on collect
    * per-call Spark metrics. */
  def listen(): Unit = if (!listening) {
    val r = recorder.getOrElse(new Recorder)
    sc.addSparkListener(r)
    recorder = Some(r)
    on = true
  }

  /** Unregister the listener until the next `listen()`; what it has
    * recorded stays. */
  def pause(): Unit = if (listening) {
    SparkInternals.drainListeners(sc)
    recorder.foreach(sc.removeSparkListener)
    on = false
  }

  /** Run `body` inside a new span; returns its result and the closed span. */
  def call[T](kind: String, name: String)(body: => T): (T, Span) = {
    val s = new Span(spans.size + 1, stack.headOption.map(_.id).getOrElse(0), kind, name, now)
    spans += s
    stack ::= s
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, s.id.toString)
    try (body, s)
    finally {
      s.end = now
      stack = stack.tail
      sc.setLocalProperty(SpanProp, prev)
    }
  }

  def span[T](kind: String, name: String)(body: => T): T = call(kind, name)(body)._1

  /** Per-call Spark metrics, keyed by call-span id (listening runs only). */
  def callStats(): Map[Int, CallStats] = recorder match {
    case None => Map.empty
    case Some(r) =>
      SparkInternals.drainListeners(sc)
      r.synchronized(r.statsBySpan(spans.map(s => s.id -> s).toMap))
  }

  /** Every span as one JSON object per line: run, epochs, calls, jobs and
    * stages, each with its parent and self time; calls and stages also carry
    * their Spark counts. */
  def writeSpans(path: String): Unit = {
    val all = mutable.ArrayBuffer.empty[Span] ++ spans
    val counts = mutable.Map.empty[Int, Map[String, Any]]
    callStats().foreach { case (id, c) => counts(id) = c.productElementNames.zip(c.productIterator).toMap }
    recorder.foreach { r =>
      SparkInternals.drainListeners(sc)
      r.synchronized {
        r.jobs.values.foreach { j =>
          val s = new Span(JobBase + j.id, j.span.max(0), "job", s"job-${j.id}", j.start.toDouble)
          s.end = j.end.toDouble
          all += s
        }
        r.stages.values.foreach { st =>
          val i = st.info
          val s = new Span(StageBase + i.stageId, JobBase + r.stageJob.getOrElse(i.stageId, -1),
            "stage", s"stage-${i.stageId}", i.submissionTime.getOrElse(0L).toDouble)
          s.end = i.completionTime.getOrElse(0L).toDouble
          all += s
          val m = i.taskMetrics
          counts(s.id) = Map("tasks" -> i.numTasks, "parents" -> i.parentIds,
            "input_bytes" -> m.inputMetrics.bytesRead, "output_bytes" -> m.outputMetrics.bytesWritten,
            "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
            "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
            "cpu_s" -> m.executorCpuTime / 1e9, "spill_bytes" -> m.diskBytesSpilled,
            "task_ms_max" -> st.taskMs.maxOption.getOrElse(0L))
        }
      }
    }
    val kids = all.groupBy(_.parent)
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.foreach { s =>
      val covered = union(kids.getOrElse(s.id, Nil).filterNot(_ eq s)
        .map(c => (c.start.max(s.start), c.end.min(s.end))))
      w.println(PerfBench.json.writeValueAsString(Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
        "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
        "self_ms" -> ((s.end - s.start) - covered)) ++ counts.getOrElse(s.id, Map.empty)))
    } finally w.close()
  }
}

object Tracer {
  val SpanProp = "graftbench.span"
  private val JobBase = 1000000
  private val StageBase = 2000000

  final class Span(val id: Int, val parent: Int, val kind: String, val name: String,
                   val start: Double) {
    var end: Double = Double.NaN
    def seconds: Double = (end - start) / 1e3
  }

  /** Spark work inside one call span. Byte and row counts come from the SQL
    * plan's metrics, split by where the node sits: an exchange directly
    * above the event generator is the dedup shuffle, any other exchange
    * belongs to the table layer. `compactionSeconds` covers the jobs of the
    * SQL executions that write a compacted base (`data/compact-<v>`). */
  final case class CallStats(
      jobs: Int, jobSeconds: Double, cpuSeconds: Double, spillBytes: Long,
      dedupShuffleBytes: Long, otherShuffleBytes: Long, scanRows: Long,
      writeBytes: Long, writeFiles: Long, dedupTaskSkew: Option[Double],
      compactionSeconds: Double)

  /** Total length of the union of intervals. */
  def union(iv: Iterable[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var open = false
    iv.filter { case (a, b) => b > a }.toSeq.sortBy(_._1).foreach { case (a, b) =>
      if (!open || a > curE) {
        if (open) total += curE - curS
        curS = a; curE = b; open = true
      } else curE = curE.max(b)
    }
    if (open) total += curE - curS
    total
  }

  private def spanOf(p: Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(SpanProp))).map(_.toInt).getOrElse(-1)

  private final class JobRec(val id: Int, val span: Int, val execId: Long, val start: Long) {
    var end: Long = start
  }
  private final class StageRec(val info: StageInfo) {
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }

  private final class Recorder extends SparkListener {
    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    val stageJob = mutable.Map.empty[Int, Int]
    val stages = mutable.LinkedHashMap.empty[Int, StageRec]
    private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
    // SQL execution id -> (metric accumulator id -> (category, value))
    private val sqlMetrics = mutable.Map.empty[Long, Map[Long, (String, Long)]]
    // SQL executions that wrote a compacted table base
    private val compactions = mutable.Set.empty[Long]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      jobs(e.jobId) = new JobRec(e.jobId, spanOf(e.properties), exec, e.time)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val r = new StageRec(e.stageInfo)
      taskMs.remove(e.stageInfo.stageId).foreach(r.taskMs ++= _)
      stages(e.stageInfo.stageId) = r
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case SparkInternals.SqlEnd(execId, qe) =>
        val m = planMetrics(qe.executedPlan)
        val compaction = writesCompaction(qe.executedPlan)
        synchronized {
          sqlMetrics(execId) = m
          if (compaction) compactions += execId
        }
      case _ =>
    }

    private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case o => o.children ++ o.subqueries
    }

    /** Does the generator feed this subtree without another exchange or
      * cache in between? */
    private def fedBySource(p: SparkPlan): Boolean = p match {
      case _: RangeExec => true
      case _: ShuffleExchangeExec | _: QueryStageExec | _: InMemoryTableScanExec
           | _: ReusedExchangeExec | _: AdaptiveSparkPlanExec => false
      case o => o.children.exists(fedBySource)
    }

    private def writesCompaction(p: SparkPlan): Boolean = p match {
      case w: DataWritingCommandExec => w.cmd match {
        case i: InsertIntoHadoopFsRelationCommand => i.outputPath.getName.startsWith("compact-")
        case _ => false
      }
      case o => kids(o).exists(writesCompaction)
    }

    private def planMetrics(root: SparkPlan): Map[Long, (String, Long)] = {
      val out = mutable.Map.empty[Long, (String, Long)]
      def take(p: SparkPlan, name: String, cat: String): Unit =
        p.metrics.get(name).foreach(m => out(m.id) = (cat, m.value))
      val seen = mutable.Set.empty[SparkPlan]
      def walk(p: SparkPlan): Unit = if (seen.add(p)) {
        p match {
          case e: ShuffleExchangeExec =>
            take(e, "shuffleBytesWritten", if (fedBySource(e.child)) "dedupShuffle" else "otherShuffle")
          case s: FileSourceScanExec => take(s, "numOutputRows", "scanRows")
          case w: DataWritingCommandExec =>
            take(w, "numOutputBytes", "writeBytes")
            take(w, "numFiles", "writeFiles")
          case _ =>
        }
        kids(p).foreach(walk)
      }
      walk(root)
      out.toMap
    }

    def statsBySpan(spans: Map[Int, Span]): Map[Int, CallStats] = {
      // the generator's map stages read neither files nor a shuffle; the
      // dedup's reduce side is the next stage that reads a shuffle (AQE
      // plans it in a later job, under a fresh id for the skipped map stage)
      def isSource(m: org.apache.spark.executor.TaskMetrics) =
        m.shuffleWriteMetrics.bytesWritten > 0 && m.shuffleReadMetrics.totalBytesRead == 0 &&
          m.inputMetrics.bytesRead == 0
      def dedupReduce(st: Seq[StageRec]): Seq[StageRec] = st.sortBy(_.info.stageId).tails.collect {
        case src +: rest if isSource(src.info.taskMetrics) =>
          rest.find(_.info.taskMetrics.shuffleReadMetrics.totalBytesRead > 0)
      }.flatten.toSeq
      jobs.values.groupBy(_.span).collect { case (spanId, js) if spans.contains(spanId) =>
        val span = spans(spanId)
        val jobIds = js.map(_.id).toSet
        val st = stages.values.filter(s => stageJob.get(s.info.stageId).exists(jobIds.contains))
        val metrics = js.map(_.execId).toSeq.distinct.flatMap(sqlMetrics.get)
          .foldLeft(Map.empty[Long, (String, Long)])(_ ++ _).values
        def cat(c: String) = metrics.collect { case (`c`, v) => v }.sum
        val tm = st.map(_.info.taskMetrics)
        val skews = dedupReduce(st.toSeq).filter(_.taskMs.nonEmpty)
          .map { s =>
            val d = s.taskMs.sorted
            d.last.toDouble / math.max(1L, d(d.size / 2))
          }
        def seconds(sel: Iterable[JobRec]) =
          union(sel.map(j => (j.start.toDouble.max(span.start), j.end.toDouble.min(span.end)))) / 1e3
        spanId -> CallStats(
          jobs = js.size,
          jobSeconds = seconds(js),
          cpuSeconds = tm.map(_.executorCpuTime).sum / 1e9,
          spillBytes = tm.map(_.diskBytesSpilled).sum,
          dedupShuffleBytes = cat("dedupShuffle"),
          otherShuffleBytes = cat("otherShuffle"),
          scanRows = cat("scanRows"),
          writeBytes = cat("writeBytes"),
          writeFiles = cat("writeFiles"),
          dedupTaskSkew = if (skews.isEmpty) None else Some(skews.max),
          compactionSeconds = seconds(js.filter(j => compactions.contains(j.execId))))
      }
    }
  }
}
