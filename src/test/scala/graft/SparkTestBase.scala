package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites (sbt forks a single test JVM). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Run `body` with a session conf set, restoring its previous value. */
  def withSqlConf[T](key: String, value: String)(body: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Number of Spark jobs `body` starts. */
  def jobsDuring(body: => Unit): Int = observe(body)._1

  /** Number of classes Spark's code generator compiles while `body` runs;
    * a class whose source is already in its cache is not compiled again. */
  def compilesDuring(body: => Unit): Long = {
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    body
    compiles.getCount - before
  }

  /** The tasks of the jobs `body` starts, as their task-end events. */
  def tasksDuring(body: => Unit): Seq[org.apache.spark.scheduler.SparkListenerTaskEnd] =
    observe(body)._2

  /** Jobs and finished tasks of `body`. Listener events arrive
    * asynchronously, so a marker job runs before and after `body`: events
    * are counted between the two markers, once the second one has been seen.
    * A job's task ends are posted before the job returns, so before the
    * second marker starts. */
  private def observe(body: => Unit): (Int, Seq[org.apache.spark.scheduler.SparkListenerTaskEnd]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    val sc = spark.sparkContext
    val markKey = "graft.test.jobMarker"
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerTaskEnd]()
    val markerStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    @volatile var counting = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(markKey))) match {
          case Some(m) => e.stageIds.foreach(markerStages.add); counting = m == "start"; seen.put(m)
          case None    => if (counting) jobs.incrementAndGet()
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (counting && !markerStages.contains(e.stageId)) tasks.add(e)
    }
    def mark(m: String): Unit = {
      sc.setLocalProperty(markKey, m)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(markKey, null)
      assert(seen.poll(60, java.util.concurrent.TimeUnit.SECONDS) == m, s"marker job '$m' not seen")
    }
    sc.addSparkListener(listener)
    try {
      mark("start"); body; mark("end")
      import scala.jdk.CollectionConverters._
      (jobs.get(), tasks.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
