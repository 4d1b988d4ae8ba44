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

  /** Number of Spark jobs `body` starts. Listener events arrive
    * asynchronously, so a marker job runs before and after `body`: jobs are
    * counted between the two markers, once the second one has been seen. */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val markKey = "graft.test.jobMarker"
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    @volatile var counting = false
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(markKey))) match {
          case Some(m) => counting = m == "start"; seen.put(m)
          case None    => if (counting) jobs.incrementAndGet()
        }
    }
    def mark(m: String): Unit = {
      sc.setLocalProperty(markKey, m)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(markKey, null)
      assert(seen.poll(60, java.util.concurrent.TimeUnit.SECONDS) == m, s"marker job '$m' not seen")
    }
    sc.addSparkListener(listener)
    try { mark("start"); body; mark("end"); jobs.get() }
    finally sc.removeSparkListener(listener)
  }
}
