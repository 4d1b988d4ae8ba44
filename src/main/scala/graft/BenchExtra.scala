package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Optimization-round side benchmark (guide §1.4): times each declared query
 * with the noop sink over several repetitions and reports min/median — the
 * shared host's steal phases make single-shot timings swing 2-3x, and
 * min-of-N is the uncontended estimate. Also exposes STAGE probes that
 * isolate segments of the heaviest pipelines (window-only, +struct, +encode,
 * +decode) so a claim like "the codec is X% of cdc_envelope_avro" is
 * measured, not guessed.
 *
 * NOT part of the driver bench surface (graft.Bench is frozen); numbers from
 * here are cited in OPTIMIZATION_r06.md.
 *
 * Usage: SPARK_GRAFT_CPUS=32 runMain graft.BenchExtra [reps] [q1,q2,...]
 */
object BenchExtra {

  /** noop-isolated stage probes for the nested-envelope avro pipeline */
  private def envelopeStages: Map[String, (SparkSession, String) => DataFrame] = {
    import org.apache.spark.sql.types._
    import graft.cdc.Envelope
    def base(s: SparkSession, d: String) = {
      val byKey = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("lsn"))
      val op = when(col("event_type") === "error", "d")
        .when(col("event_type") === "click", "u").otherwise(lit("c"))
      operators.Tables.events(s, d).select(
          col("event_id").as("lsn"), op.as("op"), col("user_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"),
          unix_millis(col("ts").cast("timestamp")).as("ts_ms"))
        .withColumn("before_user_id", lag(col("user_id"), 1).over(byKey))
        .withColumn("before_k", lag(col("k"), 1).over(byKey))
    }
    def withEnv(s: SparkSession, d: String) = {
      val b = base(s, d)
      b.select(col("lsn").as("event_lsn"),
        Envelope.envelopeStruct(b, keyCols = Seq("user_id"),
          payloadCols = Seq("k"), ybCells = true, table = "events",
          replicaIdentityFull = true).as("env"))
    }
    Map(
      "stage_env_window" -> ((s, d) => base(s, d)),
      "stage_env_struct" -> ((s, d) => withEnv(s, d)),
      "stage_env_avro_enc" -> ((s, d) => {
        val we = withEnv(s, d)
        graft.formats.AvroWire.encode(we, Seq("env"), 7, keep = Seq("event_lsn"))
      }),
      "stage_env_avro_roundtrip" -> ((s, d) => {
        val we = withEnv(s, d)
        val envT = StructType(Seq(we.schema("env")))
        val wire = graft.formats.AvroWire.encode(we, Seq("env"), 7, keep = Seq("event_lsn"))
        graft.formats.AvroWire.decode(wire, Map(7 -> envT), 7, keep = Seq("event_lsn"))
      }),
      "stage_env_proto_roundtrip" -> ((s, d) => {
        val we = withEnv(s, d)
        val envT = StructType(Seq(we.schema("env")))
        val wire = graft.formats.ProtoWire.encode(we, Seq("env"), 8, keep = Seq("event_lsn"))
        graft.formats.ProtoWire.decode(wire, Map(8 -> envT), 8, keep = Seq("event_lsn"))
      }))
  }

  def main(args: Array[String]): Unit = {
    val reps = if (args.nonEmpty) args(0).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val only = if (args.length > 1 && args(1).nonEmpty) Some(args(1).split(",").toSet) else None
    val spark = GraftSession.builder(s"local[$cpus]", "graft-bench-extra")
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/graft-spark-local"))
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(s"$sfDir/lineitem.parquet").count() // warmup

    val all = (SparkEntry.queries ++ envelopeStages).toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val results = all.map { case (name, fn) =>
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        spark.sparkContext.setJobDescription(s"bench-extra: $name")
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      val med = times(times.size / 2)
      println(f"EXTRA $name%-28s min=${times.head}%7.3f med=$med%7.3f reps=$reps")
      name -> times.head
    }
    println(f"""EXTRA_TOTAL_MIN ${results.map(_._2).sum}%.3f""")
    spark.stop()
  }
}
