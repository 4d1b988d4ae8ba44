package graft.operators

import graft.SparkTestBase
import graft.SparkEntry
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.Exchange

/** Physical-plan shape guards: these are the properties that decide whether
  * a query survives a 100x scale-up — filter pushdown into the parquet scan,
  * column pruning, broadcast for small dims, map-side partial aggregation.
  * A regression here can stay invisible at sf0.01 and melt a cluster. */
class PlanSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("route filter is pushed down to the parquet scan") {
    val p = plan("cdc_route_filter")
    assert(p.contains("PushedFilters") &&
      (p.contains("Not(EqualTo(event_type,error))") || p.contains("event_type")),
      s"filter not pushed:\n$p")
  }

  test("q3 join broadcasts the filtered customer dim") {
    val p = plan("q3_topk_revenue")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
  }

  test("region rollup broadcasts both dims, no shuffle of fact side") {
    val p = plan("q_region_rollup")
    assert(p.split("BroadcastHashJoin").length >= 3, s"expected 2 broadcast joins:\n$p")
  }

  test("max_by dedup runs as partial + final aggregation (map-side combine)") {
    val p = plan("cdc_dedup_last_maxby")
    assert(p.split("HashAggregate").length >= 3 || p.split("SortAggregate").length >= 3
      || p.split("ObjectHashAggregate").length >= 3,
      s"expected two-phase aggregation:\n$p")
    assert(p.contains("partial_max"), s"expected partial aggregate functions:\n$p")
  }

  test("scan reads only needed columns (column pruning)") {
    val p = plan("cdc_offset_max")
    // lineitem of the events table: only event_type + event_id needed
    assert(p.contains("ReadSchema"), s"no ReadSchema in:\n$p")
    assert(!p.contains("props"), s"props should be pruned from scan:\n$p")
    assert(!p.contains("user_id"), s"user_id should be pruned from scan:\n$p")
  }

  test("knn brute force broadcasts the probe set") {
    val p = plan("emb_knn_brute")
    assert(p.contains("Broadcast"), s"expected broadcast of probes:\n$p")
  }

  test("envelope decode is pure expressions, no UDFs, no shuffle before the sort") {
    val p = plan("cdc_envelope_decode")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), s"UDF in plan:\n$p")
    assert(p.split("Exchange").length <= 2, // only the final orderBy's range exchange
      s"envelope decode must not shuffle:\n$p")
  }

  test("before-image envelope round trip is expression-only with bounded shuffles") {
    val p = plan("cdc_envelope_before")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), s"UDF in plan:\n$p")
    // one hash exchange for the per-key lag window + the final sort's range
    // exchange — wrap/decode themselves must not shuffle
    assert(p.split("Exchange").length <= 3, s"unexpected extra shuffle:\n$p")
  }

  test("nested-envelope avro/proto round trips shuffle only for lag window + sort") {
    // serialization is per-partition mapPartitions work; the only exchanges
    // allowed are the per-key lag window's hash exchange and the final
    // orderBy's range exchange — an extra shuffle here would dominate the
    // wire path at 10^10 events
    Seq("cdc_envelope_avro", "cdc_envelope_proto").foreach { q =>
      val p = plan(q)
      assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), s"UDF in $q:\n$p")
      assert(p.split("Exchange").length <= 3, s"$q has an unexpected extra shuffle:\n$p")
    }
  }

  test("LSH projections are codegen'd dot_q, not interpreted aggregate(zip_with) pairs") {
    val p = plan("emb_lsh_ann")
    assert(p.contains("dot_q"), s"expected dot_q projections:\n$p")
    assert(!p.contains("zip_with"), s"interpreted HOF pair in hot path:\n$p")
    val pn = plan("emb_near_dup")
    assert(pn.contains("dot_q") && !pn.contains("zip_with"), s"emb_near_dup hot path:\n$pn")
  }

  /** The nodes from the root of `name`'s physical plan down to its global
    * Sort (exclusive), and that Sort. Fails if the chain leaves single-child
    * nodes before it reaches one. */
  private def aboveGlobalSort(name: String): (Seq[SparkPlan], SortExec, SparkPlan) = {
    def chain(p: SparkPlan): List[SparkPlan] =
      p :: (p.children match { case Seq(only) => chain(only); case _ => Nil })
    val root = SparkEntry.queries(name)(spark, dir).queryExecution.sparkPlan
    val path = chain(root)
    path.collectFirst { case s: SortExec if s.global => s } match {
      case Some(sort) => (path.takeWhile(_ ne sort), sort, root)
      case None => fail(s"$name: no global Sort on the single-child chain below the root:\n$root")
    }
  }

  // sort-first queries: the total order is established on the slim rows and
  // the expensive 1:1 projection runs above it, once per row (a trailing
  // orderBy's range partitioner would sample its child and run it twice).
  // This holds only while Project keeps its child's ordering and no rule
  // drops the non-root Sort, so a Spark upgrade must keep these green.
  Seq(
    "cdc_roundtrip_avro" -> "BinaryDecodeExpr",
    "cdc_envelope_before" -> "JsonToStructs",
    "doc_scrub" -> "RegExpReplace"
  ).foreach { case (name, expensive) =>
    test(s"$name: output order comes from a global Sort below the $expensive projection") {
      val (above, sort, root) = aboveGlobalSort(name)
      assert(!above.exists(_.isInstanceOf[Exchange]),
        s"an Exchange sits between the Sort and the root:\n$root")
      assert(above.exists {
        case p: ProjectExec =>
          p.projectList.exists(_.exists(_.getClass.getSimpleName == expensive))
        case _ => false
      }, s"no $expensive projection above the Sort:\n$root")
      // only row-wise operators may sit above the Sort, or its order is lost
      assert(above.forall(n => n.isInstanceOf[ProjectExec] || n.isInstanceOf[FilterExec]),
        s"a non-row-wise operator sits above Sort ${sort.sortOrder}:\n$root")
    }
  }

  test("minhash pipeline shuffles at most 3 times (doc agg, buckets, pair distinct)") {
    val p = plan("doc_minhash_lsh")
    // window(by doc) + groupBy(doc) share one exchange; +1 bucket groupBy,
    // +1 pair distinct, +1 final sort
    val exchanges = p.split("Exchange hashpartitioning").length - 1
    assert(exchanges <= 3, s"expected <=3 hash exchanges, got $exchanges:\n$p")
  }
}
