package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan-shape gate for the INTERIOR executions of iterative keys.
  * `PlanShapeSpec` sees only the returned frame, which for these keys
  * reads an end-pinned checkpoint; the eager checkpoints built during
  * construction (degree join, candidate pairs, the rounds) never show
  * there. This spec listens to every SQL execution a key runs —
  * construction plus one full write of its result — and counts the
  * whole-stage-codegen stages of their executed plans.
  *
  * Each stage is a generated class, compiled once on the driver and
  * once under the executor's loader, and Spark's generated-class cache
  * holds 100 entries: a key whose stage count creeps up pushes the
  * iterative workload's classes out of that cache and every run
  * recompiles them (PLANS.md, "Codegen working set"). The pinned
  * counts are the sf0.001 plans; a change that moves them should say
  * why in the same commit. */
class InteriorPlanSpec extends GraftSuite {

  /** Executed plans (AQE final plans) of every SQL execution that
    * constructing and writing `key` runs, in order. */
  private def interiorPlans(key: String): Seq[String] = {
    val marker = s"interior-plan-marker-${System.nanoTime()}"
    val plans = ArrayBuffer.empty[String]
    val done = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        val plan = qe.executedPlan.toString
        if (plan.contains(marker)) done.countDown()
        else plans.synchronized(plans += plan.split("== Initial Plan ==")(0))
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      SparkEntry.queries(key)(spark, sf)
        .write.format("noop").mode("overwrite").save()
      // listener events arrive in order on one queue: once the
      // marker query's event is in, every event of the key is too
      spark.range(1).select(lit(marker)).collect()
      assert(done.await(60, TimeUnit.SECONDS), "listener events did not drain")
    } finally spark.listenerManager.unregister(listener)
    plans.synchronized(plans.toList)
  }

  private def codegenStages(plan: String): Int =
    """\*\((\d+)\)""".r.findAllMatchIn(plan).map(_.group(1)).toSet.size

  test("graph_pagerank: interior codegen stages pinned; the degree " +
      "join reads one exploded edge list, not a union of two legs") {
    val plans = interiorPlans("graph_pagerank")
    assert(!plans.exists(_.contains("Union")),
      s"a Union is back in the pagerank plans:\n${plans.mkString("\n")}")
    assert(plans.map(codegenStages).sum == 11,
      s"stages per execution ${plans.map(codegenStages)}:\n${plans.mkString("\n")}")
  }

  test("dedup_minhash_lsh: interior codegen stages pinned; the " +
      "candidate Jaccard plan has no left outer join") {
    val plans = interiorPlans("dedup_minhash_lsh")
    assert(!plans.exists(_.contains("LeftOuter")),
      s"the candidate left join is back:\n${plans.mkString("\n")}")
    assert(plans.map(codegenStages).sum == 9,
      s"stages per execution ${plans.map(codegenStages)}:\n${plans.mkString("\n")}")
  }
}
