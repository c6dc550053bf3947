package perfbench

import graft.Q

/** The benchmark's query lists, taken from the public query registry,
  * and the module group each query belongs to.
  */
object Workloads {
  /** Module group of each query the workloads draw from; per-layer
    * metrics are also split by these groups.
    */
  val groupOf: Map[String, String] = (
    (graft.ops.Relational.all ++ graft.ops.Joins.all).map(_.name -> "ops") ++
      graft.dedup.DedupOps.all.map(_.name -> "dedup") ++
      graft.sim.SimOps.all.map(_.name -> "sim")).toMap

  private val byName: Map[String, Q] =
    graft.SparkEntry.registry.map(q => q.name -> q).toMap

  // Each list is a fixed subset of the workload's modules, small enough
  // that one run (set-up, cold pass, warm passes, verification) fits the
  // benchmark's time budget; perfbench/DESIGN.md records why each query
  // is in.
  val relational: Seq[Q] = Seq(
    "q1_agg", "q2_min_cost_supplier", "q6_forecast", "q11_important_stock",
    "hierarchy_closure", "join_broadcast", "join_salted", "subquery_in").map(byName)

  val tenX: Seq[Q] =
    Seq("q1_agg", "q3_shipping", "dedup_minhash", "cosine_topk_ivf").map(byName)

  /** A query that launches Spark jobs from threads of its own; the traced
    * run executes it once to check those jobs are attributed or counted.
    */
  val threadProbe: Q = byName("join_size_estimate")
}
