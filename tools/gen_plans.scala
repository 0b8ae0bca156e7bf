val all = graft.SparkEntry.queries
val dir = "/root/testdata/sf0.01"
val sb = new StringBuilder
sb.append("# PLANS -- per-query physical plan audit (sf0.01, local, AQE on)\n\n")
sb.append("Generated by tools/gen_plans (spark-shell script). Batch rows come from\n`queryExecution.executedPlan`; streaming rows from the EXECUTED micro-batch plan\n(`q.explain()` captured on termination -- streaming plans only exist post-run).\nCounts are over DISTINCT plan-node shapes (tree markers, expr ids and plan_ids\nnormalized away), so a cached subtree reprinted at each InMemoryRelation use site\nis audited once; a subtree instantiated twice with the same shape also counts\nonce -- the table audits plan STRUCTURE, not task counts. Counting lives in\n`graft.plans.PlanAudit` (shared with PlansAuditSpec, the CI staleness guard:\na stale table fails `sbt test` -- regen with this script after plan changes).\n")
sb.append("Shuffles = `Exchange` nodes; `BroadcastNestedLoopJoin` appears only where the build side\nis provably tiny (q25/q25b/q36 query-vector cross-scores, q43 band table, q68's\nstep scalar + coarse-centroid routings).\n\n")
sb.append("| query | scans | shuffles | broadcasts | SMJ/HashJoin | notes |\n|---|---|---|---|---|---|\n")
val streamingQs = Set("q31_stream_window", "q50_stream_dedup", "q59_stream_decontaminate",
  "q62_stream_stream_join", "q63_state_profile", "q65_sliding_window", "q75_stream_quality",
  "q133_stream_chunk_dedup", "q139_stream_heavy_hitters")

def row(name: String, plan0: String, streaming: Boolean): String = {
  // Counting is the shared PlanAudit metric -- see its scaladoc for
  // the distinct-normalized-line semantics.
  val c = graft.plans.PlanAudit.counts(plan0)
  val plan = graft.plans.PlanAudit.stripInitial(plan0)
  val stateOps = Seq("StateStoreSave", "StreamingDeduplicate",
    "StreamingSymmetricHashJoin", "FlatMapGroupsWithState")
    .filter(plan.contains).mkString("+")
  val notes = Seq(
    if (plan.contains("BroadcastNestedLoopJoin")) "BNLJ(tiny build)" else "",
    if (plan.contains("CartesianProduct")) "CARTESIAN!" else "",
    if (!streaming && plan.contains("Window") && plan.contains("SinglePartition")) "global-window(bounded input)" else "",
    if (plan.contains("InMemoryTableScan") || plan.contains("Scan In-memory")) "cached" else "",
    if (plan.contains("SelectedBucketsCount")) "bucketed-scan" else "",
    if (streaming && stateOps.nonEmpty) stateOps else "",
    if (streaming && stateOps.isEmpty) "stateless-ingest-gate" else ""
  ).filter(_.nonEmpty).mkString(", ")
  s"| $name | ${c.scans} | ${c.shuffles} | ${c.broadcasts} | ${c.joins} | $notes |\n"
}

for (name <- all.keys.toSeq.sorted) {
  try {
    if (streamingQs(name)) {
      all(name)(spark, dir).collect() // runs the job; plan captured on termination
      val plan = graft.streaming.StreamingQueries.executedPlans
        .getOrElse(name, sys.error("no captured plan"))
      sb.append(row(name, plan, streaming = true))
    } else {
      val plan = all(name)(spark, dir).queryExecution.executedPlan.toString
      sb.append(row(name, plan, streaming = false))
    }
  } catch { case e: Throwable => sb.append(s"| $name | - | - | - | - | error: ${String.valueOf(e.getMessage).take(40)} |\n") }
}
sb.append("\nStreaming rows (q31/q50/q59/q62/q63/q65/q75/q133) are the final micro-batch's executed\nplan: scans count `MicroBatchScan`; the notes column pins the state operator\n(StateStoreSave, StreamingDeduplicate, StreamingSymmetricHashJoin,\nFlatMapGroupsWithState) or `stateless-ingest-gate` for the two map-only gates\n(q59/q75 -- zero state, zero Exchange). q32_session_window exercises the\nsession_window operator through the batch path (streaming run covered in\nStreamingQueriesSpec) and is audited as a batch row.\n")
sb.append("\nq46_dedup_groups' and q67_leakage_split's rows show only their FINAL plans (a scan\nof the shared persisted label artifact): the per-round work -- MinHash pair\ngeneration (q22b's plan) then one equality join + one min-agg shuffle per\nlabel-propagation round -- executes ONCE per (session, dir, fingerprint) during\nartifact materialization and is truncated from the lineage by design. Likewise\nq81's index side is the bucketed posting-table scan (`bucketed-scan` note, zero\nindex-side Exchange by bucket layout). Since round 11 q23/q71 (rare-shingle\npairs) and q125/q127 (winnow pairs) read shared persisted pair artifacts the\nsame way -- the map-side pair machinery runs once per (session, dir,\nfingerprint) and is pinned through the BUILD plan in PlanShapeSpec\n(\"pair-artifact builds\").\n")
sb.append("\nq28_langid is CONTRACT-CLOSED at its 6 shuffles (VERDICT r19 next-round #6):\nthe tempting tf-weighted collapse (sum(tf*logp) instead of the per-occurrence\nsum(logp) fold) changes the IEEE rounding stream -- k*x rounds once where the\nper-occurrence fold rounds at every partial sum, and the oracle's fold is\ndefined per-occurrence -- so the 6-dp-rounded score that feeds the rank can\nflip only by breaking oracle parity. The remaining posting shuffles (profile\nagg, df agg/join) are the information-theoretic minimum for the statistic, and\nthe vocabulary side is not broadcast-safe at 100 TB. Do not re-propose the\ncollapse without an oracle-side restatement of the fold.\n")
java.nio.file.Files.writeString(java.nio.file.Paths.get("PLANS.md"), sb.toString)
println("[done] wrote PLANS.md")
System.exit(0)
