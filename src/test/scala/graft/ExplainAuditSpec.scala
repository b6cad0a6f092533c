package graft

/** CI gate for the scale posture (VERDICT r3 #5): every registry query's
  * OPTIMIZED plan must be free of unpartitioned data-sized windows and
  * non-equi/cross data-sized joins — the two patterns that silently turn
  * a 100 TB plan into a single-task or all-pairs job. The sweep itself
  * lives in [[ExplainAudit.audit]] (also `graft.Run audit`); the only
  * allowed hits are the documented [[ExplainAudit.exempt]] set.
  */
class ExplainAuditSpec extends SparkSpec {

  test("no registry query plan has an unexempted global window or non-equi join") {
    val flagged = ExplainAudit.audit(spark, "/root/testdata/sf0.001")
    val bad = flagged.filterNot { case (name, _, _) => ExplainAudit.exempt(name) }
    assert(bad.isEmpty, bad.map { case (n, notes, _) =>
      s"$n:\n  ${notes.mkString("\n  ")}"
    }.mkString("scale anti-patterns found:\n", "\n", ""))
    // the exemption list must not rot: every exempted plan must STILL be
    // flagged — an exemption whose plan went clean is a silent hole a
    // future regression could hide behind
    val flaggedNames = flagged.map(_._1).toSet
    assert(ExplainAudit.exempt.subsetOf(flaggedNames),
      s"stale exemptions (no longer flagged): ${ExplainAudit.exempt -- flaggedNames}")
  }

  test("equi-key detection is structural, not stringly") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val l = spark.range(100).select(col("id").as("a"), (col("id") % 10).as("c"))
    val r = spark.range(100).select(col("id").as("b"), (col("id") % 10).as("d"))
    // analyzed, not optimized: the optimizer pushes one-sided conjuncts
    // out of join conditions, which would vacate the same-side case
    def joinNode(cond: org.apache.spark.sql.Column): Join =
      l.join(r, cond).queryExecution.analyzed.collectFirst { case j: Join => j }
        .getOrElse(fail("no Join node in plan"))
    // the case the old `" = "` substring test waved through: the string
    // contains an equality, but Spark can only nested-loop an OR of it
    assert(!ExplainAudit.joinHasEquiKey(joinNode(col("a") === col("b") || col("c") > col("d"))))
    // a conjunct equality IS a hash key, residuals are fine
    assert(ExplainAudit.joinHasEquiKey(joinNode(col("a") === col("b") && col("c") > col("d"))))
    // null-safe equality hash-partitions like `=`
    assert(ExplainAudit.joinHasEquiKey(joinNode(col("a") <=> col("b"))))
    // same-side equality (both refs from one side) is a filter, not a key
    assert(!ExplainAudit.joinHasEquiKey(joinNode(col("a") === col("c") && col("b") < col("d"))))
  }
}
