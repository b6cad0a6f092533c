package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, EqualNullSafe, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Window => LWindow}

/** Sweep every registry query (and the builder plans behind memoized
  * queries) for scale anti-patterns in its OPTIMIZED LOGICAL plan —
  * unpartitioned Window nodes over frames the planner cannot bound to
  * 100k rows, whatever they order by, and non-equi/cross joins where
  * NEITHER side is provably ≤ 1 row (a broadcast scalar-aggregate cross
  * join is the intended lazy-count pattern, not an all-pairs product).
  * CI gate via ExplainAuditSpec; interactive: `graft.Run audit <sfDir>
  * [-full]`.
  */
object ExplainAudit {

  private def maxRowsOne(p: LogicalPlan): Boolean = p.maxRows.exists(_ <= 1L)

  /** Top-level conjuncts of a join condition (And-split only — an
    * equality buried inside an OR or a NOT is not a hash key).
    */
  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => conjuncts(a) ++ conjuncts(b)
    case other => Seq(other)
  }

  /** Structural equi-key check — what Spark's ExtractEquiJoinKeys
    * requires before it can plan a hash/sort-merge join: at least one
    * top-level `=`/`<=>` conjunct whose sides each reference exactly one
    * (opposite) join side. The earlier `" = "` SUBSTRING test passed any
    * condition whose string happened to contain an equality — e.g.
    * `(a = b) OR c > d`, which Spark can only nested-loop.
    */
  private[graft] def joinHasEquiKey(j: Join): Boolean =
    j.condition.exists(c => conjuncts(c).exists {
      case EqualTo(l, r) => sidesOppose(l, r, j)
      case EqualNullSafe(l, r) => sidesOppose(l, r, j)
      case _ => false
    })

  private def sidesOppose(l: Expression, r: Expression, j: Join): Boolean =
    l.references.nonEmpty && r.references.nonEmpty &&
      ((l.references.subsetOf(j.left.outputSet) && r.references.subsetOf(j.right.outputSet)) ||
        (l.references.subsetOf(j.right.outputSet) && r.references.subsetOf(j.left.outputSet)))

  /** Plans whose flagged pattern is documented as intentional:
    * `x_cosine_near_dup` is the EXACT all-pairs verification anchor — its
    * non-equi self-join over a bounded id slice is the point of the query
    * (candidate generation at scale is `x_cosine_near_dup_lsh`) —
    * `memo:cluster_pairs` is the same shape feeding `x_dedup_clusters`,
    * `x_cosine_lsh_recall` is the recall AUDIT row whose truth
    * side must be the exact all-pairs set by definition (it measures the
    * LSH pipeline against it; production near-dup runs use the LSH rows),
    * and `x_ivf_recall` / `x_ivf_pq_recall` / `x_ivf_pq_outlier_recall`
    * are the IVF lane's audits of the same shape — their
    * truth side is `Similarity.exactKnnJoin` over the bounded
    * vec_id < 500 slice (the IVF/PQ side under audit is the production
    * equi-join plan).
    */
  val exempt: Set[String] = Set(
    "x_cosine_near_dup", "memo:cluster_pairs", "x_cosine_lsh_recall",
    "x_ivf_recall", "x_ivf_pq_recall", "x_ivf_pq_outlier_recall")

  /** Sweep the optimized plan of every registry query AND of the
    * unmaterialized builder plans behind the memoized queries (a memo
    * returns a cache/checkpoint scan, which would hide its construction
    * plan from the sweep — `ExtQueries.auditablePlans`). Returns
    * (name, notes) for each plan with an unexempted global window,
    * non-equi/cross data-sized join, or plan-construction error.
    * Run by ExplainAuditSpec in CI so the scale posture can't silently
    * regress; `graft.Run audit` prints the same sweep for interactive use.
    */
  def audit(spark: SparkSession, sfDir: String): Seq[(String, Seq[String], String)] = {
    // xs_stream_* rows EXECUTE a full streaming query when invoked (they
    // are the finite-replay correctness harness; the returned frame is a
    // memory-sink scan with no plan to audit) — the streaming OPERATOR
    // plans they wrap are built from the same StreamingOps surface the
    // stream bench and StreamingSpec exercise, so the sweep skips them.
    val targets: Seq[(String, () => org.apache.spark.sql.DataFrame)] =
      SparkEntry.registry.filterNot(_.name.startsWith("xs_"))
        .map(q => (q.name, () => q.fn(spark, sfDir))) ++
        graft.queries.ExtQueries.auditablePlans(spark, sfDir)
    targets.flatMap { case (name, mk) =>
      // everything per-plan stays inside the try: a memo-builder that
      // fails to even construct must report PLAN-ERROR for ITS row, not
      // abort the sweep
      try {
        val lp = mk().queryExecution.optimizedPlan
        val globalWindows = lp.collect {
          // a frame the planner KNOWS is bounded (e.g. under a LIMIT —
          // maxRows is propagated) is not data-sized: a single-task
          // window over ≤ 100k rows is fine
          case w: LWindow if w.partitionSpec.isEmpty &&
            !w.child.maxRows.exists(_ <= 100000L) => w
        }
        val badJoins = lp.collect {
          case j: Join if (!joinHasEquiKey(j) || j.joinType.sql == "CROSS") &&
            !maxRowsOne(j.left) && !maxRowsOne(j.right) => j
        }
        val notes =
          globalWindows.map(w => s"GLOBAL-WINDOW order=${w.orderSpec.mkString(",").take(80)}") ++
            badJoins.map(j => s"NON-EQUI-JOIN ${j.joinType} cond=${j.condition.map(_.toString.take(90))}")
        // tree rendered only for flagged plans (-full consumer)
        if (notes.nonEmpty) Some((name, notes, lp.treeString)) else None
      } catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.toString)
        Some((name,
          Seq(s"PLAN-ERROR ${msg.linesIterator.nextOption().getOrElse(e.getClass.getSimpleName)}"),
          ""))
      }
    }
  }
}
