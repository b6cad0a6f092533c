package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.LogicalRDD

/** Session artifacts: what the registry builds once per session and
  * probes many times (indexes, candidate sets, stored tables, scratch
  * files), how checkpoint blocks are freed, and how an sf dir becomes a
  * table or scratch name. One owner for each, so every family lives and
  * dies by the same rules.
  */
private[graft] object Artifacts {

  private final case class Entry(value: Any, release: () => Unit)

  private val memos = scala.collection.concurrent.TrieMap.empty[(SparkSession, Any), Entry]

  /** The value built for `(s, key)`, built on the first request only.
    * `key` names the family and its inputs (e.g. `("ivf", dir)`), so two
    * families never share an entry.
    *
    * Keyed by the session: a persisted frame is bound to the session that
    * built it, so a restarted session in the same JVM rebuilds instead of
    * reading through a stale context. A miss for `s` evicts EVERY entry
    * of another session, across all families, and calls its `release`:
    * dropping a persisted frame from the map without unpersisting it
    * would leak the cached copy for the old session's lifetime (and a
    * re-request would persist a second one). Release errors (a dead
    * session) are ignored: the blocks died with the context anyway.
    */
  def memo[V](s: SparkSession, key: Any)(build: => V)(release: V => Unit): V =
    memos.getOrElseUpdate((s, key), {
      memos.keys.filter(_._1 ne s).foreach { k =>
        memos.remove(k).foreach(e => try e.release() catch { case _: Throwable => () })
      }
      val v = build
      Entry(v, () => release(v))
    }).value.asInstanceOf[V]

  /** Free the blocks of the `localCheckpoint` behind `df`, also when
    * `df` projects it (`checkpointed.select(...)`). `Dataset.unpersist`
    * is a no-op for such a frame: the blocks belong to the RDD inside the
    * plan's `LogicalRDD`, not to the CacheManager. A frame with no
    * checkpoint at its root is left alone.
    */
  def release(df: DataFrame): Unit = {
    @scala.annotation.tailrec
    def checkpointed(p: LogicalPlan): Option[LogicalRDD] = p match {
      case lr: LogicalRDD => Some(lr)
      case pr: Project => checkpointed(pr.child)
      case _ => None
    }
    checkpointed(df.queryExecution.analyzed).foreach(_.rdd.unpersist(false))
  }

  /** A table- and path-safe name for sf dir `d`: every character outside
    * `[a-zA-Z0-9]` becomes `_`, and the raw dir's hash follows, so dirs
    * the sanitizing would alias (`sf0.01` and `sf0_01`, `sf-1` and
    * `sf_1`) never share a stored table or a scratch path.
    */
  def dirName(d: String): String =
    f"${d.replaceAll("[^a-zA-Z0-9]", "_")}_${d.hashCode}%08x"
}
