package graft.util

import graft.sources.Tables
import org.apache.spark.sql.SparkSession

/** The one per-corpus build-once memo: a [[BoundedMemo]] keyed on
  * `(t.spark, t.sfDir, extra)`. Keying on the SparkSession OBJECT
  * (Spark compares sessions by reference) rather than a 32-bit
  * identity hash means two live sessions can never share an entry,
  * and `spark.newSession()` is always a fresh key — the property
  * Bench's cold fixture confirmation relies on. `extra` carries the
  * call's build parameters (k, thresholds, cell counts), if any.
  *
  * Holding the session strongly is fine: DataFrame-valued entries
  * already reference it, and the LRU bound caps each memo at `max`.
  */
final class CorpusMemo[V <: AnyRef](max: Int = 4, onEvict: V => Unit = (_: V) => ()) {
  private val memo = new BoundedMemo[(SparkSession, String, Any), V](max, onEvict)

  def getOrBuild(t: Tables, extra: Any = ())(build: => V): V =
    memo.getOrBuild((t.spark, t.sfDir, extra))(build)
}
