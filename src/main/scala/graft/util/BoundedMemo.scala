package graft.util

import java.util.concurrent.{ExecutionException, FutureTask}

/** Get-or-build memo with an LRU bound — the shape every
  * build-once-per-corpus cache in the engine needs (near-dup pair
  * tables, ANN indexes; [[CorpusMemo]] fixes their key): repeated
  * contract-query invocations share one expensive materialization,
  * and roaming across corpora releases the eldest entry's resources
  * via `onEvict` (typically unpersist) instead of accumulating cache
  * entries for the session lifetime.
  *
  * Same-key callers build once (the first one runs the build, the rest
  * block on its FutureTask), but DISTINCT keys build concurrently: the
  * map lock is held only to install/look up the task, never across the
  * multi-second Spark materialization — two HTTP requests touching
  * different corpora no longer serialize behind one global monitor.
  * A failed build is uncached before rethrowing, so later callers
  * retry instead of inheriting the failure forever.
  *
  * Eviction racing an in-flight build: if the LRU evicts an entry
  * whose build is still running, the builder's post-completion
  * `maybeRelease` runs `onEvict` immediately, so the builder (and any
  * waiters blocked on the same task) receive a value whose persisted
  * state was just released. That is CORRECT — a released Dataset
  * recomputes from lineage on next use — the expensive
  * materialization is simply discarded and rebuilt on the next
  * `getOrBuild`. Deliberate trade: deferring the release until every
  * waiter finished would need per-entry reference counting for a
  * window (cache churn faster than a single build) that bounded
  * caches over per-corpus keys don't hit in practice.
  */
/** Companion carries a process-global cache-hit counter, read by
  * [[graft.Bench]] and by the perfbench harness (its per-query
  * `memo.hits`). Bench's min-of-rerun policy: a re-timed query
  * during which ANY memo served a hit is reading warm build state
  * (pair tables, ANN indexes, committed vtables), so its rerun number
  * measures a cache read, not the operator — Bench snapshots this
  * counter around the rerun and keeps the cold number when it moved.
  * Self-maintaining by construction: a query is "memoizing" iff it
  * actually hit a memo, so new memoized queries never need hand-listing.
  */
object BoundedMemo {
  private val hitCounter = new java.util.concurrent.atomic.AtomicLong(0)
  private[util] def recordHit(): Unit = { hitCounter.incrementAndGet(); () }
  /** Total cache hits across every BoundedMemo in this process. */
  def globalHits: Long = hitCounter.get
}

final class BoundedMemo[K, V <: AnyRef](max: Int, onEvict: V => Unit) {

  private final class Cell(build: () => V) {
    val task = new FutureTask[V](() => build())
    // set when the LRU evicts this cell; the actual onEvict happens in
    // maybeRelease, guarded by a CAS so eviction racing build
    // completion can neither double-release nor leak
    val evicted = new java.util.concurrent.atomic.AtomicBoolean(false)
    private val released = new java.util.concurrent.atomic.AtomicBoolean(false)

    def maybeRelease(): Unit =
      if (evicted.get && task.isDone && released.compareAndSet(false, true)) {
        // a failed build holds no resources to release; and a FAILING
        // onEvict (unpersist on a stopped context, say) must never
        // propagate — eviction runs inside the map lock during put(),
        // and an escaping throw there would leave the just-inserted
        // cell's FutureTask permanently un-run: every later caller of
        // that key would block forever on a task nobody will execute
        try onEvict(task.get())
        catch { case scala.util.control.NonFatal(_) => () }
      }
  }

  private val m = new java.util.LinkedHashMap[K, Cell](8, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, Cell]): Boolean =
      if (size > max) {
        // order matters: mark evicted FIRST, then attempt the release —
        // if the build completes between the two, the builder's own
        // maybeRelease (which runs after completion) sees the flag
        e.getValue.evicted.set(true)
        e.getValue.maybeRelease()
        true
      } else false
  }

  def getOrBuild(k: K)(build: => V): V = {
    var mine: Cell = null
    val cell = m.synchronized {
      val hit = m.get(k)
      if (hit != null) { BoundedMemo.recordHit(); hit }
      else {
        mine = new Cell(() => build)
        m.put(k, mine)
        mine
      }
    }
    if (mine != null) mine.task.run() // outside the lock: distinct keys overlap
    val v =
      try cell.task.get()
      catch {
        case e: ExecutionException =>
          m.synchronized { if (m.get(k) eq cell) { m.remove(k); () } }
          throw e.getCause
      }
    // evicted while building: the evictor's maybeRelease saw !isDone,
    // so the builder must re-attempt; the CAS makes the pair run
    // onEvict exactly once whichever interleaving happens
    if (mine != null) mine.maybeRelease()
    v
  }
}
