package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch}

/** Compute-once memo for per-session staging: the landing-job state the
  * driver mains and the query registry stage once per JVM (fixture
  * tables, index builds, model state, corpus metadata), so a query pays
  * the build on its first invocation only and a median over repeat passes
  * times the read path the query's name claims.
  *
  * The contract, per key:
  *   - `compute` runs once per JVM;
  *   - a concurrent first touch blocks until that value exists, then gets
  *     it (or the same failure);
  *   - a failure is not memoized: the entry is removed and the exception
  *     rethrown, so the next call computes again;
  *   - `compute` may call other keys of this memo or other memos (each key
  *     has its own holder, so there is no map-wide lock to re-enter);
  *     re-entering its OWN key fails fast instead of deadlocking.
  *
  * Staged fixture directories are wiped on their first touch, so stale
  * disk state from an earlier run never leaks into results. The two
  * resumable stagings (the BM25 index and `ext_incr_gold`'s source) skip
  * the wipe and resume each idempotent sub-step instead.
  */
private[graft] final class Staged[V] {
  private val cells = new ConcurrentHashMap[String, Staged.Cell[V]]()

  def apply(key: String)(compute: => V): V = {
    val mine = new Staged.Cell[V]
    val prior = cells.putIfAbsent(key, mine)
    if (prior != null) prior.get
    else {
      val result =
        try Right(compute)
        catch { case t: Throwable => cells.remove(key, mine); Left(t) }
      mine.set(result)
      mine.get
    }
  }
}

private[graft] object Staged {
  private final class Cell[V] {
    private val owner = Thread.currentThread()
    private val done = new CountDownLatch(1)
    @volatile private var result: Either[Throwable, V] = _

    def set(r: Either[Throwable, V]): Unit = { result = r; done.countDown() }

    def get: V = {
      if (done.getCount > 0 && owner == Thread.currentThread())
        throw new IllegalStateException("staging re-entered its own key")
      done.await()
      result match {
        case Right(v) => v
        case Left(t) => throw t
      }
    }
  }
}
