package graft.catalog

import java.util.concurrent.ConcurrentHashMap

import scala.concurrent.{Await, Promise}
import scala.concurrent.duration.Duration

/** Single-flight memo for per-directory model artifacts (BPE merges, the
  * unigram vocabulary, connected-component labels, graph scores): the
  * first caller of a key builds it, concurrent callers of the same key
  * wait for that build, so a key is built once however many queries race
  * for it. The build runs outside any map lock, so it may itself resolve
  * another key of the same memo (g1's scores build the shared trade-graph
  * edges). A failed build is not cached: its waiters see the failure and
  * the next call builds again. No eviction — entries live as long as the
  * memo. */
private[graft] final class Memo[K, V] {
  private val cells = new ConcurrentHashMap[K, Promise[V]]()

  def apply(key: K)(build: => V): V = {
    val mine = Promise[V]()
    val cell = cells.putIfAbsent(key, mine)
    if (cell != null) Await.result(cell.future, Duration.Inf)
    else
      try {
        val v = build
        mine.success(v)
        v
      } catch { case e: Throwable =>
        cells.remove(key, mine)
        mine.failure(e)
        throw e
      }
  }
}
