package graft.api

import java.util.concurrent.{CompletableFuture, CompletionException}

/** App-layer LRU result cache with TTL — the reference's prescribed
  * "cache identical queries for 5-10 minutes"
  * (`/root/reference/02_method2_manual_vector_embedding.sql:415-417`,
  * `:435`). Keys are normalized request strings; values are materialized
  * response payloads (never DataFrames — plans are cheap, results are what
  * the SLO pays for). `clock` injectable for tests.
  *
  * Single-flight: `compute` runs outside the lock, with at most one
  * in-flight compute per key, so a hit never waits on another key's miss.
  * A request that joins a key's in-flight compute waits for it and counts
  * as a hit. A failed compute is not cached; its exception reaches every
  * request that joined it.
  */
final class ResultCache[V](maxEntries: Int = 1024,
                           ttlMillis: Long = 10 * 60 * 1000L,
                           clock: () => Long = () => System.currentTimeMillis()) {

  // an entry is in flight until its future completes; `at` is when its
  // compute started
  private case class Entry(value: CompletableFuture[V], at: Long)

  private val map = new java.util.LinkedHashMap[String, Entry](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, Entry]): Boolean =
      size() > maxEntries
  }

  private var hitCount = 0L
  private var missCount = 0L

  def getOrCompute(key: String)(compute: => V): V = {
    val mine = new CompletableFuture[V]()
    val entry = synchronized {
      val now = clock()
      val e = map.get(key)
      if (e != null && (!e.value.isDone || now - e.at <= ttlMillis)) {
        hitCount += 1
        e
      } else {
        missCount += 1
        val fresh = Entry(mine, now)
        map.put(key, fresh)
        fresh
      }
    }
    if (entry.value eq mine)
      try mine.complete(compute)
      catch { case t: Throwable =>
        synchronized(map.remove(key, entry))
        mine.completeExceptionally(t)
        throw t
      }
    try entry.value.join()
    catch { case e: CompletionException => throw e.getCause }
  }

  def hits: Long = synchronized(hitCount)
  def misses: Long = synchronized(missCount)
  def size: Int = synchronized(map.size())
}

/** Cache-fronted Method-1 search endpoint: identical request JSON within the
  * TTL returns the memoized stringified response without running a job.
  */
final class CachedSearch(search: SemanticSearch,
                         cache: ResultCache[String] = new ResultCache[String]()) {
  def searchResponseJson(requestJson: String): String =
    cache.getOrCompute(requestJson.trim)(search.searchResponseJson(requestJson))
}
