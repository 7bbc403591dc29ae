package graft.api

import org.apache.spark.sql.SparkSession

/** Admission control for the routed front door's EXACT job-path
  * fallback — the deployment default for a service that cannot accept
  * approximate results (the [[SemanticSearch.IvfFallback]] knob's
  * counterpart; SCALE.md §round-14 records the measured trade).
  *
  * The problem it bounds: covered requests serve job-free from the
  * memory tier in ~ms, but an UNCOVERED request's exact fallback is a
  * full-scan Spark job (~1.5 s at the 10× corpus) whose tasks occupy
  * every core — a burst of them starves the covered traffic of CPU and
  * each other of scheduler slots. The gate:
  *
  *  - bounds concurrent fallback JOBS with a fair semaphore (burst
  *    requests beyond `maxConcurrent` queue in arrival order rather
  *    than multiplying task-slot pressure — queued fallbacks pay
  *    latency, covered traffic pays ~nothing);
  *  - runs each admitted job in the dedicated `pool` (declare it in
  *    the FAIR allocation file), so whatever fallback load IS admitted
  *    shares the cluster under FAIR weighting instead of FIFO-blocking
  *    jobs of other streams on the same thread.
  *
  * Use with [[SemanticSearch.searchRouted]]. A covered request needs no
  * permit: it does no Spark work ([[SemanticSearch.searchResponseJson]]
  * writes its bytes straight from the tier, and its routed frame is a
  * driver-local relation). An uncovered request (route bit `false`) is
  * collected inside [[admit]]. The scheduler-pool local property is saved
  * and restored around the body, so client threads keep their own pools
  * for subsequent covered work.
  */
final class FallbackGate(val pool: String = "graft-fallback",
                         val maxConcurrent: Int = 2) {
  require(maxConcurrent >= 1, s"maxConcurrent $maxConcurrent must be >= 1")

  private val permits =
    new java.util.concurrent.Semaphore(maxConcurrent, /*fair=*/ true)

  /** Currently queued (not yet admitted) fallbacks — a load-shedding
    * signal for callers that would rather refuse than queue.
    */
  def queueLength: Int = permits.getQueueLength

  /** Run `body` (typically the uncovered frame's collect) under a
    * fallback permit, in the gate's scheduler pool. Exceptions
    * propagate; the permit and the caller's pool property are always
    * restored.
    */
  def admit[T](spark: SparkSession)(body: => T): T = {
    permits.acquire()
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.scheduler.pool")
    sc.setLocalProperty("spark.scheduler.pool", pool)
    try body
    finally {
      sc.setLocalProperty("spark.scheduler.pool", prev)
      permits.release()
    }
  }
}
