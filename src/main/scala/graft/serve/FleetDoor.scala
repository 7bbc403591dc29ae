package graft.serve

import java.util.concurrent.{ArrayBlockingQueue, TimeUnit}

/** A bounded pool of [[FleetClient]]s — what makes the fleet safe behind
  * a CONCURRENT front door. [[FleetClient]] is documented NOT
  * thread-safe (its connections are stateful request/response streams),
  * so a real server loop cannot share one client across request
  * threads; FleetBench's answer was one client per thread, which a
  * deployment can't do (threads churn; shard sockets are finite). This
  * pool is the deployment form: N clients dialed up front, bounded
  * blocking checkout per request, so at most `poolSize` requests are
  * in flight against the shards and every request runs on a client no
  * other thread touches — the not-thread-safe contract is preserved
  * per-client while the DOOR becomes thread-safe (FleetDoorSpec hammers
  * it from 32 threads and requires bit-identity with a solo client).
  *
  * Checkout that outwaits `checkoutTimeoutMs` throws — the pool is an
  * admission bound, the same shed-don't-queue doctrine as
  * [[graft.api.FallbackGate]]: unbounded waiters would just move the
  * overload into an invisible queue.
  *
  * A client whose request threw returns to the pool anyway: its failure
  * semantics are per-shard (mark-dead + partial results, the
  * [[FleetClient]] class doc), so it still serves the live shards.
  * [[healIdle]] is how dead shards get mended — called by
  * [[FleetCoordinator]]'s health loop when a redial on the control
  * plane proves the shard is back; it fixes the clients sitting IN the
  * pool, and clients checked out during a heal get mended on a later
  * tick (the loop runs until every client agrees).
  */
final class FleetDoor(ports: Seq[Int], val poolSize: Int,
                      host: String = "127.0.0.1", timeoutMs: Int = 2000,
                      checkoutTimeoutMs: Int = 10000) extends AutoCloseable {
  require(poolSize >= 1, s"poolSize $poolSize must be >= 1")

  private val all: Seq[FleetClient] =
    (0 until poolSize).map(_ => new FleetClient(ports, host, timeoutMs))
  private val idle = new ArrayBlockingQueue[FleetClient](poolSize)
  all.foreach(idle.put)
  @volatile private var closed = false

  def nShards: Int = all.head.nShards

  /** Check a client out (blocking, bounded), run `f`, return it. The
    * client is exclusively this thread's for the duration — the
    * [[FleetClient]] thread-affinity contract.
    */
  def withClient[A](f: FleetClient => A): A = {
    if (closed) throw new IllegalStateException("FleetDoor is closed")
    val c = idle.poll(checkoutTimeoutMs, TimeUnit.MILLISECONDS)
    if (c == null) throw new IllegalStateException(
      s"no fleet client available within $checkoutTimeoutMs ms " +
        s"(pool of $poolSize exhausted) — shed the request")
    try f(c)
    finally if (!closed) idle.put(c)
  }

  /** True iff ANY pooled client has `shard` marked dead — the health
    * surface the coordinator polls. Reads are racy-but-safe (a stale
    * read just delays the heal one tick).
    */
  def anyDead(shard: Int): Boolean = all.exists(!_.shardLive(shard))

  /** Worst-case live-shard count across the pool (degradation metric). */
  def minLiveShards: Int = all.map(_.liveShards).min

  /** Redial `shard` on every client currently sitting idle in the pool;
    * returns how many clients were mended. Each client is held out of
    * the pool only for its own dial, so concurrent checkouts keep
    * flowing; checked-out clients are caught on a later tick.
    */
  def healIdle(shard: Int): Int = {
    // drain the currently-idle clients once (no client inspected twice),
    // heal, put back — the hold is one dial per dead conn, and the
    // caller (the coordinator) only heals after the control plane
    // proved the shard answers, so the dials are fast
    val held = new java.util.ArrayList[FleetClient](poolSize)
    var c = idle.poll()
    while (c != null) { held.add(c); c = idle.poll() }
    var healed = 0
    held.forEach { cl =>
      if (!cl.shardLive(shard) && cl.redial(shard)) healed += 1
    }
    held.forEach(idle.put)
    healed
  }

  def close(): Unit = {
    closed = true
    all.foreach(_.close())
  }
}
