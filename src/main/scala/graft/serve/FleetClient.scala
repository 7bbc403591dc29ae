package graft.serve

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, IOException}
import java.net.{InetSocketAddress, Socket}

import graft.operators.Bm25

/** The shard-fleet wire protocol's opcodes — ONE definition shared by the
  * client below and the shard process ([[graft.tools.FleetShardServer]]),
  * so the two ends cannot drift. Frames are DataInput/DataOutput over one
  * persistent connection, request → response, client-paced:
  *
  *   OpLex:     int k, int nTerms, UTF*            → int n, (long id, double score)*
  *   OpSparse:  int k, int n, (UTF term, long w)*  → int n, (long id, long score)*
  *   OpDense:   int k, int dim, float*             → int n, (long id, double score)*
  *   OpHybrid:  int poolK, int dim, float*,
  *              int nTerms, UTF*                   → dense list + lex list
  *   OpReload:  (no payload) — shard re-loads its index files from its
  *              work dir and swaps atomically → byte 1 ack (sent AFTER
  *              the swap, so the ack IS the per-shard cutover point)
  *   OpShutdown: exit the shard process.
  */
object FleetProtocol {
  val OpLex = 0
  val OpSparse = 1
  val OpDense = 2
  val OpHybrid = 3
  val OpReload = 4
  val OpShutdown = 255
}

/** One coordinator's persistent connections to every shard of the serving
  * fleet — the client half of the multi-process deployment
  * ([[graft.tools.FleetShardServer]] is the shard half). Fan-out writes
  * the request to every live shard first (they compute concurrently),
  * then reads responses — the blocking-socket realization of parallel
  * fan-out, total wait ≈ max over shards. NOT thread-safe: one client per
  * request thread (connections are stateful request/response streams).
  *
  * FAILURE SEMANTICS (pinned; FleetClientSpec proves them): the fleet
  * serves PARTIAL RESULTS rather than hanging or failing the request.
  *
  *  - Every socket carries `timeoutMs` as its read timeout, so a hung or
  *    dead shard costs at most one timeout — never a block-forever read
  *    (the round-14 client would wait on a dead socket indefinitely).
  *  - A shard whose write or read throws (timeout, reset, EOF) is marked
  *    DEAD for this client and skipped by every subsequent fan-out; the
  *    in-flight request continues with the answering shards.
  *  - The merged result is then the EXACT top-k over the live shards'
  *    slices — a correct answer over the reachable partition of the
  *    corpus (shards are disjoint id-hash slices), not a silently wrong
  *    one: [[liveShards]]/[[nShards]] expose the degradation so a caller
  *    can refuse, retry elsewhere, or serve with a coverage disclaimer.
  *  - Only when NO shard answers does a request fail (IllegalStateException)
  *    — there is no corpus left to serve.
  *
  * RECOVERY: [[redial]] re-establishes a dead shard's connection (a
  * replacement process on the same address, or the same process after a
  * transient hang) — the coordinator's backoff timer calls it; on
  * success the shard rejoins every subsequent fan-out and the merge is
  * whole again. WHEN to call it is deployment policy; WHAT it restores
  * (full-coverage exactness) is pinned here and in FleetClientSpec.
  */
final class FleetClient(ports: Seq[Int], host: String = "127.0.0.1",
                        timeoutMs: Int = 2000) {
  import FleetProtocol._

  require(ports.nonEmpty, "FleetClient needs at least one shard port")

  private final class Conn(val port: Int) {
    val sock = new Socket()
    sock.connect(new InetSocketAddress(host, port), timeoutMs)
    sock.setTcpNoDelay(true)
    sock.setSoTimeout(timeoutMs)
    val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
    var dead = false
    def kill(): Unit = {
      dead = true
      try sock.close() catch { case _: IOException => () }
    }
  }

  private val conns: Array[Conn] = ports.map(new Conn(_)).toArray

  def nShards: Int = conns.length

  /** Shards this client can currently reach. */
  def liveShards: Int = conns.count(!_.dead)

  /** Whether THIS client's connection to `shard` is live — the health
    * surface [[FleetCoordinator]]'s loop and [[FleetDoor.healIdle]] read
    * to decide which shards need a redial.
    */
  def shardLive(shard: Int): Boolean = !conns(shard).dead

  /** Re-establish the connection to shard `shard` — the recovery half of
    * the degraded mode (class doc). Replaces the connection wholesale
    * (any half-written frame on the old socket dies with it, so the new
    * stream starts clean). Returns true iff the dial succeeded; false
    * leaves the shard dead and the client serving partial results as
    * before. Not thread-safe, like every other method here: one client
    * per request thread.
    */
  def redial(shard: Int): Boolean = {
    conns(shard).kill()
    try { conns(shard) = new Conn(ports(shard)); true }
    catch { case _: IOException => false }
  }

  /** Fan `write` out to every live shard, then `read` each one back;
    * failures mark the shard dead and drop its leg. Returns the live
    * legs' results; throws iff none answered.
    */
  private def fanOut[A](write: DataOutputStream => Unit,
                        read: DataInputStream => A): Seq[A] = {
    val targets = conns.filter(!_.dead).toSeq
    targets.foreach { c =>
      try { write(c.out); c.out.flush() }
      catch { case _: IOException => c.kill() }
    }
    val answers = targets.flatMap { c =>
      if (c.dead) None
      else try Some(read(c.in))
      catch { case _: IOException => c.kill(); None }
    }
    if (answers.isEmpty)
      throw new IllegalStateException(
        s"no shard answered (0/${conns.size} live) — fleet unreachable")
    answers
  }

  private def readList(in: DataInputStream): Seq[(Long, Double)] =
    Seq.fill(in.readInt())((in.readLong(), in.readDouble()))

  /** BM25 top-k over the fleet (k-bounded per-shard WAND, merged under
    * the global (score DESC, id ASC) rule — exact over live shards).
    */
  def lex(terms: Seq[String], k: Int): Seq[(Long, Double)] =
    TopK.merge(fanOut(
      { out =>
        out.writeByte(OpLex); out.writeInt(k); out.writeInt(terms.length)
        terms.foreach(out.writeUTF)
      },
      readList), k)

  /** Dense cosine top-k over the fleet. */
  def dense(qv: Seq[Float], k: Int): Seq[(Long, Double)] =
    TopK.merge(fanOut(
      { out =>
        out.writeByte(OpDense); out.writeInt(k); out.writeInt(qv.length)
        qv.foreach(out.writeFloat)
      },
      readList), k)

  /** Learned-sparse integer top-k over the fleet. */
  def sparse(q: Map[String, Long], k: Int): Seq[(Long, Long)] =
    TopK.mergeLong(fanOut(
      { out =>
        out.writeByte(OpSparse); out.writeInt(k); out.writeInt(q.size)
        q.foreach { case (t, w) => out.writeUTF(t); out.writeLong(w) }
      },
      in => Seq.fill(in.readInt())((in.readLong(), in.readLong()))), k)

  /** Hybrid request over the fleet: both legs fan out in ONE frame per
    * shard, merge to poolK per leg, RRF-fuse locally — the
    * [[ShardedHybridServer]] fold exactly.
    */
  def hybrid(qv: Seq[Float], terms: Seq[String], k: Int,
             poolK: Int, c: Int = 60): Seq[(Long, Double)] = {
    val per = fanOut(
      { out =>
        out.writeByte(OpHybrid); out.writeInt(poolK); out.writeInt(qv.length)
        qv.foreach(out.writeFloat); out.writeInt(terms.length)
        terms.foreach(out.writeUTF)
      },
      in => (readList(in), readList(in)))
    val d = TopK.merge(per.map(_._1), poolK)
      .zipWithIndex.map { case ((id, _), i) => (id, i + 1) }
    val l = TopK.merge(per.map(_._2), poolK)
      .zipWithIndex.map { case ((id, _), i) => (id, i + 1) }
    Bm25.rrfFuseLocal(Seq(d, l), c, k)
  }

  /** Dense top-k against ONE shard — the republish probe's per-shard
    * check ("the purged doc is unservable from EVERY shard").
    */
  def denseOn(shard: Int, qv: Seq[Float], k: Int): Seq[(Long, Double)] = {
    val c = conns(shard)
    require(!c.dead, s"shard $shard is marked dead")
    // Mark-dead on IO failure, like fanOut: a read timeout leaves the
    // late response buffered in the stream, and a caller that catches and
    // reuses the connection would read those stale bytes as the NEXT
    // response — silently wrong ids under pinned-exactness semantics
    // (ADVICE r15). kill() + redial() is the only safe resume.
    try {
      c.out.writeByte(OpDense); c.out.writeInt(k); c.out.writeInt(qv.length)
      qv.foreach(c.out.writeFloat); c.out.flush()
      readList(c.in)
    } catch { case e: IOException => c.kill(); throw e }
  }

  /** Tell ONE shard to reload its index files and swap; returns once the
    * shard acks — the ack is that shard's cutover instant, so a staggered
    * fleet republish is `(0 until n).map(reload)` and the fleet-wide
    * staleness window is last-ack − first-send. Reload uses a LONGER
    * timeout (the swap re-reads the whole slice from disk).
    */
  def reload(shard: Int, reloadTimeoutMs: Int = 60000): Unit = {
    val c = conns(shard)
    require(!c.dead, s"shard $shard is marked dead")
    c.sock.setSoTimeout(reloadTimeoutMs)
    // Same mark-dead rule as denseOn/fanOut: an IO failure mid-reload
    // leaves the stream position unknown (the ack may arrive later), so
    // the connection must not be reused — kill it and let redial()
    // restore the shard (ADVICE r15).
    try {
      try {
        c.out.writeByte(OpReload); c.out.flush()
        val ack = c.in.readByte()
        require(ack == 1.toByte, s"shard $shard reload ack $ack")
      } catch { case e: IOException => c.kill(); throw e }
    } finally if (!c.dead) c.sock.setSoTimeout(timeoutMs)
  }

  /** Orderly fleet shutdown (each live shard process exits). */
  def shutdown(): Unit = conns.foreach { c =>
    if (!c.dead) {
      try { c.out.writeByte(OpShutdown); c.out.flush() }
      catch { case _: IOException => () }
      c.kill()
    }
  }

  def close(): Unit = conns.foreach(_.kill())
}

/** The FLEET as a routed-front-door serving tier — what lets the real
  * [[graft.api.SemanticSearch]] front door (JSON parse → coverage route →
  * serve/fallback → stringify) run its covered path over shard PROCESSES
  * instead of an in-process array: same door, same route decision, the
  * dense scoring fans out over TCP. Coverage is deliberately NARROWER
  * than [[MemoryServer]]'s: the shard protocol ships no filter predicate,
  * so only UNFILTERED requests route here — a filtered request reads as
  * uncovered and takes the door's documented fallback (gate-admitted
  * exact job, or shed). Metadata columns for response assembly come from
  * the coordinator's own loaded copy (`meta`), the way a fleet
  * coordinator holds doc metadata while shards hold vectors.
  *
  * Results on the covered path are bit-identical to an in-process exact
  * server over the same rows (FleetBench REQUIRES it at warm-up): each
  * shard runs the same scan fold, the disjoint-slice merge is exact, and
  * the door stringifies the same way.
  */
/** The fleet as the HYBRID door's serving tier: one [[FleetProtocol
  * .OpHybrid]] frame per shard carries both legs, the client merges each
  * leg to poolK and RRF-fuses locally — [[FleetClient.hybrid]] replays
  * [[ShardedHybridServer]]'s fold exactly, so the door's results stay
  * bit-identical to the in-process fan-out (FleetBench REQUIRES it).
  */
final class FleetHybridTier(client: FleetClient) extends HybridTier {
  def searchHybrid(qvec: Seq[Float], terms: Seq[String], k: Int,
                   poolK: Int = 20, c: Int = 60): Seq[(Long, Double)] =
    client.hybrid(qvec, terms, k, poolK, c)
}

final class FleetTier(client: FleetClient,
                      meta: Option[MemoryAnnIndex] = None)
  extends ServingTier {

  def servesExactDense: Boolean = true

  def metaColumns: Set[String] = meta.map(_.metaColumns).getOrElse(Set.empty)

  def metaString(colName: String, id: Long): String =
    meta.map(_.metaString(colName, id)).getOrElse(
      sys.error(s"FleetTier has no coordinator metadata for '$colName'"))

  /** Only the absent/null filter parses — anything else routes to the
    * door's fallback (see the class doc).
    */
  def tryParseFilter(node: com.fasterxml.jackson.databind.JsonNode)
      : Option[Seq[Seq[MetaFilter]]] =
    if (node == null || node.isNull) Some(Seq(Nil)) else None

  def topKVecDnf(qvec: Seq[Float], k: Int,
                 dnf: Seq[Seq[MetaFilter]]): Seq[(Long, Double)] = {
    require(dnf == Seq(Nil),
      "FleetTier serves unfiltered requests only (tryParseFilter gates this)")
    client.dense(qvec, k)
  }
}
