package graft.tools

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.net.{ServerSocket, Socket}

import graft.serve.{FleetProtocol, MemoryAnnIndex, MemoryPostingsIndex, MemorySparseIndex, Sharded}

/** ONE shard of the serving fleet, as a real separate process — the
  * r13 verdict's ask: the in-process [[graft.serve.Sharded]] rows
  * measure merge correctness, not deployment (shards walk sequentially
  * on shared cores, no RPC hop, no serialization); this server makes the
  * fleet projection a measurement. [[FleetBench]] spawns N of these
  * (plain JVMs, no Spark — the shard slices arrive as flat binary files
  * the parent wrote with [[writeShards]]), fans every query out over
  * persistent TCP connections, and merges k-bounded responses — so the
  * measured latency INCLUDES serialization, the socket hop, and the
  * max-over-shards tail.
  *
  * Protocol: [[graft.serve.FleetProtocol]] — the ONE opcode definition
  * this server shares with [[graft.serve.FleetClient]]. Per-shard work is
  * EXACTLY what the in-process shard objects do (same index classes, same
  * WAND walks), so fleet results stay bit-identical to the in-process
  * fan-out — FleetShardSpec pins it, and FleetBench cross-checks it
  * during warm-up.
  *
  * RELOAD (`OpReload`): the shard re-reads its three index files from the
  * work dir and swaps the serving snapshot atomically (one volatile
  * store) — the shard half of the fleet republish protocol. Requests on
  * OTHER connections keep serving throughout (each request reads the
  * snapshot once); the ack goes out AFTER the swap, so the coordinator's
  * ack receipt IS this shard's cutover instant.
  *
  * Usage: java -cp <classes+scala> graft.tools.FleetShardServer <workDir> <shardId> [port]
  * Binds `port` (or an ephemeral one when absent/0 — the first-launch
  * default) and prints "READY <port>" on stdout. A REPLACEMENT process
  * for a dead shard passes the dead shard's port explicitly, so the
  * coordinator's redial finds it at the address it already knows — the
  * failover contract FleetClientSpec pins with stub shards, here for
  * real processes (the churn row exercises it).
  */
object FleetShardServer {

  // ---- the shard-file format, written and read only here: per shard,
  // lex_shard_<i>.bin = avgdl, |idf|, (term, idf)*, |rows|, (term, id, tf, dl)*;
  // sparse_shard_<i>.bin = |rows|, (term, id, w)*;
  // dense_shard_<i>.bin = dim, |rows|, (id, float*dim)*

  private def file(workDir: String, kind: String, shard: Int): String =
    s"$workDir/${kind}_shard_$shard.bin"

  /** Write every shard's three index files into `workDir`, each table cut
    * by [[graft.serve.Sharded.slices]] — the in-process fan-out's rule, so
    * shard i's files hold exactly slice i. Every shard must own rows of
    * every table. `avgdl`/`idf` are the whole-corpus BM25 header each
    * shard scores with (recompute them over the surviving documents when
    * an amended publish drops some).
    */
  def writeShards(workDir: String, nShards: Int, avgdl: Double,
                  idf: Map[String, Double],
                  lex: Array[(String, (Long, Long, Long))],
                  sparse: Array[(String, (Long, Long))],
                  dense: Array[(Long, Seq[Float])]): Unit = {
    def slices[R](rows: Array[R])(id: R => Long): Seq[Array[R]] = {
      val sl = Sharded.slices(rows, nShards)(id)
      require(sl.length == nShards,
        s"only ${sl.length} of $nShards shards own rows — every shard needs a slice")
      sl
    }
    def write(path: String)(body: DataOutputStream => Unit): Unit = {
      val out = new DataOutputStream(new BufferedOutputStream(
        new java.io.FileOutputStream(path)))
      try body(out) finally out.close()
    }
    val dim = dense.head._2.length
    val lexSl = slices(lex)(_._2._1)
    val sparseSl = slices(sparse)(_._2._1)
    val denseSl = slices(dense)(_._1)
    (0 until nShards).foreach { sh =>
      write(file(workDir, "lex", sh)) { o =>
        o.writeDouble(avgdl)
        o.writeInt(idf.size)
        idf.foreach { case (t, w) => o.writeUTF(t); o.writeDouble(w) }
        o.writeInt(lexSl(sh).length)
        lexSl(sh).foreach { case (t, (id, tf, dl)) =>
          o.writeUTF(t); o.writeLong(id); o.writeLong(tf); o.writeLong(dl)
        }
      }
      write(file(workDir, "sparse", sh)) { o =>
        o.writeInt(sparseSl(sh).length)
        sparseSl(sh).foreach { case (t, (id, w)) =>
          o.writeUTF(t); o.writeLong(id); o.writeLong(w)
        }
      }
      write(file(workDir, "dense", sh)) { o =>
        o.writeInt(dim)
        o.writeInt(denseSl(sh).length)
        denseSl(sh).foreach { case (id, v) => o.writeLong(id); v.foreach(o.writeFloat) }
      }
    }
  }

  private def read[A](path: String)(body: DataInputStream => A): A = {
    val in = new DataInputStream(new BufferedInputStream(
      new java.io.FileInputStream(path)))
    try body(in) finally in.close()
  }

  private def loadLex(path: String): MemoryPostingsIndex = read(path) { in =>
    val avgdl = in.readDouble()
    val idf = Seq.fill(in.readInt())(in.readUTF() -> in.readDouble()).toMap
    val rows = Array.fill(in.readInt())(
      (in.readUTF(), (in.readLong(), in.readLong(), in.readLong())))
    MemoryPostingsIndex.fromRows(rows, idf, avgdl)
  }

  private def loadSparse(path: String): MemorySparseIndex = read(path) { in =>
    MemorySparseIndex.fromRows(
      Array.fill(in.readInt())((in.readUTF(), (in.readLong(), in.readLong()))))
  }

  private def loadDense(path: String): MemoryAnnIndex = read(path) { in =>
    val dim = in.readInt()
    val rows = IndexedSeq.fill(in.readInt()) {
      val id = in.readLong()
      (id, Array.fill(dim)(in.readFloat()).toSeq, 0)
    }
    // single cell: the flat exact scan (topK scans all cells)
    MemoryAnnIndex.fromRows(rows, centroids = Seq(rows.head._2))
  }

  /** Start shard `shard`'s process on this JVM's classpath
    * (`java -cp <java.class.path>`), serving `workDir`'s files on `port`
    * (0 = ephemeral). `prefix` runs before `java` (e.g. a `taskset` pin).
    */
  def start(workDir: String, shard: Int, port: Int = 0,
            prefix: Seq[String] = Nil): Process = {
    val pb = new ProcessBuilder((prefix ++ Seq("java", "-Xmx2g", "-cp",
      System.getProperty("java.class.path"), "graft.tools.FleetShardServer",
      workDir, shard.toString, port.toString)): _*)
    pb.redirectErrorStream(true)
    pb.start()
  }

  /** The port from a started shard's `READY <port>` line, or None when
    * it exited first. Its output keeps draining on a daemon thread, so
    * the child never blocks on a full stdout pipe.
    */
  def awaitReady(p: Process): Option[Int] = {
    val br = new java.io.BufferedReader(
      new java.io.InputStreamReader(p.getInputStream))
    var line = br.readLine()
    while (line != null && !line.startsWith("READY ")) line = br.readLine()
    Option(line).map { l =>
      val drainer = new Thread(() => {
        try { while (br.readLine() != null) () } catch { case _: Throwable => () }
      })
      drainer.setDaemon(true); drainer.start()
      l.drop("READY ".length).trim.toInt
    }
  }

  /** The immutable serving snapshot one reload swaps wholesale. */
  private final case class Indexes(lex: MemoryPostingsIndex,
                                   sparse: MemorySparseIndex,
                                   dense: MemoryAnnIndex)

  def main(args: Array[String]): Unit = {
    import FleetProtocol._
    val Array(workDir, shardIdS) = args.take(2)
    val shardId = shardIdS.toInt
    def loadAll(): Indexes = Indexes(
      loadLex(file(workDir, "lex", shardId)),
      loadSparse(file(workDir, "sparse", shardId)),
      loadDense(file(workDir, "dense", shardId)))
    // the serving snapshot: requests read it ONCE per frame; OpReload
    // swaps it with a single volatile store (readers mid-request keep
    // the old immutable snapshot — the ServingIndex rule)
    @volatile var indexes: Indexes = loadAll()
    val port0 = if (args.length >= 3) args(2).toInt else 0
    val ss = new ServerSocket(port0, 128)
    // the parent parses this line for the ephemeral port
    println(s"READY ${ss.getLocalPort}")
    System.out.flush()

    def writeList(out: DataOutputStream, xs: Seq[(Long, Double)]): Unit = {
      out.writeInt(xs.length)
      xs.foreach { case (id, s) => out.writeLong(id); out.writeDouble(s) }
    }

    def serve(sock: Socket): Unit = {
      sock.setTcpNoDelay(true)
      val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
      val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
      try {
        while (true) {
          val op = in.readUnsignedByte()
          val idx = indexes
          op match {
            case OpLex =>
              val k = in.readInt()
              val terms = Seq.fill(in.readInt())(in.readUTF())
              writeList(out, idx.lex.searchWand(terms, k))
            case OpSparse =>
              val k = in.readInt()
              val q = Seq.fill(in.readInt())(in.readUTF() -> in.readLong()).toMap
              val hits = idx.sparse.topKWand(q, k)
              out.writeInt(hits.length)
              hits.foreach { case (id, s) => out.writeLong(id); out.writeLong(s) }
            case OpDense =>
              val k = in.readInt()
              val qv = Seq.fill(in.readInt())(in.readFloat())
              writeList(out, idx.dense.topK(qv, k))
            case OpHybrid =>
              val poolK = in.readInt()
              val qv = Seq.fill(in.readInt())(in.readFloat())
              val terms = Seq.fill(in.readInt())(in.readUTF())
              writeList(out, idx.dense.topK(qv, poolK))
              writeList(out, idx.lex.searchWand(terms, poolK))
            case OpReload =>
              // load FIRST, swap, then ack: the ack is the cutover
              indexes = loadAll()
              out.writeByte(1)
            case OpShutdown =>
              out.flush(); sock.close(); System.exit(0)
            case other =>
              throw new IllegalStateException(s"unknown op $other")
          }
          out.flush()
        }
      } catch {
        case _: EOFException => sock.close() // client hung up: done
        case e: java.net.SocketException =>
          sock.close()
          System.err.println(s"[shard $shardId] ${e.getMessage}")
        case scala.util.control.NonFatal(e) =>
          // protocol desync (unknown op, mid-frame read): CLOSE the
          // socket so the client fails loudly on its next read instead
          // of blocking forever on a dead serve thread.
          try sock.close() catch { case scala.util.control.NonFatal(_) => () }
          System.err.println(s"[shard $shardId] serve thread died: $e")
        case fatal: Throwable =>
          // FATAL JVM error (OOM, stack overflow): an uncaught Error on
          // a serve THREAD only kills that thread — the JVM would keep
          // serving other connections from a possibly corrupted heap,
          // and this connection's open socket would block the client to
          // its read timeout (ADVICE r15). halt(1) kills the PROCESS
          // (no finalizers/hooks that could touch the bad heap); the OS
          // closes every socket, so all clients fail fast and the
          // coordinator's redial/backoff takes over.
          System.err.println(s"[shard $shardId] FATAL, halting: $fatal")
          Runtime.getRuntime.halt(1)
      }
    }

    while (true) {
      val sock = ss.accept()
      val t = new Thread(() => serve(sock))
      t.setDaemon(true)
      t.start()
    }
  }
}
