package graft

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.ServerSocket

import graft.serve.FleetProtocol

/** A stub shard process for the pool/coordinator specs: speaks OpDense
  * (fixed k-truncated hit list) and OpReload (immediate ack, counted) —
  * enough protocol to exercise checkout, kill → redial → recovery, and
  * republish orchestration without spawning JVMs. `port0 = 0` binds an
  * ephemeral port; a "replacement process" binds the dead stub's port.
  */
final class FleetStubShard(hits: Seq[(Long, Double)], port0: Int = 0) {
  private val ss = new ServerSocket(port0)
  // `accepted` and `killed` change only under `lock`: a socket accepted
  // after kill() is closed by the acceptor instead of being served
  private val lock = new Object
  private val accepted = new java.util.ArrayList[java.net.Socket]()
  private var killed = false
  @volatile private var served = 0
  @volatile private var reloads = 0
  def port: Int = ss.getLocalPort
  def requestsServed: Int = served
  def reloadsServed: Int = reloads

  private val acceptor = new Thread(() => {
    try {
      while (true) {
        val sock = ss.accept()
        val live = lock.synchronized {
          if (!killed) accepted.add(sock)
          !killed
        }
        if (!live) {
          try sock.close() catch { case _: Throwable => () }
          throw new java.net.SocketException("killed")
        }
        val th = new Thread(() => {
          try {
            sock.setTcpNoDelay(true)
            val in = new DataInputStream(
              new BufferedInputStream(sock.getInputStream))
            val out = new DataOutputStream(
              new BufferedOutputStream(sock.getOutputStream))
            while (true) {
              in.readUnsignedByte() match {
                case FleetProtocol.OpDense =>
                  val k = in.readInt()
                  val nd = in.readInt()
                  (0 until nd).foreach(_ => in.readFloat())
                  served += 1
                  val give = hits.sortBy { case (id, s) => (-s, id) }.take(k)
                  out.writeInt(give.length)
                  give.foreach { case (id, s) =>
                    out.writeLong(id); out.writeDouble(s)
                  }
                  out.flush()
                case FleetProtocol.OpReload =>
                  reloads += 1
                  out.writeByte(1); out.flush()
                case other =>
                  throw new IllegalStateException(s"stub got op $other")
              }
            }
          } catch { case _: Throwable => () }
        })
        th.setDaemon(true)
        th.start()
      }
    } catch { case _: Throwable => () }
  })
  acceptor.setDaemon(true)
  acceptor.start()

  /** SIGKILL analog: close the listener and every accepted connection,
    * including one the acceptor returns from `accept()` during the kill.
    */
  def kill(): Unit = lock.synchronized {
    killed = true
    try ss.close() catch { case _: Throwable => () }
    accepted.forEach(s => try s.close() catch { case _: Throwable => () })
  }
}
