package graftbench

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.LockSupport

/** Raw record of one load phase: per request its scheduled send time,
  * actual start, end and outcome (nanoTime). `backlog` samples requests
  * sent but not finished, every 100 ms of the schedule.
  */
final class Phase(val name: String, n: Int) {
  val sched = new Array[Long](n)
  val disp = new Array[Long](n)
  val start = new Array[Long](n)
  val end = new Array[Long](n)
  val ok = new Array[Boolean](n)
  val tag = new Array[Int](n)
  var sent = 0
  var first = 0
  var t0 = 0L
  var t1 = 0L
  /** A closed loop's sending window (ns); it sent nothing after it. */
  var window = 0L
  val backlog = scala.collection.mutable.ArrayBuffer.empty[Int]

  def toJson: java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    def rel(a: Array[Long]) = java.util.Arrays.asList(
      a.take(sent).map(x => if (x == 0L) -1.0 else (x - t0) / 1e6).map(Double.box): _*)
    m.put("name", name); m.put("first", first); m.put("sent", sent); m.put("elapsed_ms", (t1 - t0) / 1e6)
    m.put("window_ms", (if (window > 0) window else t1 - t0) / 1e6)
    m.put("sched_ms", rel(sched)); m.put("disp_ms", rel(disp)); m.put("start_ms", rel(start)); m.put("end_ms", rel(end))
    m.put("ok", java.util.Arrays.asList(ok.take(sent).map(Boolean.box): _*))
    m.put("tag", java.util.Arrays.asList(tag.take(sent).map(Int.box): _*))
    m.put("backlog", java.util.Arrays.asList(backlog.map(Int.box).toSeq: _*))
    m
  }
}

object Load {

  /** Open loop: request i is due at t0 + i/rate whatever happened before
    * (independent users). Requests run on a pool of `threads` workers; a
    * request's latency counts from its due time, so a stall also delays
    * every request queued behind it. Requests still running `drainS`
    * seconds after the last send count as failed. The phase is preceded,
    * on the same workers and schedule, by `leadS` seconds of untimed
    * `lead` requests; `onStart` runs when the first timed one is due.
    */
  def open(name: String, rate: Double, seconds: Double, threads: Int,
           first: Int, drainS: Double, leadS: Double = 0.0, lead: Int => Unit = _ => (),
           onStart: () => Unit = () => ())(task: Int => (Boolean, Int)): Phase = {
    val n = math.max(1, (rate * seconds).toInt)
    val nLead = (rate * leadS).toInt
    val p = new Phase(name, n)
    p.first = first
    val pool = Executors.newFixedThreadPool(threads)
    val done = new CountDownLatch(n)
    val finished = new AtomicInteger(0)
    val period = 1e9 / rate
    val l0 = System.nanoTime() + 2000000L
    p.t0 = l0 + (nLead * period).toLong
    var nextSample = p.t0
    var k = 0
    while (k < nLead + n) {
      val due = l0 + (k * period).toLong
      var now = System.nanoTime()
      while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
      if (k < nLead) {
        val i = k
        pool.execute(() => try lead(i) catch { case _: Throwable => () })
      } else {
        if (k == nLead) { onStart(); now = System.nanoTime() }
        while (now >= nextSample) {
          p.backlog += p.sent - finished.get
          nextSample += 100000000L
        }
        val j = k - nLead
        p.sched(j) = due
        p.disp(j) = now
        pool.execute { () =>
          p.start(j) = System.nanoTime()
          try { val (ok, tag) = task(first + j); p.ok(j) = ok; p.tag(j) = tag }
          catch { case _: Throwable => p.ok(j) = false }
          p.end(j) = System.nanoTime()
          finished.incrementAndGet()
          done.countDown()
        }
        p.sent = j + 1
      }
      k += 1
    }
    done.await((drainS * 1e9).toLong, TimeUnit.NANOSECONDS)
    pool.shutdownNow()
    pool.awaitTermination(60, TimeUnit.SECONDS)
    p.t1 = System.nanoTime()
    p
  }

  /** Closed loop: `threads` clients, each sending its next request when
    * the previous one returns, until `seconds` have passed.
    */
  def closed(name: String, seconds: Double, threads: Int, first: Int,
             maxReq: Int)(task: Int => (Boolean, Int)): Phase = {
    val p = new Phase(name, maxReq)
    p.first = first
    val next = new AtomicInteger(0)
    p.t0 = System.nanoTime()
    p.window = (seconds * 1e9).toLong
    val deadline = p.t0 + p.window
    val clients = (0 until threads).map { _ =>
      val t = new Thread(() => {
        var j = 0
        while (System.nanoTime() < deadline && { j = next.getAndIncrement(); j < maxReq }) {
          p.start(j) = System.nanoTime()
          p.sched(j) = p.start(j)
          p.disp(j) = p.start(j)
          try { val (ok, tag) = task(first + j); p.ok(j) = ok; p.tag(j) = tag }
          catch { case _: Throwable => p.ok(j) = false }
          p.end(j) = System.nanoTime()
        }
      })
      t.start(); t
    }
    clients.foreach(_.join())
    p.sent = math.min(next.get, maxReq)
    p.t1 = System.nanoTime()
    p
  }

  /** One client running `passes` whole passes of `passLen` requests back
    * to back.
    */
  def passes(name: String, passes: Int, passLen: Int, first: Int)
            (task: Int => (Boolean, Int)): Phase = {
    val n = passLen * passes
    val p = new Phase(name, n)
    p.first = first
    p.t0 = System.nanoTime()
    (0 until n).foreach { j =>
      p.start(j) = System.nanoTime()
      p.sched(j) = p.start(j); p.disp(j) = p.start(j)
      try { val (ok, tag) = task(first + j); p.ok(j) = ok; p.tag(j) = tag }
      catch { case _: Throwable => p.ok(j) = false }
      p.end(j) = System.nanoTime()
      p.sent = j + 1
    }
    p.t1 = System.nanoTime()
    p
  }
}
