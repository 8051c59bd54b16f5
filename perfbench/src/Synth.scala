package graftbench

import scala.collection.mutable.ArrayBuffer

/** One call of a synthetic trace: an Enter/Leave pair on one process. */
final case class Call(id: Int, proc: Int, name: String, start: Long,
                      end: Long, parent: Int, depth: Int, path: String) {
  def inc: Long = end - start
}

/** One point-to-point message: an MpiSend instant on `sender` and an
  * MpiRecv instant on `receiver`. */
final case class Msg(sender: Int, receiver: Int, bytes: Long,
                     sendTs: Long, recvTs: Long)

/** A synthetic MPI trace built in plain Scala, with its ground truth.
  *
  * Timestamps are `tick * nProcs + proc`, so every event's timestamp is
  * unique across the whole trace and the dense-id order ("timestamp
  * order") is unambiguous. Every Enter has its Leave (balanced). */
final class SynthTrace(val nProcs: Int, val calls: IndexedSeq[Call],
                       val msgs: IndexedSeq[Msg], val loopName: String,
                       val loopIters: Int) {

  /** Exclusive time of each call: inclusive minus its direct children's
    * inclusive time. */
  lazy val exc: Array[Long] = {
    val e = calls.map(_.inc).toArray
    calls.foreach(c => if (c.parent >= 0) e(c.parent) -= c.inc)
    e
  }

  /** Every event as (ts, eventType, name, proc, receiver or -1,
    * msgLength or -1, sender or -1), sorted by timestamp — the position
    * in this array is the expected dense `event_id`. */
  lazy val events: IndexedSeq[Synth.Ev] = {
    val b = ArrayBuffer[Synth.Ev]()
    calls.foreach { c =>
      b += Synth.Ev(c.start, "Enter", c.name, c.proc, -1, -1L, -1)
      b += Synth.Ev(c.end, "Leave", c.name, c.proc, -1, -1L, -1)
    }
    msgs.foreach { m =>
      b += Synth.Ev(m.sendTs, "Instant", "MpiSend", m.sender, m.receiver, m.bytes, -1)
      b += Synth.Ev(m.recvTs, "Instant", "MpiRecv", m.receiver, -1, m.bytes, m.sender)
    }
    b.sortBy(_.ts).toIndexedSeq
  }

  /** Order checksum of (event_id, timestamp): Σ (id + 1) · (ts mod p). */
  def orderChecksum: Long = {
    var s = 0L
    var i = 0
    while (i < events.length) {
      s += (i + 1L) * (events(i).ts % Synth.ChecksumPrime); i += 1
    }
    s
  }

  /** name → (calls, Σ inclusive, Σ exclusive). */
  lazy val byName: Map[String, (Long, Long, Long)] =
    calls.indices.groupBy(i => calls(i).name).map { case (n, is) =>
      n -> ((is.size.toLong, is.map(calls(_).inc).sum, is.map(exc(_)).sum))
    }

  /** (name, proc) → Σ exclusive. */
  lazy val excByNameProc: Map[(String, Int), Long] =
    calls.indices.groupBy(i => (calls(i).name, calls(i).proc))
      .map { case (k, is) => k -> is.map(exc(_)).sum }

  /** flat_profile: name → mean over the processes having the function of
    * that process's Σ exclusive. Per-process sums are exact integers far
    * below 2^53, so the double mean is exact-order-independent. */
  lazy val flatProfile: Map[String, Double] =
    excByNameProc.groupBy(_._1._1).map { case (n, m) =>
      n -> m.values.map(_.toDouble).sum / m.size
    }

  /** load_imbalance with one top process: name → (max/mean, mean, top
    * process; ties to the highest process id). */
  lazy val loadImbalance: Map[String, (Double, Double, Int)] =
    excByNameProc.groupBy(_._1._1).map { case (n, m) =>
      val mean = m.values.map(_.toDouble).sum / m.size
      val top = m.toSeq.map { case ((_, p), v) => (v, p) }.max
      n -> ((top._1.toDouble / mean, mean, top._2))
    }

  /** (sender, receiver) → (Σ bytes, messages). */
  lazy val commMatrix: Map[(Int, Int), (Long, Long)] =
    msgs.groupBy(m => (m.sender, m.receiver))
      .map { case (k, ms) => k -> ((ms.map(_.bytes).sum, ms.size.toLong)) }

  /** message_histogram counts per bin, numpy semantics (last bin closed). */
  def messageHistogram(bins: Int): IndexedSeq[Long] = {
    val sz = msgs.map(_.bytes.toDouble)
    val (lo0, hi0) = (sz.min, sz.max)
    val (lo, hi) = if (hi0 == lo0) (lo0 - 0.5, hi0 + 0.5) else (lo0, hi0)
    val counts = new Array[Long](bins)
    sz.foreach { s =>
      counts(math.min(math.floor((s - lo) / ((hi - lo) / bins)).toLong,
        bins - 1L).toInt) += 1
    }
    counts.toIndexedSeq
  }

  /** (callee, caller or "<root>") → (calls, Σ exclusive). */
  lazy val callers: Map[(String, String), (Long, Long)] =
    calls.indices.groupBy { i =>
      val c = calls(i)
      (c.name, if (c.parent < 0) "<root>" else calls(c.parent).name)
    }.map { case (k, is) => k -> ((is.size.toLong, is.map(exc(_)).sum)) }

  /** calling-context path → (calls, own Σ exclusive, subtree Σ exclusive). */
  lazy val cctRollup: Map[String, (Long, Long, Long)] = {
    val own = calls.indices.groupBy(i => calls(i).path)
      .map { case (p, is) => p -> ((is.size.toLong, is.map(exc(_)).sum)) }
    own.map { case (p, (n, e)) =>
      val sub = own.collect {
        case (q, (_, qe)) if q == p || q.startsWith(p + "->") => qe
      }.sum
      p -> ((n, e, sub))
    }
  }
}

object Synth {
  final case class Ev(ts: Long, eventType: String, name: String, proc: Int,
                      receiver: Int, msgLength: Long, sender: Int)

  val ChecksumPrime = 1000003L

  /** Builds the calls of one process with a local tick clock. */
  private final class ProcBuilder(val proc: Int, nProcs: Int,
                                  calls: ArrayBuffer[Call],
                                  rnd: java.util.Random) {
    var tick = 0L
    private var stack = List.empty[(Int, String)] // (call index, path)
    def ts: Long = tick * nProcs + proc
    def advance(lo: Int, span: Int): Unit = tick += lo + rnd.nextInt(span)
    def call(name: String, lo: Int = 1, span: Int = 3)(body: => Unit): Unit = {
      advance(lo, span)
      val start = ts
      val id = calls.length
      val (parent, path) = stack.headOption match {
        case Some((p, pp)) => (p, pp + "->" + name)
        case None => (-1, name)
      }
      calls += Call(id, proc, name, start, -1L, parent, stack.length, path)
      stack = (id, path) :: stack
      body
      advance(lo, span)
      stack = stack.tail
      calls(id) = calls(id).copy(end = ts)
    }
    /** A timestamp for an instant inside the current call. */
    def instant(): Long = { advance(1, 2); ts }
  }

  /** Rotating point-to-point pattern: in round `i` rank `s` sends to
    * `partner(i, s)` and receives from `source(i, s)`. */
  private def partner(n: Int, i: Int, s: Int): Int = (s + 1 + i % (n - 1)) % n
  private def source(n: Int, i: Int, r: Int): Int =
    ((r - 1 - i % (n - 1)) % n + n) % n

  /** `sends` and `recvs` are keyed by (round, sender). */
  private def assemble(nProcs: Int, calls: ArrayBuffer[Call],
                       sends: collection.Map[(Int, Int), Long],
                       recvs: collection.Map[(Int, Int), Long],
                       sizes: Map[(Int, Int), Long],
                       loopName: String, loopIters: Int): SynthTrace = {
    val msgs = sends.toSeq.sorted.map { case ((i, s), sendTs) =>
      Msg(s, partner(nProcs, i, s), sizes((i, s)), sendTs, recvs((i, s)))
    }
    new SynthTrace(nProcs, calls.toIndexedSeq, msgs.toIndexedSeq, loopName, loopIters)
  }

  /** `otf2_load`: many ranks, shallow stacks (depth ≤ 3), point-to-point
    * messages every iteration to a rotating partner. */
  def manyRanks(seed: Long, nProcs: Int, iters: Int): SynthTrace = {
    val rnd = new java.util.Random(seed)
    val calls = ArrayBuffer[Call]()
    // message sizes first: the receiver needs the sender's size
    val sizes = (for (i <- 0 until iters; s <- 0 until nProcs)
      yield (i, s) -> (64L << rnd.nextInt(12)) * (1 + rnd.nextInt(4))).toMap
    val sends = scala.collection.mutable.Map[(Int, Int), Long]()
    val recvs = scala.collection.mutable.Map[(Int, Int), Long]()
    for (p <- 0 until nProcs) {
      val b = new ProcBuilder(p, nProcs, calls, rnd)
      b.call("main") {
        b.call("MPI_Init", 20, 20)(())
        for (i <- 0 until iters) {
          b.call("compute", 5, 40) {
            if (i % 3 == 0) b.call("stencil", 5, 30)(())
          }
          b.call("MPI_Send") { sends((i, p)) = b.instant() }
          b.call("MPI_Recv", 1, 8) { recvs((i, source(nProcs, i, p))) = b.instant() }
          if (i % 4 == 3) b.call("MPI_Allreduce", 2, 10)(())
        }
        b.call("MPI_Finalize", 5, 5)(())
      }
    }
    assemble(nProcs, calls, sends, recvs, sizes, "", 0)
  }

  /** `trace_ops`: few locations, deep recursive nesting (a Fibonacci-shaped
    * `solve` recursion), messages between phases, and a planted loop of
    * `iters` identical `iteration` calls on every process. */
  def deepFew(seed: Long, nProcs: Int, fibDepth: Int, phases: Int,
              iters: Int): SynthTrace = {
    val rnd = new java.util.Random(seed)
    val calls = ArrayBuffer[Call]()
    val nRounds = phases + iters
    val sizes = (for (i <- 0 until nRounds; s <- 0 until nProcs)
      yield (i, s) -> (1L + rnd.nextInt(1 << (4 + i % 12)))).toMap
    val sends = scala.collection.mutable.Map[(Int, Int), Long]()
    val recvs = scala.collection.mutable.Map[(Int, Int), Long]()
    for (p <- 0 until nProcs) {
      val b = new ProcBuilder(p, nProcs, calls, rnd)
      def solve(n: Int): Unit = b.call("solve") {
        if (n <= 1) b.call("kernel", 2, 20)(())
        else { solve(n - 1); solve(n - 2) }
      }
      def exchange(i: Int): Unit = b.call("exchange") {
        b.call("MPI_Send") { sends((i, p)) = b.instant() }
        b.call("MPI_Recv", 1, 6) { recvs((i, source(nProcs, i, p))) = b.instant() }
      }
      b.call("main") {
        b.call("init", 10, 10)(())
        for (ph <- 0 until phases) {
          b.call("phase") { solve(fibDepth - (ph % 3)) }
          exchange(ph)
        }
        for (i <- 0 until iters) b.call("iteration") {
          b.call("assemble", 30, 4) { b.call("kernel", 40, 4)(()) }
          b.call("relax", 80, 4) { b.call("kernel", 10, 4)(()); b.call("kernel", 10, 4)(()) }
          exchange(phases + i)
        }
        b.call("finalize", 10, 10)(())
      }
    }
    assemble(nProcs, calls, sends, recvs, sizes, "iteration", iters)
  }
}
