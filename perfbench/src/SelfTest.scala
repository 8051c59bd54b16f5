package graftbench

/** Self-consistency test of the trace generators' ground truth, with no
  * Spark involved. Exits non-zero on the first broken property. Run with
  * `python3 perfbench/run.py --selftest`. */
object SelfTest {
  private def require(ok: Boolean, what: String): Unit =
    if (!ok) { System.err.println(s"selftest FAILED: $what"); sys.exit(1) }

  def checkTrace(label: String, t: SynthTrace): Unit = {
    val calls = t.calls
    val ts = t.events.map(_.ts)
    require(ts.distinct.size == ts.size, s"$label: timestamps are unique")
    require(t.events.size == 2 * calls.size + 2 * t.msgs.size,
      s"$label: one Enter and one Leave per call, one send and one receive per message")
    require(calls.forall(c => c.start < c.end), s"$label: every call has positive length")
    require(calls.forall { c =>
      c.parent < 0 || {
        val p = calls(c.parent)
        p.proc == c.proc && p.start < c.start && c.end < p.end && c.depth == p.depth + 1 &&
          c.path == p.path + "->" + c.name
      }
    }, s"$label: children nest strictly inside their parent")
    require(t.exc.forall(_ >= 0), s"$label: exclusive times are non-negative")
    for (p <- 0 until t.nProcs) {
      val idx = calls.indices.filter(calls(_).proc == p)
      val rootInc = idx.filter(calls(_).parent < 0).map(calls(_).inc).sum
      require(idx.map(t.exc(_)).sum == rootInc,
        s"$label: process $p exclusive times sum to its root calls' inclusive time")
    }
    val rootInc = calls.filter(_.parent < 0).map(_.inc).sum
    require(t.byName.values.map(_._3).sum == rootInc, s"$label: per-name exclusive sums add up")
    require(t.cctRollup.filter(_._1.indexOf("->") < 0).values.map(_._3).sum == rootInc,
      s"$label: CCT roots' subtree sums equal the root calls' inclusive time")
    require(t.callers.values.map(_._1).sum == calls.size, s"$label: callers cover every call")
    require(t.flatProfile.keySet == t.byName.keySet, s"$label: flat profile covers every function")
    require(t.commMatrix.values.map(_._2).sum == t.msgs.size, s"$label: comm matrix counts every message")
    require(t.messageHistogram(20).sum == t.msgs.size, s"$label: histogram counts every message")
    require(t.msgs.forall(m => m.sendTs % t.nProcs == m.sender && m.recvTs % t.nProcs == m.receiver),
      s"$label: message events sit on their own process")
    if (t.loopIters > 0)
      require(calls.count(c => c.proc == 0 && c.name == t.loopName) == t.loopIters,
        s"$label: process 0 runs the planted loop ${t.loopIters} times")
  }

  def main(args: Array[String]): Unit = {
    for (seed <- Seq(1L, 2L)) {
      checkTrace(s"manyRanks seed $seed", Synth.manyRanks(seed, nProcs = 8, iters = 40))
      checkTrace(s"deepFew seed $seed", Synth.deepFew(seed, nProcs = 3, fibDepth = 8, phases = 4, iters = 6))
    }
    val a = Synth.deepFew(7, 3, 8, 4, 6)
    val b = Synth.deepFew(7, 3, 8, 4, 6)
    val c = Synth.deepFew(8, 3, 8, 4, 6)
    require(a.events == b.events, "the same seed gives the same trace")
    require(a.events != c.events, "another seed gives another trace")
    println("selftest OK")
  }
}
