package graftbench

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

/** Writes a synthetic trace as an OTF2 archive the way Score-P lays one
  * out: `traces.otf2` anchor, `traces.def` global definitions (clock,
  * strings, full Region records, locations) and one `traces/<loc>.evt`
  * per rank with a timestamp record ahead of every event. Clock
  * resolution is 1 GHz with offset 0, so ticks are nanoseconds. The
  * benchmark writes its own archive so the reader under test never reads
  * bytes produced by the program's own writer. */
object Otf2Files {
  private def comp(out: ByteArrayOutputStream, v: Long): Unit = {
    var n = 0
    var x = v
    while (x != 0) { n += 1; x >>>= 8 }
    out.write(n)
    var i = 0
    while (i < n) { out.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
  }

  private def rec(out: ByteArrayOutputStream, tpe: Int)(fill: ByteArrayOutputStream => Unit): Unit = {
    val p = new ByteArrayOutputStream()
    fill(p)
    require(p.size < 0xff, "record too long for the short length form")
    out.write(tpe); out.write(p.size); p.writeTo(out)
  }

  private def chunk(): ByteArrayOutputStream = {
    val out = new ByteArrayOutputStream()
    out.write(new Array[Byte](18)) // chunk header
    out
  }

  def write(dir: String, t: SynthTrace): Unit = {
    Files.createDirectories(Paths.get(s"$dir/traces"))
    Files.write(Paths.get(s"$dir/traces.otf2"), Array.emptyByteArray)
    val regions = t.calls.map(_.name).distinct.sorted
    val regionRef = regions.zipWithIndex.toMap
    val strings = regions ++ (0 until t.nProcs).map(p => s"MPI Rank $p") :+ ""
    val stringRef = strings.zipWithIndex.toMap
    val byProc = t.events.groupBy(_.proc)

    val defs = chunk()
    rec(defs, 0x05) { p => comp(p, 1000000000L); comp(p, 0L); comp(p, t.events.last.ts + 1) }
    strings.zipWithIndex.foreach { case (s, i) =>
      rec(defs, 0x0a) { p => comp(p, i.toLong); p.write(s.getBytes("UTF-8")); p.write(0) }
    }
    regions.foreach { r =>
      // Region: ref, name, canonical name, description, role, paradigm,
      // flags, source file, begin line, end line
      rec(defs, 0x0f) { p =>
        comp(p, regionRef(r).toLong); comp(p, stringRef(r).toLong); comp(p, stringRef(r).toLong)
        comp(p, stringRef("").toLong); p.write(1); p.write(1); comp(p, 0L)
        comp(p, stringRef("").toLong); comp(p, 0L); comp(p, 0L)
      }
    }
    (0 until t.nProcs).foreach { proc =>
      // Location: ref, name, type (CPU thread), #events, location group
      rec(defs, 0x0e) { p =>
        comp(p, proc.toLong); comp(p, stringRef(s"MPI Rank $proc").toLong); p.write(1)
        comp(p, byProc.get(proc).fold(0L)(_.size.toLong)); comp(p, proc.toLong)
      }
    }
    Files.write(Paths.get(s"$dir/traces.def"), defs.toByteArray)

    val ts = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
    for ((proc, evs) <- byProc) {
      val out = chunk()
      evs.foreach { e =>
        out.write(0x05); ts.clear(); ts.putLong(e.ts); out.write(ts.array())
        e.eventType match {
          case "Enter" => rec(out, 0x0c)(comp(_, regionRef(e.name).toLong))
          case "Leave" => rec(out, 0x0d)(comp(_, regionRef(e.name).toLong))
          case _ if e.name == "MpiSend" =>
            rec(out, 0x0e) { p => comp(p, e.receiver.toLong); comp(p, 0L); comp(p, 0L); comp(p, e.msgLength) }
          case _ =>
            rec(out, 0x12) { p => comp(p, e.sender.toLong); comp(p, 0L); comp(p, 0L); comp(p, e.msgLength) }
        }
      }
      Files.write(Paths.get(s"$dir/traces/$proc.evt"), out.toByteArray)
    }
  }
}
