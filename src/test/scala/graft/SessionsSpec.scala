package graft

import java.io.{File, RandomAccessFile}
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.util.Sessions

/** The single session factory: no main builds its own session, and the
  * input-scaled shuffle partition count hits its floor, ratio and cap. */
class SessionsSpec extends AnyFunSuite {
  test("no file under src/main/scala but the factory builds a SparkSession") {
    def scala(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(scala)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val files = scala(new File("src/main/scala"))
    assert(files.size > 50, "source tree not found from the test's working dir")
    val builders = files.filter(f =>
      new String(Files.readAllBytes(f.toPath), "UTF-8")
        .contains("SparkSession.builder"))
      .map(_.getPath.replace(File.separatorChar, '/'))
    assert(builders == Seq("src/main/scala/graft/util/Sessions.scala"))
  }

  test("scaledShufflePartitions: core floor, one per 16 MB, capped at 1024") {
    val dir = Files.createTempDirectory("graft-sessions").toFile
    def sized(rel: String, bytes: Long): Unit = {
      val f = new File(dir, rel); f.getParentFile.mkdirs()
      // sparse: only the logical length is read
      val raf = new RandomAccessFile(f, "rw")
      try raf.setLength(bytes) finally raf.close()
    }
    try {
      sized("small.parquet/part-0", 1024L)
      assert(Sessions.scaledShufflePartitions(dir.getPath, 4) == 4)
      // nested files count: 1 KB + 100 MB → 100 MB / 16 MB = 6
      sized("mid.parquet/sub/part-0", 100L << 20)
      assert(Sessions.scaledShufflePartitions(dir.getPath, 4) == 6)
      sized("big.parquet/part-0", 20L << 30)
      assert(Sessions.scaledShufflePartitions(dir.getPath, 4) == 1024)
    } finally {
      def rm(f: File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }
}
