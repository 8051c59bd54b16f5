package graft
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{coalesce, col, count, lit, pmod, sum, xxhash64}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, and verify.json,
  * a diffable record of the run: per query its rows, wall seconds and
  * [[rowsHash]]; per run the git HEAD, the Spark version, the data dir
  * with the byte size of each of its top-level entries, and the
  * session's SQL conf. */
object Verify {
  /** Modulus of [[rowsHash]]: each row's xxhash64 is reduced to [0, P)
    * before the sum, so the sum cannot overflow a Long below 2^32 rows. */
  private val P = 2147483647L

  /** Rows and an order-free hash of `df`: Σ pmod(xxhash64(all columns), P).
    * Row order does not change it; a duplicated row adds its hash twice. */
  private[graft] def rowsHash(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(pmod(xxhash64(df.columns.map(c => col(s"`$c`")): _*), lit(P))),
        lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def obj(kvs: Iterable[(String, String)]): String =
    kvs.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ", ", "}")

  private def children(f: java.io.File): Seq[java.io.File] =
    Option(f.listFiles).toSeq.flatten.sortBy(_.getName)

  /** A file's length, or the sum over a directory's files. */
  private def bytes(f: java.io.File): Long =
    if (f.isDirectory) children(f).map(bytes).sum else f.length

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query names to run (local
    // iteration), or ^name1,name2 to run the COMPLEMENT (the sf0.1 gate
    // dumps everything-except-heavy against the full dir and the heavy
    // list against a sliced dir); the driver always passes two args →
    // full run
    val only: Option[String => Boolean] = args.lift(2).map { a =>
      if (a.startsWith("^")) {
        val ex = a.drop(1).split(",").toSet; (n: String) => !ex(n)
      } else { val in = a.split(",").toSet; (n: String) => in(n) }
    }
    val spark = graft.util.Sessions.local("graft-verify", Some(sfDir))
    new java.io.File(outDir).mkdirs()
    val record = SparkEntry.queries.toSeq.sortBy(_._1).collect {
      case (name, fn) if only.forall(_(name)) =>
        val t0 = System.nanoTime()
        val fields = try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          val secs = (System.nanoTime() - t0) / 1e9
          System.err.println(f"[verify] $name ok in $secs%.1fs")
          val digest = scala.util.Try(rowsHash(spark.read.parquet(s"$outDir/$name")))
          digest.failed.foreach(e =>
            System.err.println(s"[verify] $name not hashed: ${e.getMessage}"))
          Seq("rows" -> digest.fold(_ => "null", _._1.toString),
            "seconds" -> f"$secs%.3f",
            "hash" -> digest.fold(_ => "null", _._2.toString))
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          // a stale parquet from a previous run must not pass the compare
          def rm(f: java.io.File): Unit = { children(f).foreach(rm); f.delete(); () }
          rm(new java.io.File(s"$outDir/$name"))
          Seq("error" -> q(String.valueOf(e.getMessage)))
        }
        name -> obj(fields)
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val head = scala.util.Try(scala.sys.process.Process(Seq("git", "rev-parse", "HEAD"))
      .!!(scala.sys.process.ProcessLogger(_ => ())).trim).toOption
    Files.writeString(Paths.get(s"$outDir/verify.json"), obj(Seq(
      "git_head" -> head.fold("null")(q),
      "spark_version" -> q(spark.version),
      "data_dir" -> q(sfDir),
      "data_bytes" -> obj(children(new java.io.File(sfDir))
        .map(f => f.getName -> bytes(f).toString)),
      "sql_conf" -> obj(spark.conf.getAll.toSeq.sorted.collect {
        case (k, v) if k.startsWith("spark.sql.") => k -> q(v) }),
      "queries" -> record.map { case (n, o) => s"\n  ${q(n)}: $o" }
        .mkString("{", ",", "\n}"))))
    spark.stop()
  }
}
