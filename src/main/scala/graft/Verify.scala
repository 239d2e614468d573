package graft
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A query that
  * fails to dump fails the run: every other dump and oracle_sql.json are
  * still written, then the failed names are printed and the exit code
  * is 1. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      // optional 3rd arg: comma-separated query names — dump ONLY those
      // (builder-side iteration aid; the driver always passes two args)
      case Array(s, o, f) => (s, o, Some(f.split(",").toSeq))
    }
    val spark = graft.core.Sessions.local(graft.core.Sessions.cpus)
    val failed = dumpAll(spark, sfDir, outDir,
      only.getOrElse(SparkEntry.queries.keys.toSeq), SparkEntry.queries)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] FAILED: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }

  /** Writes each named query's result to `<outDir>/<name>` as one parquet
    * file and returns the names that failed (a name not in `queries`
    * fails too). A failure is logged and the next name is dumped. */
  def dumpAll(spark: SparkSession, sfDir: String, outDir: String, names: Seq[String],
      queries: Map[String, (SparkSession, String) => DataFrame]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    names.filterNot { name =>
      val t0 = System.nanoTime()
      val ok =
        try {
          queries(name)(spark, sfDir).coalesce(1).write
            .mode("overwrite").parquet(s"$outDir/$name")
          println(f"[verify] dumped $name in ${(System.nanoTime() - t0) / 1e9}%.2fs")
          true
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          false
        }
      // let the ContextCleaner release finished queries' shuffle state —
      // without a GC tick a 74-query session accumulates driver
      // bookkeeping that slows the late queries (see Bench.scala)
      System.gc()
      ok
    }
  }
}
