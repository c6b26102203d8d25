package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated name filter — builder-local
    // fast path for iterating on one query (the driver passes 2 args)
    val names = SparkEntry.selectOrExit(args.lift(2).toSeq.flatMap(_.split(",")))
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      try SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // release frames the query persist()'d (shared multi-consumer
      // subplans cache themselves) — without this, blocks from 220
      // queries accumulate across the dump in one JVM
      spark.catalog.clearCache()
    }
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
    // Scale-adaptive oracles (Q.oracleDyn) resolve against the dir being
    // verified, so LSH/IVF/PQ sizing in the SQL tracks the live corpus
    // row count; everything else dumps its static SQL. Only the selected
    // queries are written, so a focused run checks clean.
    val json = SparkEntry.oracleSqlFor(spark, sfDir, names)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
