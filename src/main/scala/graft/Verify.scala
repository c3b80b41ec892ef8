package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated name prefixes — local
    // iteration on a query subset (the driver always passes two args)
    val keep: String => Boolean = args.lift(2) match {
      case Some(pre) =>
        val ps = pre.split(',').toSeq
        name => ps.exists(name.startsWith)
      case None => _ => true
    }
    // production parity: the gate runs with the SQL-function registry
    // and the optimizer rules installed, as a cluster session built
    // with spark.sql.extensions would be, and with a reliable
    // checkpoint dir, so qd09's connected components runs its
    // fault-tolerant path rather than the localCheckpoint fallback
    val spark = GraftSession.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (keep(name))
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
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
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => keep(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
