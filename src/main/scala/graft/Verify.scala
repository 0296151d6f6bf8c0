package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Pin dump-time oracles to THIS dir's fitted constants — a JVM that
    // has run queries for several dirs must not dump another dir's fit.
    graft.queries.OracleDir.active = Some(sfDir)
    // table-sized fitted state (ALS factors, BPE merges) lands here as
    // parquet; oracle SQL replays it via read_parquet against ABSOLUTE
    // paths, so the location is immaterial to the oracles. It lives as a
    // SIBLING of outDir, not inside it: the driver enumerates outDir's
    // subdirectories as query results, and artifact tables (which may
    // carry array-typed fit state no oracle compares directly) crashed
    // its pandas row-sort when they sat inside (round 9's `_artifacts`
    // error entry).
    // strip trailing separators: "results/" + "_artifacts" would land the
    // artifacts back INSIDE the enumerated dir and resurrect that crash
    graft.queries.OracleDir.artifactDir =
      Some(outDir.replaceAll("/+$", "") + "_artifacts")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Bench.session(cpus)
    new java.io.File(outDir).mkdirs()
    // optional csv filter for selective local iteration (driver sets none)
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").toSet).getOrElse(Set.empty[String])
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only.isEmpty || only(name))
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          failed += name
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
    }
    // loud summary: a silently-dropped query hid 11 breakages in round 5
    if (failed.nonEmpty)
      System.err.println(
        s"[verify] ${failed.size} queries FAILED to execute: ${failed.sorted.mkString(", ")}")
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
  }
}
