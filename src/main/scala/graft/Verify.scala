package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional trailing args: run only these queries (debug/bisect aid)
    val only: Set[String] = args.drop(2).toSet
    // the shared session registers the UDFs up front: queries that use
    // vec_cosine via call_function (q25/q36) otherwise depend on a
    // register()-calling query happening to precede them in map order —
    // when none does, they throw and silently VANISH from the
    // correctness report
    val spark = GraftSession.build()
    SparkEntry.auxEnabled = true // oracle aux dumps are Verify-only (never benched)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only.isEmpty || only.contains(name)) {
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          System.err.println(f"[verify] $name ${(System.nanoTime() - t0) / 1e9}%.1f s")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        spark.catalog.clearCache() // queries are independent; drop leaks
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
    // The ANN/hybrid oracles read Spark-materialized aux tables; resolve
    // their __AUX__ placeholder to this run's sf-keyed dump path.
    val aux = SparkEntry.auxPath(sfDir)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("__AUX__", aux))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
