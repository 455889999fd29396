package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Regression loudness (VERDICT round 4 #3): a round-4 one-liner silently
  * shrank the correctness file 45 → 41 entries because per-query failures
  * were stderr-only and the run still exited 0. Now a failed query, or a
  * catalog that lost names vs the latest `CORRECTNESS_r*.json`, prints a
  * FAILURE banner and exits nonzero (after writing all surviving outputs
  * and the oracle JSON, so a partial run still yields its artifacts).
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg (dev-loop only; the driver always passes two):
    // comma-separated query names — run just those, skip the shrink guard.
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = SessionTuning.localSession(sfDir)
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ListBuffer[String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += name
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
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()

    // Catalog-shrink guard: every query name present in the latest
    // CORRECTNESS_r*.json must still exist in the catalog. Top-level names
    // are exactly the keys whose value is an object, so the `"name": {`
    // regex cannot match the flat per-query fields inside. The round files
    // live in the repo root — resolved via SPARK_GRAFT_REPO_DIR when the
    // process cwd is elsewhere (a cwd with no round files would silently
    // skip the very check this guard exists for).
    val repoDir = sys.env.getOrElse("SPARK_GRAFT_REPO_DIR", ".")
    val prevRound = Option(new java.io.File(repoDir).listFiles()).toSeq.flatten
      .flatMap(f => "^CORRECTNESS_r(\\d+)\\.json$".r
        .findFirstMatchIn(f.getName).map(m => (m.group(1).toInt, f)))
      .sortBy(_._1).lastOption
    // No round file found = the guard CANNOT run — say so loudly rather
    // than silently no-op'ing (a wrong cwd with SPARK_GRAFT_REPO_DIR
    // unset would otherwise quietly disable the very check this exists
    // for; the driver always runs from a dir holding round files).
    if (prevRound.isEmpty) System.err.println(
      s"[verify] WARNING: no CORRECTNESS_r*.json under '$repoDir' — " +
        "catalog-shrink guard SKIPPED; set SPARK_GRAFT_REPO_DIR to the " +
        "repo root if this is not round 1")
    val lost = prevRound.toSeq.flatMap { case (_, f) =>
      val keys = "\"(\\w+)\"\\s*:\\s*\\{".r
        .findAllMatchIn(Files.readString(f.toPath)).map(_.group(1)).toSet
      (keys -- SparkEntry.queries.keySet).toSeq.sorted
    }
    if (failed.nonEmpty || lost.nonEmpty) {
      if (failed.nonEmpty) System.err.println(
        s"[verify] FAILURE: ${failed.size} of ${SparkEntry.queries.size} " +
          s"queries threw: ${failed.sorted.mkString(", ")}")
      if (lost.nonEmpty) System.err.println(
        s"[verify] FAILURE: catalog lost ${lost.size} queries present in " +
          s"${prevRound.get._2.getName}: ${lost.mkString(", ")}")
      sys.exit(1)
    }
  }
}
