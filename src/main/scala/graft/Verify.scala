package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for a DuckDB compare of every answer.
  *
  * Usage: runMain graft.Verify <sfDir> <outDir> [name...] — with names,
  * only those queries are dumped (fast iteration on a few queries);
  * oracle_sql.json is always the full map. The names it was asked to
  * dump go to selected.txt, one a line, before any query runs, and
  * tools/check.py fails on a listed name without a directory. The
  * registered queries without oracle SQL (rows-only by design) go to
  * rows_only.txt, and check.py fails on a dumped directory that is
  * neither oracled nor listed there. A query that throws leaves no
  * directory and makes Verify exit non-zero once the rest are dumped. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names = args.drop(2).toSet
    val queries = SparkEntry.queries
    val unknown = names -- queries.keySet
    require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
    val spark = Sessions.single(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    new java.io.File(outDir).mkdirs()
    val selected =
      if (names.isEmpty) queries else queries.filter(kv => names(kv._1))
    Files.writeString(Paths.get(s"$outDir/selected.txt"),
      selected.keys.map(_ + "\n").mkString)
    Files.writeString(Paths.get(s"$outDir/rows_only.txt"),
      Registry.all.filter(_.oracle.isEmpty).map(_.name + "\n").mkString)
    val failed = selected.toSeq.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // no partial or earlier run's answer may stand in for it
        graft.io.Staging.deleteRecursively(Paths.get(s"$outDir/$name"))
        Some(name)
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
    // the banded sign-LSH family's oracles are re-rendered at the
    // width the engine actually resolves for THIS corpus (the
    // registered entries spell the ≤6400-vector gate floor, bits=8):
    // same memoized corpus-stats job, same resolveWidth rule, so the
    // DuckDB check exercises the band construction that really ran —
    // at a grown verify corpus the auto-width regime is hash-checked,
    // not just measured. At every driver-gate SF the rendered SQL is
    // identical to the registered spelling.
    // a throw here (corpus unreadable, stats job failure) must not
    // zero the WHOLE round's oracle dump — fall back to the
    // registered gate-width spellings, which are correct for every
    // corpus the gate actually runs
    val resolved =
      try graft.sim.SimQueries.resolvedBandedOracles(spark, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[verify] banded oracle re-render failed " +
          s"(falling back to gate-width spellings): ${e.getMessage}")
        Map.empty[String, String]
      }
    val oracles = SparkEntry.oracleSql ++ resolved
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: " +
        failed.mkString(", "))
      sys.exit(1)
    }
  }
}
