package graft
import java.nio.file.{Files, Paths}

import graft.core.Json

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional trailing query names → dump only those (dev loop; the
    // driver always runs the full set). A bare id ("q338") expands to
    // the gate(s) named "q338_*"; a filter matching NOTHING is a hard
    // error — it used to no-op silently, and a zero-gate subset run
    // exits 0, which reads as "the gate passed" to a tired operator.
    val allNames = SparkEntry.queries.keySet
    val only: Set[String] = args.drop(2).flatMap { a =>
      val hits =
        if (allNames.contains(a)) Seq(a)
        else allNames.filter(_.startsWith(a + "_")).toSeq
      require(hits.nonEmpty,
        s"[verify] filter '$a' matches no gate (exact or '${a}_*')")
      hits
    }.toSet
    val spark = SessionHygiene.session()
    new java.io.File(outDir).mkdirs()
    // Effective session config beside the dumps: when a driver-run
    // result diverges from a local run of the same commit (the round-4
    // q135 mystery), the first diff to take is this file, not memory.
    Files.writeString(Paths.get(s"$outDir/_session.json"),
      Json.render(SessionHygiene.sessionInfo(spark)))
    var errors = List.empty[(String, String)]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors ::= (name, s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      SessionHygiene.reset(spark)
    }
    def strMap(kvs: Iterable[(String, String)]): String =
      kvs.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), strMap(SparkEntry.oracleSql))
    // A crashing query leaves no parquet dir and would silently vanish
    // from the correctness report (q131 was invisible in round 3 until
    // cross-referenced against the bench). Leave an explicit marker the
    // driver — or a human — can pick up.
    Files.writeString(Paths.get(s"$outDir/_errors.json"), strMap(errors.reverse))
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries failed: " +
        errors.map(_._1).sorted.mkString(", "))
    spark.stop()
  }
}
