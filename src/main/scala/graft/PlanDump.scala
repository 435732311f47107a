package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Optimization-round evidence dump (guide §1): write the
  * `.explain("formatted")` output of named gates to
  * `<outDir>/<gate>_<suffix>.txt` — the before/after plan files the
  * round's OPTIMIZATION_r*.md cites. Unlike [[Plans]] (the standing
  * PLANS.md headline set), this takes an arbitrary gate list so a
  * touched query's plan can be captured at the exact commit that
  * changed it.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> <gate...>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: PlanDump <sfDir> <outDir> <suffix> <gate...>")
    val Array(sfDir, outDir, suffix) = args.take(3)
    val spark = SessionHygiene.session()
    Files.createDirectories(Paths.get(outDir))
    args.drop(3).foreach { g =>
      write(s"$outDir/${g}_$suffix.txt", explain(spark, sfDir, g) + "\n")
      println(s"[plandump] wrote $outDir/${g}_$suffix.txt")
    }
    spark.stop()
  }

  /** `gate`'s `.explain("formatted")` output, trimmed. */
  def explain(spark: SparkSession, sfDir: String, gate: String): String = {
    // pseudo-gate: ONE uncheckpointed prefix-doubling round (the loop
    // body of q187/q188 — their gate-level plans are truncated by the
    // per-round localCheckpoint, so the round plan is dumped directly)
    val df =
      if (gate == "suffix_doubling_round") {
        import org.apache.spark.sql.functions._
        val tok = graft.core.Tables.documents(spark, sfDir)
          .select(col("doc_id"),
            posexplode(graft.functions.TextFns.tokens(col("text")))
              .as(Seq("pos", "t")))
          .select(col("doc_id"), col("pos"), (col("pos") + 1L).as("r"))
        graft.operators.SuffixArray.doublingRound(tok, 4L, 1000L, 256)
      } else SparkEntry.queries.getOrElse(gate,
        sys.error(s"unknown gate $gate"))(spark, sfDir)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode).trim
  }

  /** `text` to `path` as UTF-8 (Plans writes PLANS.md through it). */
  def write(path: String, text: String): Unit = {
    Files.write(Paths.get(path), text.getBytes(StandardCharsets.UTF_8))
    ()
  }
}
