package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._

import graft.streaming.{EventStreams, Replay}

/** Streaming-fold scale measurement (SCALING.md's ingest leg): replays
  * the q277 upsert topology — the events table streamed in
  * maxFilesPerTrigger=1 micro-batches, folding latest-version-wins
  * into a serving table — under each fold strategy and records wall
  * seconds + PARQUET BYTES WRITTEN (the write-amplification number the
  * bucketed fold's O(touched buckets × bucket size) claim and the log
  * fold's O(batch) claim each owe a measurement):
  *
  *   - bucketed fold at 4 / 16 / 64 buckets (the q277/q290 sink;
  *     bucket-count sensitivity was flagged unmeasured in round 8);
  *   - log-structured fold at compactEvery = 4 and 8 (the q303 sink;
  *     bytes = Σ batch sizes + compaction rewrites).
  *
  * Batches default to 8 slices of the events table (more micro-batches
  * than q277's 4, so per-batch cost dominates setup). Correctness is
  * asserted inline: every strategy's final table must agree on
  * (row count, latest-version checksum) — a disagreeing strategy
  * fail-louds the whole run.
  *
  * Usage: runMain graft.cli.ScaleStream <sfDir> [batches=8]
  * Output: one JSON line {"sf":…,"rows":…,"strategies":{name:{sec,mb_written,…}}}
  */
object ScaleStream {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val batches = args.lift(1).map(_.toInt).getOrElse(8)
    val spark = graft.SessionHygiene.session()
    // one replay source shared by all strategies
    val replay = ScaleStream.replay(spark, sfDir, batches)

    def checksum(t: DataFrame): (Long, Long) = {
      // bit_xor: order-independent row-set digest that cannot overflow
      // (an ANSI sum of 64-bit hashes does)
      val r = t.selectExpr("count(1) AS n",
        "bit_xor(xxhash64(user_id, ver)) AS h").head
      (r.getLong(0), r.getLong(1))
    }

    var expect: Option[(Long, Long)] = None
    val results = scala.collection.mutable.LinkedHashMap.empty[String, JValue]
    def cents(x: Double): JValue = JDecimal(BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP))
    def measure(name: String)(run: String => DataFrame): Unit = {
      val path = graft.core.TempPaths.gatePath(s"scalestream_$name")
      graft.core.TempPaths.clearDir(path)
      EventStreams.resetFoldWriteBytes()
      val t0 = System.nanoTime()
      val table = run(path)
      val cs = checksum(table)
      val sec = (System.nanoTime() - t0) / 1e9
      val mb = EventStreams.foldBytesWritten.get() / 1e6
      expect match {
        case None => expect = Some(cs)
        case Some(e) => require(e == cs,
          s"$name disagrees: $cs vs $e — fold strategies must be equivalent")
      }
      results(name) = JObject("sec" -> cents(sec), "mb_written" -> cents(mb),
        "rows" -> JLong(cs._1))
      System.err.println(s"[scalestream] $name ${f"$sec%.2f"}s ${f"$mb%.1f"}MB")
    }

    Seq(4, 16, 64).foreach { b =>
      measure(s"bucketed_$b") { path =>
        EventStreams.runUpsertToCompletion(spark, replay.stream(), path,
          key = "user_id", version = "ver", name = s"ss_b$b", buckets = b)
          .localCheckpoint(true)
      }
    }
    Seq(4, 8).foreach { ce =>
      measure(s"log_compact_$ce") { path =>
        EventStreams.runUpsertLogToCompletion(spark, replay.stream(), path,
          name = s"ss_l$ce", compactEvery = ce)(
          graft.operators.Cdc.compactLatest(_, "user_id", "ver"))
          .localCheckpoint(true)
      }
    }

    val inputRows = spark.read.parquet(replay.dir).count()
    println(graft.core.Json.render(JObject("sf" -> JString(sfDir),
      "batches" -> JInt(batches), "input_rows" -> JLong(inputRows),
      "strategies" -> JObject(results.toList))))
    spark.stop()
  }

  /** The events table with its packed (sec, event_id) version, replayed
    * as `batches` part files. */
  private[graft] def replay(spark: SparkSession, sfDir: String, batches: Int): Replay =
    Replay.of(graft.core.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("sec"),
        // the guarded shared packer, not an inline pmod: folding an
        // out-of-range event_id into a colliding version would let the
        // strategies-agree checksum pass on tie-break luck rather than
        // version semantics (q277's fail-loud contract)
        graft.operators.Cdc.packedVersion(col("sec"), col("event_id"),
          "scalestream").as("ver")), "scalestream", batches)
}
