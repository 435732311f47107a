package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Measurement-only dev tool for the optimization rounds (guide §1:
  * measure first): run ONE gate under the Bench session plus arbitrary
  * session-conf overrides, repeat-N, and print per-attempt walls plus a
  * per-job time breakdown (job group/description → seconds) so a gate's
  * wall can be attributed to its phases (streaming triggers vs batch
  * verification vs folds) before anything is changed.
  *
  * NOT part of the driver contract — Bench remains the timing main.
  *
  * Usage: runMain graft.Probe <gate> [repeat] [conf=value ...]
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (same as Bench).
  */
object Probe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Probe <gate> [repeat] [k=v ...]")
    val gate = args(0)
    val repeat = args.drop(1).headOption.flatMap(_.toIntOption).getOrElse(2)
    val overrides = args.drop(1).filter(_.contains("=")).map { kv =>
      val i = kv.indexOf('='); kv.substring(0, i) -> kv.substring(i + 1)
    }
    val spark = SessionHygiene.session(overrides.toSeq: _*)
    if (overrides.nonEmpty)
      System.err.println(s"[probe] overrides: ${overrides.map { case (k, v) => s"$k=$v" }.mkString(" ")}")

    // per-job accounting: description (or callsite) → total seconds + count
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val jobTotals = new java.util.concurrent.ConcurrentHashMap[String, (Double, Int)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        jobStart.put(js.jobId, (System.nanoTime(), desc))
        ()
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobStart.remove(je.jobId)).foreach { case (t0, desc) =>
          val s = (System.nanoTime() - t0) / 1e9
          jobTotals.merge(desc, (s, 1),
            (a, b) => (a._1 + b._1, a._2 + b._2))
        }
        ()
      }
    })

    val fn = SparkEntry.queries.getOrElse(gate,
      sys.error(s"unknown gate $gate"))
    // Bench's warm-up, so attempt 1 is comparable
    Bench.warmUp(spark)
    (1 to repeat).foreach { i =>
      jobTotals.clear()
      val t0 = System.nanoTime()
      fn(spark, Bench.SfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[probe] $gate attempt $i wall $sec%.3f s")
      if (i == repeat) {
        import scala.jdk.CollectionConverters._
        val rows = jobTotals.asScala.toSeq.sortBy(-_._2._1)
        rows.take(25).foreach { case (d, (s, n)) =>
          println(f"[probe]   job $s%8.3f s  x$n%-4d $d")
        }
        println(f"[probe]   job-total ${rows.map(_._2._1).sum}%.3f s over ${rows.map(_._2._2).sum} jobs")
      }
      SessionHygiene.reset(spark)
    }
    spark.stop()
  }
}
