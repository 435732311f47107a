package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import graft.core.Tables

/** The declared table layout of [[graft.core.Tables]] is the layout
  * every dataset and every producer in the repo writes: a drift here
  * would make a declared read fail or silently read NULLs. */
class TablesLayoutSpec extends SparkSpec {

  test("declared layout equals the inferred parquet schema on sf0.001 and sf0.01") {
    for (d <- Seq("sf0.001", "sf0.01"); (name, declared) <- Tables.layout) {
      val inferred = spark.read.parquet(s"${sf(d)}/$name.parquet").schema
      assert(inferred == declared, s"$d/$name: inferred $inferred, declared $declared")
    }
  }

  test("ScaleUp output keeps the declared layout") {
    val dst = graft.core.TempPaths.registered(
      java.nio.file.Files.createTempDirectory("graft_scaleup_layout")).toString
    graft.cli.ScaleUp.run(spark, sf(), dst, 2)
    for ((name, declared) <- Tables.layout) {
      val inferred = spark.read.parquet(s"$dst/$name.parquet").schema
      assert(inferred == declared, s"ScaleUp $name: inferred $inferred, declared $declared")
    }
  }

  test("declared tables and prediction files are read without a Spark job") {
    val dir = graft.core.TempPaths.registered(
      java.nio.file.Files.createTempDirectory("graft_layout_jobs")).toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "p.json"),
      """{"user_id":1,"business_id":2,"stars":3.5}""" + "\n")
    assert(TablesLayoutSpec.jobsRun(spark) {
      Tables.layout.keys.foreach(Tables.t(spark, sf(), _))
      Tables.reviews(spark, sf())
      graft.sources.ModelIO.loadPredictionsJson(spark, dir)
    } == 0)
    // the counter does see the inference job of a schema-less read
    assert(TablesLayoutSpec.jobsRun(spark)(spark.read.parquet(s"${sf()}/region.parquet")) > 0)
  }
}

object TablesLayoutSpec {
  /** Spark jobs started while `f` runs. A marker job run afterwards
    * flushes the (asynchronous, ordered) listener bus: once its start
    * is seen, every job `f` started has been counted. */
  def jobsRun(spark: SparkSession)(f: => Unit): Int = {
    val jobs = new AtomicInteger(0)
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == "jobsRun-marker"))
          flushed.countDown()
        else jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      f
      spark.sparkContext.setJobDescription("jobsRun-marker")
      spark.sparkContext.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, TimeUnit.SECONDS), "listener bus did not flush")
      jobs.get
    } finally {
      spark.sparkContext.setJobDescription(null)
      spark.sparkContext.removeSparkListener(listener)
    }
  }
}
