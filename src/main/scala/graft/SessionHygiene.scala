package graft

import org.apache.spark.sql.SparkSession
import org.json4s._

import graft.core.{LocalFs, TempPaths}

/** The one session factory, and the between-gate session reset for the
  * Bench/Verify harnesses.
  *
  * 133 gate queries share one JVM; gate closures cache inputs for their
  * own multi-consumer plans, and a leaked block from gate N steals
  * executor memory from gate N+80 — round 3 measured 17 unchanged plans
  * running >2x slower purely from accumulated cache pressure in the 8 GiB
  * suite JVM. Resetting between gates makes every measurement start from
  * the same cold state, which is also the honest number for a production
  * run where each job gets its own executors.
  */
object SessionHygiene {

  /** SPARK_GRAFT_CPUS, default 4: the local core count of every main. */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** The session every main runs on: `local[cpus]` with shuffle
    * partitions = cpus (not the 200 default), AQE with partition
    * coalescing and skew-join splitting, UTC, no UI, log level WARN, and
    * a per-run warehouse — managed-table gates (bucketed joins) never
    * see another run's leftovers, and [[TempPaths]] deletes it at exit.
    * `file:` I/O goes through the fork-free [[LocalFs]].
    * `overrides` (Probe's `k=v` arguments) are applied last; they win
    * over [[LocalFs.install]], so `fs.file.impl=...` A/Bs the stock
    * filesystem. */
  def session(overrides: (String, String)*): SparkSession = {
    val warehouse = TempPaths.registered(java.nio.file.Files.createTempDirectory("graft_wh_"))
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      // broadcast/shuffle cleanup needs GC (see reset); the between-gate
      // System.gc() covers gate boundaries, this bounds accumulation
      // inside a single long gate without firing mid-query every minute
      .config("spark.cleaner.periodicGC.interval", "5min")
      // TypedImperativeAggregates (TopKPairs) run under
      // ObjectHashAggregateExec, which falls back to SORT-based
      // aggregation after only 128 hash-map keys — with 10^4+ groups per
      // partition that serializes every heap through a sort. 64k keys of
      // k-bounded heaps is still tiny state; keep the hash path.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
    overrides.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    LocalFs.install(spark)
    spark
  }

  /** Drop everything a gate can leak into the shared session: the SQL
    * cache (DataFrame.cache sites), RDD-level persisted blocks
    * (localCheckpoints and any persist the cache manager doesn't track),
    * and session-scoped temp views. Managed tables are left alone —
    * bucketed-table gates own their lifecycle via
    * [[graft.operators.Layout.bucketedWrite]]'s idempotent overwrite.
    *
    * ORDERING INVARIANT (load-bearing): a gate's result must be FULLY
    * MATERIALIZED (counted by Bench, written by Verify) before reset is
    * called. Unpersisting includes localCheckpoint blocks, whose
    * lineage is truncated — a checkpointed DataFrame consumed after a
    * reset fails with block-not-found instead of recomputing. Both
    * harness loops satisfy this by construction (act, then reset);
    * never reorder them.
    *
    * The explicit GC is load-bearing, not hygiene theater: broadcast
    * blobs and shuffle state are only released when the ContextCleaner
    * processes their weak references, WHICH REQUIRES A GC — and Spark's
    * own safety-net GC (spark.cleaner.periodicGC.interval) defaults to
    * 30 MINUTES, longer than the whole suite. Without it, 130+ queries'
    * broadcast join relations accumulate in an 8 GiB heap and mid-suite
    * gates measure 5-6x their isolated cost from memory pressure alone
    * (round-4 measurement: q32 274 s in-suite vs ~45 s isolated). */
  def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.catalog.listTables().collect()
      .filter(_.isTemporary)
      .foreach(t => spark.catalog.dropTempView(t.name))
    System.gc()
  }

  /** Effective session configuration as one JSON object — emitted next
    * to every Verify dump and inside the Bench JSON so a
    * driver-vs-local divergence (correctness OR wall-time) diffs in one
    * look instead of being argued from memory. */
  def sessionInfo(spark: SparkSession): JObject = {
    def c(k: String) = JString(try spark.conf.get(k) catch { case _: Exception => "" })
    val (ccUsed, ccMax) = codeCacheMb()
    JObject("spark_version" -> JString(spark.version),
      "code_cache_used_mb" -> JLong(ccUsed),
      "code_cache_reserved_mb" -> JLong(ccMax),
      "master" -> JString(spark.sparkContext.master),
      "java" -> JString(System.getProperty("java.vm.version")),
      "heap_max_mb" -> JLong(Runtime.getRuntime.maxMemory() / (1024L * 1024L)),
      "default_parallelism" -> JInt(spark.sparkContext.defaultParallelism),
      "shuffle_partitions" -> c("spark.sql.shuffle.partitions"),
      "aqe" -> c("spark.sql.adaptive.enabled"),
      "whole_stage_codegen" -> c("spark.sql.codegen.wholeStage"),
      "auto_broadcast_threshold" -> c("spark.sql.autoBroadcastJoinThreshold"),
      "object_hash_fallback" -> c("spark.sql.objectHashAggregate.sortBased.fallbackThreshold"),
      "timezone" -> c("spark.sql.session.timeZone"),
      "local_fs" -> JString(LocalFs.resolved(spark)))
  }

  // ---- task-level IO telemetry (shuffle/input bytes per gate) ----
  // Wall-clock α across a scale step is noisy (JIT, GC, scheduling);
  // SHUFFLE BYTES are deterministic for a deterministic plan, so the
  // shuffle-growth exponent is the cleaner "does this operator's
  // exchange volume stay sublinear" evidence — and bytes/row constants
  // are what a 100 TB sizing worksheet actually needs.
  private val shufWriteBytes = new java.util.concurrent.atomic.AtomicLong(0L)
  private val inputBytesAcc = new java.util.concurrent.atomic.AtomicLong(0L)
  @volatile private var ioInstalled = false
  // (bus instance, waitUntilEmpty Method) — resolved once at install;
  // None = reflection unavailable, drain degrades to a stability poll
  @volatile private var busDrain: Option[(AnyRef, java.lang.reflect.Method)] = None

  /** Install the cumulative task-metrics listener (idempotent) and
    * resolve the listener-bus drain handle. */
  def installIoMetrics(spark: SparkSession): Unit = synchronized {
    if (!ioInstalled) {
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
            val m = te.taskMetrics
            if (m != null) {
              shufWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
              inputBytesAcc.addAndGet(m.inputMetrics.bytesRead)
              ()
            }
          }
        })
      busDrain =
        try {
          val sc = spark.sparkContext
          val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
          val m = bus.getClass.getMethod("waitUntilEmpty")
          m.invoke(bus) // probe once so a broken handle degrades NOW
          Some((bus, m))
        } catch { case _: Exception => None }
      ioInstalled = true
    }
  }

  /** (cumulative shuffle WRITE bytes, cumulative input bytes) with the
    * listener bus drained first — task-end events post asynchronously,
    * so reading the counters right after an action would race the last
    * tasks' metrics. `listenerBus`/`waitUntilEmpty` are private[spark],
    * which erases to PUBLIC in bytecode (Scala package-private), so the
    * drain is one cached reflective call; if resolution failed at
    * install, degrade to a bounded stability poll (two consecutive
    * equal readings 20 ms apart). */
  def ioBytes(spark: SparkSession): (Long, Long) = {
    busDrain match {
      case Some((bus, m)) =>
        try { m.invoke(bus); () } catch { case _: Exception => Thread.sleep(50L) }
      case None =>
        var prev = (shufWriteBytes.get(), inputBytesAcc.get())
        var tries = 0
        var stable = false
        while (!stable && tries < 25) {
          Thread.sleep(20L)
          val cur = (shufWriteBytes.get(), inputBytesAcc.get())
          stable = cur == prev
          prev = cur
          tries += 1
        }
    }
    (shufWriteBytes.get(), inputBytesAcc.get())
  }

  /** Cumulative process CPU milliseconds (all threads). -1-returning
    * platforms degrade to 0 rather than poisoning deltas. */
  def processCpuMillis(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        math.max(0L, os.getProcessCpuTime) / 1000000L
      case _ => 0L
    }

  /** Cumulative JIT compilation milliseconds (all compiler threads).
    * The round-8 driver bench saw unchanged gates triple their cpu_s
    * in a single unwarmed 298-gate JVM while warmed/isolated runs got
    * FASTER — the hypothesis was code-cache exhaustion forcing
    * flush/recompile storms. This counter turns that from an argument
    * into a per-gate number: a gate whose wall inflates WITH jit_s is
    * recompiling; one whose wall inflates without it is starved. */
  def jitMillis(): Long =
    Option(java.lang.management.ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(b => math.max(0L, b.getTotalCompilationTime)).getOrElse(0L)

  /** (used MiB, reserved MiB) summed over the JIT code-cache segments
    * (CodeHeap pools). used ≈ reserved is the smoking gun for the
    * flush/recompile regime — the JVM stays functional (UseCodeCacheFlushing)
    * but hot methods cycle between compiled and interpreted. */
  def codeCacheMb(): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.contains("CodeHeap"))
    val used = pools.map(_.getUsage.getUsed).sum / (1024L * 1024L)
    val max = pools.map(p => math.max(0L, p.getUsage.getMax)).sum / (1024L * 1024L)
    (used, max)
  }

  /** Cumulative stop-the-world GC milliseconds across all collectors. */
  def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** Reset per-pool peak-usage watermarks (call before a gate). */
  def resetHeapPeaks(): Unit = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .foreach(p => try p.resetPeakUsage() catch { case _: Exception => () })
  }

  /** Peak heap MiB since the last [[resetHeapPeaks]] (sum across heap
    * pools — eden+survivor+old peaks need not coincide in time, so this
    * slightly over-reads, uniformly; fine for attribution). */
  def peakHeapMb(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024L * 1024L)
  }
}
