package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.StructType

import graft.core.TempPaths

/** A finite replay: a frame written as parquet part files to its own
  * temp dir (deleted at JVM exit) and read back as a file stream. Every
  * replayed stream in graft is one — the monitor and streaming gates,
  * the Monitor and ScaleStream CLIs, the sessionizer, the ordered and
  * click/view event replays — so the write, the stream schema and the
  * trigger cadence live here once.
  *
  * `schema` is what the stream reads: the written frame's own schema
  * made nullable (what a parquet round trip gives), unless the caller
  * pins another with `copy(schema = …)`.
  *
  * A SLICED replay appends each slice as one part file, oldest first,
  * with modification times PINNED strictly increasing (an hour back,
  * 1 s apart): FileStreamSource orders a batch's discoveries by
  * mod-time, and sequential writes can share a millisecond, which would
  * leave trigger order unspecified exactly where a time-ordered replay
  * needs slices to arrive oldest-first. */
final case class Replay(spark: SparkSession, dir: String, schema: StructType) {

  /** The replay as a file stream, `maxFilesPerTrigger` part files a
    * trigger. */
  def stream(maxFilesPerTrigger: Int = 1): DataFrame =
    read.option("maxFilesPerTrigger", maxFilesPerTrigger).parquet(dir)

  /** The replay as a file stream whose first trigger takes every part
    * file. */
  def streamAll: DataFrame = read.parquet(dir)

  private def read = spark.readStream.schema(schema)
}

object Replay {

  /** Slices of a time-ordered replay. */
  val Slices = 4

  private def tempDir(name: String): String = TempPaths.registered(
    java.nio.file.Files.createTempDirectory(s"graft_${name}_replay")).toString

  private def nullable(s: StructType): StructType =
    StructType(s.map(_.copy(nullable = true)))

  /** `df` written with its own partitioning. */
  def of(df: DataFrame, name: String): Replay = {
    val dir = tempDir(name)
    df.write.mode("overwrite").parquet(dir)
    Replay(df.sparkSession, dir, nullable(df.schema))
  }

  /** Unordered replay: `df` written as `partitions` part files. */
  def of(df: DataFrame, name: String, partitions: Int): Replay =
    of(df.repartition(partitions), name)

  /** Each of `slices` appended as one part file, oldest first, mod-times
    * pinned 1 s apart. */
  def sliced(slices: Seq[DataFrame], name: String): Replay = {
    val dir = tempDir(name)
    val base = System.currentTimeMillis() - 3600L * 1000L
    val seen = scala.collection.mutable.Set.empty[String]
    slices.zipWithIndex.foreach { case (df, i) =>
      df.coalesce(1).write.mode("append").parquet(dir)
      Option(new java.io.File(dir).listFiles).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("part-") && !seen.contains(f.getName))
        .foreach { f =>
          require(f.setLastModified(base + i.toLong * 1000L),
            s"cannot pin replay order on ${f.getName}")
          seen += f.getName
        }
    }
    Replay(slices.head.sparkSession, dir, nullable(slices.head.schema))
  }

  /** Time-ordered replay: `project(ev)` in [[Slices]] slices of the
    * event range [smin, smax] (in `sec`) cut in `unit`-second steps. */
  def ordered(ev: DataFrame, project: DataFrame => DataFrame, name: String,
      smin: Long, smax: Long, unit: Long): Replay = {
    val (lo, hi) = (smin / unit, smax / unit)
    val slot = expr(s"sec div $unit")
    sliced((0 until Slices).map { i =>
      project(ev.filter(slot >= lo + i * (hi - lo + 1) / Slices &&
        slot < lo + (i + 1) * (hi - lo + 1) / Slices))
    }, name)
  }
}
