package graft.core

import org.apache.spark.sql.DataFrame

/** Session-level fitted-model cache for the gate harness: ML gates are
  * semantically independent, so by default each fits its own model —
  * but several fit the SAME (input data, hyperparameters), and in a
  * 280-gate suite those duplicate fits are pure wall-clock. The cache
  * keys on (canonicalized analyzed plan of the training input, params
  * string): a hit is only possible for an IDENTICAL training relation
  * with identical hyperparameters, where a seeded MLlib fit is
  * deterministic anyway — so a hit changes nothing semantically, it
  * just skips the duplicate work (and is in fact stronger: callers get
  * the exact same persisted artifact, not a bit-identical refit).
  *
  * Values are PATHS to saved models, not live model objects:
  * [[graft.SessionHygiene]] unpersists every RDD between gates, which
  * would strand a live model's factor/summary DataFrames
  * (localCheckpoint lineage is truncated — consuming it after a reset
  * fails with block-not-found, it does not recompute). A disk-backed
  * model reloads as plain parquet scans, immune to the reset. Paths
  * live under [[TempPaths]] (pid-keyed, deleted at JVM exit).
  */
object FitCache {

  private val paths = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Cache key: md5(canonicalized analyzed plan + sorted input files,
    * each with its length and modification time) + params. The
    * canonicalized plan carries the operator structure (filters, joins,
    * projections) with expression ids normalized — but its leaf
    * relations print WITHOUT their file location (`Relation
    * [none#0L,...] parquet` — verified identical across different
    * source directories), so the plan string alone would collide across
    * datasets and serve a model fit on the wrong data. `inputFiles` pins
    * the actual files read, and their length and modification time
    * (stat'ed now, not taken from a listing cached by the relation) pin
    * their content: a file rewritten in place under the same path
    * changes the key. */
  def key(input: DataFrame, params: Any): String = {
    val conf = input.sparkSession.sparkContext.hadoopConfiguration
    val files = input.inputFiles.sorted.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val st = p.getFileSystem(conf).getFileStatus(p)
      s"$f:${st.getLen}:${st.getModificationTime}"
    }
    val plan = input.queryExecution.analyzed.canonicalized.toString +
      "|" + files.mkString(",")
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(plan.getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"$md5|$params"
  }

  /** Look up a saved model for (input, params); on miss, run `fit`,
    * persist via `save(model, path)`, and record the path. Always
    * returns through `load` so every caller — first or later — reads
    * the same disk artifact.
    *
    * Concurrency: TrieMap.getOrElseUpdate is NOT atomic, so two
    * concurrent first callers may both fit — that duplicate work is
    * accepted (lock-free), but each fits into its OWN nonce'd path and
    * publication goes through putIfAbsent, so racers can never
    * interleave writes into one directory; the loser deletes its copy
    * and loads the winner's. */
  def getOrFit[M](input: DataFrame, params: Any, what: String)(
      fit: => M)(save: (M, String) => Unit)(load: String => M): M = {
    val k = key(input, params)
    val path = paths.get(k).getOrElse {
      val p = TempPaths.gatePath(
        s"fit_${what}_${Integer.toHexString(k.hashCode)}_" +
          java.lang.Long.toHexString(System.nanoTime()))
      save(fit, p)
      paths.putIfAbsent(k, p) match {
        case Some(winner) => TempPaths.clearDir(p); winner
        case None => p
      }
    }
    load(path)
  }
}
