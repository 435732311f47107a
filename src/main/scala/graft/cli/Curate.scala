package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Cross, LocalFs, Tables}
import graft.functions.TextFns
import graft.operators.{Curation, Dedup}

/** End-to-end corpus curation CLI — the LLM-data-pipeline operators
  * composed the way a data release actually runs them:
  *
  *   0. optional phrase-blocklist safety pass (token-anchored inverted-
  *      index match, gate q202): blocked docs drop before any dedup
  *      work is spent on them;
  *   1. exact dedup (md5 groups, min-id keeper);
  *   2. MinHash-LSH near-dup clusters → QUALITY-aware survivor per
  *      cluster (stopword-ratio score, ties to min id);
  *   2.5 optional paragraph-level boilerplate scrub (paraMinDf > 0):
  *      blank-line paragraphs appearing in >= paraMinDf documents are
  *      removed from every document (C4-style, gate q184);
  *   3. optional substring dedup (spanMinRun > 0): duplicated token
  *      runs of >= spanMinRun are removed from non-keeper docs and the
  *      surviving token stream becomes the document's text;
  *   4. optional benchmark decontamination (distinct-shingle overlap
  *      against a broadcast eval corpus);
  *   5. greedy token-budget selection over the survivors
  *      (quality-descending prefix, scored on the post-dedup text);
  *   6. curated corpus written as parquet + a stage-by-stage row/token
  *      accounting JSON.
  *
  * Every stage is an already-gated operator (q30, q38/q136, q142, q107,
  * q135) — this main adds only composition and accounting. Usage:
  *
  *   runMain graft.cli.Curate <sfDir> <outDir> [tokenBudget] [benchDir] [spanMinRun] [paraMinDf] [stopword|classifier] [blockPhrases(comma-sep)]
  *   runMain graft.cli.Curate ingest <incomingDir> <corpusDir> <outDir> [minBandHits]
  *   runMain graft.cli.Curate profile <sfDir> <outDir>
  *   runMain graft.cli.Curate mix <sfDir> <outDir> <totalBudget> [tau]
  *
  * `mix` is the CROSS-SOURCE mixture pass (the q182+q156+q154 operators
  * composed): raw per-doc quality scores are calibrated to within-source
  * quantiles (sources' raw scales are incomparable), the total budget
  * splits across sources by temperature-scaled token share (tau < 1
  * upsamples low-resource sources), and each source keeps its own
  * calibrated-quality greedy prefix under its own budget.
  *
  * `profile` publishes the dataset card beside the data: the per-source
  * corpus card (q168) and the cross-source contamination matrix (q173)
  * as parquet artifacts plus a one-line total — the release report a
  * curated corpus ships with.
  *
  * benchDir, when given, points at a second documents.parquet directory
  * whose contents are treated as the held-out benchmark ("-" skips it).
  *
  * `ingest` is the ALWAYS-ON dual of the batch pass: incoming documents
  * are REPLAYED AS A STREAM and probed against the previously-curated
  * corpus (exact digests + LSH band index, the
  * [[graft.streaming.Ingest]] operator); novel docs are admitted to
  * `outDir/admitted` and the corpus token statistics are updated
  * INCREMENTALLY — partial aggregate states ([[Incremental]], the
  * q123/q127 machinery) merge the admitted batch into the base stats
  * without re-scanning the corpus.
  */
object Curate {

  final case class Stats(
      nInput: Long, nAfterExact: Long, nAfterNearDup: Long,
      tokensSpanRemoved: Long, nDecontaminated: Long,
      nSelected: Long, tokensSelected: Long, tokenBudget: Long,
      parasRemoved: Long = 0L, nBlocked: Long = 0L)

  final case class IngestStats(
      nIncoming: Long, nExactDup: Long, nNearDup: Long, nAdmitted: Long,
      totalDocs: Long, totalTokens: Long)

  final case class ProfileStats(
      nSources: Long, nDocs: Long, nTokens: Long, nExactDups: Long,
      nOverlapPairs: Long)

  final case class MixStats(
      nInput: Long, nSources: Long, totalBudget: Long,
      nSelected: Long, tokensSelected: Long)

  /** Cross-source mixture curation: calibrate per-source quality to
    * quantiles ([[Curation.quantileNormalizeByKey]], gate q182), split
    * `totalBudget` across sources by temperature-scaled token share
    * ([[Curation.temperatureBudgets]], gate q156), then run each
    * source's own calibrated-quality greedy prefix under its budget
    * ([[Curation.selectUnderBudgetPerKey]], gate q154). The per-source
    * budget map is |sources| rows of driver loop-control state — the
    * IVF-centroid class, never per-row traffic. Writes the selected
    * corpus to `outDir/corpus`, the per-source mixture report
    * (share, weight, budget, realized tokens) to `outDir/mixture`. */
  def runMix(spark: SparkSession, sfDir: String, outDir: String,
      totalBudget: Long, tau: Double): MixStats = {
    LocalFs.install(spark)
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "text")
    val scored = score(docs).join(docs.select("doc_id", "source"), "doc_id")
    val budgetsDf = Curation.temperatureBudgets(scored, col("source"),
      col("ntok"), tau, totalBudget)
    val budgets = budgetsDf.select("key", "budget_tokens").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val cal = Curation.quantileNormalizeByKey(scored, col("source"),
        col("doc_id"), col("quality"))
      .select(col("key"), col("id").as("doc_id"), col("qnorm"))
      .join(scored.select("doc_id", "ntok"), "doc_id")
    val sel = Curation.selectUnderBudgetPerKey(cal, col("key"), col("doc_id"),
        col("qnorm"), col("ntok"), budgets, defaultBudget = 0L)
      .filter(col("selected"))
      .select(col("key").as("source"), col("id").as("doc_id"),
        col("quality").as("qnorm"), col("ntok"), col("cum_before"))
    val corpus = sel.join(docs.select("doc_id", "text"), "doc_id")
    corpus.write.mode("overwrite").parquet(s"$outDir/corpus")
    val realized = spark.read.parquet(s"$outDir/corpus")
      .groupBy("source").agg(count(lit(1)).as("sel_docs"),
        coalesce(sum("ntok"), lit(0L)).as("sel_tokens"))
    budgetsDf.withColumnRenamed("key", "source")
      .join(realized, Seq("source"), "left")
      .na.fill(0L, Seq("sel_docs", "sel_tokens"))
      .orderBy("source")
      .write.mode("overwrite").parquet(s"$outDir/mixture")
    val mix = spark.read.parquet(s"$outDir/mixture")
    val tot = mix.agg(coalesce(sum("sel_docs"), lit(0L)),
      coalesce(sum("sel_tokens"), lit(0L))).head()
    MixStats(scored.count(), mix.count(), totalBudget,
      tot.getLong(0), tot.getLong(1))
  }

  /** Publish the dataset card for a documents directory: per-source
    * corpus card to `outDir/card`, cross-source contamination matrix to
    * `outDir/overlap`, totals returned (and printed by main). */
  def runProfile(spark: SparkSession, sfDir: String, outDir: String): ProfileStats = {
    LocalFs.install(spark)
    val docs = Tables.documents(spark, sfDir)
    val card = graft.operators.Profile.corpusCard(docs).orderBy("source")
    card.write.mode("overwrite").parquet(s"$outDir/card")
    val overlap = graft.operators.Profile.sourceOverlap(docs)
      .orderBy("source_a", "source_b")
    overlap.write.mode("overwrite").parquet(s"$outDir/overlap")
    val written = spark.read.parquet(s"$outDir/card")
    val tot = written.agg(sum("n_docs"), sum("n_tokens"), sum("exact_dup_docs")).head()
    ProfileStats(written.count(), tot.getLong(0), tot.getLong(1), tot.getLong(2),
      spark.read.parquet(s"$outDir/overlap").count())
  }

  // memory-sink names must be unique per streaming query within a JVM
  private val ingestRuns = new java.util.concurrent.atomic.AtomicLong(0L)

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("ingest")) {
      val Array(_, incomingDir, corpusDir, outDir) = args.take(4)
      val minBandHits = args.lift(4).map(_.toInt).getOrElse(1)
      val spark = Cli.session()
      val s = runIngest(spark, incomingDir, corpusDir, outDir, minBandHits)
      println(f"[curate-ingest] incoming=${s.nIncoming} exact_dup=${s.nExactDup} " +
        f"near_dup=${s.nNearDup} admitted=${s.nAdmitted} " +
        f"corpus_now=${s.totalDocs} docs/${s.totalTokens} tokens")
      spark.stop()
      return
    }
    if (args.headOption.contains("mix")) {
      val Array(_, sfDir, outDir, budgetStr) = args.take(4)
      val tau = args.lift(4).map(_.toDouble).getOrElse(0.7)
      val spark = Cli.session()
      val s = runMix(spark, sfDir, outDir, budgetStr.toLong, tau)
      println(f"[curate-mix] sources=${s.nSources} docs=${s.nInput} " +
        f"tau=$tau selected=${s.nSelected} " +
        f"tokens=${s.tokensSelected}/${s.totalBudget}")
      spark.stop()
      return
    }
    if (args.headOption.contains("profile")) {
      val Array(_, sfDir, outDir) = args.take(3)
      val spark = Cli.session()
      val s = runProfile(spark, sfDir, outDir)
      println(f"[curate-profile] sources=${s.nSources} docs=${s.nDocs} " +
        f"tokens=${s.nTokens} exact_dups=${s.nExactDups} " +
        f"overlapping_pairs=${s.nOverlapPairs}")
      spark.stop()
      return
    }
    val Array(sfDir, outDir) = args.take(2)
    val budget = args.lift(2).map(_.toLong).getOrElse(50000L)
    val benchDir = args.lift(3).filter(_ != "-")
    val spanMinRun = args.lift(4).map(_.toInt).getOrElse(0)
    val paraMinDf = args.lift(5).map(_.toInt).getOrElse(0)
    val qualityMode = args.lift(6).getOrElse("stopword")
    require(qualityMode == "stopword" || qualityMode == "classifier",
      s"quality mode must be stopword|classifier, got $qualityMode")
    val blockPhrases = args.lift(7).filter(_ != "-")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)
    val spark = Cli.session()
    val s = run(spark, sfDir, outDir, budget, benchDir, spanMinRun, paraMinDf,
      classifierQuality = qualityMode == "classifier",
      blockPhrases = blockPhrases)
    println(f"[curate] input=${s.nInput} blocked=${s.nBlocked} " +
      f"exact=${s.nAfterExact} " +
      f"neardup=${s.nAfterNearDup} paras_removed=${s.parasRemoved} " +
      f"span_removed_tokens=${s.tokensSpanRemoved} " +
      f"decontaminated=${s.nDecontaminated} " +
      f"selected=${s.nSelected} tokens=${s.tokensSelected}/${s.tokenBudget}")
    spark.stop()
  }

  /** Run the full pipeline; returns the per-stage accounting (also
    * written to `outDir/stats.json`, corpus to `outDir/corpus`).
    * `spanMinRun > 0` enables the substring-dedup stage at that
    * minimum-run threshold (span width 3). */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      budget: Long, benchDir: Option[String] = None,
      spanMinRun: Int = 0, paraMinDf: Int = 0,
      classifierQuality: Boolean = false,
      blockPhrases: Seq[String] = Nil): Stats = {
    LocalFs.install(spark)
    val allDocs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val nInput = allDocs.count()

    // 0. optional phrase-blocklist safety pass (q202): any token-anchored
    // occurrence of a banned phrase drops the document before any dedup
    // work is spent on it
    val docs =
      if (blockPhrases.isEmpty) allDocs
      else allDocs.join(
        graft.operators.Blocklist.verdicts(allDocs, blockPhrases)
          .filter(!col("blocked")).select("doc_id"),
        Seq("doc_id"), "left_semi")
    val nBlocked = if (blockPhrases.isEmpty) 0L else nInput - docs.count()

    // quality scorer for the survivor and budget stages: the stopword
    // ratio by default, or the in-engine logistic classifier
    // (Classifier.logisticTrain on the corpus's own lang='en' labels —
    // the fastText-style trainability filter) — trained ONCE here, a
    // pure projection at every use
    val scoreDocs: DataFrame => DataFrame =
      if (!classifierQuality) score
      else {
        import graft.operators.Classifier
        val full = Tables.documents(spark, sfDir)
        val w = Classifier.logisticTrain(full,
          Classifier.docFeatures(col("text")),
          (col("lang") === "en").cast("int"), iters = 3, lr = 0.5).last._2
        d => d.select(col("doc_id"), col("text"),
          size(TextFns.tokens(col("text"))).cast("long").as("ntok"),
          Classifier.logisticScore(
            Classifier.docFeatures(col("text")), w).as("quality"))
      }

    // 1. exact dedup: keep each md5 group's min-id doc
    val exactSurvivors = docs.join(
      Dedup.exactGroups(docs).select(col("keeper").as("doc_id")),
      Seq("doc_id"), "left_semi")
    val nExact = exactSurvivors.count()

    // 2. near-dup clusters; each cluster keeps its BEST-quality doc
    val clusters = Dedup.dedupClusters(spark, exactSurvivors,
      k = 16, rowsPerBand = 2, shingleN = 3, minJaccard = 0.5)
    val nearSurvivors = exactSurvivors.join(
      Curation.bestPerCluster(
          clusters.join(scoreDocs(exactSurvivors).select("doc_id", "quality"), "doc_id"))
        .select(col("survivor").as("doc_id")),
      Seq("doc_id"), "left_semi")
    val nNear = nearSurvivors.count()

    // 2.5 optional paragraph-level boilerplate scrub (paraMinDf > 0):
    // blank-line paragraphs appearing in >= paraMinDf docs are removed
    // EVERYWHERE (keepFirst=false — a nav bar should survive nowhere);
    // the kept paragraphs become the document text downstream
    val (paraDocs, parasRemoved) =
      if (paraMinDf <= 0) (nearSurvivors, 0L)
      else {
        val units = Dedup.dedupUnits(nearSurvivors, col("doc_id"),
          split(col("text"), "\\n{2,}"),
          minDf = paraMinDf, keepFirst = false, sep = "\n\n")
        val removed = units
          .agg(coalesce(sum(col("n_units") - col("n_kept")), lit(0L)))
          .head().getLong(0)
        (units.select(col("id").as("doc_id"), col("kept_text").as("text")),
          removed)
      }

    // 3. optional substring dedup: the kept token stream becomes the
    // document text; quality/ntok below are scored on the REWRITE
    val (deduped, spanRemoved) =
      if (spanMinRun <= 0) (paraDocs, 0L)
      else {
        val sd = graft.operators.Repetition
          .removeDuplicatedSpans(paraDocs, w = 3, minRun = spanMinRun)
        val removed = sd.agg(coalesce(sum("n_removed"), lit(0L))).head().getLong(0)
        (sd.select(col("doc_id"), col("kept_text").as("text")), removed)
      }
    val scored = scoreDocs(deduped)

    // 4. optional benchmark decontamination (broadcast eval shingles)
    val clean = benchDir match {
      case Some(bd) =>
        val bench = Tables.documents(spark, bd).select("doc_id", "text")
        scored.join(
          Dedup.decontaminate(deduped, bench, shingleN = 3, minOverlap = 1)
            .filter(!col("contaminated")).select("doc_id"),
          Seq("doc_id"), "left_semi")
      case None => scored
    }
    val nClean = clean.count()

    // 5. greedy token-budget selection over the clean survivors
    val selected = Curation.selectUnderBudget(clean,
        col("doc_id"), col("quality"), col("ntok"), budget)
      .filter(col("selected"))
      .withColumnRenamed("id", "doc_id")
    val corpus = selected
      .join(deduped, "doc_id")
      .select("doc_id", "text", "quality", "ntok", "cum_before")
    corpus.write.mode("overwrite").parquet(s"$outDir/corpus")
    // base partial aggregate state for incremental maintenance: the
    // ingest mode merges admitted batches into these without ever
    // re-scanning the corpus (q123/q127 machinery)
    graft.operators.Incremental
      .partials(corpus, lit("all"), lit("base"), col("ntok"), scale = 0)
      .write.mode("overwrite").parquet(s"$outDir/partials")
    // probe-state artifacts: the LSH band index and exact-digest set of
    // the curated corpus. Together with the partials these are the ONLY
    // state ingestion needs — each admitted batch appends to them, so
    // the corpus text is never re-read after this build.
    Dedup.corpusBandIndex(spark, corpus, k = 16, rowsPerBand = 2, shingleN = 3)
      .write.mode("overwrite").parquet(s"$outDir/band_index")
    corpus.select(md5(col("text")).as("digest")).distinct()
      .write.mode("overwrite").parquet(s"$outDir/digests")
    // 6b. the TRAINING SCHEDULE beside the corpus: a proportional
    // source-interleaved reading order (q208 — no domain bursts) and a
    // no-straddle harmonic packing into 512-token bins (q213); both are
    // gated operators, this just publishes their artifacts
    // fixture corpora may carry no provenance column — a single-source
    // interleave is then the correct degenerate schedule
    val srcDocs = Tables.documents(spark, sfDir)
    val withSrc =
      if (srcDocs.columns.contains("source"))
        corpus.join(srcDocs.select("doc_id", "source"), "doc_id")
      else corpus.withColumn("source", lit("all"))
    Curation.interleaveSchedule(withSrc, col("source"), col("doc_id"),
        weights = Map.empty, defaultWeight = 1L)
      .write.mode("overwrite").parquet(s"$outDir/order")
    graft.operators.Packing.packHarmonic(corpus, col("doc_id"), col("ntok"),
        binSize = 512L, classes = 8)
      .write.mode("overwrite").parquet(s"$outDir/packing")
    // 6c. retrieval-grade chunks beside the whole-doc schedule: 256-token
    // sliding windows with 64-token stride overlap (q258), the unit a
    // RAG index or context-window loader consumes — pure per-row
    // arithmetic over the already-selected corpus
    graft.operators.Packing.chunkSliding(corpus, col("doc_id"),
        graft.functions.TextFns.tokens(col("text")),
        chunkSize = 256, stride = 192)
      .write.mode("overwrite").parquet(s"$outDir/chunks")
    // 6d. containment-probe deployment artifacts: the container index
    // under the HOT-DEMOTED probe order (q263), with the demotion set
    // published beside it — any downstream streaming probe loads both
    // and reproduces the exact order the index was built under (the
    // order must be SHARED or the prefix theorem breaks). Hot-demoted
    // is the default a deployment gets: same verified output as the
    // plain lexicographic order, minus the hot-posting-list fan-out
    // (DedupSpec pins both claims).
    val hotSet = Dedup.hotShingles(corpus, shingleN = 3, k = 64)
    import spark.implicits._
    hotSet.zipWithIndex
      .map { case (sh, i) => ((i + 1).toLong, sh) }.toDF("rank", "shingle")
      .write.mode("overwrite").parquet(s"$outDir/hot_shingles")
    Dedup.containerIndex(corpus, shingleN = 3, hot = hotSet)
      .write.mode("overwrite").parquet(s"$outDir/container_index")
    val agg = selected.agg(count(lit(1)), coalesce(sum("ntok"), lit(0L))).head()
    val stats = Stats(nInput, nExact, nNear, spanRemoved, nNear - nClean,
      agg.getLong(0), agg.getLong(1), budget, parasRemoved, nBlocked)

    val json =
      s"""{"n_input":${stats.nInput},"n_blocked":${stats.nBlocked},
         |"n_after_exact":${stats.nAfterExact},
         |"n_after_neardup":${stats.nAfterNearDup},
         |"paras_removed":${stats.parasRemoved},
         |"tokens_span_removed":${stats.tokensSpanRemoved},
         |"n_decontaminated":${stats.nDecontaminated},
         |"n_selected":${stats.nSelected},
         |"tokens_selected":${stats.tokensSelected},
         |"token_budget":${stats.tokenBudget}}""".stripMargin.replace("\n", "")
    new java.io.File(outDir).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outDir, "stats.json"), json)
    stats
  }

  /** Ingestion mode: replay `incomingDir`'s documents as a stream,
    * probe each against the curated corpus at `corpusDir` (built by
    * [[run]]), admit the novel ones to `outDir/admitted`, and update
    * the corpus token stats incrementally via partial-state merge.
    * Returns the admission accounting (also `outDir/ingest_stats.json`).
    *
    * The streaming leg produces per-doc verdicts
    * ([[graft.streaming.Ingest.admissionVerdicts]] — stateless probe
    * projection, stream-static joins, ONE aggregation); the admitted
    * corpus write and stats merge are the batch epilogue over those
    * verdicts, exactly how an always-on probe service hands admissions
    * to a downstream writer. */
  def runIngest(spark: SparkSession, incomingDir: String, corpusDir: String,
      outDir: String, minBandHits: Int = 1): IngestStats = {
    LocalFs.install(spark)
    import org.apache.spark.sql.types._
    def artifact(dir: String, name: String): Option[org.apache.spark.sql.DataFrame] = {
      val p = java.nio.file.Paths.get(dir, name)
      if (java.nio.file.Files.exists(p)) Some(spark.read.parquet(p.toString)) else None
    }
    // probe state: the persisted band-index + digest artifacts when the
    // corpus was built (or already ingested into) by this CLI — the
    // corpus text is then never read at all; the parquet corpus is only
    // the fallback for corpora curated elsewhere
    val bandIdx = artifact(corpusDir, "band_index")
    val digests = artifact(corpusDir, "digests")
    lazy val corpus = spark.read.parquet(s"$corpusDir/corpus").select("doc_id", "text")
    val corpusForFallback =
      if (bandIdx.isDefined && digests.isDefined) spark.emptyDataFrame else corpus
    // incoming may be a bare dir of parquet or an sf-layout dir with a
    // documents.parquet inside
    val srcPath = {
      val sub = java.nio.file.Paths.get(incomingDir, "documents.parquet")
      if (java.nio.file.Files.exists(sub)) sub.toString else incomingDir
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "*.parquet").parquet(srcPath)
      .select("doc_id", "text")
    val verdicts = graft.streaming.EventStreams.runToCompletion(spark,
      graft.streaming.Ingest.admissionVerdicts(stream, corpusForFallback,
        k = 16, rowsPerBand = 2, shingleN = 3, minBandHits,
        corpusBands = bandIdx, corpusDigests = digests),
      s"graft_ingest_verdicts_${ingestRuns.incrementAndGet()}")
    val counts = verdicts.agg(
      count(lit(1)),
      count(when(col("exact_dup"), 1)),
      count(when(!col("exact_dup") && !col("admitted"), 1)),
      count(when(col("admitted"), 1))).head()
    val admitted = score(
      spark.read.schema(schema).parquet(srcPath).select("doc_id", "text")
        .join(verdicts.filter(col("admitted")).select("doc_id"),
          Seq("doc_id"), "left_semi"))
    admitted.write.mode("overwrite").parquet(s"$outDir/admitted")
    // incremental probe-state maintenance: admitted docs' bands and
    // digests APPEND to the artifacts, so the next ingest run probes
    // against the updated corpus without ever touching its text
    // (localCheckpoint first: outDir may equal corpusDir, and a lazy
    // read-then-overwrite of the same path would corrupt it)
    val admittedDocs = spark.read.parquet(s"$outDir/admitted")
      .select("doc_id", "text")
    val updatedBands = bandIdx
      .getOrElse(Dedup.corpusBandIndex(spark, corpus, k = 16, rowsPerBand = 2, shingleN = 3))
      .unionByName(Dedup.corpusBandIndex(spark, admittedDocs,
        k = 16, rowsPerBand = 2, shingleN = 3)
        .select("corpus_id", "band", "bkey"))
      .localCheckpoint(true)
    updatedBands.write.mode("overwrite").parquet(s"$outDir/band_index")
    val updatedDigests = digests
      .getOrElse(corpus.select(md5(col("text")).as("digest")).distinct())
      .select("digest")
      .unionByName(admittedDocs.select(md5(col("text")).as("digest")))
      .distinct()
      .localCheckpoint(true)
    updatedDigests.write.mode("overwrite").parquet(s"$outDir/digests")
    // incremental stats: base partials from the batch run (recomputed
    // from the corpus if absent) + one new partial row for this batch;
    // merging partials replaces re-aggregating the whole corpus
    val basePartials = {
      val p = java.nio.file.Paths.get(corpusDir, "partials")
      if (java.nio.file.Files.exists(p)) spark.read.parquet(p.toString)
      else graft.operators.Incremental.partials(
        spark.read.parquet(s"$corpusDir/corpus"),
        lit("all"), lit("base"), col("ntok"), scale = 0)
    }
    val newPartials = graft.operators.Incremental.partials(
      spark.read.parquet(s"$outDir/admitted"),
      lit("all"), lit("ingest"), col("ntok"), scale = 0)
    // materialize before writing: outDir may equal corpusDir, and a
    // lazy read-then-overwrite of the same path would corrupt it
    val allPartials = basePartials.unionByName(newPartials).localCheckpoint(true)
    allPartials.write.mode("overwrite").parquet(s"$outDir/partials")
    val tot = graft.operators.Incremental.merge(allPartials)
      .select(col("n"), col("sum").cast("long")).head()
    val stats = IngestStats(counts.getLong(0), counts.getLong(1),
      counts.getLong(2), counts.getLong(3), tot.getLong(0), tot.getLong(1))
    new java.io.File(outDir).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outDir, "ingest_stats.json"),
      s"""{"n_incoming":${stats.nIncoming},"n_exact_dup":${stats.nExactDup},""" +
        s""""n_near_dup":${stats.nNearDup},"n_admitted":${stats.nAdmitted},""" +
        s""""total_docs":${stats.totalDocs},"total_tokens":${stats.totalTokens}}""")
    stats
  }

  /** (doc_id, text, ntok, quality) — the stopword-ratio score the
    * cluster-survivor and budget stages share. */
  private def score(docs: DataFrame): DataFrame =
    docs
      .withColumn("tk", TextFns.tokens(col("text")))
      .select(col("doc_id"), col("text"),
        size(col("tk")).cast("long").as("ntok"),
        when(size(col("tk")) > 0,
          Cross.r6(TextFns.lexiconHits(col("tk"), TextFns.stopwords).cast("double") /
            size(col("tk")).cast("double")))
          .otherwise(0.0).as("quality"))
}
