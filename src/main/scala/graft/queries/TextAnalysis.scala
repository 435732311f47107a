package graft.queries

import org.apache.spark.sql.functions._

import graft.core.Cross
import graft.core.Tables
import graft.functions.{TextFns, TextSql}

/** Text-analysis gate queries over the `documents` table: tokenization,
  * term/document frequency, exact TF-IDF (log2, as in the reference —
  * models/content_based_model.py:163), quality scoring, language-ID,
  * token counting, fingerprinting, n-grams.
  *
  * Scale: token explosion is the only row-multiplying step; term-count
  * aggregation is algebraic (map-side partial agg) and top-k is a
  * TakeOrdered on the already-aggregated term table, so shuffle volume is
  * O(distinct terms), not O(tokens).
  */
object TextAnalysis {

  private val toks = TextSql.tokens("text")
  private val ctoks = TextSql.contentTokens("text")

  /** X1/X2/P2/A4: corpus term counts after stopword removal, top 50. */
  val q20 = QueryDef(
    "q20_term_counts",
    s"""SELECT term, COUNT(*) AS n FROM (
       |  SELECT unnest($ctoks) AS term FROM documents) t
       |GROUP BY term
       |ORDER BY n DESC, term LIMIT 50""".stripMargin) { (spark, dir) =>
    Tables.documents(spark, dir)
      .select(explode(TextFns.contentTokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term")).limit(50)
  }

  /** A3/P3: document frequency of each term (distinct docs), df > 1. */
  val q21 = QueryDef(
    "q21_doc_freq",
    s"""SELECT term, COUNT(*) AS df FROM (
       |  SELECT DISTINCT doc_id, unnest($toks) AS term FROM documents) t
       |GROUP BY term HAVING COUNT(*) > 1
       |ORDER BY term""".stripMargin) { (spark, dir) =>
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
      .distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") > 1)
      .orderBy("term")
  }

  /** A4/A5/M10/T1: exact TF-IDF with tf·log2(N/df) (the reference's
    * formula, not MLlib's ln((N+1)/(df+1))), global top 100. */
  val q22 = QueryDef(
    "q22_tfidf_topk",
    s"""WITH tok AS (SELECT doc_id, unnest($ctoks) AS term FROM documents),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
       |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term),
       |n AS (SELECT COUNT(*) AS n FROM documents)
       |SELECT doc_id, term,
       |  (round((tf * log2(n::DOUBLE / df::DOUBLE)) + 1e-9, 6) + 0.0) AS tfidf
       |FROM tf JOIN df USING (term) CROSS JOIN n
       |ORDER BY tfidf DESC, doc_id, term LIMIT 100""".stripMargin) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    val tok = docs.select(col("doc_id"), explode(TextFns.contentTokens(col("text"))).as("term"))
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tok.groupBy("term").agg(countDistinct("doc_id").as("df"))
    val n = docs.count()
    tf.join(df, "term")
      .select(col("doc_id"), col("term"),
        Cross.r6(col("tf") * log(2.0, lit(n.toDouble) / col("df").cast("double"))).as("tfidf"))
      .orderBy(col("tfidf").desc, col("doc_id"), col("term")).limit(100)
  }

  /** Quality scoring: token count, stopword ratio, mean token length,
    * punctuation density — per doc, pure per-row arithmetic. */
  val q23 = QueryDef(
    "q23_quality",
    s"""WITH t AS (SELECT doc_id, text, $toks AS tk FROM documents)
       |SELECT doc_id,
       |  len(tk) AS n_tokens,
       |  CASE WHEN len(tk) > 0 THEN (round((${TextSql.lexiconHits("tk", TextFns.stopwords)}::DOUBLE / len(tk)::DOUBLE) + 1e-9, 6) + 0.0) ELSE 0.0 END AS stop_ratio,
       |  CASE WHEN len(tk) > 0 THEN (round((${TextSql.tokenChars("tk")}::DOUBLE / len(tk)::DOUBLE) + 1e-9, 6) + 0.0) ELSE 0.0 END AS mean_tok_len,
       |  (round(((length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')))::DOUBLE / length(text)::DOUBLE) + 1e-9, 6) + 0.0) AS punct_ratio
       |FROM t
       |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val d = Tables.documents(spark, dir).withColumn("tk", TextFns.tokens(col("text")))
    d.select(
        col("doc_id"),
        size(col("tk")).as("n_tokens"),
        when(size(col("tk")) > 0,
          Cross.r6(TextFns.lexiconHits(col("tk"), TextFns.stopwords).cast("double") / size(col("tk")).cast("double")))
          .otherwise(0.0).as("stop_ratio"),
        when(size(col("tk")) > 0,
          Cross.r6(TextFns.tokenChars(col("tk")).cast("double") / size(col("tk")).cast("double")))
          .otherwise(0.0).as("mean_tok_len"),
        Cross.r6((length(col("text")) - length(regexp_replace(col("text"), "[^a-z0-9 ]", "")))
          .cast("double") / length(col("text")).cast("double")).as("punct_ratio"))
      .orderBy("doc_id")
  }

  /** Language-ID heuristic per doc + aggregate confusion vs the labeled
    * `lang` column. */
  val q24 = QueryDef(
    "q24_langid",
    s"""WITH t AS (SELECT doc_id, lang, $toks AS tk FROM documents)
       |SELECT lang, ${TextSql.langId("tk")} AS pred, COUNT(*) AS n
       |FROM t
       |GROUP BY lang, pred
       |ORDER BY lang, pred""".stripMargin) { (spark, dir) =>
    Tables.documents(spark, dir)
      .withColumn("tk", TextFns.tokens(col("text")))
      .select(col("lang"), TextFns.langId(col("tk")).as("pred"))
      .groupBy("lang", "pred").agg(count(lit(1)).as("n"))
      .orderBy("lang", "pred")
  }

  /** Token counting: whitespace tokens vs BPE-ish regex pieces. */
  val q25 = QueryDef(
    "q25_token_count",
    s"""SELECT doc_id,
       |  len($toks) AS ws_tokens,
       |  ${TextSql.bpeishCount("text")} AS bpeish_tokens
       |FROM documents
       |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(TextFns.tokens(col("text"))).as("ws_tokens"),
        TextFns.bpeishCount(col("text")).as("bpeish_tokens"))
      .orderBy("doc_id")
  }

  /** Document fingerprinting (rolling-hash analog via md5 of normalized
    * text) + fingerprint-group sizes. */
  val q26 = QueryDef(
    "q26_fingerprint",
    s"""WITH f AS (SELECT doc_id, ${TextSql.fingerprint("text")} AS fp FROM documents)
       |SELECT fp, COUNT(*) AS n, MIN(doc_id) AS keeper
       |FROM f GROUP BY fp
       |ORDER BY fp""".stripMargin) { (spark, dir) =>
    Tables.documents(spark, dir)
      .select(col("doc_id"), TextFns.fingerprint(col("text")).as("fp"))
      .groupBy("fp").agg(count(lit(1)).as("n"), min("doc_id").as("keeper"))
      .orderBy("fp")
  }

  /** Corpus bigrams (X8-style n-gram explosion), top 40. */
  val q27 = QueryDef(
    "q27_bigrams",
    s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents)
       |SELECT bigram, COUNT(*) AS n FROM (
       |  SELECT unnest(${TextSql.shingles("tk", 2)}) AS bigram FROM t) s
       |GROUP BY bigram
       |ORDER BY n DESC, bigram LIMIT 40""".stripMargin) { (spark, dir) =>
    Tables.documents(spark, dir)
      .withColumn("tk", TextFns.tokens(col("text")))
      .select(explode(TextFns.shingles(col("tk"), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram")).limit(40)
  }

  /** Unigram log-probability quality score: mean log2 of each token's
    * corpus frequency — the statistical baseline behind model-based
    * quality filtering of training data (docs of common language score
    * high, gibberish scores low). One corpus frequency table, one join,
    * one exact decimal mean; no model needed. */
  val q28 = QueryDef(
    "q28_unigram_logprob",
    s"""WITH tok AS (SELECT doc_id, unnest($toks) AS t FROM documents),
       |freq AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
       |tot AS (SELECT COUNT(*) AS tt FROM tok),
       |scored AS (
       |  SELECT doc_id,
       |         ${Cross.dsumSql("log2(c::DOUBLE / tt::DOUBLE)", 6)} AS s,
       |         COUNT(*) AS n_tokens
       |  FROM tok JOIN freq USING (t) CROSS JOIN tot
       |  GROUP BY doc_id)
       |SELECT doc_id, n_tokens, (round((s / n_tokens::DOUBLE) + 1e-9, 6) + 0.0) AS logprob
       |FROM scored
       |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("t"))
    val freq = tok.groupBy("t").agg(count(lit(1)).as("c"))
    val tot = tok.agg(count(lit(1)).as("tt"))
    tok.join(freq, "t")
      .crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(Cross.dsum(log(2.0, col("c").cast("double") / col("tt").cast("double")), 6).as("s"),
        count(lit(1)).as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        Cross.r6(col("s") / col("n_tokens").cast("double")).as("logprob"))
      .orderBy("doc_id")
  }

  /** Token-window chunking (chunkSize 32, overlap 8) — the RAG/context
    * prep step, all expression-level array ops (no UDF; rows appear only
    * at the final explode). The oracle replays the identical slice
    * arithmetic: chunk i = tokens [i·24 + 1, i·24 + 32], ceil count,
    * minimum one chunk per doc. */
  val q29 = QueryDef(
    "q29_chunking",
    s"""WITH tok AS (SELECT doc_id, $toks AS tk FROM documents)
       |SELECT doc_id, i AS chunk_idx,
       |       array_to_string(list_slice(tk, i * 24 + 1, i * 24 + 32), ' ') AS chunk
       |FROM tok, unnest(range(0, GREATEST(1, (len(tk) - 8 + 23) // 24))) AS g(i)
       |ORDER BY doc_id, chunk_idx""".stripMargin) { (spark, dir) =>
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(TextFns.chunkTokens(TextFns.tokens(col("text")), 32, 8)).as(Seq("pos", "c")))
      .select(col("doc_id"), col("c").getField("idx").as("chunk_idx"),
        col("c").getField("chunk").as("chunk"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** PII scrub (emails → <EMAIL>, URLs → <URL>, 7+-digit runs → <NUM>).
    * The synthetic corpus carries no PII, so the gate INJECTS it
    * deterministically from doc_id — identically on both engines — and
    * hash-compares the scrubbed text: a missed or mangled redaction
    * changes the output string. */
  val q39 = QueryDef(
    "q39_pii_scrub",
    s"""WITH injected AS (
       |  SELECT doc_id,
       |    text || ' reach me at user' || doc_id || '@mail.example.com or https://ex.com/'
       |         || doc_id || ' phone 555' || lpad(doc_id::VARCHAR, 7, '0') AS t
       |  FROM documents)
       |SELECT doc_id, ${TextSql.scrubPii("t")} AS scrubbed
       |FROM injected
       |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        concat(col("text"), lit(" reach me at user"), col("doc_id"),
          lit("@mail.example.com or https://ex.com/"), col("doc_id"),
          lit(" phone 555"), lpad(col("doc_id").cast("string"), 7, "0")).as("t"))
      .select(col("doc_id"), TextFns.scrubPii(col("t")).as("scrubbed"))
      .orderBy("doc_id")
  }

  /** Text cleanup (TextFns.cleanText) with injected mess — CRLF, a BEL
    * control char, tab runs, space-padded newlines, a 4-newline blank
    * block, outer padding — so the gate proves every rule fires (the
    * q39 injection pattern; raw crawl text is the one input the clean
    * testdata can't simulate). The full cleaned STRING hash-matches,
    * not just its length. */
  val q183 = QueryDef(
    "q183_text_clean",
    s"""WITH injected AS (
       |  SELECT doc_id,
       |    '  ' || chr(9) || text || chr(13) || chr(10) || chr(7) || '  tail'
       |      || chr(9) || chr(9) || 'x' || chr(10) || ' ' || chr(10) || chr(10)
       |      || chr(10) || 'y  ' AS t
       |  FROM documents)
       |SELECT doc_id, ${TextSql.cleanText("t")} AS cleaned,
       |       length(t) AS len_before,
       |       length(${TextSql.cleanText("t")}) AS len_after
       |FROM injected
       |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        concat(lit("  \t"), col("text"), lit("\r\n\u0007  tail\t\tx\n \n\n\ny  "))
          .as("t"))
      .select(col("doc_id"), TextFns.cleanText(col("t")).as("cleaned"),
        length(col("t")).as("len_before"),
        length(TextFns.cleanText(col("t"))).as("len_after"))
      .orderBy("doc_id")
  }

  /** Sequence packing (Packing.packOffsets): every doc's global token
    * start offset and bin span under concat-and-split packing at 512
    * tokens/bin. The engine computes the prefix sum as a two-level
    * bucketed scan (bucketSize=64 → 8 buckets at this SF, so the
    * cross-bucket carry logic is genuinely exercised); the oracle is the
    * flat single-window formulation — hash-equality proves the
    * distributed decomposition exact. Window SUM casts to BIGINT (DuckDB
    * types it HUGEINT). */
  val q109 = QueryDef(
    "q109_pack_offsets",
    s"""WITH tok AS (
       |  SELECT doc_id AS id, len(${TextSql.tokens("text")})::BIGINT AS ntok FROM documents),
       |off AS (
       |  SELECT id, ntok,
       |    COALESCE(SUM(ntok) OVER (ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS start
       |  FROM tok)
       |SELECT id, ntok, start, start // 512 AS bin_first,
       |  (start + greatest(ntok, 1) - 1) // 512 AS bin_last,
       |  (start // 512) <> ((start + greatest(ntok, 1) - 1) // 512) AS spans_boundary
       |FROM off ORDER BY id""".stripMargin) { (spark, dir) =>
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), size(TextFns.tokens(col("text"))).cast("long").as("ntok"))
    graft.operators.Packing.packOffsets(d, col("doc_id"), col("ntok"),
        binSize = 512, bucketSize = 64)
      .orderBy("id")
  }

  /** BM25 retrieval (Retrieval.bm25) for a 3-term query, k1=1.5 b=0.75 —
    * constants chosen exactly binary-representable so every literal in
    * the scoring expression is bit-identical across engines; tf/df/dl are
    * exact integers, the per-doc sum is decimal-accumulated, and the
    * score is epsilon-rounded before the ordering it drives. */
  val q112 = QueryDef(
    "q112_bm25",
    s"""WITH ${TextSql.bm25ScoredCte(Seq("spark", "query", "window"))},
       |agg AS (
       |  SELECT doc_id, COUNT(*) AS n_hit_terms,
       |         (round((${Cross.dsumSql("s", 6)}) + 1e-9, 6) + 0.0) AS score
       |  FROM scored GROUP BY doc_id)
       |SELECT doc_id, n_hit_terms, score FROM agg
       |ORDER BY score DESC, doc_id""".stripMargin) { (spark, dir) =>
    graft.operators.Retrieval.bm25(Tables.documents(spark, dir),
      Seq("spark", "query", "window"), k1 = 1.5, b = 0.75)
  }

  /** Repetition/diversity quality stats (Repetition.repetitionStats):
    * distinct-token, modal-token and modal-bigram fractions per doc —
    * exact integer ratios, every doc present incl. token-free ones. */
  val q113 = QueryDef(
    "q113_repetition_stats",
    s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
       |tok AS (SELECT doc_id, unnest(tk) AS tkn FROM t),
       |tc AS (SELECT doc_id, tkn, COUNT(*) AS c FROM tok GROUP BY 1, 2),
       |ts AS (SELECT doc_id, SUM(c)::BIGINT AS n_tokens, COUNT(*) AS n_distinct,
       |              MAX(c) AS top_c FROM tc GROUP BY doc_id),
       |bg AS (SELECT doc_id, unnest(${TextSql.shingles("tk", 2)}) AS b FROM t),
       |bc AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY 1, 2),
       |bs AS (SELECT doc_id, SUM(c)::BIGINT AS n_bigrams, MAX(c) AS top_b
       |       FROM bc GROUP BY doc_id)
       |SELECT d.doc_id, COALESCE(n_tokens, 0) AS n_tokens,
       |  (round((CASE WHEN COALESCE(n_tokens, 0) = 0 THEN 0.0
       |         ELSE n_distinct::DOUBLE / n_tokens::DOUBLE END) + 1e-9, 6) + 0.0) AS distinct_frac,
       |  (round((CASE WHEN COALESCE(n_tokens, 0) = 0 THEN 0.0
       |         ELSE top_c::DOUBLE / n_tokens::DOUBLE END) + 1e-9, 6) + 0.0) AS top_token_frac,
       |  (round((CASE WHEN COALESCE(n_bigrams, 0) = 0 THEN 0.0
       |         ELSE top_b::DOUBLE / n_bigrams::DOUBLE END) + 1e-9, 6) + 0.0) AS top_bigram_frac
       |FROM documents d
       |LEFT JOIN ts ON d.doc_id = ts.doc_id
       |LEFT JOIN bs ON d.doc_id = bs.doc_id
       |ORDER BY d.doc_id""".stripMargin) { (spark, dir) =>
    graft.operators.Repetition.repetitionStats(Tables.documents(spark, dir))
      .orderBy("doc_id")
  }

  /** Cross-document duplicated-span fraction
    * (Repetition.duplicatedSpanFraction) at n=6: spans keep per-doc
    * multiplicity, duplication judged on distinct-doc membership — the
    * substring-dedup policy signal, exact at fixed span length. */
  val q116 = QueryDef(
    "q116_dup_spans",
    s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
       |sp AS (SELECT doc_id, unnest(${TextSql.shingles("tk", 6)}) AS s FROM t),
       |df AS (SELECT s, COUNT(*) AS nd FROM (SELECT DISTINCT doc_id, s FROM sp) d GROUP BY s),
       |agg AS (
       |  SELECT doc_id, COUNT(*) AS n_spans,
       |         SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup_spans
       |  FROM sp JOIN df USING (s) GROUP BY doc_id)
       |SELECT d.doc_id, COALESCE(n_spans, 0) AS n_spans,
       |  COALESCE(n_dup_spans, 0) AS n_dup_spans,
       |  (round((CASE WHEN COALESCE(n_spans, 0) = 0 THEN 0.0
       |         ELSE n_dup_spans::DOUBLE / n_spans::DOUBLE END) + 1e-9, 6) + 0.0) AS dup_frac
       |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
       |ORDER BY d.doc_id""".stripMargin) { (spark, dir) =>
    graft.operators.Repetition.duplicatedSpanFraction(Tables.documents(spark, dir), 6)
      .orderBy("doc_id")
  }

  /** Approximate heavy hitters (Sketches.heavyHitters) over the token
    * stream — the sketch at its natural wide key space, composed with a
    * TakeOrdered top-20. The oracle rebuilds the identical sketch, so
    * ranks AND estimates hash-match; width 64 << vocabulary forces real
    * collision mass through the min. */
  val q124 = QueryDef(
    "q124_heavy_hitters",
    s"""WITH keys AS (SELECT unnest($toks) AS k FROM documents),
       |hx AS (SELECT ${Cross.hash31Sql("k")} AS x FROM keys),
       |cells AS (
       |  SELECT h_idx AS row, ${graft.functions.HashFns.happlySql} % 64 AS bucket, COUNT(*) AS cnt
       |  FROM hx CROSS JOIN ${graft.functions.HashFns.minhashParamsSql(4)}
       |  GROUP BY 1, 2),
       |probes AS (SELECT DISTINCT k AS key FROM keys),
       |ph AS (SELECT key, ${Cross.hash31Sql("key")} AS x FROM probes),
       |pc AS (
       |  SELECT key, h_idx AS row, ${graft.functions.HashFns.happlySql} % 64 AS bucket
       |  FROM ph CROSS JOIN ${graft.functions.HashFns.minhashParamsSql(4)}),
       |est AS (
       |  SELECT key, MIN(COALESCE(cnt, 0)) AS est
       |  FROM pc LEFT JOIN cells USING (row, bucket)
       |  GROUP BY key)
       |SELECT key, est FROM est
       |ORDER BY est DESC, key LIMIT 20""".stripMargin) { (spark, dir) =>
    val keys = Tables.documents(spark, dir)
      .select(explode(TextFns.tokens(col("text"))).as("k"))
    graft.operators.Sketches.heavyHitters(keys, depth = 4, width = 64, k = 20)
  }

  /** Interpolated bigram LM scoring (Lm.bigramScore): the perplexity
    * quality filter of LLM curation, self-trained on the corpus. The
    * oracle rebuilds the identical counts and mixture in SQL — integer
    * counts make every probability term bit-exact across engines, and
    * the per-position log2 terms are decimal-rounded before summing
    * (dsum) so addition order can't skew the mean. Docs with < 2 tokens
    * have no bigram positions and drop out in both formulations. */
  private val lmLambda = 0.7
  private val lmAlpha = 1.0
  // rendered from the SAME Scala doubles the Spark side folds in: Scala's
  // 1.0 - 0.7 is 0.30000000000000004, not the SQL literal 0.3, and
  // Double.toString round-trips, so DuckDB parses bit-identical constants
  // every constant is ::DOUBLE — DuckDB types bare decimal literals as
  // DECIMAL (exact arithmetic), which would diverge from Spark's doubles
  private val lmMixSql =
    s"log2($lmLambda::DOUBLE * (cab + $lmAlpha::DOUBLE) / (ca + $lmAlpha::DOUBLE * v) + " +
      s"${1.0 - lmLambda}::DOUBLE * cb / tt)"

  /** Self-trained bigram counts over each doc's tokens `tl(doc_id, ts)`:
    * positions `bg(doc_id, a, b)` and `bgc(a, b, cab)`. */
  private val bigramCte =
    s"""tl AS (SELECT doc_id, $toks AS ts FROM documents),
       |pos AS (SELECT doc_id, ts, unnest(range(1, len(ts))) AS i FROM tl),
       |bg AS (SELECT doc_id, ts[i] AS a, ts[i + 1] AS b FROM pos),
       |bgc AS (SELECT a, b, COUNT(*) AS cab FROM bg GROUP BY a, b)""".stripMargin

  /** [[bigramCte]] plus the interpolated mix's inputs: prefix mass
    * `pre(a, ca)`, unigram counts `ug(t, cb)` and totals `sc(tt, v)`. */
  private val bigramLmCte =
    s"""$bigramCte,
       |pre AS (SELECT a, SUM(cab) AS ca FROM bgc GROUP BY a),
       |ug AS (SELECT t, COUNT(*) AS cb
       |       FROM (SELECT unnest(ts) AS t FROM tl) GROUP BY t),
       |sc AS (SELECT SUM(cb) AS tt, COUNT(*) AS v FROM ug)""".stripMargin

  /** Per-doc `scored(doc_id, s, n_bigrams)`: the decimal sum of the
    * interpolated log2 terms over [[bigramLmCte]]. */
  private val lmScoredCte =
    s"""scored AS (
       |  SELECT doc_id,
       |    ${Cross.dsumSql(lmMixSql, 6)} AS s,
       |    COUNT(*) AS n_bigrams
       |  FROM bg
       |  JOIN bgc USING (a, b) JOIN pre USING (a)
       |  JOIN ug ON ug.t = bg.b
       |  CROSS JOIN sc
       |  GROUP BY doc_id)""".stripMargin

  val q128 = QueryDef(
    "q128_bigram_lm",
    s"""WITH $bigramLmCte,
       |$lmScoredCte
       |SELECT doc_id, n_bigrams,
       |  ${Cross.r6Sql("s / n_bigrams::DOUBLE")} AS avg_logprob
       |FROM scored
       |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    graft.operators.Lm.bigramScore(Tables.documents(spark, dir),
        lambda = lmLambda, alpha = lmAlpha)
      .orderBy("doc_id")
  }

  /** Interpolated Kneser-Ney bigram scoring (Lm.kneserNeyScore): the
    * KenLM-style perplexity filter with absolute discounting and
    * continuation-unigram backoff, self-trained on the corpus. All four
    * count tables (bigram, prefix count + continuation fanout,
    * right-context fanout, type total) are exact integers, so the
    * probability expression is the same IEEE double arithmetic on both
    * engines; per-position log2 terms decimal-round before the sum
    * (q128 discipline). Self-training makes every scored bigram seen,
    * so the joins are inner on both sides. */
  private val knDiscount = 0.75
  private val knMixSql =
    s"log2(greatest(cab::DOUBLE - $knDiscount::DOUBLE, 0.0::DOUBLE) / ca::DOUBLE + " +
      s"$knDiscount::DOUBLE * n1pa::DOUBLE / ca::DOUBLE * (n1pb::DOUBLE / ntypes::DOUBLE))"

  val q162 = QueryDef(
    "q162_kneser_ney",
    s"""WITH $bigramCte,
       |pre AS (SELECT a, SUM(cab) AS ca, COUNT(*) AS n1pa FROM bgc GROUP BY a),
       |cont AS (SELECT b, COUNT(*) AS n1pb FROM bgc GROUP BY b),
       |sc AS (SELECT COUNT(*) AS ntypes FROM bgc),
       |scored AS (
       |  SELECT doc_id,
       |    ${Cross.dsumSql(knMixSql, 6)} AS s,
       |    COUNT(*) AS n_bigrams
       |  FROM bg
       |  JOIN bgc USING (a, b) JOIN pre USING (a) JOIN cont USING (b)
       |  CROSS JOIN sc
       |  GROUP BY doc_id)
       |SELECT doc_id, n_bigrams,
       |  ${Cross.r6Sql("s / n_bigrams::DOUBLE")} AS avg_logprob
       |FROM scored
       |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    graft.operators.Lm.kneserNeyScore(Tables.documents(spark, dir),
        discount = knDiscount)
      .orderBy("doc_id")
  }

  /** BPE fertility by source (Bpe.train + Bpe.segment composed with the
    * corpus token stream): mean subword pieces per word under the
    * trained 8-merge tokenizer, per document source — the standard
    * tokenizer-quality metric (high fertility = the vocab fits that
    * slice poorly). The per-word segmentation joins back to the
    * exploded corpus tokens on the word key, so frequency weighting is
    * implicit; counts are integers, fertility one exact division. */
  val q167 = QueryDef(
    "q167_bpe_fertility",
    bpeCtes(8) +
      s""",
        |dw AS (SELECT source, unnest($toks) AS word FROM documents)
        |SELECT source, COUNT(*) AS n_words, SUM(len(syms))::BIGINT AS n_pieces,
        |  ${Cross.r6Sql("SUM(len(syms))::DOUBLE / COUNT(*)::DOUBLE")} AS fertility
        |FROM dw JOIN seg8 USING (word)
        |GROUP BY source
        |ORDER BY source""".stripMargin) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    val toksCol = TextFns.tokens(col("text"))
    val mt = graft.operators.Bpe.train(docs, toksCol, nMerges = 8)
    val seg = graft.operators.Bpe.segment(docs, toksCol, mt)
      .select(col("word"), size(col("syms")).cast("long").as("n_syms"))
    docs.select(col("source"), explode(toksCol).as("word"))
      .join(seg, Seq("word"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_words"), sum("n_syms").as("n_pieces"))
      .select(col("source"), col("n_words"), col("n_pieces"),
        Cross.r6(col("n_pieces").cast("double") / col("n_words").cast("double"))
          .as("fertility"))
      .orderBy("source")
  }

  /** Per-source corpus card (Profile.corpusCard): the dataset-card
    * report — docs, token mass, language mix with deterministic modal
    * language, exact-dup ledger, mean stopword-quality — per
    * provenance slice. Counts and distincts are exact integers; the
    * two means are decimal-accumulated; the modal language is a
    * row_number argmax with lexicographic ties, mirrored 1:1. */
  val q168 = QueryDef(
    "q168_corpus_card",
    s"""WITH t0 AS (SELECT source, lang, text, $toks AS tk FROM documents),
       |t AS (
       |  SELECT source, lang, md5(text) AS h, len(tk)::BIGINT AS ntok,
       |    CASE WHEN len(tk) > 0 THEN ${Cross.r6Sql(TextSql.lexiconHits("tk", TextFns.stopwords) + "::DOUBLE / len(tk)::DOUBLE")} ELSE 0.0 END AS q
       |  FROM t0),
       |base AS (
       |  SELECT source, COUNT(*) AS n_docs, SUM(ntok)::BIGINT AS n_tokens,
       |    COUNT(DISTINCT h) AS n_distinct, COUNT(DISTINCT lang) AS n_langs,
       |    ${Cross.r6Sql(Cross.davgSql("q", 6))} AS mean_quality
       |  FROM t GROUP BY source),
       |lc AS (SELECT source, lang, COUNT(*) AS c FROM t GROUP BY 1, 2),
       |top AS (SELECT source, lang AS top_lang FROM (
       |  SELECT source, lang, row_number() OVER (PARTITION BY source ORDER BY c DESC, lang) AS rn
       |  FROM lc) z WHERE rn = 1)
       |SELECT b.source, n_docs, n_tokens,
       |  ${Cross.r6Sql("n_tokens::DOUBLE / n_docs::DOUBLE")} AS mean_ntok,
       |  n_langs, top_lang, (n_docs - n_distinct)::BIGINT AS exact_dup_docs,
       |  mean_quality
       |FROM base b JOIN top USING (source)
       |ORDER BY source""".stripMargin) { (spark, dir) =>
    graft.operators.Profile.corpusCard(Tables.documents(spark, dir))
      .orderBy("source")
  }

  /** Cross-source contamination matrix (Profile.sourceOverlap): distinct
    * verbatim texts shared between every source pair, with the overlap
    * coefficient — the re-crawl detector that complements the
    * per-source dup ledger in q168. The synthetic sources share no
    * verbatim text, so the gate unions in a 'recrawl' slice re-labeling
    * src0/src1 (the q112 injection pattern) — the matrix must report
    * exactly those two overlaps and their coefficients. Exact counts,
    * one division. */
  val q173 = QueryDef(
    "q173_source_overlap",
    s"""WITH corpus AS (
       |  SELECT source, text FROM documents
       |  UNION ALL
       |  SELECT 'recrawl' AS source, text FROM documents WHERE source IN ('src0', 'src1')),
       |d AS (SELECT DISTINCT source, md5(text) AS h FROM corpus),
       |sizes AS (SELECT source, COUNT(*) AS n FROM d GROUP BY source),
       |pairs AS (
       |  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS shared_texts
       |  FROM d a JOIN d b ON a.h = b.h AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT source_a, source_b, shared_texts, sa.n AS n_a, sb.n AS n_b,
       |  ${Cross.r6Sql("shared_texts::DOUBLE / LEAST(sa.n, sb.n)::DOUBLE")} AS overlap_coef
       |FROM pairs
       |JOIN sizes sa ON sa.source = pairs.source_a
       |JOIN sizes sb ON sb.source = pairs.source_b
       |ORDER BY source_a, source_b""".stripMargin) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    val corpus = docs.select(col("source"), col("text"))
      .unionAll(docs.filter(col("source").isin("src0", "src1"))
        .select(lit("recrawl").as("source"), col("text")))
    graft.operators.Profile.sourceOverlap(corpus)
      .orderBy("source_a", "source_b")
  }

  /** Deterministic token dropout (Augment.tokenDropout): position-keyed
    * hash dropout at expected 10% — augmentation without an RNG, so the
    * expanded corpus is partitioning- and engine-reproducible. The
    * oracle mirrors the indexed lambda (DuckDB list positions are
    * 1-based; the Spark side shifts its 0-based index to match). */
  val q174 = QueryDef(
    "q174_token_dropout",
    s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
       |a AS (
       |  SELECT doc_id, len(tk)::BIGINT AS n_orig,
       |    list_filter(tk, (x, i) ->
       |      ${Cross.hash31Sql("doc_id::VARCHAR || ':' || i::VARCHAR")} % 10 <> 0) AS kept
       |  FROM t)
       |SELECT doc_id, n_orig, len(kept)::BIGINT AS n_kept,
       |  array_to_string(kept, ' ') AS augmented
       |FROM a
       |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    graft.operators.Augment.tokenDropout(Tables.documents(spark, dir),
        col("doc_id"), TextFns.tokens(col("text")), m = 10)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** Streaming corpus profile (Profile.sourceStats over a replayed
    * document stream): the per-source running stats fold as ONE
    * stateful streaming aggregation (state = a row per source) and the
    * final state must equal the batch formula — the q119/q127
    * stream-equals-batch discipline applied to the profiling tier. */
  val q177 = QueryDef(
    "q177_stream_profile",
    s"""WITH t AS (SELECT source, $toks AS tk FROM documents),
       |q AS (
       |  SELECT source, len(tk)::BIGINT AS ntok,
       |    CASE WHEN len(tk) > 0 THEN ${Cross.r6Sql(TextSql.lexiconHits("tk", TextFns.stopwords) + "::DOUBLE / len(tk)::DOUBLE")} ELSE 0.0 END AS q
       |  FROM t)
       |SELECT source, COUNT(*) AS n_docs, SUM(ntok)::BIGINT AS n_tokens,
       |  MIN(ntok) AS min_ntok, MAX(ntok) AS max_ntok,
       |  ${Cross.r6Sql(Cross.davgSql("q", 6))} AS mean_quality
       |FROM q GROUP BY source
       |ORDER BY source""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.types._
    val stream = graft.streaming.EventStreams.readTable(spark, dir, "documents")
    graft.streaming.EventStreams.runToCompletion(spark,
        graft.operators.Profile.sourceStats(stream), "q177_out")
      .orderBy("source")
  }

  /** DSIR importance weights (Dsir.importanceWeights): every document
    * scored by the log likelihood ratio of the English-subset hashed
    * n-gram distribution vs the full pool — importance resampling by
    * these weights shifts the pool toward the target. 128 hash buckets;
    * the oracle rebuilds the identical bucket counts (one conditional
    * aggregation), smoothed log probs, and decimal-rounded per-feature
    * sums, so the whole distribution-matching chain hash-matches. */
  private val dsirBuckets = 128
  /** Hashed unigram+bigram features `feats(doc_id, is_target, f)` of each
    * doc (target = English) and per-doc `scored(doc_id, [n_feats,] s)`:
    * the decimal sum of the smoothed target-vs-pool log2 ratios. */
  private def dsirScoredCte(nFeats: Boolean): String =
    s"""d AS (SELECT doc_id, (lang = 'en') AS is_target, $toks AS tk FROM documents),
       |feats AS (
       |  SELECT doc_id, is_target, ${Cross.hash31Sql("x")} % $dsirBuckets AS f
       |  FROM (SELECT doc_id, is_target,
       |          unnest(list_concat(tk, ${TextSql.shingles("tk", 2)})) AS x FROM d)),
       |counts AS (
       |  SELECT f, COUNT(*) AS nr,
       |    SUM(CASE WHEN is_target THEN 1 ELSE 0 END)::BIGINT AS nt
       |  FROM feats GROUP BY f),
       |sc AS (SELECT SUM(nr) AS tr, SUM(nt) AS tt FROM counts),
       |scored AS (
       |  SELECT doc_id,${if (nFeats) " COUNT(*) AS n_feats," else ""}
       |    ${Cross.dsumSql(
             s"log2((nt + 1)::DOUBLE / ((tt + $dsirBuckets)::DOUBLE)) - " +
               s"log2((nr + 1)::DOUBLE / ((tr + $dsirBuckets)::DOUBLE))", 6)} AS s
       |  FROM feats JOIN counts USING (f) CROSS JOIN sc
       |  GROUP BY doc_id)""".stripMargin

  val q165 = QueryDef(
    "q165_dsir_weights",
    s"""WITH ${dsirScoredCte(nFeats = true)}
       |SELECT doc_id, n_feats, ${Cross.r6Sql("s")} AS log_weight
       |FROM scored
       |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    graft.operators.Dsir.importanceWeights(Tables.documents(spark, dir),
        col("doc_id"), TextFns.tokens(col("text")), col("lang") === "en",
        buckets = dsirBuckets)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** DSIR-weighted corpus selection: the q165 importance weights as the
    * quality key of the equi-depth banded budget scan — the full DSIR
    * recipe (score against the target distribution, keep the best under
    * a token budget; greedy-by-weight is its deterministic
    * counterpart). Feature-less docs have no weight and drop out, as in
    * q158's LM analogue. The oracle recomputes the weight chain AND the
    * flat join-based prefix sum, so scoring and selection hash-match
    * end to end. */
  val q169 = QueryDef(
    "q169_dsir_select",
    s"""WITH ${dsirScoredCte(nFeats = false)},
       |q AS (
       |  SELECT s.doc_id, ${Cross.r6Sql("s.s")} AS quality, len(d.tk)::BIGINT AS ntok
       |  FROM scored s JOIN d ON s.doc_id = d.doc_id),
       |${budgetSelectSql(20000)}""".stripMargin) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    val w = graft.operators.Dsir.importanceWeights(docs, col("doc_id"),
        TextFns.tokens(col("text")), col("lang") === "en", buckets = dsirBuckets)
      .withColumnRenamed("id", "doc_id")
    val withTok = docs.select(col("doc_id"),
      size(TextFns.tokens(col("text"))).cast("long").as("ntok"))
    graft.operators.Curation.selectUnderBudgetEquiDepth(
        w.join(withTok, "doc_id"),
        col("doc_id"), col("log_weight"), col("ntok"),
        budget = 20000L, bands = 16)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** q23's stopword ratio of `tk` as floor(ratio·1e6 + 0.5001)/1e6: only
    * correctly-rounded IEEE ops, no round(), whose half-way rule differs
    * between the engines (the cause of a past q135 hash divergence); 0.0
    * for an empty doc. */
  private val stopQualitySql =
    s"CASE WHEN len(tk) > 0 THEN floor((${TextSql.lexiconHits("tk", TextFns.stopwords)}::DOUBLE / len(tk)::DOUBLE) * 1000000.0 + 0.5001) / 1000000.0 ELSE 0.0 END"

  /** The Spark side of [[stopQualitySql]], as column `quality`. */
  private def stopQuality = when(size(col("tk")) > 0,
      floor(TextFns.lexiconHits(col("tk"), TextFns.stopwords).cast("double") /
        size(col("tk")).cast("double") * 1e6 + 0.5001) / 1e6)
    .otherwise(0.0).as("quality")

  /** Flat join-based prefix sum over `q(doc_id, [key,] quality, ntok)`:
    * `c.cum_before` is the token mass of every doc strictly earlier in
    * (quality DESC, doc_id) order — within the same key when `keyed`. */
  private def prefixCte(keyed: Boolean): String = {
    val earlier = "b.quality > a.quality OR (b.quality = a.quality AND b.doc_id < a.doc_id)"
    val (k, on) =
      if (keyed) ("a.key, ", s"b.key = a.key AND\n       ($earlier)") else ("", earlier)
    s"""c AS (
       |  SELECT a.doc_id, ${k}a.quality, a.ntok, COALESCE(SUM(b.ntok), 0) AS cum_before
       |  FROM q a LEFT JOIN q b
       |    ON $on
       |  GROUP BY a.doc_id, ${k}a.quality, a.ntok)""".stripMargin
  }

  /** Unkeyed [[prefixCte]] and its verdict: a doc is selected while its
    * prefix plus its own tokens fit `budget`. */
  private def budgetSelectSql(budget: Long): String =
    s"""${prefixCte(keyed = false)}
       |SELECT doc_id, quality, ntok, cum_before::BIGINT AS cum_before,
       |  (cum_before + ntok <= $budget) AS selected
       |FROM c
       |ORDER BY doc_id""".stripMargin

  /** Token-budget corpus selection (Curation.selectUnderBudget): keep
    * the highest-quality docs (stopword-ratio score, the q23 formula)
    * until a global 20k-token budget is exhausted — greedy prefix of the
    * (quality DESC, doc_id) order. The Spark side runs the banded
    * two-level prefix sum; the oracle computes the same cumulative sum
    * as a join-based "sum over strictly-earlier docs" ([[prefixCte]],
    * no window-frame semantics), so hash-equality proves the distributed
    * scan reproduces the global order exactly. */
  val q135 = QueryDef(
    "q135_budget_select",
    s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
       |q AS (
       |  SELECT doc_id, len(tk)::BIGINT AS ntok,
       |    $stopQualitySql AS quality
       |  FROM t),
       |${budgetSelectSql(20000)}""".stripMargin) { (spark, dir) =>
    val d = Tables.documents(spark, dir)
      .withColumn("tk", TextFns.tokens(col("text")))
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("ntok"),
        stopQuality)
    graft.operators.Curation.selectUnderBudget(d,
        col("doc_id"), col("quality"), col("ntok"), budget = 20000L, bands = 64)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** Equi-depth-banded budget selection (selectUnderBudgetEquiDepth):
    * same greedy prefix as q135 at a different budget, with band
    * boundaries from approx_percentile instead of fixed width. The
    * oracle is banding-blind — hash-equality against the flat
    * join-based prefix sum PROVES the equi-depth execution plan picks
    * the identical set (banding is execution parallelism, never
    * semantics), which is the skew-mitigation contract for point-mass
    * quality distributions at 100 TB. */
  val q149 = QueryDef(
    "q149_budget_select_equidepth",
    s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
       |q AS (
       |  SELECT doc_id, len(tk)::BIGINT AS ntok,
       |    $stopQualitySql AS quality
       |  FROM t),
       |${budgetSelectSql(60000)}""".stripMargin) { (spark, dir) =>
    val d = Tables.documents(spark, dir)
      .withColumn("tk", TextFns.tokens(col("text")))
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("ntok"),
        stopQuality)
    graft.operators.Curation.selectUnderBudgetEquiDepth(d,
        col("doc_id"), col("quality"), col("ntok"), budget = 60000L, bands = 16)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** Per-domain token-budget selection (Curation.selectUnderBudgetPerKey):
    * every source domain keeps its own highest-quality prefix under its
    * own budget — the data-mixture step ("5k tokens of src1, 2k of
    * src2, 1k per long-tail domain"). The oracle computes each
    * domain's cumulative sum with a per-key join-based prefix, so
    * per-domain ordering, budgets, and the default fallback all
    * hash-match. */
  val q154 = QueryDef(
    "q154_budget_by_domain",
    s"""WITH t AS (SELECT doc_id, source, $toks AS tk FROM documents),
       |q AS (
       |  SELECT doc_id, source AS key, len(tk)::BIGINT AS ntok,
       |    $stopQualitySql AS quality
       |  FROM t),
       |${prefixCte(keyed = true)}
       |SELECT doc_id, key, quality, ntok, cum_before::BIGINT AS cum_before,
       |  (cum_before + ntok <=
       |    CASE key WHEN 'src1' THEN 5000 WHEN 'src2' THEN 2000 ELSE 1000 END) AS selected
       |FROM c
       |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val d = Tables.documents(spark, dir)
      .withColumn("tk", TextFns.tokens(col("text")))
      .select(col("doc_id"), col("source"),
        size(col("tk")).cast("long").as("ntok"),
        stopQuality)
    graft.operators.Curation.selectUnderBudgetPerKey(d,
        col("source"), col("doc_id"), col("quality"), col("ntok"),
        budgets = Map("src1" -> 5000L, "src2" -> 2000L),
        defaultBudget = 1000L, bands = 64)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** Per-source quantile normalization (Curation.quantileNormalizeByKey):
    * every doc's raw stopword-ratio quality maps to its within-source
    * quantile (1 = the source's best), making scores comparable across
    * sources whose raw scales differ — the calibration step before any
    * cross-source budget select. The operator computes the per-source
    * rank through the banded two-level scan (no per-key single-task
    * sort); the oracle is the flat row_number window — hash-equality
    * proves the banded rank IS the dense (quality DESC, id) rank per
    * source, and the qnorm division matches bit-for-bit. */
  val q182 = QueryDef(
    "q182_quantile_normalize",
    s"""WITH t AS (SELECT doc_id, source, $toks AS tk FROM documents),
       |q AS (
       |  SELECT doc_id, source AS key,
       |    $stopQualitySql AS quality
       |  FROM t),
       |r AS (
       |  SELECT key, doc_id, quality,
       |    row_number() OVER (PARTITION BY key ORDER BY quality DESC, doc_id) AS rank,
       |    COUNT(*) OVER (PARTITION BY key) AS total
       |  FROM q)
       |SELECT key, doc_id, quality, rank, total,
       |  (round((CASE WHEN total > 1
       |          THEN (total - rank)::DOUBLE / (total - 1)::DOUBLE
       |          ELSE 1.0 END) + 1e-9, 6) + 0.0) AS qnorm
       |FROM r
       |ORDER BY key, doc_id""".stripMargin) { (spark, dir) =>
    val d = Tables.documents(spark, dir)
      .withColumn("tk", TextFns.tokens(col("text")))
      .select(col("doc_id"), col("source"),
        stopQuality)
    graft.operators.Curation.quantileNormalizeByKey(d,
        col("source"), col("doc_id"), col("quality"), bands = 64)
      .withColumnRenamed("id", "doc_id")
      .orderBy("key", "doc_id")
  }

  /** Each doc's tokens `tk(doc_id, tk)`, positioned `tok(doc_id, pos, t)`,
    * and its 3-token spans `sp(doc_id, spos, sp)`; positions are 0-based. */
  private val spanCte =
    s"""tk AS (SELECT doc_id, $toks AS tk FROM documents),
       |tokpos AS (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i FROM tk),
       |tok AS (SELECT doc_id, i - 1 AS pos, tk[i] AS t FROM tokpos),
       |sps AS (SELECT doc_id, ${TextSql.shingles("tk", 3)} AS sl FROM tk),
       |spspos AS (SELECT doc_id, sl, unnest(range(1, len(sl) + 1)) AS i FROM sps),
       |sp AS (SELECT doc_id, i - 1 AS spos, sl[i] AS sp FROM spspos)""".stripMargin

  /** `flag(doc_id, pos)`: every position a cross-document duplicated span
    * covers in a doc other than the span's keeper (its min doc_id). */
  private val crossDocFlagCte =
    """d AS (SELECT sp, COUNT(DISTINCT doc_id) AS nd, MIN(doc_id) AS keeper
      |      FROM sp GROUP BY sp),
      |flag AS (
      |  SELECT DISTINCT sp.doc_id, sp.spos + o.o AS pos
      |  FROM sp JOIN d USING (sp)
      |  CROSS JOIN (SELECT unnest(range(0, 3)) AS o) o
      |  WHERE d.nd >= 2 AND sp.doc_id <> d.keeper)""".stripMargin

  /** Drops the `removed(doc_id, pos)` positions and reassembles each doc's
    * surviving tokens in order. */
  private def spanTailSql(removed: String): String =
    s"""kept AS (
       |  SELECT tok.doc_id, tok.pos, tok.t
       |  FROM tok ANTI JOIN $removed USING (doc_id, pos)),
       |agg AS (
       |  SELECT doc_id, COUNT(*) AS n_kept,
       |         string_agg(t, ' ' ORDER BY pos) AS kept_text
       |  FROM kept GROUP BY doc_id)
       |SELECT tk.doc_id,
       |  COALESCE(agg.n_kept, 0) AS n_kept,
       |  len(tk.tk) - COALESCE(agg.n_kept, 0) AS n_removed,
       |  COALESCE(agg.kept_text, '') AS kept_text
       |FROM tk LEFT JOIN agg USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** Exact substring dedup at fixed width
    * (Repetition.removeDuplicatedSpans): cross-document duplicated
    * 3-token spans are removed from every non-keeper doc and the
    * surviving token stream reassembles in order. The oracle recomputes
    * keeper assignment, covered positions, and reassembly relationally —
    * every kept token and the full reassembled string must hash-match,
    * so the positional bookkeeping is verified end to end. */
  val q139 = QueryDef(
    "q139_span_dedup",
    s"""WITH $spanCte,
       |$crossDocFlagCte,
       |${spanTailSql("flag")}""".stripMargin) { (spark, dir) =>
    graft.operators.Repetition.removeDuplicatedSpans(
        Tables.documents(spark, dir), w = 3)
      .orderBy("doc_id")
  }

  /** Intra-document repetition removal (Repetition.removeSelfRepetition):
    * within each doc, every 3-token span that occurs more than once
    * keeps its first occurrence and loses the positions of every later
    * occurrence — the self-repetition scrub dual to the cross-doc q139.
    * The oracle recomputes per-doc first occurrences, later-occurrence
    * coverage, and reassembly relationally, hash-matching every kept
    * token and string. */
  val q152 = QueryDef(
    "q152_self_repetition",
    s"""WITH $spanCte,
       |f AS (SELECT doc_id, sp, COUNT(*) AS n, MIN(spos) AS first
       |      FROM sp GROUP BY doc_id, sp),
       |flag AS (
       |  SELECT DISTINCT sp.doc_id, sp.spos + o.o AS pos
       |  FROM sp JOIN f USING (doc_id, sp)
       |  CROSS JOIN (SELECT unnest(range(0, 3)) AS o) o
       |  WHERE f.n >= 2 AND sp.spos > f.first),
       |${spanTailSql("flag")}""".stripMargin) { (spark, dir) =>
    graft.operators.Repetition.removeSelfRepetition(
        Tables.documents(spark, dir), w = 3)
      .orderBy("doc_id")
  }

  /** Minimum-run substring dedup (Repetition.removeDuplicatedSpans with
    * minRun): covered positions merge into maximal runs
    * (gaps-and-islands) and only runs of >= 5 tokens are removed — the
    * production threshold policy. The oracle replays the identical
    * island construction (pos - row_number is constant within a run)
    * so run boundaries, lengths, and the final reassembled strings all
    * hash-match. */
  val q142 = QueryDef(
    "q142_span_dedup_runs",
    s"""WITH $spanCte,
       |$crossDocFlagCte,
       |isl AS (
       |  SELECT doc_id, pos,
       |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM flag),
       |runs AS (
       |  SELECT doc_id, pos,
       |         COUNT(*) OVER (PARTITION BY doc_id, island) AS run_len
       |  FROM isl),
       |cov AS (SELECT doc_id, pos FROM runs WHERE run_len >= 5),
       |${spanTailSql("cov")}""".stripMargin) { (spark, dir) =>
    graft.operators.Repetition.removeDuplicatedSpans(
        Tables.documents(spark, dir), w = 3, minRun = 5)
      .orderBy("doc_id")
  }

  /** Curriculum shards (Curation.curriculumShards): global
    * quality-descending rank + contiguous shard id per doc, computed by
    * the banded two-level prefix scan — the oracle's flat row_number
    * window must hash-match every rank and shard, proving the
    * distributed rank reproduces the exact global order. */
  val q148 = QueryDef(
    "q148_curriculum_shards",
    s"""WITH t0 AS (SELECT doc_id, $toks AS tk FROM documents),
       |q AS (
       |  SELECT doc_id,
       |    $stopQualitySql AS quality
       |  FROM t0),
       |r AS (
       |  SELECT a.doc_id, a.quality, 1 + COUNT(b.doc_id) AS rank
       |  FROM q a LEFT JOIN q b
       |    ON b.quality > a.quality OR (b.quality = a.quality AND b.doc_id < a.doc_id)
       |  GROUP BY a.doc_id, a.quality),
       |t AS (SELECT COUNT(*) AS total FROM r)
       |SELECT doc_id, quality, rank, ((rank - 1) * 8) // total AS shard
       |FROM r CROSS JOIN t
       |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val d = Tables.documents(spark, dir)
      .withColumn("tk", TextFns.tokens(col("text")))
      .select(col("doc_id"),
        stopQuality)
    graft.operators.Curation.curriculumShards(d,
        col("doc_id"), col("quality"), nShards = 8, bands = 64)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** Windowed skip-gram co-occurrence + PPMI (Cooccur.pairCounts/ppmi):
    * forward window 2, pairs with count >= 2. The oracle regenerates
    * every (i, i+j) pair with list arithmetic and recomputes the
    * marginals/total relationally, so the window-lead pair generation,
    * count aggregation, and the log2 scoring all hash-match. */
  val q155 = QueryDef(
    "q155_ppmi",
    s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
       |pr AS (
       |  SELECT struct_extract(p, 'a') AS a, struct_extract(p, 'b') AS b FROM (
       |    SELECT unnest(flatten(list_transform(range(1, len(tk) + 1), i ->
       |      list_transform(range(i + 1, least(i + 2, len(tk)) + 1), j ->
       |        ${"{'a': tk[i], 'b': tk[j]}"})))) AS p
       |    FROM t) s),
       |pc AS (SELECT a, b, COUNT(*)::BIGINT AS n_ab FROM pr GROUP BY a, b),
       |na AS (SELECT a, SUM(n_ab)::BIGINT AS n_a FROM pc GROUP BY a),
       |nb AS (SELECT b, SUM(n_ab)::BIGINT AS n_b FROM pc GROUP BY b),
       |tot AS (SELECT SUM(n_ab)::BIGINT AS n_tot FROM pc)
       |SELECT pc.a, pc.b, pc.n_ab,
       |  ${Cross.r6Sql("greatest(0.0, log2((pc.n_ab::DOUBLE * n_tot::DOUBLE) / (na.n_a::DOUBLE * nb.n_b::DOUBLE)))")} AS ppmi
       |FROM pc JOIN na USING (a) JOIN nb USING (b) CROSS JOIN tot
       |WHERE n_ab >= 2
       |ORDER BY a, b""".stripMargin) { (spark, dir) =>
    graft.operators.Cooccur.ppmi(
        graft.operators.Cooccur.pairCounts(Tables.documents(spark, dir),
          col("doc_id"), TextFns.tokens(col("text")), window = 2),
        minCount = 2L)
      .orderBy("a", "b")
  }

  /** Temperature-scaled domain mixture (Curation.temperatureBudgets):
    * per-domain token budgets B_d = floor(B·w_d), w_d ∝ p_d^0.7 — the
    * low-resource-domain upsampling step ahead of the per-key budget
    * selection (q154). Shares, powers, and the normalizer follow the
    * hardened micro-round + decimal-sum pattern, so every double is
    * reproduced bit-for-bit by the oracle. */
  val q156 = QueryDef(
    "q156_temperature_mix",
    s"""WITH t AS (SELECT doc_id, source, $toks AS tk FROM documents),
       |dom AS (SELECT source AS key, COUNT(*)::BIGINT AS n_docs,
       |  SUM(len(tk))::BIGINT AS n_tok FROM t GROUP BY source),
       |tot AS (SELECT SUM(n_tok)::BIGINT AS t_tok FROM dom),
       |sc AS (
       |  SELECT key, n_docs, n_tok,
       |    floor((n_tok::DOUBLE / t_tok::DOUBLE) * 1000000.0 + 0.5001) / 1000000.0 AS p
       |  FROM dom CROSS JOIN tot),
       |sc2 AS (SELECT *, floor(pow(p, 0.7) * 1000000.0 + 0.5001) / 1000000.0 AS s FROM sc),
       |z AS (SELECT ${Cross.dsumSql("s")} AS z FROM sc2)
       |SELECT key, n_docs, n_tok, p,
       |  floor((s / z) * 1000000.0 + 0.5001) / 1000000.0 AS w,
       |  floor(100000.0 * (floor((s / z) * 1000000.0 + 0.5001) / 1000000.0))::BIGINT AS budget_tokens
       |FROM sc2 CROSS JOIN z
       |ORDER BY key""".stripMargin) { (spark, dir) =>
    val d = Tables.documents(spark, dir)
      .withColumn("tk", TextFns.tokens(col("text")))
    graft.operators.Curation.temperatureBudgets(d,
        col("source"), size(col("tk")), tau = 0.7, totalBudget = 100000L)
      .orderBy("key")
  }

  /** Gopher/C4-style rule screening (QualityRules.screen): token-count
    * bounds, mean-token-length bounds, >=2 distinct stopwords,
    * modal-token repetition cap, digit-token share cap — metrics,
    * per-rule verdicts, and the conjunction, all hash-verified. */
  val q157 = QueryDef(
    "q157_quality_rules",
    s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
       |tc AS (
       |  SELECT doc_id, term, COUNT(*)::BIGINT AS n FROM (
       |    SELECT doc_id, unnest(tk) AS term FROM t) s GROUP BY doc_id, term),
       |top AS (
       |  SELECT doc_id, MAX(n) AS top_n,
       |    COALESCE(SUM(CASE WHEN regexp_matches(term, '^[0-9]+${"$"}') THEN n ELSE 0 END), 0)::BIGINT AS n_digit
       |  FROM tc GROUP BY doc_id),
       |m AS (
       |  SELECT t.doc_id, len(tk)::BIGINT AS ntok,
       |    CASE WHEN len(tk) > 0 THEN ${Cross.r6Sql(TextSql.tokenChars("tk") + "::DOUBLE / len(tk)::DOUBLE")} ELSE 0.0 END AS mean_tok_len,
       |    ${TextSql.distinctLexiconHits("tk", TextFns.stopwords)}::BIGINT AS n_stop_distinct,
       |    CASE WHEN len(tk) > 0 THEN ${Cross.r6Sql("COALESCE(top_n, 0)::DOUBLE / len(tk)::DOUBLE")} ELSE 0.0 END AS top_tok_ratio,
       |    CASE WHEN len(tk) > 0 THEN ${Cross.r6Sql("COALESCE(n_digit, 0)::DOUBLE / len(tk)::DOUBLE")} ELSE 0.0 END AS digit_tok_ratio
       |  FROM t LEFT JOIN top ON t.doc_id = top.doc_id)
       |SELECT doc_id, ntok, mean_tok_len, n_stop_distinct, top_tok_ratio,
       |  digit_tok_ratio,
       |  (ntok >= 10 AND ntok <= 100000) AS ok_len,
       |  (mean_tok_len >= 2.0 AND mean_tok_len <= 12.0) AS ok_mean_len,
       |  (n_stop_distinct >= 2) AS ok_stop,
       |  (top_tok_ratio <= 0.25) AS ok_rep,
       |  (digit_tok_ratio <= 0.3) AS ok_digit,
       |  ((ntok >= 10 AND ntok <= 100000) AND
       |   (mean_tok_len >= 2.0 AND mean_tok_len <= 12.0) AND
       |   (n_stop_distinct >= 2) AND (top_tok_ratio <= 0.25) AND
       |   (digit_tok_ratio <= 0.3)) AS pass
       |FROM m
       |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    graft.operators.QualityRules.screen(Tables.documents(spark, dir),
        col("doc_id"), TextFns.tokens(col("text")))
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** Perplexity-filtered corpus selection (the CCNet-style composition):
    * every doc's quality is its mean log2 probability under the
    * self-trained bigram LM (q128's scoring, already 6-dp
    * engine-identical), and the highest-scoring docs are kept under a
    * global token budget via the equi-depth banded prefix scan — LM
    * scores cluster tightly, exactly the point-mass shape fixed-width
    * bands degrade on. Docs with < 2 tokens have no LM score and drop
    * out (both sides). The oracle recomputes the LM chain AND the flat
    * join-based prefix sum, so scoring and selection hash-match end to
    * end. */
  val q158 = QueryDef(
    "q158_perplexity_select",
    s"""WITH $bigramLmCte,
       |$lmScoredCte,
       |q AS (
       |  SELECT s.doc_id,
       |    ${Cross.r6Sql("s.s / s.n_bigrams::DOUBLE")} AS quality,
       |    len(tl.ts)::BIGINT AS ntok
       |  FROM scored s JOIN tl ON s.doc_id = tl.doc_id),
       |${budgetSelectSql(20000)}""".stripMargin) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    val scored = graft.operators.Lm.bigramScore(docs,
      lambda = lmLambda, alpha = lmAlpha)
    val withTok = docs.select(col("doc_id"),
      size(TextFns.tokens(col("text"))).cast("long").as("ntok"))
    graft.operators.Curation.selectUnderBudgetEquiDepth(
        scored.join(withTok, "doc_id"),
        col("doc_id"), col("avg_logprob"), col("ntok"),
        budget = 20000L, bands = 16)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** BPE training-oracle SQL: `rounds` unrolled merge iterations. Each
    * round r derives pair counts from seg(r-1), picks the argmax pair
    * under the (count DESC, a, b) total order, and applies the same
    * left-to-right greedy fold the Spark side runs
    * (Bpe.applyMerge ↔ list_reduce with (acc, prev) struct state; the
    * final pending symbol flushes outside the fold since list_reduce
    * has no finish lambda). */
  private def bpeOracle(rounds: Int): String =
    bpeCtes(rounds) + (1 to rounds).map(r =>
        s"SELECT ${r - 1} AS rank, ba AS a, bb AS b, ba || bb AS merged, n AS pair_count FROM best$r")
      .mkString("\n", "\nUNION ALL\n", "\nORDER BY rank")

  /** The unrolled BPE training CTE chain: seg0..segN (word, freq, syms)
    * and best1..bestN (ba, bb, n) — shared by the training gate (q159,
    * reads the bests) and the segmentation gate (q161, reads the final
    * seg). Carrying `word` through the merge folds costs the training
    * oracle nothing: seg rows are per-word from seg0 on. */
  private def bpeCtes(rounds: Int, source: String = "documents",
      prefixCtes: String = ""): String = {
    def pairs(seg: String) =
      s"""(SELECT syms[i] AS a, syms[i + 1] AS b, freq
         |   FROM (SELECT freq, syms, unnest(range(1, len(syms))) AS i FROM $seg))""".stripMargin
    // The fold state is ONE VARCHAR — "acc-joined-by-chr(31)" || chr(30)
    // || "pending symbol" — because DuckDB v1.0.0's list_reduce
    // mis-evaluates struct states holding LIST fields (an accumulator
    // list silently loses elements; reproduced on 1.0.0 with a plain
    // append fold). Symbols are [a-z0-9] so the separators can't
    // collide; empty acc segments are stripped at decode.
    def mergeCte(prev: String, best: String, out: String) =
      s"""$out AS (
         |  SELECT word, freq,
         |    list_concat(
         |      list_filter(string_split(split_part(fin, chr(30), 1), chr(31)), x -> x <> ''),
         |      CASE WHEN split_part(fin, chr(30), 2) = '' THEN []::VARCHAR[]
         |           ELSE [split_part(fin, chr(30), 2)] END) AS syms
         |  FROM (
         |    SELECT word, freq, list_reduce(
         |      list_prepend(chr(30), list_transform(syms, x -> chr(30) || x)),
         |      (st, el) -> CASE
         |        WHEN split_part(st, chr(30), 2) = ba AND split_part(el, chr(30), 2) = bb
         |          THEN split_part(st, chr(30), 1) || chr(31) || ba || bb || chr(30)
         |        WHEN split_part(st, chr(30), 2) = ''
         |          THEN split_part(st, chr(30), 1) || chr(30) || split_part(el, chr(30), 2)
         |        ELSE split_part(st, chr(30), 1) || chr(31) || split_part(st, chr(30), 2) ||
         |             chr(30) || split_part(el, chr(30), 2)
         |      END) AS fin
         |    FROM $prev CROSS JOIN $best))""".stripMargin
    val ctes = new StringBuilder(
      s"""WITH ${prefixCtes}seg0 AS (
         |  SELECT word, COUNT(*)::BIGINT AS freq, string_split_regex(word, '') AS syms
         |  FROM (SELECT unnest($toks) AS word FROM $source) GROUP BY word)""".stripMargin)
    for (r <- 1 to rounds) {
      ctes ++= s""",
        |best$r AS (SELECT a AS ba, b AS bb, SUM(freq)::BIGINT AS n FROM ${pairs(s"seg${r - 1}")}
        |  GROUP BY a, b ORDER BY n DESC, a, b LIMIT 1),
        |${mergeCte(s"seg${r - 1}", s"best$r", s"seg$r")}""".stripMargin
    }
    ctes.toString
  }

  /** Distributed BPE vocabulary induction (Bpe.train): 8 merges over the
    * corpus word vocabulary. The oracle re-runs the full training loop
    * in DuckDB — unrolled rounds, identical argmax tie-break, identical
    * greedy fold — so every rank's chosen pair AND its count
    * hash-match: the iterative training dynamics are verified, not just
    * the final table's shape. */
  val q159 = QueryDef("q159_bpe_train", bpeOracle(8)) { (spark, dir) =>
    graft.operators.Bpe.train(Tables.documents(spark, dir),
        TextFns.tokens(col("text")), nMerges = 8)
      .orderBy("rank")
  }

  /** BPE segmentation with the trained merge table (Bpe.segment) — the
    * encode half of the tokenizer lifecycle: train the 8-merge table
    * (q159's loop), then re-apply the merges in rank order to every
    * vocabulary word. The oracle extends the q159 unroll to its final
    * segmentation state, so every word's symbol sequence — the greedy
    * left-to-right fold under all 8 merges — hash-matches, proving
    * train and encode agree on the merge semantics. */
  val q161 = QueryDef(
    "q161_bpe_segment",
    bpeCtes(8) +
      """
        |SELECT word, freq, len(syms)::BIGINT AS n_syms,
        |  array_to_string(syms, ' ') AS encoded
        |FROM seg8
        |ORDER BY word""".stripMargin) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    val toksCol = TextFns.tokens(col("text"))
    val mt = graft.operators.Bpe.train(docs, toksCol, nMerges = 8)
    graft.operators.Bpe.segment(docs, toksCol, mt)
      .select(col("word"), col("freq"),
        size(col("syms")).cast("long").as("n_syms"),
        concat_ws(" ", col("syms")).as("encoded"))
      .orderBy("word")
  }

  /** Corpus-scale BPE ENCODING (Bpe.encodeDocs) — the step the
    * tokenizer lifecycle was missing: q159 trains the merge table, q161
    * segments the WORD VOCABULARY, but a pretraining run consumes
    * per-DOCUMENT token-id sequences. The operator applies the merges
    * once per distinct word, bakes the (≤ |alphabet| + nMerges)-entry
    * symbol→id table into a literal map, joins each doc token
    * occurrence to its word's id array, and reassembles positionally.
    * The oracle extends the q159/q161 unroll: the same seg8
    * segmentation, ids by symbol sort order, the doc token stream
    * indexed positionally and flattened with (pos, sympos) ordering —
    * every document's full id sequence hash-matches, so train, encode,
    * and corpus application agree end-to-end. Zero-token docs emit
    * nothing on both sides. */
  /** The q339/q340 ENCODE CTEs, appended after [[bpeCtes]]: symbol ids
    * by sort order over seg8's final segmentation, the positional doc
    * token stream of `source`, per-(pos, sympos) id rows, and the
    * per-doc flattened sequence. */
  private def bpeEncodeCtes(source: String): String =
    s""",
      |vocab AS (
      |  SELECT sym, (row_number() OVER (ORDER BY sym) - 1)::INTEGER AS id
      |  FROM (SELECT DISTINCT unnest(syms) AS sym FROM seg8)),
      |dw AS (
      |  SELECT doc_id, pos, tk[pos] AS word FROM (
      |    SELECT doc_id, unnest(range(1, len(tk) + 1)) AS pos, tk
      |    FROM (SELECT doc_id, $toks AS tk FROM $source))),
      |ws AS (
      |  SELECT doc_id, pos, spos, syms[spos] AS sym FROM (
      |    SELECT dw.doc_id, dw.pos, unnest(range(1, len(s.syms) + 1)) AS spos, s.syms
      |    FROM dw JOIN seg8 s USING (word))),
      |idrows AS (SELECT w.doc_id, w.pos, w.spos, v.id FROM ws w JOIN vocab v USING (sym)),
      |perdoc AS (
      |  SELECT doc_id, COUNT(*)::BIGINT AS n_ids,
      |    string_agg(id::VARCHAR, ' ' ORDER BY pos, spos) AS ids
      |  FROM idrows GROUP BY doc_id)""".stripMargin

  /** The full 8-merge unroll encoding `documents`: `(doc_id, n_ids, ids)`. */
  private val bpeEncodeOracle =
    bpeCtes(8) + bpeEncodeCtes("documents") +
      """
        |SELECT doc_id, n_ids, ids FROM perdoc
        |ORDER BY doc_id""".stripMargin

  /** An encoded `(doc_id, ids)` frame in [[bpeEncodeOracle]]'s shape. */
  private def encodedIds(df: org.apache.spark.sql.DataFrame) =
    df.select(col("doc_id"), size(col("ids")).cast("long").as("n_ids"),
        concat_ws(" ", transform(col("ids"), _.cast("string"))).as("ids"))
      .orderBy("doc_id")

  val q339 = QueryDef(
    "q339_bpe_encode_corpus",
    bpeEncodeOracle) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    val toksCol = TextFns.tokens(col("text"))
    val mt = graft.operators.Bpe.train(docs, toksCol, nMerges = 8)
    encodedIds(graft.operators.Bpe.encodeDocs(docs, col("doc_id"), toksCol, mt))
  }

  /** Tokenizer ARTIFACT round-trip (ModelIO.saveMergeTable /
    * loadMergeTable) — the deployment shape: train once, persist the
    * merge table, and every encode job reloads it instead of
    * retraining. Rank order is the program (merges replay in rank
    * order), so the gate proves encode-after-reload is row-identical
    * to live encode by hashing against the SAME unrolled oracle as
    * q339: any rank/symbol drift through the parquet round-trip
    * changes some document's id sequence. */
  val q342 = QueryDef(
    "q342_bpe_artifact_roundtrip",
    bpeEncodeOracle) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    val toksCol = TextFns.tokens(col("text"))
    val path = graft.core.TempPaths.gatePath("q342_tokenizer")
    graft.core.TempPaths.clearDir(path)
    graft.sources.ModelIO.saveMergeTable(
      graft.operators.Bpe.train(docs, toksCol, nMerges = 8), path)
    val mt = graft.sources.ModelIO.loadMergeTable(spark, path)
    encodedIds(graft.operators.Bpe.encodeDocs(docs, col("doc_id"), toksCol, mt))
  }

  /** STREAMING BPE encode against the PERSISTED tokenizer — the
    * always-on half of the lifecycle: train once, persist merges AND
    * the fixed symbol→id vocabulary (ModelIO.saveVocab /
    * Bpe.symbolVocab), then tokenize arriving documents
    * micro-batch-by-micro-batch with the loaded artifact, folding the
    * id sequences into a redelivery-proof log table. The vocab MUST
    * come from the artifact: without it [[graft.operators.Bpe
    * .encodeDocs]] re-derives ids from each batch's own symbols, and
    * two batches that disagree on which symbols appear silently
    * re-number the id space — the exact class of bug that corrupts a
    * training corpus without failing anything. The corpus replays as 3
    * files → 3 micro-batches (maxFilesPerTrigger = 1); per-batch work
    * is the batch's word vocab × merges plus one batch-sized join —
    * the O(|Δ|) incremental shape. Oracle: q339's full unroll — the
    * streamed, artifact-encoded, log-folded corpus hash-matches the
    * one-shot batch encode document by document. */
  val q343 = QueryDef(
    "q343_stream_bpe_encode",
    bpeEncodeOracle) { (spark, dir) =>
    import graft.streaming.EventStreams
    val docs = Tables.documents(spark, dir)
    val toksCol = TextFns.tokens(col("text"))
    val artDir = graft.core.TempPaths.gatePath("q343_tokenizer")
    graft.core.TempPaths.clearDir(artDir)
    graft.sources.ModelIO.saveMergeTable(
      graft.operators.Bpe.train(docs, toksCol, nMerges = 8), s"$artDir/merges")
    val mt = graft.sources.ModelIO.loadMergeTable(spark, s"$artDir/merges")
    graft.sources.ModelIO.saveVocab(
      graft.operators.Bpe.symbolVocab(docs, toksCol, mt), s"$artDir/vocab")
    val vocab = graft.sources.ModelIO.loadVocab(spark, s"$artDir/vocab")
    val stream = graft.streaming.Replay.sliced(
      (0 until 3).map(g => docs.filter(col("doc_id") % 3 === g)), "q343").stream()
    val outDir = graft.core.TempPaths.gatePath("q343_encoded")
    graft.core.TempPaths.clearDir(outDir)
    val reduce = (df: org.apache.spark.sql.DataFrame) =>
      graft.operators.Cdc.compactLatest(df, "doc_id", "ver")
    EventStreams.drain(stream, "q343_encode") { (batch, batchId) =>
      val enc = graft.operators.Bpe.encodeDocs(batch, col("doc_id"),
          TextFns.tokens(col("text")), mt, Some(vocab))
        .withColumn("ver", lit(batchId))
      EventStreams.foldLog(outDir, enc, batchId, compactEvery = 2)(reduce)
    }
    encodedIds(EventStreams.readLog(spark, outDir)(reduce))
  }

  /** The PRETRAINING PIPELINE end-to-end — curate → tokenize → pack →
    * shard, every stage on the REAL artifacts of the one before: q149's
    * quality-budget selection picks the corpus, q159's merge table
    * trains ON THE CURATED SUBSET (the tokenizer fits the data that
    * ships), q339's encode emits each kept document's token-id
    * sequence, and the packing runs on the ID counts — not word counts,
    * exactly where a counts-vs-ids off-by-one would ship silently —
    * with q250's bounded-collect shards materializing the packed id
    * streams. The oracle inlines ALL stages (curation cum-sum, the
    * 8-round BPE unroll over the curated vocabulary, positional encode,
    * harmonic class/bin arithmetic, slot-ordered shard assembly), so a
    * drift in any stage's contract breaks the hash. Oversize sequences
    * (> 256 ids) are excluded as class −1 on both sides; zero-token
    * docs never reach packing (encode emits nothing for them). */
  val q340 = QueryDef(
    "q340_pretrain_pipeline",
    bpeCtes(8, source = "curated", prefixCtes =
      s"""cq AS (
         |  SELECT doc_id, len(tk)::BIGINT AS ntok,
         |    $stopQualitySql AS quality
         |  FROM (SELECT doc_id, $toks AS tk FROM documents)),
         |cc AS (
         |  SELECT a.doc_id, a.ntok, COALESCE(SUM(b.ntok), 0) AS cum_before
         |  FROM cq a LEFT JOIN cq b
         |    ON b.quality > a.quality OR (b.quality = a.quality AND b.doc_id < a.doc_id)
         |  GROUP BY a.doc_id, a.quality, a.ntok),
         |curated AS (
         |  SELECT d.doc_id, d.text FROM documents d JOIN cc ON d.doc_id = cc.doc_id
         |  WHERE cc.cum_before + cc.ntok <= 60000),
         |""".stripMargin) +
      bpeEncodeCtes("curated") +
      """,
        |cls AS (SELECT doc_id, n_ids, ids,
        |  CASE WHEN n_ids > 256 THEN -1 WHEN n_ids <= 0 THEN 8
        |       ELSE LEAST(8, 256 // n_ids) END AS size_class FROM perdoc),
        |r AS (SELECT doc_id, n_ids, ids, size_class,
        |  row_number() OVER (PARTITION BY size_class ORDER BY doc_id) - 1 AS r0
        |  FROM cls WHERE size_class >= 1)
        |SELECT size_class, r0 // size_class AS bin, COUNT(*) AS n_docs,
        |  SUM(n_ids)::BIGINT AS n_tokens,
        |  string_agg(ids, ' ' ORDER BY r0 % size_class) AS shard_ids
        |FROM r GROUP BY size_class, r0 // size_class
        |ORDER BY size_class, bin""".stripMargin) { (spark, dir) =>
    val base = Tables.documents(spark, dir)
    val toksCol = TextFns.tokens(col("text"))
    val scored = base.withColumn("tk", toksCol)
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("ntok"),
        stopQuality)
    val keep = graft.operators.Curation.selectUnderBudgetEquiDepth(scored,
        col("doc_id"), col("quality"), col("ntok"), budget = 60000L, bands = 16)
      .filter(col("selected")).select("id")
    // curated is read by train (vocab pass), encode (vocab + doc
    // stream), so pin it once instead of re-running the
    // quality join per consumer
    val curated = base.join(keep, base("doc_id") === keep("id")).drop("id")
      .localCheckpoint(true)
    val mt = graft.operators.Bpe.train(curated, toksCol, nMerges = 8)
    val encoded = graft.operators.Bpe.encodeDocs(curated, col("doc_id"), toksCol, mt)
      .select(col("doc_id"),
        size(col("ids")).cast("long").as("n_ids"),
        concat_ws(" ", transform(col("ids"), _.cast("string"))).as("ids_str"))
      .localCheckpoint(true) // consumed twice: pack assignment + shard payload
    val packed = graft.operators.Packing.packHarmonic(encoded,
      col("doc_id"), col("n_ids"), binSize = 256L, classes = 8)
    graft.operators.Packing.packedShards(packed, encoded, col("doc_id"),
        col("ids_str"), sep = " ")
      .withColumnRenamed("shard_text", "shard_ids")
      .orderBy("size_class", "bin")
  }

  /** Shared CTE chain for the logistic-regression gates: features from
    * the documents table (stopword ratio, capped length, distinct-token
    * fraction — all exact 6-dp), label = (lang = 'en'), then `iters`
    * UNROLLED full-batch GD steps mirroring Classifier.logisticTrain
    * term by term: the same micro-rounded sigmoid, the same
    * decimal-factor product sums, the same fixed-association z and
    * update arithmetic, each round's weights r6-rounded in-engine. */
  private def logisticCtes(iters: Int, lr: Double): String = {
    val feat =
      s"""feat AS (
         |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
         |    ${Cross.r6Sql(s"CASE WHEN len(tk) > 0 THEN ${TextSql.lexiconHits("tk", TextFns.stopwords)}::DOUBLE / len(tk)::DOUBLE ELSE 0.0 END")} AS x0,
         |    ${Cross.r6Sql("least(len(tk), 200)::DOUBLE / 200.0")} AS x1,
         |    ${Cross.r6Sql("CASE WHEN len(tk) > 0 THEN len(list_distinct(tk))::DOUBLE / len(tk)::DOUBLE ELSE 0.0 END")} AS x2
         |  FROM (SELECT doc_id, lang, $toks AS tk FROM documents) t),
         |w0 AS (SELECT 0.0 AS b, 0.0 AS wa, 0.0 AS wb, 0.0 AS wc)""".stripMargin
    val rounds = (1 to iters).map { k =>
      val sig = graft.operators.Classifier.sigmoidSqlCols(
        Seq("w.b", "w.wa", "w.wb", "w.wc"), Seq("f.x0", "f.x1", "f.x2"))
      val err = s"($sig - f.y)"
      s"""g$k AS (
         |  SELECT COUNT(*)::BIGINT AS n,
         |    MIN(w.b) AS pb, MIN(w.wa) AS pwa, MIN(w.wb) AS pwb, MIN(w.wc) AS pwc,
         |    ${Cross.dsumSql(err)} AS s0,
         |    ${Cross.dxsumSql(err, "f.x0")} AS s1,
         |    ${Cross.dxsumSql(err, "f.x1")} AS s2,
         |    ${Cross.dxsumSql(err, "f.x2")} AS s3
         |  FROM feat f CROSS JOIN w${k - 1} w),
         |w$k AS (
         |  SELECT ${Cross.r6Sql(s"pb - $lr * (s0 / n)")} AS b,
         |         ${Cross.r6Sql(s"pwa - $lr * (s1 / n)")} AS wa,
         |         ${Cross.r6Sql(s"pwb - $lr * (s2 / n)")} AS wb,
         |         ${Cross.r6Sql(s"pwc - $lr * (s3 / n)")} AS wc
         |  FROM g$k)""".stripMargin
    }
    (feat +: rounds).mkString("WITH ", ",\n", "")
  }

  private def logitFeatures(): (Seq[org.apache.spark.sql.Column], org.apache.spark.sql.Column) =
    (graft.operators.Classifier.docFeatures(col("text")),
      (col("lang") === "en").cast("int"))

  /** Distributed-trained quality classifier, the TRAINING DYNAMICS
    * (Classifier.logisticTrain): 3 full-batch GD steps from zero on
    * (stopword ratio, capped length, distinct fraction) → (lang='en'),
    * the fastText-style trainability filter trained IN the engine. The
    * oracle re-runs the full unrolled loop, so every round's weight
    * vector — not just the final one — hash-matches: one wrong
    * gradient term at any round skews every later round. */
  val q194 = QueryDef(
    "q194_logistic_train",
    logisticCtes(3, 0.5) + "\n" + (0 to 3).map(k =>
      s"SELECT $k AS iter, b, wa AS w_stop, wb AS w_len, wc AS w_distinct FROM w$k")
      .mkString("", "\nUNION ALL\n", "\nORDER BY iter")) { (spark, dir) =>
    import spark.implicits._
    val (xs, y) = logitFeatures()
    val docs = Tables.documents(spark, dir)
    graft.operators.Classifier.logisticTrain(docs, xs, y, iters = 3, lr = 0.5)
      .map { case (it, w) => (it, w(0), w(1), w(2), w(3)) }
      .toDF("iter", "b", "w_stop", "w_len", "w_distinct")
      .orderBy("iter")
  }

  /** The trained classifier APPLIED (Classifier.logisticScore): per-doc
    * admission probability under the q194 round-3 weights and the
    * keep/drop verdict at 0.5 — the scoring pass a curation pipeline
    * runs corpus-wide after training. Pure per-row projection once the
    * weights exist. */
  val q195 = QueryDef(
    "q195_quality_classifier",
    logisticCtes(3, 0.5) + "\n" +
      s"""SELECT f.doc_id,
         |  ${graft.operators.Classifier.sigmoidSqlCols(
              Seq("w.b", "w.wa", "w.wb", "w.wc"), Seq("f.x0", "f.x1", "f.x2"))} AS p,
         |  (${graft.operators.Classifier.sigmoidSqlCols(
              Seq("w.b", "w.wa", "w.wb", "w.wc"), Seq("f.x0", "f.x1", "f.x2"))} >= 0.5) AS keep
         |FROM feat f CROSS JOIN w3 w
         |ORDER BY f.doc_id""".stripMargin) { (spark, dir) =>
    val (xs, y) = logitFeatures()
    val docs = Tables.documents(spark, dir)
    val w = graft.operators.Classifier.logisticTrain(docs, xs, y,
      iters = 3, lr = 0.5).last._2
    val p = graft.operators.Classifier.logisticScore(xs, w)
    docs.select(col("doc_id"), p.as("p"), (p >= 0.5).as("keep"))
      .orderBy("doc_id")
  }

  /** T5-style span corruption (Augment.spanCorruption): denoising
    * (input, target) pairs with numbered sentinels — each full
    * 16-token window masks one 3-token span starting at
    * hash31(id:w) mod 14, so the example is a pure function of the
    * document through the shared md5 family. The oracle rebuilds both
    * strings with indexed list lambdas (1-based in DuckDB, shifted to
    * match), hash-matching every sentinel number, span placement, and
    * the closing sentinel. */
  val q192 = {
    val sExpr = Cross.hash31Sql("doc_id::VARCHAR || ':' || ((i - 1) // 16)::VARCHAR") + " % 14"
    val swExpr = Cross.hash31Sql("doc_id::VARCHAR || ':' || w::VARCHAR") + " % 14"
    QueryDef(
      "q192_span_corruption",
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         |a AS (SELECT doc_id, tk, len(tk)::BIGINT AS n_tokens,
         |             (len(tk) // 16)::BIGINT AS nfull FROM t),
         |b AS (
         |  SELECT doc_id, n_tokens, nfull,
         |    list_filter(list_transform(tk, (x, i) ->
         |      CASE WHEN (i - 1) // 16 < nfull
         |             AND (i - 1) % 16 >= $sExpr
         |             AND (i - 1) % 16 < $sExpr + 3
         |           THEN CASE WHEN (i - 1) % 16 = $sExpr
         |                THEN '<extra_id_' || ((i - 1) // 16)::VARCHAR || '>' END
         |           ELSE x END), y -> y IS NOT NULL) AS inp,
         |    list_transform(range(0, nfull), w ->
         |      '<extra_id_' || w::VARCHAR || '> ' ||
         |      array_to_string(tk[w * 16 + $swExpr + 1 : w * 16 + $swExpr + 3], ' ')) AS spans
         |  FROM a)
         |SELECT doc_id, n_tokens, nfull * 3 AS n_masked,
         |  array_to_string(inp, ' ') AS input_text,
         |  CASE WHEN nfull > 0
         |       THEN array_to_string(spans, ' ') || ' <extra_id_' || nfull::VARCHAR || '>'
         |       ELSE '' END AS target_text
         |FROM b ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      graft.operators.Augment.spanCorruption(Tables.documents(spark, dir),
          col("doc_id"), TextFns.tokens(col("text")), window = 16, spanLen = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }
  }

  /** Distributed suffix array (SuffixArray.suffixRanks): the dense rank
    * of every suffix of every document's token stream, built by prefix
    * doubling — O(log maxDocLen) shuffle rounds, O(N) rank state, no
    * suffix strings and no global single-task sort. The oracle
    * materializes every suffix STRING and dense-ranks them directly
    * (affordable at sf0.01 only because Σlen² is small there); the two
    * orders coincide because every token character sorts above the
    * space joiner. Hash-matching all ~27k (doc, pos, rank) rows pins
    * the whole doubling trajectory: one wrong rank at any level skews
    * every later level's pair keys. */
  val q187 = QueryDef(
    "q187_suffix_ranks",
    s"""WITH tk AS (SELECT doc_id, $toks AS tk FROM documents),
       |sfx AS (SELECT doc_id, i - 1 AS pos, array_to_string(tk[i:], ' ') AS s
       |        FROM (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i FROM tk))
       |SELECT doc_id, pos, dense_rank() OVER (ORDER BY s) AS rank
       |FROM sfx ORDER BY doc_id, pos""".stripMargin) { (spark, dir) =>
    graft.operators.SuffixArray.suffixRanks(Tables.documents(spark, dir))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("rank"))
      .orderBy("doc_id", "pos")
  }

  /** Longest duplicated substring per document
    * (SuffixArray.longestDuplicatedSubstring): the exact length of the
    * longest token run appearing anywhere else in the corpus, from
    * sparse-table LCPs over the doubling levels — the arbitrary-length
    * substring-dedup signal the fixed-width q139/q142 spans approximate.
    * The oracle recomputes adjacent-suffix LCPs by direct token
    * comparison over the string-sorted suffixes (first-mismatch scan),
    * plus full tail length on rank ties. */
  val q188 = QueryDef(
    "q188_longest_dup_substring",
    s"""WITH tk AS (SELECT doc_id, $toks AS tk FROM documents),
       |sfx AS (SELECT doc_id, i, len(tk) - i + 1 AS slen, array_to_string(tk[i:], ' ') AS s
       |        FROM (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i FROM tk)),
       |ranked AS (SELECT doc_id, i, slen, dense_rank() OVER (ORDER BY s) AS rank FROM sfx),
       |reps AS (SELECT rank, doc_id, i, slen, n FROM (
       |  SELECT rank, doc_id, i, slen, count(*) OVER (PARTITION BY rank) AS n,
       |         row_number() OVER (PARTITION BY rank ORDER BY doc_id, i) AS rn
       |  FROM ranked) WHERE rn = 1),
       |pairs AS (SELECT a.rank AS ra, ta.tk AS ta, a.i AS pa, a.slen AS la,
       |                 tb.tk AS tb, b.i AS pb, b.slen AS lb
       |          FROM reps a JOIN reps b ON b.rank = a.rank + 1
       |          JOIN tk ta ON ta.doc_id = a.doc_id JOIN tk tb ON tb.doc_id = b.doc_id),
       |lcp AS (SELECT ra,
       |          coalesce(nullif(list_position(list_transform(range(1, least(la, lb) + 1),
       |            j -> ta[pa + j - 1] <> tb[pb + j - 1]), true), 0) - 1, least(la, lb)) AS lcp
       |        FROM pairs),
       |rdup AS (SELECT r.rank,
       |           greatest(CASE WHEN r.n >= 2 THEN r.slen ELSE 0 END,
       |                    coalesce(ln.lcp, 0), coalesce(lp.lcp, 0)) AS dup
       |         FROM reps r LEFT JOIN lcp ln ON ln.ra = r.rank
       |                     LEFT JOIN lcp lp ON lp.ra = r.rank - 1),
       |perpos AS (SELECT k.doc_id, d.dup FROM ranked k JOIN rdup d ON d.rank = k.rank)
       |SELECT t.doc_id, count(p.dup) AS n_suffixes,
       |       coalesce(max(p.dup), 0) AS max_dup_len
       |FROM tk t LEFT JOIN perpos p ON p.doc_id = t.doc_id
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin) { (spark, dir) =>
    graft.operators.SuffixArray.longestDuplicatedSubstring(Tables.documents(spark, dir))
      .orderBy("doc_id")
  }

  /** Shared oracle stencil for [[graft.operators.Winnow]]: CTE chain
    * ending in `sel(doc_id, pos, fp)` — the winnowed fingerprint set.
    * Mirrors the lag/lead nearest-blocker formulation bit-exactly
    * (same Cross.hash31 k-gram hash, same window arithmetic). */
  private[queries] def winnowSelSql(k: Int, w: Int): String = {
    val dprev = (1 until w)
      .map(d => s"CASE WHEN lag(h, $d) OVER o < h THEN $d END")
      .mkString("COALESCE(", ", ", s", $w)")
    val dnext = (1 until w)
      .map(d => s"CASE WHEN lead(h, $d) OVER o <= h THEN $d END")
      .mkString("COALESCE(", ", ", s", $w)")
    s"""wt AS (SELECT doc_id, ${TextSql.shingles(toks, k)} AS sh FROM documents),
       |wg AS (SELECT doc_id, len(sh) AS n, unnest(range(len(sh))) AS pos,
       |              unnest(sh) AS gram FROM wt),
       |wh AS (SELECT doc_id, n, pos, ${Cross.hash31Sql("gram")} AS h FROM wg),
       |wd AS (SELECT doc_id, n, pos, h, $dprev AS dprev, $dnext AS dnext,
       |              LEAST($w, n) AS weff
       |       FROM wh WINDOW o AS (PARTITION BY doc_id ORDER BY pos)),
       |sel AS (SELECT doc_id, pos, h AS fp FROM wd
       |        WHERE GREATEST(pos - dprev + 1, pos - weff + 1, 0)
       |           <= LEAST(pos, pos + dnext - weff, n - weff))""".stripMargin
  }

  /** Winnowing fingerprints (SIGMOD'03 robust winnowing, k-gram hashes,
    * rightmost-min window rule) — the position-robust local fingerprint
    * the MOSS overlap detector builds on. */
  val q196 = QueryDef(
    "q196_winnow_fingerprints",
    s"""WITH ${winnowSelSql(3, 4)}
       |SELECT doc_id, pos, fp FROM sel
       |ORDER BY doc_id, pos""".stripMargin) { (spark, dir) =>
    graft.operators.Winnow.fingerprints(Tables.documents(spark, dir), k = 3, w = 4)
      .orderBy("doc_id", "pos")
  }

  /** Shared scored-corpus CTE for the Evaluation gates: the q23
    * stop-ratio as a deterministic [0,1] score, labeled by the corpus's
    * own `lang` column (the stopword lexicon is English, so the score IS
    * a weak English detector — exactly the scorer/label pairing a
    * threshold sweep evaluates). */
  private val scoredSql: String =
    s"""sc AS (SELECT
       |  CASE WHEN len(tk) > 0 THEN ${Cross.r6Sql(
             s"${TextSql.lexiconHits("tk", TextFns.stopwords)}::DOUBLE / len(tk)::DOUBLE")}
       |       ELSE 0.0 END AS score,
       |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
       |  FROM (SELECT lang, $toks AS tk FROM documents))""".stripMargin

  /** [[scoredSql]] swept at every distinct score: `cum(score, n, npos,
    * pred_pos, tp)` counts docs and positives at or above it, `tot(t_n,
    * t_p)` the totals. */
  private val sweepCte =
    s"""$scoredSql,
       |per AS (SELECT score, COUNT(*) AS n, SUM(y) AS npos FROM sc GROUP BY score),
       |cum AS (SELECT score, n, npos,
       |          SUM(n) OVER (ORDER BY score DESC) AS pred_pos,
       |          SUM(npos) OVER (ORDER BY score DESC) AS tp
       |        FROM per),
       |tot AS (SELECT COUNT(*) AS t_n, SUM(y) AS t_p FROM sc)""".stripMargin

  private def scoredDf(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    val d = Tables.documents(spark, dir).withColumn("tk", TextFns.tokens(col("text")))
    d.select(
      when(size(col("tk")) > 0,
        Cross.r6(TextFns.lexiconHits(col("tk"), TextFns.stopwords).cast("double") /
          size(col("tk")).cast("double")))
        .otherwise(0.0).as("score"),
      when(col("lang") === "en", 1L).otherwise(0L).as("y"))
  }

  /** Exact PR curve of the stop-ratio scorer at every distinct score
    * threshold — the curation "which threshold" sweep, banded-scan
    * cumulative counts, integer confusion cells. */
  val q198 = QueryDef(
    "q198_pr_curve",
    s"""WITH $sweepCte
       |SELECT score AS threshold, tp::BIGINT AS tp, (pred_pos - tp)::BIGINT AS fp,
       |       (t_p - tp)::BIGINT AS fn, (t_n - pred_pos - t_p + tp)::BIGINT AS tn,
       |       ${Cross.r6Sql("tp::DOUBLE / pred_pos::DOUBLE")} AS precision,
       |       ${Cross.r6Sql("CASE WHEN t_p > 0 THEN tp::DOUBLE / t_p::DOUBLE ELSE 0.0 END")} AS recall,
       |       ${Cross.r6Sql("(tp * 2)::DOUBLE / (pred_pos + t_p)::DOUBLE")} AS f1
       |FROM cum, tot
       |ORDER BY threshold""".stripMargin) { (spark, dir) =>
    graft.operators.Evaluation.prCurve(scoredDf(spark, dir), col("score"), col("y"))
      .orderBy("threshold")
  }

  /** Exact ROC-AUC (Mann-Whitney with midrank ties) of the same scorer —
    * integer rank arithmetic in DECIMAL, one final division. */
  val q199 = QueryDef(
    "q199_roc_auc",
    s"""WITH $scoredSql,
       |per AS (SELECT score, COUNT(*) AS n, SUM(y) AS npos FROM sc GROUP BY score),
       |cum AS (SELECT score, n, npos,
       |          SUM(n) OVER (ORDER BY score DESC) AS pred_pos
       |        FROM per),
       |tot AS (SELECT COUNT(*) AS t_n, SUM(y) AS t_p FROM sc),
       |r AS (SELECT SUM(npos * (2 * (t_n - pred_pos) + n + 1)) AS rs2
       |      FROM cum, tot)
       |SELECT t_p::BIGINT AS pos, (t_n - t_p)::BIGINT AS neg,
       |       ${Cross.r6Sql("CASE WHEN t_p > 0 AND t_n > t_p THEN " +
              "(rs2 - t_p * (t_p + 1))::DOUBLE / (t_p * (t_n - t_p) * 2)::DOUBLE " +
              "ELSE 0.5 END")} AS auc
       |FROM r, tot""".stripMargin) { (spark, dir) =>
    graft.operators.Evaluation.rocAuc(scoredDf(spark, dir), col("score"), col("y"))
  }

  /** Calibration (reliability) bins of the same scorer: 10 fixed-width
    * score bins with exact mean score and empirical positive fraction. */
  val q200 = QueryDef(
    "q200_calibration",
    s"""WITH $scoredSql
       |SELECT LEAST(GREATEST(FLOOR(score * 10)::BIGINT, 0), 9) AS bin,
       |       COUNT(*) AS n, SUM(y)::BIGINT AS n_pos,
       |       ${Cross.r6Sql(Cross.davgSql("score"))} AS mean_score,
       |       ${Cross.r6Sql("SUM(y)::DOUBLE / COUNT(*)::DOUBLE")} AS frac_pos
       |FROM sc GROUP BY bin
       |ORDER BY bin""".stripMargin) { (spark, dir) =>
    graft.operators.Evaluation.calibrationBins(scoredDf(spark, dir),
        col("score"), col("y"), bins = 10)
      .orderBy("bin")
  }

  /** Operating-point selection (Evaluation.bestThreshold): the single
    * threshold maximizing Youden's J over the exact sweep, ties to the
    * lowest threshold — the screening operating point. The oracle
    * recomputes the sweep and takes the same (objective DESC,
    * threshold ASC) argmax over 6-dp-rounded operands. */
  val q212 = QueryDef(
    "q212_best_threshold",
    s"""WITH $sweepCte,
       |cells AS (
       |  SELECT score AS threshold, tp::BIGINT AS tp, (pred_pos - tp)::BIGINT AS fp,
       |         (t_p - tp)::BIGINT AS fn, (t_n - pred_pos - t_p + tp)::BIGINT AS tn
       |  FROM cum, tot),
       |obj AS (
       |  SELECT threshold, tp, fp, fn, tn,
       |    ${Cross.r6Sql(
             "CASE WHEN tp + fn > 0 THEN tp::DOUBLE / (tp + fn)::DOUBLE ELSE 0.0 END - " +
               "CASE WHEN fp + tn > 0 THEN fp::DOUBLE / (fp + tn)::DOUBLE ELSE 0.0 END")} AS objective
       |  FROM cells)
       |SELECT threshold, tp, fp, fn, tn, objective FROM obj
       |ORDER BY objective DESC, threshold LIMIT 1""".stripMargin) { (spark, dir) =>
    graft.operators.Evaluation.bestThreshold(scoredDf(spark, dir),
      col("score"), col("y"), criterion = "youden")
  }

  /** Each doc's harmonic `c(id, ntok, size_class)` at bin size 64: class
    * k packs k docs, −1 flags an oversize doc. */
  private val sizeClassCte =
    s"""t AS (SELECT doc_id AS id, len($toks)::BIGINT AS ntok FROM documents),
       |c AS (SELECT id, ntok,
       |        CASE WHEN ntok > 64 THEN -1
       |             WHEN ntok <= 0 THEN 8
       |             ELSE LEAST(8, 64 // ntok) END AS size_class
       |      FROM t)""".stripMargin

  /** Harmonic whole-document packing (Packing.packHarmonic): size-class
    * bins where class k packs exactly k docs — the no-straddle packing
    * whose bin assignment is pure rank arithmetic, no sequential bin
    * state. binSize 64 exercises every class AND the oversize flag on
    * this corpus (ntok spans 10–99). The oracle recomputes class, rank,
    * bin, and slot with flat per-class windows. */
  val q213 = QueryDef(
    "q213_harmonic_pack",
    s"""WITH $sizeClassCte,
       |r AS (SELECT id, ntok, size_class,
       |        row_number() OVER (PARTITION BY size_class ORDER BY id) - 1 AS r0
       |      FROM c WHERE size_class >= 1)
       |SELECT * FROM (
       |  SELECT id, ntok, size_class, r0 // size_class AS bin,
       |         r0 % size_class AS slot
       |  FROM r
       |  UNION ALL
       |  SELECT id, ntok, size_class, -1 AS bin, -1 AS slot
       |  FROM c WHERE size_class = -1)
       |ORDER BY id""".stripMargin) { (spark, dir) =>
    graft.operators.Packing.packHarmonic(
        Tables.documents(spark, dir).withColumn("tk", TextFns.tokens(col("text"))),
        col("doc_id"), size(col("tk")), binSize = 64L, classes = 8)
      .orderBy("id")
  }

  /** Typed PII inventory (QualityRules.piiReport): per-(doc, type)
    * match counts over the same injected PII q39 scrubs — the report
    * side of the redaction pass. Only even-id docs get the injection,
    * so the sparse-output contract (clean docs emit nothing) is
    * exercised on every other row. */
  val q217 = QueryDef(
    "q217_pii_report",
    s"""WITH injected AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 2 = 0 THEN
       |      text || ' reach me at user' || doc_id || '@mail.example.com or https://ex.com/'
       |           || doc_id || ' phone 555' || lpad(doc_id::VARCHAR, 7, '0')
       |    ELSE text END AS t
       |  FROM documents),
       |counts AS (
       |  SELECT doc_id, 'email' AS pii_type,
       |         len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::BIGINT AS n
       |  FROM injected
       |  UNION ALL
       |  SELECT doc_id, 'url', len(regexp_extract_all(t, 'https?://[^ ]+'))::BIGINT FROM injected
       |  UNION ALL
       |  SELECT doc_id, 'long_number', len(regexp_extract_all(t, '[0-9]{7,}'))::BIGINT FROM injected)
       |SELECT doc_id AS id, pii_type, n FROM counts WHERE n > 0
       |ORDER BY id, pii_type""".stripMargin) { (spark, dir) =>
    val injected = Tables.documents(spark, dir)
      .select(col("doc_id"),
        when(col("doc_id") % 2 === 0,
          concat(col("text"), lit(" reach me at user"), col("doc_id"),
            lit("@mail.example.com or https://ex.com/"), col("doc_id"),
            lit(" phone 555"), lpad(col("doc_id").cast("string"), 7, "0")))
          .otherwise(col("text")).as("t"))
    graft.operators.QualityRules.piiReport(injected, col("doc_id"), col("t"))
      .orderBy("id", "pii_type")
  }

  /** Zipf rank-frequency slope (Profile.zipfSlope): least-squares fit
    * of log2 freq on log2 rank over the top-25 terms — the one-number
    * lexical-health diagnostic. The oracle recomputes rank, the
    * micro-rounded log terms, and the same moment arithmetic. */
  val q218 = QueryDef(
    "q218_zipf_slope",
    s"""WITH c AS (
       |  SELECT term, COUNT(*) AS n
       |  FROM (SELECT unnest($toks) AS term FROM documents)
       |  GROUP BY term ORDER BY n DESC, term LIMIT 25),
       |xy AS (
       |  SELECT ${Cross.r6Sql("log2((row_number() OVER (ORDER BY n DESC, term))::DOUBLE)")} AS x,
       |         ${Cross.r6Sql("log2(n::DOUBLE)")} AS y
       |  FROM c),
       |m AS (
       |  SELECT COUNT(*) AS m, ${Cross.dsumSql("x")} AS sx, ${Cross.dsumSql("y")} AS sy,
       |         ${Cross.dxsumSql("x", "y")} AS sxy, ${Cross.dxsumSql("x", "x")} AS sxx
       |  FROM xy)
       |SELECT m AS n_terms,
       |  ${Cross.r6Sql("(m::DOUBLE * sxy - sx * sy) / (m::DOUBLE * sxx - sx * sx)")} AS slope,
       |  ${Cross.r6Sql("(sy - (m::DOUBLE * sxy - sx * sy) / (m::DOUBLE * sxx - sx * sx) * sx) / m::DOUBLE")} AS intercept
       |FROM m""".stripMargin) { (spark, dir) =>
    graft.operators.Profile.zipfSlope(Tables.documents(spark, dir),
      TextFns.tokens(col("text")), topN = 25)
  }

  /** Top-p vocabulary coverage (Profile.vocabCoverage): smallest
    * greedy-by-frequency vocabulary covering 80% of token mass, run as
    * the banded prefix scan with octave (log2-count) bands. The oracle
    * is the flat join-based prefix sum over (n DESC, term) — the
    * q135-style banding-blind check. */
  val q219 = QueryDef(
    "q219_vocab_coverage",
    s"""WITH c AS (
       |  SELECT term, COUNT(*) AS n
       |  FROM (SELECT unnest($toks) AS term FROM documents) GROUP BY term),
       |tot AS (SELECT SUM(n) AS t FROM c),
       |cum AS (
       |  SELECT a.term, a.n, COALESCE(SUM(b.n), 0) AS cum_before
       |  FROM c a LEFT JOIN c b ON b.n > a.n OR (b.n = a.n AND b.term < a.term)
       |  GROUP BY a.term, a.n)
       |SELECT term, n, cum_before::BIGINT AS cum_before,
       |  (cum_before + n <= floor(0.8 * t)::BIGINT) AS selected
       |FROM cum CROSS JOIN tot
       |ORDER BY term""".stripMargin) { (spark, dir) =>
    graft.operators.Profile.vocabCoverage(Tables.documents(spark, dir),
        TextFns.tokens(col("text")), massFrac = 0.8)
      .orderBy("term")
  }

  /** Deterministic Poisson bootstrap (Evaluation.bootstrapMean) of the
    * stop-ratio quality mean: 16 replicates, each row's multiplicity a
    * pure hash of (doc_id, replicate) against the Poisson(1) inverse
    * CDF, all replicates folded in ONE aggregate pass. The oracle
    * recomputes every replicate arm with the identical hash, threshold
    * literals, and decimal weighted sums. */
  val q220 = {
    val b = 16
    val arms = (0 until b).map { i =>
      val u = s"(${Cross.hash64Sql(s"doc_id::VARCHAR || '#b$i'")}::DOUBLE / 1152921504606846976.0)"
      val cb = graft.operators.Evaluation.PoissonCdf
        .map(t => s"($u > $t)::BIGINT").mkString("(", " + ", ")")
      s"""SELECT $i AS replicate, SUM(cb)::BIGINT AS n_eff,
         |  ${Cross.r6Sql(
              s"CASE WHEN SUM(cb) > 0 THEN ${Cross.dxsumSql("cb", "x")} / SUM(cb)::DOUBLE ELSE 0.0 END")} AS mean
         |FROM (SELECT doc_id, x, $cb AS cb FROM q)""".stripMargin
    }.mkString("\nUNION ALL\n")
    QueryDef(
      "q220_bootstrap_mean",
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         |q AS (
         |  SELECT doc_id,
         |    CASE WHEN len(tk) > 0 THEN ${Cross.r6Sql(
                s"${TextSql.lexiconHits("tk", TextFns.stopwords)}::DOUBLE / len(tk)::DOUBLE")}
         |         ELSE 0.0 END AS x
         |  FROM t)
         |SELECT * FROM (
         |$arms)
         |ORDER BY replicate""".stripMargin) { (spark, dir) =>
      val d = Tables.documents(spark, dir).withColumn("tk", TextFns.tokens(col("text")))
        .select(col("doc_id"),
          when(size(col("tk")) > 0,
            TextFns.lexiconHits(col("tk"), TextFns.stopwords).cast("double") /
              size(col("tk")).cast("double"))
            .otherwise(0.0).as("x"))
      graft.operators.Evaluation.bootstrapMean(d, col("doc_id"), col("x"),
          replicates = b)
        .orderBy("replicate")
    }
  }

  /** Budgeted context assembly (Retrieval.contextPack): table-of-queries
    * BM25 (one corpus pass, postings-bounded query join) composed with
    * the per-key greedy token-budget prefix — the RAG packing step. The
    * oracle recomputes the per-(query, doc) scores and the per-query
    * join-based prefix over (score DESC, doc_id). */
  val q223 = QueryDef(
    "q223_context_pack",
    s"""WITH tok AS (SELECT doc_id, unnest($toks) AS t FROM documents),
       |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
       |stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS n_tok FROM dl),
       |q AS (SELECT * FROM (VALUES ('a', 'spark'), ('a', 'query'),
       |        ('a', 'window'), ('b', 'data'), ('b', 'stream')) v(qid, t)),
       |tf AS (
       |  SELECT doc_id, t, COUNT(*) AS tf FROM tok
       |  WHERE t IN (SELECT t FROM q) GROUP BY doc_id, t),
       |dft AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
       |s AS (
       |  SELECT q.qid, tf.doc_id, dl.dl,
       |    ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * 2.2 /
       |      (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl::DOUBLE / (n_tok::DOUBLE / n_docs::DOUBLE))) AS s
       |  FROM tf JOIN dft USING (t) JOIN dl USING (doc_id)
       |  JOIN q ON q.t = tf.t CROSS JOIN stats),
       |sc AS (
       |  SELECT qid, doc_id,
       |    (round((${Cross.dsumSql("s", 6)}) + 1e-9, 6) + 0.0) AS score,
       |    MAX(dl) AS dl
       |  FROM s GROUP BY qid, doc_id),
       |c AS (
       |  SELECT a.qid, a.doc_id, a.score, a.dl, COALESCE(SUM(b2.dl), 0) AS cum_before
       |  FROM sc a LEFT JOIN sc b2 ON b2.qid = a.qid AND
       |    (b2.score > a.score OR (b2.score = a.score AND b2.doc_id < a.doc_id))
       |  GROUP BY a.qid, a.doc_id, a.score, a.dl)
       |SELECT qid, doc_id, score, dl, cum_before::BIGINT AS cum_before,
       |  (cum_before + dl <= 600) AS selected
       |FROM c
       |ORDER BY qid, doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val queries = Seq(("a", "spark"), ("a", "query"), ("a", "window"),
      ("b", "data"), ("b", "stream")).toDF("qid", "term")
    graft.operators.Retrieval.contextPack(
        Tables.documents(spark, dir), queries, budgetPerQuery = 600L)
      .orderBy("qid", "doc_id")
  }

  /** Deleted-interpolation EM (Lm.emLambda): three rounds of the
    * closed-form λ update over the self-trained bigram mix, the full
    * trajectory emitted. The oracle UNROLLS the identical arithmetic —
    * each round's λ is a scalar CTE feeding the next round's posterior
    * expression — so hash-equality pins every round, not just the
    * fixpoint. */
  val q229 = {
    val alpha = 0.1
    def gamma(lam: String) =
      Cross.r6Sql(s"$lam * pbi / ($lam * pbi + (1 - $lam) * puni)")
    def step(lam: String) =
      Cross.r6Sql(s"${Cross.dsumSql(gamma(lam), 6)} / COUNT(*)::DOUBLE")
    QueryDef(
      "q229_lm_em_lambda",
      s"""WITH $bigramLmCte,
         |inst AS (
         |  SELECT (cab::DOUBLE + $alpha) / (ca::DOUBLE + $alpha * v::DOUBLE) AS pbi,
         |         cb::DOUBLE / tt::DOUBLE AS puni
         |  FROM bg JOIN bgc USING (a, b) JOIN pre USING (a)
         |  JOIN ug ON ug.t = bg.b CROSS JOIN sc),
         |it1 AS (SELECT ${step("0.5")} AS lam FROM inst),
         |it2 AS (SELECT ${step("it1.lam")} AS lam FROM inst CROSS JOIN it1 GROUP BY it1.lam),
         |it3 AS (SELECT ${step("it2.lam")} AS lam FROM inst CROSS JOIN it2 GROUP BY it2.lam)
         |SELECT * FROM (
         |  SELECT 0 AS iter, 0.5 AS lambda
         |  UNION ALL SELECT 1, lam FROM it1
         |  UNION ALL SELECT 2, lam FROM it2
         |  UNION ALL SELECT 3, lam FROM it3)
         |ORDER BY iter""".stripMargin) { (spark, dir) =>
      graft.operators.Lm.emLambda(Tables.documents(spark, dir),
          alpha = alpha, iters = 3, lambda0 = 0.5)
        .orderBy("iter")
    }
  }

  /** Hashing-trick bag-of-words neighbors (Features.hashedBowTopK):
    * docs 0–7 query the corpus by sparse hashed-BoW cosine — exact
    * integer dots and norms through the bucket inverted index, no dense
    * vector materialized. The oracle rebuilds the same bucket counts
    * (shared md5 hash kernel) and ranks with a flat window. */
  val q231 = QueryDef(
    "q231_hashed_bow_knn",
    s"""WITH tok AS (SELECT doc_id, unnest($toks) AS t FROM documents),
       |c AS (
       |  SELECT doc_id, ${Cross.hash31Sql("t")} % 64 AS bucket, COUNT(*) AS c
       |  FROM tok GROUP BY doc_id, bucket),
       |n AS (SELECT doc_id, SUM(c * c) AS n2 FROM c GROUP BY doc_id),
       |q AS (SELECT doc_id, bucket, c FROM c WHERE doc_id < 8),
       |dots AS (
       |  SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
       |         SUM(q.c * c.c) AS dot
       |  FROM q JOIN c USING (bucket)
       |  WHERE q.doc_id <> c.doc_id
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT query_id, neighbor_id,
       |    ${Cross.r6Sql(
             "dot::DOUBLE / (sqrt(qn.n2::DOUBLE) * sqrt(nn.n2::DOUBLE))")} AS cos
       |  FROM dots
       |  JOIN n qn ON qn.doc_id = query_id
       |  JOIN n nn ON nn.doc_id = neighbor_id)
       |SELECT query_id, neighbor_id, rank, cos FROM (
       |  SELECT query_id, neighbor_id, cos,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored) r
       |WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    graft.operators.Features.hashedBowTopK(docs,
        docs.filter(col("doc_id") < 8), dims = 64, k = 5)
      .orderBy("query_id", "rank")
  }

  /** Closed frequent-phrase mining (Blocklist.closedPhrases): 2–4-gram
    * document frequencies at support >= 5, reduced to closed phrases
    * (no equal-df one-word extension) — the blocklist candidate /
    * boilerplate inventory. The oracle mirrors the per-level df tables
    * and the prefix/suffix anti-joins. */
  val q233 = QueryDef(
    "q233_closed_phrases",
    s"""WITH tl AS (SELECT doc_id, $toks AS tk FROM documents),
       |l2 AS (SELECT phrase, COUNT(*) AS df FROM (
       |         SELECT DISTINCT doc_id, unnest(${TextSql.shingles("tk", 2)}) AS phrase FROM tl)
       |       GROUP BY phrase HAVING COUNT(*) >= 5),
       |l3 AS (SELECT phrase, COUNT(*) AS df FROM (
       |         SELECT DISTINCT doc_id, unnest(${TextSql.shingles("tk", 3)}) AS phrase FROM tl)
       |       GROUP BY phrase HAVING COUNT(*) >= 5),
       |l4 AS (SELECT phrase, COUNT(*) AS df FROM (
       |         SELECT DISTINCT doc_id, unnest(${TextSql.shingles("tk", 4)}) AS phrase FROM tl)
       |       GROUP BY phrase HAVING COUNT(*) >= 5),
       |e3 AS (SELECT DISTINCT regexp_replace(phrase, ' [^ ]+$$', '') AS phrase, df FROM l3
       |       UNION SELECT DISTINCT regexp_replace(phrase, '^[^ ]+ ', ''), df FROM l3),
       |e4 AS (SELECT DISTINCT regexp_replace(phrase, ' [^ ]+$$', '') AS phrase, df FROM l4
       |       UNION SELECT DISTINCT regexp_replace(phrase, '^[^ ]+ ', ''), df FROM l4)
       |SELECT * FROM (
       |  SELECT 2 AS n, phrase, df FROM l2
       |  WHERE NOT EXISTS (SELECT 1 FROM e3 WHERE e3.phrase = l2.phrase AND e3.df = l2.df)
       |  UNION ALL
       |  SELECT 3, phrase, df FROM l3
       |  WHERE NOT EXISTS (SELECT 1 FROM e4 WHERE e4.phrase = l3.phrase AND e4.df = l3.df)
       |  UNION ALL
       |  SELECT 4, phrase, df FROM l4)
       |ORDER BY n, phrase""".stripMargin) { (spark, dir) =>
    graft.operators.Blocklist.closedPhrases(
        Tables.documents(spark, dir), maxN = 4, minSupport = 5L)
      .orderBy("n", "phrase")
  }

  /** LM confidence statistics (Lm.bigramScoreStats): per-doc mean and
    * variance of micro-rounded bigram log-probs — the machine-text /
    * template screen's feature pair; the oracle folds the identical
    * rounded terms through exact decimal moment sums. */
  val q234 = QueryDef(
    "q234_lm_confidence",
    s"""WITH $bigramLmCte,
       |scored AS (
       |  SELECT doc_id, COUNT(*) AS n_bigrams,
       |    ${Cross.dsumSql(Cross.r6Sql(lmMixSql), 6)} AS sx,
       |    ${Cross.dxsumSql(Cross.r6Sql(lmMixSql), Cross.r6Sql(lmMixSql))} AS sxx
       |  FROM bg
       |  JOIN bgc USING (a, b) JOIN pre USING (a)
       |  JOIN ug ON ug.t = bg.b
       |  CROSS JOIN sc
       |  GROUP BY doc_id)
       |SELECT doc_id, n_bigrams,
       |  ${Cross.r6Sql("sx / n_bigrams::DOUBLE")} AS mean_lp,
       |  ${Cross.r6Sql(
            "(n_bigrams::DOUBLE * sxx - sx * sx) / (n_bigrams::DOUBLE * n_bigrams::DOUBLE)")} AS var_lp
       |FROM scored
       |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    graft.operators.Lm.bigramScoreStats(Tables.documents(spark, dir),
        lambda = lmLambda, alpha = lmAlpha)
      .orderBy("doc_id")
  }

  /** χ² feature selection (Classifier.chi2Features): top-20 terms by
    * 2×2 contingency against the lang='en' label, exact integer cells
    * and fixed-order double arithmetic. The oracle recomputes cells and
    * the same expression order. */
  val q237 = QueryDef(
    "q237_chi2_features",
    s"""WITH base AS (
       |  SELECT doc_id, $toks AS tk,
       |         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
       |  FROM documents),
       |tot AS (SELECT COUNT(*) AS nn, SUM(y) AS np FROM base),
       |pt AS (
       |  SELECT term, COUNT(*) AS n_has, SUM(y) AS a FROM (
       |    SELECT DISTINCT doc_id, y, unnest(tk) AS term FROM base)
       |  GROUP BY term),
       |cells AS (
       |  SELECT term, a, n_has - a AS b, np - a AS c,
       |         nn - np - n_has + a AS d, nn
       |  FROM pt CROSS JOIN tot),
       |scored AS (
       |  SELECT term, a, b, c, d,
       |    (a + b)::DOUBLE * (c + d)::DOUBLE * (a + c)::DOUBLE * (b + d)::DOUBLE AS margin,
       |    ${Cross.r6Sql(
            "CASE WHEN (a + b)::DOUBLE * (c + d)::DOUBLE * (a + c)::DOUBLE * (b + d)::DOUBLE > 0.0 THEN " +
              "nn::DOUBLE * (a::DOUBLE * d::DOUBLE - b::DOUBLE * c::DOUBLE) * " +
              "(a::DOUBLE * d::DOUBLE - b::DOUBLE * c::DOUBLE) / " +
              "((a + b)::DOUBLE * (c + d)::DOUBLE * (a + c)::DOUBLE * (b + d)::DOUBLE) " +
              "ELSE 0.0 END")} AS chi2
       |  FROM cells)
       |SELECT term, a::BIGINT AS a, b::BIGINT AS b, c::BIGINT AS c,
       |       d::BIGINT AS d, chi2 FROM scored
       |ORDER BY chi2 DESC, term LIMIT 20""".stripMargin) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    graft.operators.Classifier.chi2Features(docs, col("doc_id"),
      TextFns.tokens(col("text")),
      when(col("lang") === "en", 1L).otherwise(0L), k = 20)
  }

  /** Per-source operating points (Evaluation.bestThresholdPerKey):
    * every source sweeps its own exact stop-ratio curve and picks its
    * own Youden argmax — the per-source calibration answer. The oracle
    * computes each key's sweep with flat windows and the identical
    * (objective DESC, threshold) argmax. */
  val q239 = QueryDef(
    "q239_best_threshold_by_source",
    s"""WITH sc AS (
       |  SELECT source AS key,
       |    CASE WHEN len(tk) > 0 THEN ${Cross.r6Sql(
             s"${TextSql.lexiconHits("tk", TextFns.stopwords)}::DOUBLE / len(tk)::DOUBLE")}
       |         ELSE 0.0 END AS score,
       |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
       |  FROM (SELECT source, lang, $toks AS tk FROM documents)),
       |per AS (SELECT key, score, COUNT(*) AS n, SUM(y) AS npos
       |        FROM sc GROUP BY key, score),
       |cum AS (SELECT key, score, n, npos,
       |          SUM(n) OVER (PARTITION BY key ORDER BY score DESC) AS pred_pos,
       |          SUM(npos) OVER (PARTITION BY key ORDER BY score DESC) AS tp
       |        FROM per),
       |tot AS (SELECT key, COUNT(*) AS t_n, SUM(y) AS t_p FROM sc GROUP BY key),
       |cells AS (
       |  SELECT cum.key, score AS threshold, tp::BIGINT AS tp,
       |         (pred_pos - tp)::BIGINT AS fp, (t_p - tp)::BIGINT AS fn,
       |         (t_n - pred_pos - t_p + tp)::BIGINT AS tn
       |  FROM cum JOIN tot ON cum.key = tot.key),
       |obj AS (
       |  SELECT key, threshold, tp, fp, fn, tn,
       |    ${Cross.r6Sql(
             "CASE WHEN tp + fn > 0 THEN tp::DOUBLE / (tp + fn)::DOUBLE ELSE 0.0 END - " +
               "CASE WHEN fp + tn > 0 THEN fp::DOUBLE / (fp + tn)::DOUBLE ELSE 0.0 END")} AS objective,
       |    row_number() OVER (PARTITION BY key
       |      ORDER BY ${Cross.r6Sql(
             "CASE WHEN tp + fn > 0 THEN tp::DOUBLE / (tp + fn)::DOUBLE ELSE 0.0 END - " +
               "CASE WHEN fp + tn > 0 THEN fp::DOUBLE / (fp + tn)::DOUBLE ELSE 0.0 END")} DESC,
       |        threshold) AS rn
       |  FROM cells)
       |SELECT key, threshold, tp, fp, fn, tn, objective
       |FROM obj WHERE rn = 1
       |ORDER BY key""".stripMargin) { (spark, dir) =>
    val d = Tables.documents(spark, dir).withColumn("tk", TextFns.tokens(col("text")))
      .select(col("source"),
        when(size(col("tk")) > 0,
          Cross.r6(TextFns.lexiconHits(col("tk"), TextFns.stopwords).cast("double") /
            size(col("tk")).cast("double")))
          .otherwise(0.0).as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
    graft.operators.Evaluation.bestThresholdPerKey(d, col("source"),
        col("score"), col("y"), criterion = "youden")
      .orderBy("key")
  }

  /** Language-mixture profile (QualityRules.langMixture): per-doc
    * marker-hit totals, argmax language, and hit-distribution entropy —
    * the code-switching screen. Mixed docs are synthesized by
    * concatenating even docs with the following odd doc's text, so real
    * multi-lexicon rows exercise the entropy. The oracle mirrors the
    * per-lexicon probes and the fixed-order entropy fold. */
  val q249 = {
    val entSql = graft.functions.TextFns.langLexicons.map { case (_, lex) =>
      val h = TextSql.lexiconHits("tk", lex)
      s"CASE WHEN $h > 0 THEN ${Cross.r6Sql(
        s"-($h::DOUBLE / tot::DOUBLE) * log2($h::DOUBLE / tot::DOUBLE)")} ELSE 0.0 END"
    }.mkString("(", " + ", ")")
    val totSql = graft.functions.TextFns.langLexicons
      .map { case (_, lex) => TextSql.lexiconHits("tk", lex) }
      .mkString("(", " + ", ")")
    QueryDef(
      "q249_lang_mixture",
      s"""WITH mixed AS (
         |  SELECT d.doc_id,
         |    CASE WHEN d.doc_id % 2 = 0 AND o.text IS NOT NULL
         |         THEN d.text || ' ' || o.text ELSE d.text END AS text
         |  FROM documents d
         |  LEFT JOIN documents o ON o.doc_id = d.doc_id + 1),
         |t AS (SELECT doc_id, $toks AS tk FROM mixed),
         |h AS (SELECT doc_id, tk, $totSql AS tot FROM t)
         |SELECT doc_id, tot AS n_hits,
         |  ${TextSql.langId("tk")} AS top_lang,
         |  CASE WHEN tot > 0 THEN ${Cross.r6Sql(entSql)} ELSE 0.0 END AS lang_entropy
         |FROM h
         |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      val d = Tables.documents(spark, dir)
      val o = d.select((col("doc_id") - 1).as("doc_id"), col("text").as("next_text"))
      val mixed = d.join(o, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("doc_id") % 2 === 0 && col("next_text").isNotNull,
            concat(col("text"), lit(" "), col("next_text")))
            .otherwise(col("text")).as("text"))
      graft.operators.QualityRules.langMixture(mixed, col("doc_id"),
          TextFns.tokens(col("text")))
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }
  }

  /** Materialized packed shards (Packing.packedShards over
    * packHarmonic): each (class, bin) emits its concatenated member
    * texts in slot order plus fill bookkeeping — the actual training
    * shard artifact. The oracle recomputes the harmonic assignment and
    * the slot-ordered string_agg byte for byte. */
  val q250 = QueryDef(
    "q250_packed_shards",
    s"""WITH t AS (SELECT doc_id AS id, text, len($toks)::BIGINT AS ntok FROM documents),
       |c AS (SELECT id, text, ntok,
       |        CASE WHEN ntok > 64 THEN -1
       |             WHEN ntok <= 0 THEN 8
       |             ELSE LEAST(8, 64 // ntok) END AS size_class
       |      FROM t),
       |r AS (SELECT id, text, ntok, size_class,
       |        row_number() OVER (PARTITION BY size_class ORDER BY id) - 1 AS r0
       |      FROM c WHERE size_class >= 1)
       |SELECT size_class, r0 // size_class AS bin, COUNT(*) AS n_docs,
       |       SUM(ntok)::BIGINT AS n_tokens,
       |       string_agg(text, E'\\n\\n' ORDER BY r0 % size_class) AS shard_text
       |FROM r
       |GROUP BY size_class, r0 // size_class
       |ORDER BY size_class, bin""".stripMargin) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
      .withColumn("tk", TextFns.tokens(col("text")))
    val packed = graft.operators.Packing.packHarmonic(docs,
      col("doc_id"), size(col("tk")), binSize = 64L, classes = 8)
    graft.operators.Packing.packedShards(packed, docs, col("doc_id"),
        col("text"))
      .orderBy("size_class", "bin")
  }

  /** EPOCH-ORDERED training shards (Sampling.epochShardOrder) — the
    * loader artifact between q250's packed bins and an actual training
    * run: every epoch gets its OWN deterministic pseudorandom
    * permutation of the bins (epoch-salted content hash → independent
    * order per epoch, reproducible by any engine at any parallelism),
    * sharded with dense per-(epoch, shard) positions via the two-level
    * rank — no per-epoch global sort. The oracle re-derives the
    * harmonic bin table and the salted-hash order with flat windows,
    * so the permutations themselves (not just their shape)
    * hash-match. */
  val q344 = QueryDef(
    "q344_epoch_shard_order",
    s"""WITH $sizeClassCte,
       |r AS (SELECT id, size_class,
       |        row_number() OVER (PARTITION BY size_class ORDER BY id) - 1 AS r0
       |      FROM c WHERE size_class >= 1),
       |bins AS (SELECT DISTINCT size_class, r0 // size_class AS bin FROM r),
       |sal AS (SELECT size_class::VARCHAR || ':' || bin::VARCHAR AS bin_key, epoch
       |        FROM bins CROSS JOIN (SELECT unnest(range(0, 3)) AS epoch) e),
       |b AS (SELECT epoch, bin_key,
       |        ${Cross.hash64Sql("bin_key || '#' || epoch::VARCHAR")} AS h FROM sal)
       |SELECT epoch::INTEGER AS epoch, bin_key, h % 4 AS shard,
       |  (row_number() OVER (PARTITION BY epoch, h % 4 ORDER BY h, bin_key) - 1)::BIGINT AS pos
       |FROM b
       |ORDER BY epoch, shard, pos""".stripMargin) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
      .withColumn("tk", TextFns.tokens(col("text")))
    val packed = graft.operators.Packing.packHarmonic(docs, col("doc_id"),
      size(col("tk")), binSize = 64L, classes = 8)
    val bins = packed.filter(col("size_class") >= 1L)
      .select(concat_ws(":", col("size_class"), col("bin")).as("bin_key"))
      .distinct()
    graft.operators.Sampling.epochShardOrder(bins, col("bin_key"),
        epochs = 3, nShards = 4, bucketBits = 6)
      .withColumnRenamed("k", "bin_key")
      .orderBy("epoch", "shard", "pos")
  }

  /** Per-source lexical richness (Profile.lexicalRichness): vocabulary,
    * hapax legomena, hapax fraction — the template/OCR-noise detector
    * the Zipf slope corroborates. Flat SQL recount. */
  val q253 = QueryDef(
    "q253_lexical_richness",
    s"""WITH c AS (
       |  SELECT source, term, COUNT(*) AS c FROM (
       |    SELECT source, unnest($toks) AS term FROM documents)
       |  GROUP BY source, term)
       |SELECT source, SUM(c)::BIGINT AS n_tokens, COUNT(*) AS vocab,
       |  SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS hapax,
       |  ${Cross.r6Sql(
            "SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)::DOUBLE / COUNT(*)::DOUBLE")} AS hapax_frac
       |FROM c GROUP BY source
       |ORDER BY source""".stripMargin) { (spark, dir) =>
    graft.operators.Profile.lexicalRichness(Tables.documents(spark, dir),
        col("source"), TextFns.tokens(col("text")))
      .orderBy("source")
  }

  /** Source-mass Gini (Profile.sourceGini): corpus-balance inequality
    * over per-source token masses, exact pairwise form on the tiny
    * source table. Flat SQL mirror. */
  val q255 = QueryDef(
    "q255_source_gini",
    s"""WITH m AS (
       |  SELECT source, SUM(len($toks))::BIGINT AS m FROM documents GROUP BY source),
       |p AS (SELECT SUM(abs(a.m - b.m)) AS sd FROM m a CROSS JOIN m b),
       |t AS (SELECT COUNT(*) AS n, SUM(m) AS t FROM m)
       |SELECT n AS n_sources, t::BIGINT AS total_tokens,
       |  ${Cross.r6Sql("sd::DOUBLE / (2.0 * n::DOUBLE * t::DOUBLE)")} AS gini
       |FROM p CROSS JOIN t""".stripMargin) { (spark, dir) =>
    graft.operators.Profile.sourceGini(Tables.documents(spark, dir),
      col("source"), TextFns.tokens(col("text")))
  }

  /** Longest stopword run (QualityRules.maxStopwordRun): the island
    * trick over stopword positions — the filler-burst smell the ratio
    * hides; docs are synthetically burst-injected on every fourth id
    * so real runs exercise the fold. Flat SQL mirror. */
  val q256 = QueryDef(
    "q256_stopword_runs",
    s"""WITH injected AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 4 = 0
       |      THEN text || ' the of and to in is was for'
       |      ELSE text END AS text
       |  FROM documents),
       |pos0 AS (
       |  SELECT doc_id, unnest(range(0, len(tk))) AS i, tk
       |  FROM (SELECT doc_id, $toks AS tk FROM injected)),
       |pos AS (SELECT doc_id, i, tk[i + 1] AS t FROM pos0),
       |stops AS (
       |  SELECT doc_id, i,
       |         i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS island
       |  FROM pos WHERE t IN (${TextFns.stopwords.map(s => s"'$s'").mkString(", ")})),
       |runs AS (
       |  SELECT doc_id, MAX(cnt) AS max_stop_run FROM (
       |    SELECT doc_id, island, COUNT(*) AS cnt FROM stops GROUP BY doc_id, island)
       |  GROUP BY doc_id),
       |base AS (SELECT doc_id, len($toks)::BIGINT AS n_tokens FROM injected)
       |SELECT base.doc_id, base.n_tokens, COALESCE(runs.max_stop_run, 0) AS max_stop_run
       |FROM base LEFT JOIN runs ON base.doc_id = runs.doc_id
       |ORDER BY base.doc_id""".stripMargin) { (spark, dir) =>
    val injected = Tables.documents(spark, dir)
      .select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
          concat(col("text"), lit(" the of and to in is was for")))
          .otherwise(col("text")).as("text"))
    graft.operators.QualityRules.maxStopwordRun(injected, col("doc_id"),
        TextFns.tokens(col("text")))
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** Type-token (Heap's law) growth curve at fixed ingestion cutoffs —
    * vocabulary never materializes per cutoff: one min-aggregate to each
    * term's first doc, flat interval assignment, prefix sum over the
    * |cutoffs|-row table. Cutoffs beyond the corpus saturate (constant
    * tail rows), so the same gate is meaningful at every SF. */
  val q201 = {
    val cutoffs = Seq(50L, 100L, 200L, 300L, 400L, 800L)
    QueryDef(
      "q201_vocab_growth",
      s"""WITH tk AS (SELECT doc_id, $toks AS tk FROM documents),
         |fd AS (SELECT term, MIN(doc_id) AS first_doc
         |       FROM (SELECT doc_id, unnest(tk) AS term FROM tk) GROUP BY term),
         |c AS (SELECT unnest(${cutoffs.mkString("[", ", ", "]")}) AS cutoff)
         |SELECT cutoff,
         |  (SELECT COUNT(*) FROM documents WHERE doc_id <= cutoff) AS n_docs,
         |  (SELECT COALESCE(SUM(len(tk)), 0) FROM tk WHERE doc_id <= cutoff)::BIGINT AS n_tokens,
         |  (SELECT COUNT(*) FROM fd WHERE first_doc <= cutoff) AS vocab
         |FROM c ORDER BY cutoff""".stripMargin) { (spark, dir) =>
      graft.operators.Profile.vocabGrowth(Tables.documents(spark, dir), cutoffs)
        .orderBy("cutoff")
    }
  }

  /** Token-anchored phrase blocklist verdicts: inverted-index join of the
    * corpus token table against the broadcast phrase-token table; a
    * candidate start is a match iff all np phrase tokens land at
    * consecutive positions (grouped count = np). */
  val q202 = {
    val phrases = Seq("key agg row", "slow fast", "the line sort", "spark")
    val maxHits = 2L
    val valueRows = graft.operators.Blocklist.phraseRows(phrases)
      .map { case (pid, j, t, np) => s"($pid, $j, '$t', $np)" }
      .mkString(", ")
    QueryDef(
      "q202_blocklist",
      s"""WITH tok AS (SELECT doc_id, unnest(range(len(tk))) AS pos, unnest(tk) AS term
         |             FROM (SELECT doc_id, $toks AS tk FROM documents)),
         |m AS (SELECT doc_id, pos - j AS start, pid
         |      FROM tok JOIN (VALUES $valueRows) p(pid, j, ptok, np) ON term = ptok
         |      WHERE pos >= j
         |      GROUP BY doc_id, pos - j, pid, np
         |      HAVING COUNT(*) = np),
         |h AS (SELECT doc_id, COUNT(*) AS hits FROM m GROUP BY doc_id)
         |SELECT d.doc_id, COALESCE(h.hits, 0) AS hits,
         |       COALESCE(h.hits, 0) > $maxHits AS blocked
         |FROM documents d LEFT JOIN h USING (doc_id)
         |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      graft.operators.Blocklist.verdicts(Tables.documents(spark, dir),
          phrases, maxHits = maxHits)
        .orderBy("doc_id")
    }
  }

  /** Cohen's kappa (Evaluation.cohenKappa) between the lang-ID heuristic
    * (q24's predictor) and the labeled `lang` column — chance-corrected
    * agreement over the multiclass confusion matrix. Integer marginal
    * products accumulate in DECIMAL; the oracle mirrors the marginal
    * join and the same division order. */
  val q204 = QueryDef(
    "q204_cohen_kappa",
    s"""WITH t AS (SELECT doc_id, lang, $toks AS tk FROM documents),
       |pl AS (SELECT ${TextSql.langId("tk")} AS p, lang AS l FROM t),
       |cm AS (SELECT p, l, COUNT(*) AS c FROM pl GROUP BY p, l),
       |tot AS (
       |  SELECT SUM(c) AS n,
       |         SUM(CASE WHEN p = l THEN c ELSE 0 END) AS agree
       |  FROM cm),
       |rt AS (SELECT p, SUM(c) AS rp FROM cm GROUP BY p),
       |ct AS (SELECT l, SUM(c) AS rl FROM cm GROUP BY l),
       |pe AS (
       |  SELECT COALESCE(SUM(rp::DECIMAL(38,0) * rl::DECIMAL(38,0)), 0) AS pe_num
       |  FROM rt JOIN ct ON rt.p = ct.l)
       |SELECT n::BIGINT AS n,
       |  ${Cross.r6Sql("agree::DOUBLE / n::DOUBLE")} AS po,
       |  ${Cross.r6Sql("pe_num::DOUBLE / (n::DOUBLE * n::DOUBLE)")} AS pe,
       |  ${Cross.r6Sql(
             "CASE WHEN pe_num::DOUBLE / (n::DOUBLE * n::DOUBLE) >= 1.0 THEN 0.0 " +
               "ELSE (agree::DOUBLE / n::DOUBLE - pe_num::DOUBLE / (n::DOUBLE * n::DOUBLE)) / " +
               "(1.0 - pe_num::DOUBLE / (n::DOUBLE * n::DOUBLE)) END")} AS kappa
       |FROM tot CROSS JOIN pe""".stripMargin) { (spark, dir) =>
    val d = Tables.documents(spark, dir).withColumn("tk", TextFns.tokens(col("text")))
    graft.operators.Evaluation.cohenKappa(d,
      TextFns.langId(col("tk")), col("lang"))
  }

  /** Character 3-gram Shannon entropy per doc (Profile.charNgramEntropy)
    * — the gibberish/degeneracy quality signal. The oracle folds the
    * same micro-rounded c·log2 c terms through exact decimal sums, so
    * hash-equality pins the distributed two-level aggregation to the
    * flat computation bit for bit. */
  val q206 = QueryDef(
    "q206_char_entropy",
    s"""WITH g AS (
       |  SELECT doc_id, substr(text, i, 3) AS g
       |  FROM (SELECT doc_id, text, unnest(range(1, length(text) - 1)) AS i
       |        FROM documents WHERE length(text) >= 3)),
       |c AS (SELECT doc_id, g, COUNT(*) AS c FROM g GROUP BY doc_id, g),
       |per AS (
       |  SELECT doc_id, SUM(c) AS n_grams,
       |         ${Cross.dsumSql(Cross.r6Sql("c::DOUBLE * log2(c::DOUBLE)"))} AS clc
       |  FROM c GROUP BY doc_id)
       |SELECT d.doc_id,
       |  COALESCE(per.n_grams, 0)::BIGINT AS n_grams,
       |  CASE WHEN COALESCE(per.n_grams, 0) > 0
       |    THEN ${Cross.r6Sql("log2(per.n_grams::DOUBLE) - per.clc / per.n_grams::DOUBLE")}
       |    ELSE 0.0 END AS entropy
       |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
       |ORDER BY d.doc_id""".stripMargin) { (spark, dir) =>
    graft.operators.Profile.charNgramEntropy(
        Tables.documents(spark, dir), n = 3)
      .orderBy("doc_id")
  }

  /** Proportional domain-interleaved training order
    * (Curation.interleaveSchedule): smooth round-robin by virtual time
    * r/w_k — the reading schedule that realizes a mixture without
    * domain bursts. The oracle computes both ranks with flat windows;
    * hash-equality proves the two banded scans (per-key and global
    * equi-depth over unbounded virtual times) reproduce the total
    * (vt, id) order exactly. */
  val q208 = QueryDef(
    "q208_interleave",
    s"""WITH r AS (
       |  SELECT source AS key, doc_id AS id,
       |         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS r
       |  FROM documents),
       |v AS (
       |  SELECT key, id, r,
       |    r::DOUBLE / (CASE key WHEN 'src0' THEN 5 WHEN 'src1' THEN 3
       |                 WHEN 'src2' THEN 2 ELSE 1 END)::DOUBLE AS vt
       |  FROM r)
       |SELECT key, id, r, ${Cross.r6Sql("vt")} AS vt,
       |       row_number() OVER (ORDER BY vt, id) AS position
       |FROM v
       |ORDER BY id""".stripMargin) { (spark, dir) =>
    graft.operators.Curation.interleaveSchedule(
        Tables.documents(spark, dir), col("source"), col("doc_id"),
        weights = Map("src0" -> 5L, "src1" -> 3L, "src2" -> 2L),
        defaultWeight = 1L, bands = 16)
      .orderBy("id")
  }

  /** Pairwise domain KL divergence (Profile.domainKl): add-one-smoothed
    * unigram distributions per source over the shared vocabulary, every
    * ordered pair scored — the mixture-design diagnostic. The oracle
    * rebuilds the dense grid and folds the identical micro-rounded
    * p·log2(p/q) terms through exact decimal sums. */
  val q209 = QueryDef(
    "q209_domain_kl",
    s"""WITH t AS (SELECT source AS key, unnest($toks) AS term FROM documents),
       |c AS (SELECT key, term, COUNT(*) AS c FROM t GROUP BY key, term),
       |nk AS (SELECT key, SUM(c) AS n FROM c GROUP BY key),
       |v AS (SELECT DISTINCT term FROM c),
       |vs AS (SELECT COUNT(*) AS vsz FROM v),
       |grid AS (
       |  SELECT nk.key, v.term,
       |    (COALESCE(c.c, 0) + 1)::DOUBLE / (nk.n + vs.vsz)::DOUBLE AS p
       |  FROM nk CROSS JOIN v CROSS JOIN vs
       |  LEFT JOIN c ON c.key = nk.key AND c.term = v.term)
       |SELECT a.key AS key_a, b.key AS key_b,
       |  ${Cross.r6Sql(Cross.dsumSql(Cross.r9Sql("a.p * log2(a.p / b.p)"), 9))} AS kl
       |FROM grid a JOIN grid b ON a.term = b.term AND a.key <> b.key
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    graft.operators.Profile.domainKl(Tables.documents(spark, dir),
        col("source"), TextFns.tokens(col("text")))
      .orderBy("key_a", "key_b")
  }

  /** Sliding-window token chunking (Packing.chunkSliding): 24-token
    * chunks every 16 tokens — overlapping RAG-style chunks whose start
    * grid, tail handling, and text round-trip the oracle recomputes
    * with flat list_slice arithmetic. Integer/string output only (the
    * round-6 canon discipline). */
  val q258 = QueryDef(
    "q258_chunk_sliding",
    s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
       |k AS (
       |  SELECT doc_id, tk, len(tk)::BIGINT AS n,
       |    CASE WHEN len(tk) <= 24 THEN 0
       |         ELSE (len(tk) - 24 + 15) // 16 END AS kmax
       |  FROM t WHERE len(tk) > 0),
       |c AS (SELECT doc_id, tk, kmax, unnest(range(0, kmax + 1)) AS i FROM k)
       |SELECT doc_id, i AS chunk_idx, (kmax + 1)::BIGINT AS n_chunks,
       |  (i * 16)::BIGINT AS start,
       |  len(list_slice(tk, i * 16 + 1, i * 16 + 24))::BIGINT AS chunk_len,
       |  array_to_string(list_slice(tk, i * 16 + 1, i * 16 + 24), ' ') AS chunk_text
       |FROM c
       |ORDER BY doc_id, chunk_idx""".stripMargin) { (spark, dir) =>
    graft.operators.Packing.chunkSliding(Tables.documents(spark, dir),
        col("doc_id"), TextFns.tokens(col("text")), chunkSize = 24, stride = 16)
      .orderBy("doc_id", "chunk_idx")
  }

  /** STREAMING chunking: the identical q258 slide grid computed over
    * the replayed document stream — [[graft.operators.Packing
    * .chunkSliding]] is pure per-row arithmetic (projection + one
    * bounded explode, zero state), so it is append-mode streaming-legal
    * with NO watermark and NO aggregation: the shape an always-on
    * "ingest → chunk → index" pipeline runs. Same oracle as q258:
    * hash-equality proves stream ≡ batch for the whole chunk artifact. */
  val q260 = QueryDef("q260_stream_chunks", q258.oracle) { (spark, dir) =>
    import org.apache.spark.sql.types._
    val stream = graft.streaming.EventStreams.readTable(spark, dir, "documents")
    graft.streaming.EventStreams.runToCompletion(spark,
        graft.operators.Packing.chunkSliding(stream, col("doc_id"),
          TextFns.tokens(col("text")), chunkSize = 24, stride = 16),
        "q260_chunks", mode = "append")
      .orderBy("doc_id", "chunk_idx")
  }

  /** END-TO-END mixture realization: q156's temperature-scaled budgets
    * (tau 0.7, 100k tokens) REALIZED through the per-key greedy quality
    * prefix — the two-stage data-mixture pipeline as one gate. The
    * per-domain budgets are driver-side loop-control state (|domains|
    * longs, the IVF-centroid class) collected from temperatureBudgets
    * and fed to selectUnderBudgetPerKey; the oracle inlines BOTH stages
    * (the full q156 chain as CTEs feeding the q154-style per-key flat
    * prefix), so hash-equality pins the composition — budget arithmetic,
    * literal re-entry, per-key ordering, and selection — end to end. */
  val q261 = QueryDef(
    "q261_mixture_realize",
    s"""WITH t AS (SELECT doc_id, source, $toks AS tk FROM documents),
       |dom AS (SELECT source AS key, SUM(len(tk))::BIGINT AS n_tok
       |        FROM t GROUP BY source),
       |tot AS (SELECT SUM(n_tok)::BIGINT AS t_tok FROM dom),
       |sc2 AS (
       |  SELECT key,
       |    floor(pow(floor((n_tok::DOUBLE / t_tok::DOUBLE) * 1000000.0 + 0.5001) / 1000000.0,
       |              0.7) * 1000000.0 + 0.5001) / 1000000.0 AS s
       |  FROM dom CROSS JOIN tot),
       |z AS (SELECT ${Cross.dsumSql("s")} AS z FROM sc2),
       |bud AS (
       |  SELECT key,
       |    floor(100000.0 * (floor((s / z) * 1000000.0 + 0.5001) / 1000000.0))::BIGINT AS budget_tokens
       |  FROM sc2 CROSS JOIN z),
       |q AS (
       |  SELECT doc_id, source AS key, len(tk)::BIGINT AS ntok,
       |    $stopQualitySql AS quality
       |  FROM t),
       |${prefixCte(keyed = true)}
       |SELECT c.doc_id, c.key, c.quality, c.ntok, c.cum_before::BIGINT AS cum_before,
       |  (c.cum_before + c.ntok <= COALESCE(bud.budget_tokens, 0)) AS selected
       |FROM c LEFT JOIN bud ON c.key = bud.key
       |ORDER BY c.doc_id""".stripMargin) { (spark, dir) =>
    val d = Tables.documents(spark, dir)
      .withColumn("tk", TextFns.tokens(col("text")))
    val budgets = graft.operators.Curation.temperatureBudgets(d,
        col("source"), size(col("tk")), tau = 0.7, totalBudget = 100000L)
      .select("key", "budget_tokens").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val scored = d.select(col("doc_id"), col("source"),
      size(col("tk")).cast("long").as("ntok"),
      stopQuality)
    graft.operators.Curation.selectUnderBudgetPerKey(scored,
        col("source"), col("doc_id"), col("quality"), col("ntok"),
        budgets = budgets, defaultBudget = 0L, bands = 64)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** Fixed-size weighted sampling (Sampling.weightedTopNSample): the
    * Efraimidis–Spirakis A-ES top-200 over documents weighted by
    * n_chars — "exactly n eval docs, longer docs proportionally more
    * likely", reproducible from ids alone. The oracle recomputes the
    * hash-derived uniforms, the r6-quantized ln, the weight division,
    * and the (priority DESC, id) top-n, so the SELECTED SET itself
    * hash-matches — a full oracle, not a reduction (the one
    * transcendental is grid-quantized before ordering, so both engines
    * rank identically). */
  val q271 = QueryDef(
    "q271_weighted_topn",
    s"""WITH cand AS (
       |  SELECT doc_id, n_chars,
       |    ${Cross.r6Sql("ln(((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT::BIGINT + 1)::DOUBLE / 1152921504606846976.0))")}
       |      / n_chars::DOUBLE AS pr
       |  FROM documents WHERE n_chars > 0),
       |top AS (SELECT * FROM cand ORDER BY pr DESC, doc_id LIMIT 200)
       |SELECT doc_id AS id, n_chars::DOUBLE AS w,
       |       ${Cross.micro9Sql(Cross.r9Sql("pr"))} AS prio_nano
       |FROM top ORDER BY id""".stripMargin) { (spark, dir) =>
    graft.operators.Sampling.weightedTopNSample(
        Tables.documents(spark, dir), col("doc_id"), col("n_chars"), n = 200)
      .orderBy("id")
  }

  /** Per-key A-ES sampling (Sampling.weightedTopNPerKey): 20 docs per
    * source, weight = n_chars, selected through the bounded TopKPairs
    * heap (map-side ≤ n per key per partition — never a full per-key
    * window sort). Oracle: the per-key row_number over the identical
    * grid-quantized priorities — rank, membership, and priority all
    * hash-match per key. */
  val q272 = QueryDef(
    "q272_weighted_topn_per_key",
    s"""WITH cand AS (
       |  SELECT source AS key, doc_id, n_chars,
       |    ${Cross.r6Sql("ln(((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT::BIGINT + 1)::DOUBLE / 1152921504606846976.0))")}
       |      / n_chars::DOUBLE AS pr
       |  FROM documents WHERE n_chars > 0),
       |ranked AS (
       |  SELECT key, doc_id, pr,
       |         row_number() OVER (PARTITION BY key ORDER BY pr DESC, doc_id) AS rank
       |  FROM cand)
       |SELECT key, CAST(rank AS BIGINT) AS rank, doc_id AS id,
       |       ${Cross.micro9Sql(Cross.r9Sql("pr"))} AS prio_nano
       |FROM ranked WHERE rank <= 20
       |ORDER BY key, rank""".stripMargin) { (spark, dir) =>
    graft.operators.Sampling.weightedTopNPerKey(
        Tables.documents(spark, dir), col("source"), col("doc_id"),
        col("n_chars"), n = 20)
      .orderBy("key", "rank")
  }

  /** STREAMING A-ES sampling: the q272 per-key fixed-size weighted
    * sample folded over the documents table arriving as a STREAM
    * (complete-mode aggregation of the same bounded TopKPairs heap —
    * ≤ n priorities per key as the query's whole state). The A-ES
    * priority is a pure function of (id, weight), so the incremental
    * fold equals the batch selection EXACTLY, and the gate reuses
    * q272's full oracle — closing the one sketch-family member (KMV,
    * MG, top-k, count-min, KS all had streaming legs) that didn't. */
  val q284 = QueryDef("q284_stream_weighted_topn", q272.oracle) { (spark, dir) =>
    import graft.streaming.EventStreams
    val docs = EventStreams.readTable(spark, dir, "documents")
    EventStreams.runToCompletion(spark,
        graft.operators.Sampling.weightedTopNPerKey(docs,
          col("source"), col("doc_id"), col("n_chars"), n = 20),
        "q284_aes")
      .orderBy("key", "rank")
  }

  val all: Seq[QueryDef] = Seq(q20, q21, q22, q23, q24, q25, q26, q27, q28, q29, q39, q109, q112, q113, q116, q124, q128, q135, q139, q142, q148, q149, q152, q154, q155, q156, q157, q158, q159, q161, q162, q165, q167, q168, q169, q173, q174, q177, q182, q183, q187, q188, q192, q194, q195, q196, q198, q199, q200, q201, q202, q204, q206, q208, q209, q212, q213, q217, q218, q219, q220, q223, q229, q231, q233, q234, q237, q239, q249, q250, q253, q255, q256, q258, q260, q261, q271, q272, q284, q339, q340, q342, q343, q344)
}
