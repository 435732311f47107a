package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives (SURVEY.md §2.8 X1-X3 + the beyond-reference
  * text-pipeline operators: language-ID, quality scoring, token counting,
  * fingerprinting).
  *
  * Everything here is pure Catalyst `functions._` composition — no UDFs —
  * so the whole pipeline stays inside WholeStageCodegen and is per-row CPU
  * with zero shuffle; at 100 TB these scale linearly with input splits.
  *
  * The reference's equivalents are row-at-a-time Python closures:
  * punctuation expansion + lowercase + split (reference
  * models/content_based_model.py:19-22,65-77, X1/X2) and a 127-word
  * stopword file (reference utils/stopwords, P2).
  *
  * Each helper has a DuckDB-SQL mirror in [[TextSql]]; the pair must stay
  * semantically identical because the correctness gate hash-compares them.
  */
object TextFns {

  /** Compact stopword list shared with the SQL mirror (subset of the
    * reference's utils/stopwords list). */
  val stopwords: Seq[String] = Seq(
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if",
    "in", "into", "is", "it", "no", "not", "of", "on", "or", "such", "that",
    "the", "their", "then", "there", "these", "they", "this", "to", "was",
    "will", "with")

  /** Per-language marker lexicons for the n-gram/stopword language-ID
    * heuristic. Order matters: ties resolve to the earliest entry. */
  val langLexicons: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "was", "for", "with", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "mit", "von", "ein", "eine", "nicht"),
    "es" -> Seq("el", "la", "los", "las", "y", "es", "en", "un", "una", "que"),
    "fr" -> Seq("le", "les", "et", "de", "un", "une", "est", "pour", "dans", "ce"),
    "zh" -> Seq("shi", "bu", "wo", "ni", "ta", "men", "zai", "you", "hao", "ma"))

  /** X1+X2: lowercase, collapse non-alphanumerics to spaces, split, drop
    * empties. Equivalent to the reference's punctuation expansion + split. */
  def tokens(c: Column): Column =
    graft.plans.LexiconMatch.drop(
      split(regexp_replace(lower(c), "[^a-z0-9]+", " "), " "), Seq(""))

  /** Tokens with stopwords removed (P2). Set-DROP per token (native
    * [[graft.plans.LexiconMatch]]), not `array_except`, which has set
    * semantics and would drop repeated non-stopword tokens (breaking TF
    * counts). */
  def contentTokens(c: Column): Column =
    graft.plans.LexiconMatch.drop(tokens(c), stopwords)

  /** Word n-shingles: ["a","b","c","d"] with n=3 → ["a b c","b c d"].
    * Empty when the doc has fewer than n tokens. Computed by the native
    * [[graft.plans.WordShingles]] expression (byte-identical strings to
    * the interpreted transform/concat_ws formulation it replaced — see
    * its scaladoc for the measured 10 s/corpus-pass motivation);
    * coalesce preserves the old null-input → empty-array behavior. */
  def shingles(toks: Column, n: Int): Column = {
    require(n >= 1)
    coalesce(graft.plans.WordShingles.of(toks, n), array().cast("array<string>"))
  }

  /** Number of tokens from `toks` found in `lexicon` (with
    * multiplicity) — one native hash-set probe per token. */
  def lexiconHits(toks: Column, lexicon: Seq[String]): Column =
    graft.plans.LexiconMatch.count(toks, lexicon)

  /** Stopword-overlap language-ID: argmax of lexicon hit counts, ties to
    * the earliest language in [[langLexicons]], no hits → "und". */
  def langId(toks: Column): Column = {
    val scores = langLexicons.map { case (lang, lex) => lang -> lexiconHits(toks, lex) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, s), acc) =>
      when(s === best && s > 0, lang).otherwise(acc)
    }
  }

  /** BPE-ish token count: alphabetic runs, single digits, and single
    * punctuation marks each count as one piece. */
  def bpeishCount(c: Column): Column =
    size(regexp_extract_all(lower(c), lit("[a-z]+|[0-9]|[^a-z0-9\\s]"), lit(0)))

  /** Total characters across tokens (deterministic integer fold). */
  def tokenChars(toks: Column): Column =
    aggregate(transform(toks, t => length(t)), lit(0), (acc, x) => acc + x)

  /** Document fingerprint: md5 of the token-normalized text — identical in
    * DuckDB, used for exact near-normalization dedup. */
  /** Token-window chunking with overlap — the RAG/context-window prep
    * step: chunk i covers tokens [i·step, i·step + chunkSize) for
    * step = chunkSize − overlap, the final chunk clamped. Pure
    * expression-level array ops (codegen-friendly, no UDF, no explode
    * until the caller wants rows). Returns array<struct<idx, chunk>>. */
  def chunkTokens(toks: Column, chunkSize: Int, overlap: Int): Column = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      s"need 0 <= overlap < chunkSize, got $overlap/$chunkSize")
    val step = chunkSize - overlap
    // integer ceil((len - overlap) / step), at least one chunk
    val n = greatest(lit(1),
      (size(toks) - lit(overlap) + lit(step - 1)).cast("long") / lit(step)).cast("int")
    transform(sequence(lit(0), n - 1), i =>
      struct(i.cast("int").as("idx"),
        concat_ws(" ", slice(toks, i * step + 1, lit(chunkSize))).as("chunk")))
  }

  /** PII scrub: emails → <EMAIL>, URLs → <URL>, 7+-digit runs → <NUM> —
    * the redaction pass of a training-data pipeline. Patterns stay in
    * the RE2-compatible subset so engine mirrors agree. */
  def scrubPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
        "https?://[^ ]+", "<URL>"),
      "[0-9]{7,}", "<NUM>")

  def fingerprint(c: Column): Column =
    md5(concat_ws(" ", tokens(c)))

  /** Deterministic text cleanup — the ftfy-lite normalization pass a
    * crawl corpus needs before tokenization: CR/CRLF → LF, control
    * characters stripped (tab and newline survive), tab/space runs
    * collapsed to one space, spaces trimmed around newlines, 3+ blank
    * lines squeezed to one, outer whitespace trimmed. Pure per-row
    * regex chain (RE2-compatible subset, codegen'd, zero shuffle);
    * every step is mirrored in [[TextSql.cleanText]] so the cleaned
    * STRING hash-matches cross-engine. */
  def cleanText(c: Column): Column =
    trim(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(c, "\\r\\n?", "\n"),
              "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""),
            "[ \\t]+", " "),
          " ?\\n ?", "\n"),
        "\\n{3,}", "\n\n"))
}

/** DuckDB mirrors of [[TextFns]]; `t` is the text column SQL expression. */
object TextSql {
  private def strList(xs: Seq[String]): String =
    xs.map(s => s"'$s'").mkString("[", ", ", "]")

  def tokens(t: String): String =
    s"list_filter(string_split_regex(regexp_replace(lower($t), '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '')"

  def contentTokens(t: String): String =
    s"list_filter(${tokens(t)}, x -> NOT list_contains(${strList(TextFns.stopwords)}, x))"

  def shingles(toks: String, n: Int): String = {
    val parts = (0 until n).map(j => s"$toks[i + $j]").mkString(" || ' ' || ")
    s"list_transform(range(1, len($toks) - ${n - 2}), i -> $parts)"
  }

  def lexiconHits(toks: String, lexicon: Seq[String]): String =
    s"len(list_filter($toks, x -> list_contains(${strList(lexicon)}, x)))"

  /** DISTINCT lexicon members present in `toks` (mirror of Spark
    * `size(array_intersect(...))` — both engines dedup). */
  def distinctLexiconHits(toks: String, lexicon: Seq[String]): String =
    s"len(list_intersect($toks, ${strList(lexicon)}))"

  def langId(toks: String): String = {
    val scores = TextFns.langLexicons.map { case (lang, lex) => lang -> lexiconHits(toks, lex) }
    val best = scores.map(_._2).mkString("greatest(", ", ", ")")
    val chain = scores.map { case (lang, s) =>
      s"WHEN $s = $best AND $s > 0 THEN '$lang'"
    }.mkString(" ")
    s"(CASE $chain ELSE 'und' END)"
  }

  def bpeishCount(t: String): String =
    s"len(regexp_extract_all(lower($t), '[a-z]+|[0-9]|[^a-z0-9\\s]'))"

  def tokenChars(toks: String): String =
    s"list_sum(list_transform($toks, x -> length(x)))"

  /** DuckDB mirror of [[TextFns.chunkTokens]]: list_slice is 1-based with
    * INCLUSIVE end, so chunk i spans [i·step + 1, i·step + chunkSize]. */
  def chunkTokens(toks: String, chunkSize: Int, overlap: Int): String = {
    val step = chunkSize - overlap
    s"""list_transform(range(0, GREATEST(1, (len($toks) - $overlap + ${step - 1}) // $step)::BIGINT),
       | i -> array_to_string(list_slice($toks, i * $step + 1, i * $step + $chunkSize), ' '))""".stripMargin.replace("\n", "")
  }

  /** BM25 (k1 = 1.5, b = 0.75) of each `documents` token matching a query
    * term: `scored(doc_id, s)`, one row per (doc, term) hit. The
    * constants are binary-exact, so every literal is bit-identical in
    * both engines. */
  def bm25ScoredCte(terms: Seq[String]): String =
    s"""tok AS (SELECT doc_id, unnest(${tokens("text")}) AS t FROM documents),
       |stats AS (SELECT COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_tok FROM tok),
       |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
       |qt AS (SELECT doc_id, t FROM tok WHERE t IN ${terms.map(t => s"'$t'").mkString("(", ", ", ")")}),
       |df AS (SELECT t, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, t FROM qt) d GROUP BY t),
       |tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM qt GROUP BY doc_id, t),
       |scored AS (
       |  SELECT tf.doc_id,
       |    ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * 2.5 /
       |      (tf + 1.5 * (1.0 - 0.75 + 0.75 * dl::DOUBLE / (n_tok::DOUBLE / n_docs::DOUBLE))) AS s
       |  FROM tf JOIN df USING (t) JOIN dl USING (doc_id) CROSS JOIN stats)""".stripMargin

  def scrubPii(t: String): String =
    s"""regexp_replace(regexp_replace(regexp_replace($t,
       | '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
       | 'https?://[^ ]+', '<URL>', 'g'),
       | '[0-9]{7,}', '<NUM>', 'g')""".stripMargin.replace("\n", "")

  def fingerprint(t: String): String =
    s"md5(array_to_string(${tokens(t)}, ' '))"

  /** Mirror of [[TextFns.cleanText]] (same regex chain, RE2 dialect). */
  def cleanText(t: String): String =
    s"""trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
       | regexp_replace($t, '\\r\\n?', chr(10), 'g'),
       | '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),
       | '[ \\t]+', ' ', 'g'),
       | ' ?\\n ?', chr(10), 'g'),
       | '\\n{3,}', chr(10) || chr(10), 'g'), ' ')""".stripMargin.replace("\n ", "")
}
