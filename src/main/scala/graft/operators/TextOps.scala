package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** [EXT] Text-analysis operators over the `documents` table (SURVEY.md
  * §2.10 E4): language-ID, quality scoring, token counting, document
  * fingerprinting. The reference has no text surface (SURVEY.md §2.6 —
  * only `concat`); these are the driver-mandated LLM-data-pipeline
  * extensions.
  *
  * Design rules for 100 TB:
  *   - everything is per-row narrow computation (regexp/hash built-ins
  *     inside whole-stage codegen) — no shuffle except deterministic
  *     output ORDER BY, which exists only for the oracle diff and would
  *     be dropped in production;
  *   - no UDFs: all logic is `org.apache.spark.sql.functions` /
  *     Spark-SQL expressions, so Catalyst prunes `documents` to the
  *     2-3 columns each query touches (verified via PushedFilters /
  *     ReadSchema in TextOpsSpec).
  *
  * Oracle notes: every regexp here uses only syntax with identical
  * semantics in Java regex (Spark) and RE2 (DuckDB): literal
  * alternation, `\b`, `\s`. Ratios are ROUNDed; a half-way tie is
  * impossible for doubles at scale>=1 (see graft.functions.Exact).
  */
object TextOps {
  type Q = (SparkSession, String) => DataFrame

  /** Whitespace tokens of the lowercased, trimmed text. */
  private[graft] def tokens(c: Column): Column =
    split(lower(trim(c)), "\\s+")

  /** The one stop-word marker list every quality consumer shares
    * (q22, q89, q139, and the composed q137 funnel) — a single
    * definition so the Scala sides can never drift apart; each
    * consumer's DuckDB oracle replays it as a literal. */
  private[graft] val StopwordRegex = "\\b(the|a|of|and|to|in|is)\\b"

  /** The four q89 quality bars as a first-drop CASE over the scored
    * columns (n_tokens, n_distinct, stop_hits, lang), falling through
    * to `tail` for documents that pass every bar — SHARED by q89 and
    * the composed q137 funnel (round-14 review: the funnel's scaladoc
    * guarantees stage thresholds identical to the standalone
    * operators, which hand-copied expressions cannot enforce). */
  private[graft] def qualityBarsThen(tail: Column): Column =
    when(col("n_tokens") < 30, "too_short")
      .when(!col("lang").isin("en", "de", "es", "fr"), "lang_excluded")
      .when((col("n_tokens") - 2 - col("n_distinct")) * 50 >
        col("n_tokens") - 2, "repetitive")
      .when(col("lang") === "en" &&
        round(col("stop_hits") / col("n_tokens"), 4) < 0.05,
        "low_quality")
      .otherwise(tail)

  /** q20 — language histogram: corpus composition by declared lang.
    * Tiny-cardinality groupBy → partial agg moves ~5 rows per task. */
  val q20LangHistogram: Q = (spark, dir) =>
    Tables.load(spark, dir, "documents")
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        round(avg("n_chars"), 2).as("avg_chars"))
      .orderBy("lang")

  val q20Oracle: String =
    """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  ROUND(AVG(n_chars), 2) AS avg_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** q21 — token counting: whitespace tokenization + char stats per doc.
    * The `avg_token_len` divides two exact ints → deterministic double.
    */
  val q21TokenStats: Q = (spark, dir) =>
    Tables.load(spark, dir, "documents")
      .select(
        col("doc_id"),
        length(col("text")).as("n_chars_meas"),
        size(tokens(col("text"))).as("n_tokens"),
        round(length(regexp_replace(col("text"), "\\s+", ""))
          / size(tokens(col("text"))), 4).as("avg_token_len"))
      .orderBy("doc_id")

  val q21Oracle: String =
    """SELECT doc_id, LENGTH(text) AS n_chars_meas,
      |  LEN(string_split_regex(TRIM(LOWER(text)), '\s+')) AS n_tokens,
      |  ROUND(LENGTH(regexp_replace(text, '\s+', '', 'g'))
      |    / LEN(string_split_regex(TRIM(LOWER(text)), '\s+')), 4) AS avg_token_len
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q22 — quality scoring: stopword ratio + length banding, the
    * standard cheap filter before expensive pipeline stages. The band
    * CASE reads the *rounded* ratio so Spark and the oracle band
    * identically. */
  val q22QualityScore: Q = (spark, dir) =>
    Tables.load(spark, dir, "documents")
      .select(
        col("doc_id"),
        col("n_chars"),
        size(tokens(col("text"))).as("n_tokens"),
        size(regexp_extract_all(lower(col("text")),
          lit(StopwordRegex), lit(0))).as("stop_hits"))
      .withColumn("stop_ratio", round(col("stop_hits") / col("n_tokens"), 4))
      .withColumn("quality",
        when(col("stop_ratio") >= 0.10 && col("n_tokens") >= 30, "high")
          .when(col("stop_ratio") >= 0.05, "medium")
          .otherwise("low"))
      .orderBy("doc_id")

  val q22Oracle: String =
    """WITH q AS (
      |  SELECT doc_id, n_chars,
      |    LEN(string_split_regex(TRIM(LOWER(text)), '\s+')) AS n_tokens,
      |    LEN(regexp_extract_all(LOWER(text), '\b(the|a|of|and|to|in|is)\b')) AS stop_hits
      |  FROM documents)
      |SELECT doc_id, n_chars, n_tokens, stop_hits,
      |  ROUND(stop_hits / n_tokens, 4) AS stop_ratio,
      |  CASE WHEN ROUND(stop_hits / n_tokens, 4) >= 0.10 AND n_tokens >= 30 THEN 'high'
      |       WHEN ROUND(stop_hits / n_tokens, 4) >= 0.05 THEN 'medium'
      |       ELSE 'low' END AS quality
      |FROM q ORDER BY doc_id""".stripMargin

  /** q23 — language-ID: n-gram/stopword-marker heuristic. Scores are
    * raw integer hit counts (no float), argmax with fixed priority
    * en > es > fr > de > zh on ties — fully deterministic. */
  val q23LangId: Q = (spark, dir) => {
    def hits(c: Column, pat: String): Column =
      size(regexp_extract_all(lower(c), lit(pat), lit(0)))
    Tables.load(spark, dir, "documents")
      .select(
        col("doc_id"), col("lang").as("declared_lang"),
        hits(col("text"), "\\b(the|and|of|to|is)\\b").as("s_en"),
        hits(col("text"), "\\b(el|la|de|los|que)\\b").as("s_es"),
        hits(col("text"), "\\b(le|les|des|et|une)\\b").as("s_fr"),
        hits(col("text"), "\\b(der|die|und|das|ein)\\b").as("s_de"))
      .withColumn("detected",
        when(col("s_en") >= greatest(col("s_es"), col("s_fr"), col("s_de")), "en")
          .when(col("s_es") >= greatest(col("s_fr"), col("s_de")), "es")
          .when(col("s_fr") >= col("s_de"), "fr")
          .otherwise("de"))
      .orderBy("doc_id")
  }

  val q23Oracle: String =
    """WITH s AS (
      |  SELECT doc_id, lang AS declared_lang,
      |    LEN(regexp_extract_all(LOWER(text), '\b(the|and|of|to|is)\b')) AS s_en,
      |    LEN(regexp_extract_all(LOWER(text), '\b(el|la|de|los|que)\b')) AS s_es,
      |    LEN(regexp_extract_all(LOWER(text), '\b(le|les|des|et|une)\b')) AS s_fr,
      |    LEN(regexp_extract_all(LOWER(text), '\b(der|die|und|das|ein)\b')) AS s_de
      |  FROM documents)
      |SELECT doc_id, declared_lang, s_en, s_es, s_fr, s_de,
      |  CASE WHEN s_en >= GREATEST(s_es, s_fr, s_de) THEN 'en'
      |       WHEN s_es >= GREATEST(s_fr, s_de) THEN 'es'
      |       WHEN s_fr >= s_de THEN 'fr' ELSE 'de' END AS detected
      |FROM s ORDER BY doc_id""".stripMargin

  /** q25 — BPE-style pre-tokenization count: the GPT-2-family
    * pre-tokenizer shape (leading-space word / number / punctuation
    * runs) restricted to ASCII classes so Java regex (Spark) and RE2
    * (DuckDB) agree symbol-for-symbol. This is the token count a
    * training-data pipeline actually budgets with — whitespace counts
    * (q21) undercount punctuation-heavy text. Per-row narrow codegen'd
    * regexp; no shuffle but the output ORDER BY. */
  val q25BpeTokens: Q = (spark, dir) => {
    val pat = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \\t\\n]+"
    Tables.load(spark, dir, "documents")
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(pat), lit(0)))
          .as("n_bpe_tokens"),
        size(tokens(col("text"))).as("n_ws_tokens"))
      .withColumn("tokens_per_word",
        round(col("n_bpe_tokens") / col("n_ws_tokens"), 4))
      .orderBy("doc_id")
  }

  val q25Oracle: String =
    """SELECT doc_id,
      |  LEN(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n]+')) AS n_bpe_tokens,
      |  LEN(string_split_regex(TRIM(LOWER(text)), '\s+')) AS n_ws_tokens,
      |  ROUND(LEN(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n]+'))
      |    / LEN(string_split_regex(TRIM(LOWER(text)), '\s+')), 4) AS tokens_per_word
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Whitespace-normalized text — the canonical form for fingerprints
    * and dedup keys (shared with DedupOps). */
  def normText(c: Column): Column =
    regexp_replace(lower(trim(c)), "\\s+", " ")

  /** q24 — document fingerprinting: md5 of the normalized text. One
    * narrow hash per row; at 100 TB this is the cheap first pass whose
    * output feeds exact dedup (q30). */
  val q24Fingerprint: Q = (spark, dir) =>
    Tables.load(spark, dir, "documents")
      .select(
        col("doc_id"),
        md5(normText(col("text"))).as("fingerprint"),
        length(col("text")).as("n_chars_meas"))
      .orderBy("doc_id")

  val q24Oracle: String =
    """SELECT doc_id,
      |  md5(regexp_replace(LOWER(TRIM(text)), '\s+', ' ', 'g')) AS fingerprint,
      |  LENGTH(text) AS n_chars_meas
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q26 — DETERMINISTIC stratified sampling, the reproducible way to
    * mix corpora at scale: keep a doc iff its salted 60-bit md5 hash
    * bucket (mod 10000) falls under its stratum's rate (en 50%, rest
    * 20% here). Unlike seeded-RNG `sample()`/`sampleBy()`, the
    * decision is a pure function of the row key — stable across
    * executor counts, retries, partitionings AND engines, so the
    * oracle replays it exactly and a pipeline re-run touches the same
    * rows (what makes downstream caches/dedup incremental). Per-row
    * narrow codegen'd exprs, no shuffle at all before the sink. */
  val q26DeterministicSample: Q = (spark, dir) =>
    Tables.load(spark, dir, "documents")
      .withColumn("bucket",
        conv(substring(md5(concat(lit("sample:"),
          col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long") % 10000)
      .withColumn("rate", when(col("lang") === "en", 0.5).otherwise(0.2))
      .filter(col("bucket") < col("rate") * 10000)
      .select("doc_id", "lang", "source", "bucket")
      .orderBy("doc_id")

  val q26Oracle: String =
    """SELECT doc_id, lang, source,
      |  ('0x' || substr(md5('sample:' || doc_id::VARCHAR), 1, 15))::BIGINT % 10000 AS bucket
      |FROM documents
      |WHERE ('0x' || substr(md5('sample:' || doc_id::VARCHAR), 1, 15))::BIGINT % 10000
      |      < (CASE WHEN lang = 'en' THEN 0.5 ELSE 0.2 END) * 10000
      |ORDER BY doc_id""".stripMargin

  /** q27 — per-language quality PERCENTILE cut: keep each language's
    * top-75% docs by stopword-ratio score (q22's formulation) — the
    * distribution-relative filter a mixing pipeline uses so a
    * low-resource language isn't wiped out by an absolute threshold.
    * percent_rank over (lang, rounded score) is rank-arithmetic on
    * identical inputs in both engines, so ties cut identically; ONE
    * window shuffle on lang, partition-count-independent. */
  val q27QualityPercentile: Q = (spark, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang").orderBy("stop_ratio", "doc_id")
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).as("n_tokens"),
        size(regexp_extract_all(lower(col("text")),
          lit(StopwordRegex), lit(0))).as("stop_hits"))
      .withColumn("stop_ratio", round(col("stop_hits") / col("n_tokens"), 4))
      .withColumn("pr", round(percent_rank().over(w), 4))
      .filter(col("pr") >= 0.25)
      .select("doc_id", "lang", "stop_ratio", "pr")
      .orderBy("doc_id")
  }

  val q27Oracle: String =
    """WITH scored AS (
      |  SELECT doc_id, lang,
      |    ROUND(LEN(regexp_extract_all(LOWER(text), '\b(the|a|of|and|to|in|is)\b'))
      |      / LEN(string_split_regex(LOWER(TRIM(text)), '\s+')), 4) AS stop_ratio
      |  FROM documents),
      |ranked AS (
      |  SELECT doc_id, lang, stop_ratio,
      |    ROUND(PERCENT_RANK() OVER (PARTITION BY lang
      |      ORDER BY stop_ratio, doc_id), 4) AS pr
      |  FROM scored)
      |SELECT doc_id, lang, stop_ratio, pr FROM ranked
      |WHERE pr >= 0.25 ORDER BY doc_id""".stripMargin

  /** q35 — TF-IDF top terms per language: the distinctive-vocabulary
    * report a corpus-quality reviewer runs (which terms characterize
    * each language stratum vs the whole corpus). tf = term count
    * within the language; df = documents containing the term (exact
    * distinct); idf = ln((1+N)/(1+df)). All counts are exact integers,
    * so the only float math is one ln + one multiply — identical
    * IEEE inputs in both engines; ranking happens on the ROUNDED score
    * (term tie-break) so a last-ulp libm difference can never flip a
    * rank. Shape at scale: two hash aggs over exploded tokens (both
    * with map-side partial combine), a term-keyed join of tf×df —
    * vocabulary-sized, not corpus-sized — and one lang-partitioned
    * top-k window. N reaches the plan as a broadcast one-row cross
    * join, not a driver-side constant, so the DAG is fully lazy. */
  val q35TfidfTerms: Q = (spark, dir) => {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.load(spark, dir, "documents")
    val toks = docs.select(col("lang"), col("doc_id"),
      explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val tf = toks.groupBy("lang", "term").agg(count(lit(1)).as("tf"))
    val df = toks.groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
    val w = Window.partitionBy("lang")
      .orderBy(col("score").desc, col("term"))
    tf.join(df, "term").crossJoin(broadcast(nDocs))
      .withColumn("score", round(col("tf") *
        log((lit(1) + col("n_docs")).cast("double") / (lit(1) + col("df"))), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("lang", "term", "tf", "df", "score", "rank")
      .orderBy("lang", "rank")
  }

  val q35Oracle: String =
    """WITH toks AS (
      |  SELECT lang, doc_id,
      |    UNNEST(string_split_regex(LOWER(TRIM(text)), '\s+')) AS term
      |  FROM documents),
      |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
      |tf AS (SELECT lang, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
      |scored AS (
      |  SELECT lang, tf.term, tf.tf, df.df,
      |    ROUND(tf.tf * LN((1 + n_docs)::DOUBLE / (1 + df.df)), 4) AS score
      |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN nd),
      |ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
      |    ORDER BY score DESC, term) AS rank
      |  FROM scored)
      |SELECT lang, term, tf, df, score, rank FROM ranked
      |WHERE rank <= 5 ORDER BY lang, rank""".stripMargin

  /** q37 — PII redaction: the scrub pass a training pipeline runs
    * before text leaves the ingest boundary. Emails and phone-shaped
    * numbers are regexp-replaced with typed placeholders and COUNTED
    * per doc; the output carries md5(redacted text), so the oracle
    * diff proves the redacted BYTES identical without hauling full
    * text through the harness. The fixture corpus contains no PII, so
    * the query injects a deterministic synthetic email (even doc_ids)
    * and phone (doc_id % 3 == 0) first — same precedent as q30's
    * injected duplicates: the operator needs real work to prove
    * itself. Both patterns use only regex syntax with identical
    * semantics in Java regex (Spark) and RE2 (DuckDB): character
    * classes, bounded/unbounded repetition — no backreferences or
    * lookaround. Per-row narrow codegen'd exprs; no shuffle but the
    * output ORDER BY. */
  val q37PiiScrub: Q = (spark, dir) => {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
    Tables.load(spark, dir, "documents")
      .withColumn("t", concat(col("text"),
        when(col("doc_id") % 2 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 3 === 0,
          concat(lit(" call 555-867-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit(""))))
      .select(col("doc_id"),
        size(regexp_extract_all(col("t"), lit(email), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("t"), lit(phone), lit(0))).as("n_phones"),
        md5(regexp_replace(regexp_replace(col("t"), email, "<EMAIL>"),
          phone, "<PHONE>")).as("clean_fp"))
      .orderBy("doc_id")
  }

  val q37Oracle: String =
    """WITH aug AS (
      |  SELECT doc_id,
      |    text || CASE WHEN doc_id % 2 = 0
      |                 THEN ' contact user' || doc_id::VARCHAR || '@example.com'
      |                 ELSE '' END
      |         || CASE WHEN doc_id % 3 = 0
      |                 THEN ' call 555-867-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
      |                 ELSE '' END AS t
      |  FROM documents)
      |SELECT doc_id,
      |  LEN(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
      |  LEN(regexp_extract_all(t, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS n_phones,
      |  md5(regexp_replace(
      |    regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS clean_fp
      |FROM aug ORDER BY doc_id""".stripMargin

  /** q38 — repetition-based quality filter: the "degenerate generation /
    * boilerplate" detector — ratio of REPEATED word trigrams to total
    * trigram slots, 1 - distinct/total. Reads the distinct count
    * straight off the memoized dedup shingle index
    * ([[DedupOps.stagedShingleArrays]] — a production pipeline
    * amortizes one corpus index across dedup AND quality passes; this
    * query is why the index stages doc-level sizes), and the total is
    * plain token arithmetic (a doc with T tokens has T-2 trigram
    * slots). The repetitive flag compares in exact integer arithmetic
    * ((total-distinct)*50 > total ⇔ ratio > 0.02) so no float boundary
    * can flip it between engines. Docs with no complete trigram (<3
    * tokens) have no defined ratio and are excluded — the same
    * contract the dedup ops pin in DegenerateDocsSpec. */
  val q38Repetition: Q = (spark, dir) => {
    val docs = Tables.load(spark, dir, "documents")
    val distincts = DedupOps.stagedShingleArrays(spark, dir)
      .select(col("doc_id"), col("n").as("n_distinct"))
    docs.select(col("doc_id"),
        (size(tokens(col("text"))) - 2).as("n_trigrams"))
      .join(distincts, "doc_id")
      .select(col("doc_id"), col("n_trigrams"), col("n_distinct"),
        round(lit(1) - col("n_distinct") / col("n_trigrams"), 4).as("rep_ratio"),
        ((col("n_trigrams") - col("n_distinct")) * 50 > col("n_trigrams"))
          .as("repetitive"))
      .orderBy("doc_id")
  }

  val q38Oracle: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split_regex(LOWER(TRIM(text)), '\s+') AS t
      |  FROM documents),
      |tri AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(t[i+1]||' '||t[i+2]||' '||t[i+3]), 1, 15))::BIGINT AS shingle
      |  FROM tok, UNNEST(range(GREATEST(LEN(t)-2, 0))) g(i)),
      |agg AS (
      |  SELECT doc_id, CAST(COUNT(*) AS INT) AS n_trigrams,
      |    CAST(COUNT(DISTINCT shingle) AS INT) AS n_distinct
      |  FROM tri GROUP BY 1)
      |SELECT doc_id, n_trigrams, n_distinct,
      |  ROUND(1 - n_distinct / n_trigrams, 4) AS rep_ratio,
      |  (n_trigrams - n_distinct) * 50 > n_trigrams AS repetitive
      |FROM agg ORDER BY doc_id""".stripMargin

  /** q39 — SEQUENCE PACKING inventory: how documents fill fixed
    * context windows (512 BPE tokens here) — the step that turns a
    * filtered corpus into training sequences. Packing is streaming
    * greedy-with-overflow: docs are laid down in doc_id order and a
    * doc belongs to the window its first token lands in, bin =
    * floor(preceding_tokens / B) — a pure cumulative-sum function of
    * the order, so any engine (and any re-run) packs identically;
    * "close the bin early if the next doc won't fit" semantics would
    * need a sequential scan and give no better fill at corpus scale.
    * Packing is PER SOURCE: one shuffle on the stratum key, every
    * stratum packs in parallel — a single global order would serialize
    * the window at 100 TB (and cross-source windows are undesirable
    * anyway: provenance stays window-pure). Output is the per-window
    * inventory (docs, tokens, fill factor) a pipeline audits before
    * writing sequences. */
  val q39SequencePacking: Q = (spark, dir) => {
    import org.apache.spark.sql.expressions.Window
    val bpe = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \\t\\n]+"
    val budget = 512
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(spark, dir, "documents")
      .select(col("source"), col("doc_id"),
        // null text counts ZERO tokens (coalesce), not null: a null
        // tok would poison the running sum into a NULL-bin group —
        // null docs still occupy a (free) slot in their window
        coalesce(size(regexp_extract_all(col("text"), lit(bpe), lit(0))),
          lit(0)).as("tok"))
      .withColumn("bin",
        floor((sum(col("tok")).over(w) - col("tok")) / budget))
      .groupBy("source", "bin")
      .agg(count(lit(1)).as("n_docs"), sum("tok").as("n_tokens"),
        round(sum("tok") / budget, 4).as("fill"))
      .orderBy("source", "bin")
  }

  val q39Oracle: String =
    """WITH tok AS (
      |  SELECT doc_id, source,
      |    COALESCE(LEN(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n]+')), 0) AS tok
      |  FROM documents),
      |packed AS (
      |  SELECT source, doc_id, tok,
      |    CAST((SUM(tok) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS UNBOUNDED PRECEDING) - tok) // 512 AS BIGINT) AS bin
      |  FROM tok)
      |SELECT source, bin, COUNT(*) AS n_docs,
      |  CAST(SUM(tok) AS BIGINT) AS n_tokens,
      |  ROUND(SUM(tok) / 512, 4) AS fill
      |FROM packed GROUP BY 1, 2 ORDER BY source, bin""".stripMargin

  /** q48 — VOCAB INDUCTION, merge step 1 of BPE-style tokenizer
    * training: corpus-wide adjacent-token-pair frequencies, top 20.
    * (A full BPE trainer iterates merge → re-tokenize; each round is
    * exactly this query over the previous round's tokens, so the
    * per-round shape is what must scale.) Explode + lead window for
    * the pair STRINGS (unlike the dedup index, induction needs the
    * text back, not a hash), then ONE hash agg with map-side partial
    * combine — the shuffle carries (pair, count, doc-distinct partial)
    * states, not token rows. Ranking on exact integer counts with a
    * pair-string tie-break — nothing float anywhere. */
  val q48VocabInduction: Q = (spark, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("pos")
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
      .withColumn("t1", lead("tok", 1).over(w))
      .filter(col("t1").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("tok"), col("t1")).as("pair"))
      .groupBy("pair")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("pair"))
      .limit(20)
  }

  val q48Oracle: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split_regex(LOWER(TRIM(text)), '\s+') AS t
      |  FROM documents),
      |pairs AS (
      |  SELECT doc_id, t[i+1] || ' ' || t[i+2] AS pair
      |  FROM tok, UNNEST(range(GREATEST(LEN(t)-1, 0))) g(i))
      |SELECT pair, COUNT(*) AS n_occurrences,
      |  COUNT(DISTINCT doc_id) AS n_docs
      |FROM pairs GROUP BY pair
      |ORDER BY n_occurrences DESC, pair LIMIT 20""".stripMargin

  /** Rounds the q76 BPE trainer runs — a compile-time constant so the
    * generated DuckDB oracle unrolls the identical depth. */
  private[graft] val BpeRounds = 10

  /** q76 — the FULL BPE trainer loop q48 is one step of: K rounds of
    * merge → re-tokenize → merge. Each round counts adjacent-token
    * pairs (q48's shape: explode + lead window, one partial-combining
    * hash agg), picks the argmax pair with an exact (count desc, x, y)
    * tie-break — ONE scalar row to the driver per round, like q34's
    * changed-count — then rewrites every occurrence in the corpus:
    * leftmost-nonoverlapping BPE semantics, implemented as run-parity
    * over consecutive match positions (a self-pair like "a a" in
    * "a a a a" matches at 0,1,2; merges land at even offsets 0 and 2 —
    * exactly greedy left-to-right). The rewritten token relation is
    * staged to parquet per round (q34's pattern: flat lineage, real
    * size stats for the next round's planning). Emits the merge table
    * (merge_round, pair, n_occurrences) — the artifact a tokenizer
    * ships.
    *
    * Scale: each round is 3 doc_id-partitioned windows + one agg over
    * the token relation — linear, shuffle-bounded by token count, and
    * the rounds are inherently sequential (the round-k counts depend
    * on round-k-1's merge, same argument as q34's propagation rounds).
    * A production trainer caps per-doc tokens and trains on a corpus
    * sample; the loop shape is identical. The oracle replays ALL K
    * rounds in DuckDB as K unrolled CTE stages — full hash equality,
    * not a fixture pin. */
  /** The trained BPE artifact — (merge table, final tokenization) —
    * STAGED and MEMOIZED per corpus fingerprint like the dedup
    * and ANN indexes, because a tokenizer is trained once and then
    * APPLIED corpus-wide: the 10-round trainer loop runs once and both
    * the merge-table query (q76) and the encode query (q79) serve from
    * the staged result. */
  private val bpeIndex =
    new StagedIndex[(String, String)]("bpe", mt => Seq(mt._1, mt._2))

  private def stagedBpe(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    // the 10-round trainer runs outside any lock (StagedIndex), so
    // concurrent q76/q79 callers at worst both train and one result is
    // orphaned — they never block valid-entry readers for the training
    val (merges, toks) = bpeIndex.get(StagedCache.source(dir, "documents"))(
      trainBpe(spark, dir))
    (StagedCache.readStaged(spark, merges), StagedCache.readStaged(spark, toks))
  }

  /** Runs the trainer loop and stages (merges dir, final-tokens dir). */
  private def trainBpe(spark: SparkSession, dir: String): (String, String) = {
    import org.apache.spark.sql.expressions.Window
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    // Per-round materialization is persist(), NOT a parquet round-trip
    // (the staging pattern q34 uses): the cached InMemoryRelation cuts
    // plan lineage the same way AND keeps the rewrite's (doc_id)
    // partitioning + pos ordering, so the NEXT round's pair-count
    // window reads the cached partitions with no exchange — one
    // corpus shuffle per round total, and no write+reread I/O. The
    // persist is LAZY: each round's pair-count agg is the action that
    // materializes the previous rewrite (no dedicated count() job),
    // which is why the prior round's cache is released one round late
    // — the rewrite that produced the current cache read from it.
    // The "cache loses size stats → worse JOIN strategies" dead end
    // (see stagedShingleArrays) doesn't apply: nothing downstream of
    // this relation ever joins — it only feeds same-key windows and
    // one hash aggregate. Measured at sf0.1: 12.7 s (3-shuffle
    // parquet-staged rounds) → 9.5 s (persist + eager count) → 6.3 s
    // (this shape: one shuffle, one extra action, zero staging I/O).
    var cur = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "tok"))).persist()
    var prev: DataFrame = null
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    var k = 1
    var exhausted = false
    while (k <= BpeRounds && !exhausted) {
      val top = cur
        .withColumn("next_tok", lead("tok", 1).over(byPos))
        .filter(col("next_tok").isNotNull)
        .groupBy("tok", "next_tok").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok"), col("next_tok"))
        .limit(1).collect()
      // `cur` is materialized now; the relation that produced it can go
      if (prev != null) { prev.unpersist(); prev = null }
      if (top.isEmpty) exhausted = true
      else {
        val (x, y, n) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((k, s"$x $y", n))
        // Leftmost-nonoverlapping merge: flag matches, merge at even
        // offsets within each run of consecutive matches, drop each
        // merged position's absorbed right neighbor, re-number
        // positions densely. Run parity comes from a RUNNING MAX of
        // run-start positions over the SAME (doc_id, pos) sort as
        // every other window here — the whole rewrite is ONE shuffle
        // (the earlier gaps-and-islands form also partitioned by
        // (doc_id, hit) and (doc_id, grp): two extra corpus-wide
        // shuffles per round). At sf0.1 the loop's ~1.2 s/round is
        // job-overhead-bound (two scans of a small staged relation +
        // one write), so the rewrite didn't move wall-clock there —
        // the win is at real token counts, where each removed shuffle
        // is a full corpus cycle. Overlapping matches only exist for
        // self-pairs (tok_i = x = y = tok_i+1 forces x = y), but the
        // parity form is exact for both and matches the oracle.
        val wRun = byPos.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)
        val next = cur
          .withColumn("next_tok", lead("tok", 1).over(byPos))
          .withColumn("hit", coalesce(col("tok") === lit(x) &&
            col("next_tok") === lit(y), lit(false)))
          .withColumn("run_start", col("hit") &&
            !coalesce(lag("hit", 1).over(byPos), lit(false)))
          .withColumn("last_start",
            max(when(col("run_start"), col("pos"))).over(wRun))
          .withColumn("do_merge", col("hit") &&
            (col("pos") - col("last_start")) % 2 === 0)
          .withColumn("prev_merge", lag("do_merge", 1).over(byPos))
          .filter(!coalesce(col("prev_merge"), lit(false)))
          .select(col("doc_id"),
            (row_number().over(byPos) - 1).as("pos"),
            when(col("do_merge"),
              concat_ws(" ", col("tok"), col("next_tok")))
              .otherwise(col("tok")).as("tok"))
        prev = cur
        cur = next.persist()
        k += 1
      }
    }
    val base = graft.Scratch.dir("graft-bpe")
    val mDir = base.resolve("merges").toString
    val tDir = base.resolve("toks").toString
    cur.write.parquet(tDir) // final tokenization — q79's serving relation
    cur.unpersist()
    if (prev != null) prev.unpersist()
    import spark.implicits._
    merges.toSeq.toDF("merge_round", "pair", "n_occurrences")
      .write.parquet(mDir)
    (mDir, tDir)
  }

  val q76BpeTrainer: Q = (spark, dir) =>
    stagedBpe(spark, dir)._1.orderBy("merge_round")

  /** q79 — BPE ENCODE: the apply half of the tokenizer the q76 loop
    * trains — per-doc token statistics of the corpus under the learned
    * merge table (the final tokenization IS the training corpus
    * encoded, the artifact a packing/budgeting stage consumes). Served
    * off the staged trainer output: ONE partial-combining hash agg
    * over the (doc_id, pos, tok) relation, no recompute — the
    * build-once-serve-many stance of every other index here. Merged
    * tokens are identified by the embedded pair separator; counts are
    * integers, so the whole path is hash-verified against the oracle's
    * replay of the identical 10-round chain. */
  val q79BpeEncode: Q = (spark, dir) =>
    stagedBpe(spark, dir)._2
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("tok").contains(" "), 1L).otherwise(0L)).as("n_merged"))
      .orderBy("doc_id")

  /** q138 — BPE DECODE round-trip ([EXT], round 14): the third leg of
    * the tokenizer lifecycle (train q76 → encode q79 → DECODE), and
    * the losslessness proof a tokenizer owner actually runs before
    * shipping: decode(encode(doc)) must byte-equal the canonical
    * normalized document for EVERY doc. Decode is structural here —
    * a merged BPE token carries its constituent tokens joined by the
    * single-space separator, so per doc the decoded text is the
    * pos-ordered token stream re-joined on " " (the same bounded
    * per-doc collect_list reconstruction q133 documents: grouped
    * state ≤ the doc's own input row). Output is (doc_id, md5 of the
    * decoded text, its length); the oracle computes both DIRECTLY
    * from `documents` with no tokenizer at all — which is the point:
    * a broken merge rewrite, a dropped position, or a lossy encode
    * in the 10-round chain makes the hashes diverge, yet the oracle
    * stays O(corpus scan) where q79's replays the full chain. Served
    * off the staged trainer artifact (build-once-serve-many); one
    * hash agg, no extra training work per call. */
  val q138BpeRoundtrip: Q = (spark, dir) =>
    stagedBpe(spark, dir)._2
      .groupBy("doc_id")
      .agg(
        md5(array_join(
          transform(
            array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok")),
          " ")).as("roundtrip_md5"),
        (sum(length(col("tok"))) + count(lit(1)) - 1L)
          .cast("long").as("n_chars_norm"))
      .orderBy("doc_id")

  /** One unrolled oracle round: argmax pair off toks{k-1}, run-parity
    * merge flags, rewritten toks{k}. Same windows, same tie-break.
    * History of the staging form: round 10's PLAIN CTEs re-opened the
    * base parquet per inlined expansion ("too many open files");
    * round 11's TEMP-TABLE script bounded peak memory but tripped the
    * driver checker's multi-statement handling in round 12 (empty
    * CORRECTNESS file). Round 13 landed on AS MATERIALIZED inside ONE
    * statement: every stage computes exactly once (no re-inlining),
    * and at sf0.01 the whole 10-round chain is ~31 relations of
    * ≤27k rows — replayed vs the script form under a 512 MB cap,
    * identical output. Round 14 cuts the HELD-BUFFER count by a
    * third: `obpe_f$k` has exactly ONE consumer (toks$k), so it stays
    * a PLAIN CTE — DuckDB fuses the flag windows into toks$k's
    * pipeline, computing it once either way, but its rows are never
    * pinned for the statement's remaining lifetime the way every
    * MATERIALIZED stage's are (all of which stay live until the
    * statement ends — the accretion that OOM'd the starved round-13
    * driver host on this, the longest chain in the repo). toks$p
    * (two consumers) and mrg$k (two scalar-subquery consumers, 1 row)
    * stay MATERIALIZED. Replayed vs the round-13 form at sf0.01:
    * identical output; 256 MB capwalk green. The window algebra and
    * hash contract are unchanged. */
  private def bpeRoundSql(k: Int): String = {
    val p = k - 1
    s"""obpe_mrg$k AS MATERIALIZED (
       |  SELECT tok AS x, next_tok AS y, COUNT(*) AS n
       |  FROM (SELECT doc_id, pos, tok,
       |          LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS next_tok
       |        FROM obpe_toks$p)
       |  WHERE next_tok IS NOT NULL
       |  GROUP BY 1, 2
       |  ORDER BY n DESC, x, y LIMIT 1),
       |obpe_f$k AS (
       |  SELECT doc_id, pos, tok, hit AND
       |      (pos - MIN(pos) OVER (PARTITION BY doc_id, grp)) % 2 = 0 AS do_merge
       |  FROM (SELECT doc_id, pos, tok, hit,
       |          CASE WHEN hit THEN pos - ROW_NUMBER()
       |            OVER (PARTITION BY doc_id, hit ORDER BY pos) END AS grp
       |        FROM (SELECT doc_id, pos, tok,
       |                COALESCE(tok = (SELECT x FROM obpe_mrg$k) AND
       |                  LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos)
       |                    = (SELECT y FROM obpe_mrg$k), FALSE) AS hit
       |              FROM obpe_toks$p))),
       |obpe_toks$k AS MATERIALIZED (
       |  SELECT doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS pos,
       |    CASE WHEN do_merge THEN tok || ' ' || next_tok ELSE tok END AS tok
       |  FROM (SELECT doc_id, pos, tok, do_merge,
       |          LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS next_tok,
       |          LAG(do_merge) OVER (PARTITION BY doc_id ORDER BY pos) AS prev_merge
       |        FROM obpe_f$k)
       |  WHERE NOT COALESCE(prev_merge, FALSE)),
       |""".stripMargin
  }

  /** Shared oracle prefix: toks0 + the full unrolled round chain as a
    * single-statement MATERIALIZED CTE chain (see [[bpeRoundSql]]).
    * Ends with a trailing comma so callers append their final CTE or
    * SELECT. */
  private def bpeChainSql: String = {
    val rounds = (1 to BpeRounds).map(bpeRoundSql).mkString
    s"""WITH obpe_toks0 AS MATERIALIZED (
       |  SELECT doc_id, i AS pos, t[i+1] AS tok
       |  FROM (SELECT doc_id,
       |          string_split_regex(LOWER(TRIM(text)), '\\s+') AS t
       |        FROM documents),
       |       UNNEST(range(LEN(t))) g(i)),
       |$rounds""".stripMargin
  }

  val q76Oracle: String = {
    val sel = (1 to BpeRounds).map(k =>
      s"SELECT $k AS merge_round, x || ' ' || y AS pair, n AS n_occurrences FROM obpe_mrg$k")
      .mkString("\n", "\nUNION ALL\n", "")
    s"""${bpeChainSql}obpe_merges AS MATERIALIZED ($sel)
       |SELECT * FROM obpe_merges ORDER BY merge_round""".stripMargin
  }

  /** Replays the identical chain, then aggregates the FINAL
    * tokenization per doc — merged tokens carry the pair separator. */
  val q79Oracle: String = {
    s"""${bpeChainSql}obpe_enc AS MATERIALIZED (
       |  SELECT doc_id, COUNT(*) AS n_tokens,
       |    CAST(SUM(CASE WHEN tok LIKE '% %' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_merged
       |  FROM obpe_toks$BpeRounds GROUP BY doc_id)
       |SELECT * FROM obpe_enc ORDER BY doc_id""".stripMargin
  }

  /** q154 — TOKENIZER FERTILITY by language ([EXT], round 17): the
    * fourth leg of the tokenizer lifecycle (train q76 → encode q79 →
    * decode q138 → MEASURE), and the metric that decides whether a
    * tokenizer SHIPS: fertility (BPE tokens per whitespace word) and
    * compression (normalized chars per token), broken out BY LANGUAGE
    * — the standard fairness/efficiency audit, because a tokenizer
    * trained on one language's distribution fragments the others
    * (high fertility = more sequence length = more compute per
    * sentence for those languages). Served off the SAME staged
    * trainer artifact as q79/q138 (build-once-serve-many; no training
    * work per call).
    *
    * Exactness: per-doc token counts and char totals are INTEGERS;
    * the per-language rollup is integer sums with ONE final rounded
    * double division per metric — no float fold order anywhere, so
    * the whole measure is hash-verifiable even though the oracle must
    * replay the full 10-round BPE chain to agree on what a token is.
    * Scale shape: one hash agg over the token stream (map-side
    * combined), one corpus-keyed equi-join on doc_id against the
    * 3-column documents projection, one tiny per-lang agg. */
  val q154TokenizerFertility: Q = (spark, dir) => {
    val perDoc = stagedBpe(spark, dir)._2
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
        (sum(length(col("tok"))) + count(lit(1)) - 1L)
          .cast("long").as("n_chars"))
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast("long").as("n_words"))
    docs.join(perDoc, "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("n_words")).as("n_words"),
        round(sum(col("n_tok")) / sum(col("n_words")), 4).as("fertility"),
        round(sum(col("n_chars")) / sum(col("n_tok")), 4)
          .as("chars_per_token"))
      .orderBy("lang")
  }

  val q154Oracle: String = {
    s"""${bpeChainSql}obpe_pd AS MATERIALIZED (
       |  SELECT doc_id, COUNT(*) AS n_tok,
       |    CAST(SUM(LEN(tok)) + COUNT(*) - 1 AS BIGINT) AS n_chars
       |  FROM obpe_toks$BpeRounds GROUP BY doc_id),
       |obpe_docs AS (
       |  SELECT doc_id, lang,
       |    CAST(LEN(string_split_regex(TRIM(LOWER(text)), '\\s+')) AS BIGINT)
       |      AS n_words
       |  FROM documents)
       |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(p.n_tok) AS BIGINT) AS n_tokens,
       |  CAST(SUM(d.n_words) AS BIGINT) AS n_words,
       |  ROUND(SUM(p.n_tok) / SUM(d.n_words), 4) AS fertility,
       |  ROUND(SUM(p.n_chars) / SUM(p.n_tok), 4) AS chars_per_token
       |FROM obpe_docs d JOIN obpe_pd p USING (doc_id)
       |GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** The q138 oracle deliberately knows NOTHING about BPE: if the
    * engine's decode(encode(·)) is lossless, its per-doc output equals
    * the canonical whitespace-normalized text — computable in one
    * corpus scan. (Spark's `trim` and DuckDB's `TRIM` both strip
    * ASCII spaces; the `\s+` re-join collapses interior runs the same
    * way `tokens()` splits them.) */
  val q138Oracle: String =
    """SELECT doc_id,
      |  md5(regexp_replace(LOWER(TRIM(text)), '\s+', ' ', 'g')) AS roundtrip_md5,
      |  LEN(regexp_replace(LOWER(TRIM(text)), '\s+', ' ', 'g')) AS n_chars_norm
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q49 — FEATURE HASHING (the hashing trick): every doc mapped to a
    * 16-dimension signed-count vector with zero vocabulary state —
    * bucket = 60-bit token hash mod 16, sign = the next hash bit, the
    * classic collision-tolerant featurization for dedup prefilters and
    * cheap classifiers when a learned embedding is too expensive to
    * run corpus-wide. All INTEGER arithmetic (±1 sums), so unlike a
    * float embedding the output is exactly reproducible across
    * engines, partitionings and retries — hash-verified end to end.
    * Long-form sparse output (doc_id, dim, weight): explode → narrow
    * hash math → ONE partial-combining hash agg; zero-weight dims are
    * dropped (sparse), matching the SQL oracle's HAVING. */
  val q49FeatureHashing: Q = (spark, dir) =>
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"),
        conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long").as("h"))
      .select(col("doc_id"), (col("h") % 16).as("dim"),
        // `div`, not `/`: Spark's / on longs is double division
        expr("((h div 16) % 2) * 2 - 1").cast("long").as("sign"))
      .groupBy("doc_id", "dim")
      .agg(sum(col("sign")).as("weight"))
      .filter(col("weight") =!= 0)
      .orderBy("doc_id", "dim")

  val q49Oracle: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
      |  FROM (SELECT doc_id,
      |          UNNEST(string_split_regex(LOWER(TRIM(text)), '\s+')) AS tok
      |        FROM documents))
      |SELECT doc_id, h % 16 AS dim,
      |  CAST(SUM(((h // 16) % 2) * 2 - 1) AS BIGINT) AS weight
      |FROM toks GROUP BY doc_id, h % 16
      |HAVING SUM(((h // 16) % 2) * 2 - 1) <> 0
      |ORDER BY doc_id, dim""".stripMargin

  /** Fixture weights for the q147 learned quality scorer — 16 signed
    * integers, one per q49 feature-hash bucket. A production pipeline
    * trains these (logistic regression over labeled quality data, the
    * CCNet/DataComp linear-scorer step); the ENGINE's job — hashing,
    * dot product, sigmoid, band — is identical for any weight vector,
    * so a deterministic fixture keeps the whole operator
    * hash-verifiable. INTEGER weights on integer features make the
    * score exactly reproducible across engines and partitionings. */
  private[graft] val ModelWeights: Seq[Int] =
    Seq(-6, 1, 8, -4, 3, -9, -2, 5, -7, 0, 7, -5, 2, 9, -3, 4)

  /** The q147 fixture keep-threshold on the integer score (≈ the 13th
    * percentile of the sf0.01 corpus; a deployment tunes per corpus). */
  private[graft] val ModelScoreBar = -90L

  /** Per-document integer model score as ONE row-local token fold —
    * the dot product distributes over the per-token sum
    * (Σ_d feat_d·w_d = Σ_tok sign(tok)·w[dim(tok)]), so no 16-row
    * intermediate, no groupBy, no join. Used by the q137 funnel,
    * whose one-labeled-projection shape can't host an explode; the
    * STANDALONE q147 uses the codegen'd explode route instead —
    * Spark's higher-order ArrayTransform/ArrayAggregate lambdas
    * evaluate interpreted, and at the sf1 rehearsal this fold booked
    * 12.7 s standalone over 50k docs where the explode form books
    * 3.1 s (the PlanSpec-scaladoc lesson: interpreted lambdas severed
    * q31/q32's hot paths in round 1 too). Inside q137 the fold rides
    * a projection that is a small fraction of the funnel's cost
    * (sf1 serve 3.4 s on a 2.5× corpus) and buys keeping the funnel's
    * single-pass shape. EventTextSpec pins fold == explode == the
    * composed q49-features-then-dot route. Arithmetic is q49's
    * exactly: 60-bit md5 token hash h, dim = h % 16,
    * sign = ((h div 16) % 2)·2−1 — shiftright(h,4) == h div 16 for
    * the non-negative h. */
  private[graft] def modelScore(text: Column): Column = {
    val w = array(ModelWeights.map(v => lit(v.toLong)): _*)
    // coalesce: a NULL text has no feature vector → the empty dot
    // product is 0, same as q147's explode route and the oracle's
    // COALESCE (q137's fixture never exposes it — too_short fires
    // first — but the two formulations must agree on EVERY input)
    coalesce(
      aggregate(
        transform(tokens(text), tok => {
          val h = conv(substring(md5(tok), 1, 15), 16, 10).cast("long")
          ((shiftright(h, 4) % 2) * 2 - 1) *
            element_at(w, (h % 16).cast("int") + 1)
        }),
        lit(0L), (acc, x) => acc + x),
      lit(0L))
  }

  /** q147 — MODEL-SCORED QUALITY FILTER ([EXT], round 16): the learned
    * complement of the q22/q89 heuristic bars — production curation
    * (CCNet, DataComp, RefinedWeb) gates on a cheap linear scorer
    * after the rule-based bars. Composed from existing parts per the
    * round-15 verdict: q49's feature hashing → dot product against a
    * broadcast-able weight vector ([[ModelWeights]], a 16-int literal
    * — the degenerate broadcast) → sigmoid probability → keep band.
    *
    * 100 TB shape: q49's codegen'd explode kernel (one md5 per token,
    * whole-stage codegen end to end — measured 4× over the row-local
    * interpreted-lambda fold at sf1: 3.1 vs 12.7 s over 50k docs, see
    * [[modelScore]]) feeding ONE
    * partial-combining hash agg; tokens of a doc sit in the doc's own
    * scan partition, so the map-side partial collapses to one row per
    * doc before the exchange — the shuffle carries |docs| rows, not
    * |tokens|. The sigmoid is scalar math on the folded integer
    * (informational, rounded to 4 — ~8 orders of magnitude from any
    * rounding midpoint for integer scores, verified over the fixture
    * score range); the BAND cut compares exact integers, so the keep
    * decision can never float-flip. */
  val q147ModelQuality: Q = (spark, dir) => {
    val w = array(ModelWeights.map(v => lit(v.toLong)): _*)
    Tables.load(spark, dir, "documents")
      // explode_outer + null-tolerant sum: a NULL text has no feature
      // vector, and the empty dot product is 0 — the doc scores
      // sigmoid(0)=0.5 and passes the band, matching the oracle's
      // COALESCE(list_sum(...), 0) exactly (DegenerateDocsSpec pins
      // it; a bare explode would silently DROP the row instead)
      .select(col("doc_id"), explode_outer(tokens(col("text"))).as("tok"))
      .select(col("doc_id"),
        conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long").as("h"))
      .select(col("doc_id"),
        (((shiftright(col("h"), 4) % 2) * 2 - 1) *
          element_at(w, (col("h") % 16).cast("int") + 1)).as("sw"))
      .groupBy("doc_id")
      .agg(coalesce(sum(col("sw")), lit(0L)).as("score"))
      .select(col("doc_id"), col("score"),
        round(lit(1.0) / (lit(1.0) + exp(-col("score") / lit(50.0))), 4)
          .as("prob"),
        (col("score") >= lit(ModelScoreBar)).as("kept"))
      .orderBy("doc_id")
  }

  val q147Oracle: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(LOWER(TRIM(text)), '\s+') AS tk
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, COALESCE(list_sum(list_transform(tk, tok ->
      |    ((((('0x' || substr(md5(tok), 1, 15))::BIGINT // 16) % 2) * 2 - 1)
      |     * ([-6,1,8,-4,3,-9,-2,5,-7,0,7,-5,2,9,-3,4]::BIGINT[])
      |       [(('0x' || substr(md5(tok), 1, 15))::BIGINT % 16) + 1]))), 0)::BIGINT
      |    AS score
      |  FROM t)
      |SELECT doc_id, score,
      |  ROUND(1.0 / (1.0 + exp(-score / 50.0)), 4) AS prob,
      |  score >= -90 AS kept
      |FROM s ORDER BY doc_id""".stripMargin

  /** q89 — CURATION FUNNEL: the attribution report every corpus team
    * ships beside the curated set — each doc is charged to the FIRST
    * rule that drops it (too_short → lang_excluded → repetitive →
    * low_quality → kept), and the output is one row per stage with its
    * casualty count. Rules are the pipeline's own bars, composed: the
    * q22 length/stopword bars, q38's integer-exact repeated-trigram
    * test (distinct trigram count via the native `graft_shingles`
    * cardinality — row-local, no index join needed for a row-local
    * verdict), and a per-language allowlist; the English stopword bar
    * fires only on English docs (per-language quality lists are the
    * production shape — one list per lang slots into the same CASE).
    *
    * Shape at 100 TB: verdicts are ONE narrow codegen'd projection —
    * no joins, no window, nothing leaves the scan stage except 5
    * (verdict, count) partials into a tiny hash agg. Oracle replays
    * the same rules; the repetition rule's distinct count uses the
    * identical 60-bit md5 shingle hash (collisions and all), so the
    * attribution is bit-stable across engines. */
  val q89CurationFunnel: Q = (spark, dir) => {
    graft.functions.GraftFunctions.register(spark)
    val d = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        coalesce(size(tokens(col("text"))), lit(0)).as("n_tokens"),
        coalesce(size(expr("graft_shingles(text, 3)")), lit(0))
          .as("n_distinct"),
        coalesce(size(regexp_extract_all(lower(col("text")),
          lit(StopwordRegex), lit(0))), lit(0))
          .as("stop_hits"))
    d.select(qualityBarsThen(lit("kept")).as("verdict"))
      .groupBy("verdict").agg(count(lit(1)).as("n_docs"))
      .select(
        when(col("verdict") === "too_short", 1)
          .when(col("verdict") === "lang_excluded", 2)
          .when(col("verdict") === "repetitive", 3)
          .when(col("verdict") === "low_quality", 4)
          .otherwise(5).as("stage"),
        col("verdict"), col("n_docs"))
      .orderBy("stage")
  }

  val q89Oracle: String =
    """WITH base AS (
      |  SELECT doc_id, lang,
      |    COALESCE(LEN(string_split_regex(LOWER(TRIM(text)), '\s+')), 0)
      |      AS n_tokens,
      |    COALESCE(LEN(regexp_extract_all(LOWER(text),
      |      '\b(the|a|of|and|to|in|is)\b')), 0) AS stop_hits
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, COUNT(DISTINCT
      |      ('0x' || substr(md5(t[i+1]||' '||t[i+2]||' '||t[i+3]), 1, 15))::BIGINT)
      |    AS n_distinct
      |  FROM (SELECT doc_id, string_split_regex(LOWER(TRIM(text)), '\s+') AS t
      |        FROM documents),
      |       UNNEST(range(GREATEST(LEN(t)-2, 0))) g(i)
      |  GROUP BY doc_id),
      |v AS (
      |  SELECT CASE
      |      WHEN n_tokens < 30 THEN 'too_short'
      |      WHEN lang NOT IN ('en','de','es','fr') THEN 'lang_excluded'
      |      WHEN (n_tokens - 2 - COALESCE(n_distinct, 0)) * 50 > n_tokens - 2
      |        THEN 'repetitive'
      |      WHEN lang = 'en' AND ROUND(stop_hits / n_tokens, 4) < 0.05
      |        THEN 'low_quality'
      |      ELSE 'kept' END AS verdict
      |  FROM base LEFT JOIN sh USING (doc_id))
      |SELECT CASE verdict WHEN 'too_short' THEN 1 WHEN 'lang_excluded' THEN 2
      |    WHEN 'repetitive' THEN 3 WHEN 'low_quality' THEN 4 ELSE 5 END AS stage,
      |  verdict, COUNT(*) AS n_docs
      |FROM v GROUP BY verdict ORDER BY stage""".stripMargin

  /** q109 — SEMI-STRUCTURED METADATA analytics ([EXT]): every serious
    * training-data pipeline carries a per-document JSON metadata
    * sidecar; this exercises Spark's whole semi-structured surface
    * over one: `to_json(struct(...))` builds the nested sidecar
    * (`{"src":…,"stats":{"chars":…,"words":…}}`), `parse_json` lifts
    * it into a VARIANT (Spark 4's binary semi-structured type — parse
    * once, extract many), `try_variant_get` does TYPED path extraction
    * (string and long), and `get_json_object` covers the string-path
    * API on the same document. The oracle computes the aggregates
    * straight from the source columns, so any lossiness in the
    * build→parse→extract round-trip hash-fails. Token counting uses
    * the pinned q21 whitespace convention. */
  val q109JsonMetadata: Q = (spark, dir) => {
    val d = Tables.load(spark, dir, "documents")
    val meta = d.select(col("lang"),
      to_json(struct(col("source").as("src"),
        struct(col("n_chars").as("chars"),
          size(tokens(col("text"))).as("words")).as("stats"))).as("meta"))
    val v = parse_json(col("meta"))
    meta.select(col("lang"),
      try_variant_get(v, "$.src", "string").as("src"),
      try_variant_get(v, "$.stats.chars", "long").as("chars"),
      get_json_object(col("meta"), "$.stats.words").cast("long").as("words"))
      .groupBy("lang", "src")
      .agg(count(lit(1)).as("n_docs"),
        sum("chars").as("total_chars"),
        max("words").as("max_words"),
        round(avg("words"), 4).as("avg_words"))
      .orderBy("lang", "src")
  }

  val q109Oracle: String =
    """SELECT lang, source AS src, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  CAST(MAX(LEN(string_split_regex(TRIM(LOWER(text)), '\s+')))
      |    AS BIGINT) AS max_words,
      |  ROUND(AVG(LEN(string_split_regex(TRIM(LOWER(text)), '\s+'))), 4)
      |    AS avg_words
      |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q114 — RAG/CONTEXT CHUNKING ([EXT], round 11): sliding-window
    * chunking of every document into overlapping token windows
    * (W=64 tokens, stride S=48 — ~25% overlap, the standard
    * retrieval / pretraining chunk shape), emitting per chunk a
    * stable id, its
    * token offsets and an md5 content fingerprint (the chunk-level
    * dedup/caching key an embedding pipeline feeds from). Chunk
    * count per doc = 1 + max(0, ceil((n−W)/S)) — every token is
    * covered and the tail chunk is never empty. Shapes at scale: one
    * narrow projection computes the token array ONCE per doc, the
    * explode fans ~n/S chunk rows (bounded fan-out, no shuffle — a
    * per-doc map), and the fingerprint is codegen'd md5 over the
    * sliced window. Fully deterministic integer/hash arithmetic, so
    * the whole operator is DuckDB hash-verified. */
  val q114RagChunking: Q = (spark, dir) =>
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), col("t"), size(col("t")).as("n"))
      .select(col("doc_id"), col("t"),
        explode(expr(
          "sequence(0, int(greatest(0, ceil((n - 64) / 48.0))))"))
          .as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        (col("chunk_id") * 48).cast("long").as("start_tok"),
        expr("slice(t, chunk_id * 48 + 1, 64)").as("ctoks"))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        col("start_tok"),
        size(col("ctoks")).cast("long").as("n_tokens"),
        substring(md5(concat_ws(" ", col("ctoks"))), 1, 16).as("fp"))
      .orderBy("doc_id", "chunk_id")

  val q114Oracle: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(LOWER(TRIM(text)), '\s+') AS t
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, t,
      |    UNNEST(range(1 + GREATEST(0,
      |      CAST(CEIL((LEN(t) - 64) / 48.0) AS INT)))) AS chunk_id
      |  FROM toks)
      |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
      |  CAST(chunk_id * 48 AS BIGINT) AS start_tok,
      |  CAST(LEN(t[chunk_id*48 + 1 : chunk_id*48 + 64]) AS BIGINT)
      |    AS n_tokens,
      |  substr(md5(array_to_string(
      |    t[chunk_id*48 + 1 : chunk_id*48 + 64], ' ')), 1, 16) AS fp
      |FROM c ORDER BY doc_id, chunk_id""".stripMargin

  /** q116 — TOKEN-BUDGETED corpus mixing ([EXT], round 11): the other
    * half of data mixing beside q26's rate-based stratified sample —
    * a pretraining mixture is specified as "take N tokens from source
    * S" (budgets, not rates), and the selection must be deterministic
    * so re-runs and incremental consumers touch the same rows. Per
    * source: docs order by their salted 60-bit hash (a deterministic
    * shuffle), the running token total accumulates in a window, and a
    * doc is kept iff it STARTS under the budget (standard take-until-
    * budget; the boundary doc may overflow it, never undershoot).
    * Budgets here: src1 6000 / src2 3000 / src3 1500 / src4 750 /
    * src5 0 tokens — exercising full-keep, partial and zero strata.
    * Scale shape: one narrow projection (tokens counted, hash
    * computed), ONE shuffle on source for the cumulative window —
    * source cardinality is small, but the window is per-source
    * sequential; at extreme per-source row counts the same budget cut
    * is served by a two-pass quantile-on-hash prefilter (documented
    * here), the window form being exact and what the oracle replays.
    * Output: kept docs with their position and the running total —
    * hash-verified end to end. */
  val q116TokenBudgetMix: Q = (spark, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy("h", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tok"),
        conv(substring(md5(concat(lit("mix:"),
          col("doc_id").cast("string"))), 1, 15), 16, 10)
          .cast("long").as("h"))
      .withColumn("cum_tok", sum(col("n_tok")).over(w))
      .withColumn("budget",
        when(col("source") === "src1", 6000L)
          .when(col("source") === "src2", 3000L)
          .when(col("source") === "src3", 1500L)
          .when(col("source") === "src4", 750L)
          .otherwise(0L))
      .filter(col("cum_tok") - col("n_tok") < col("budget"))
      .select(col("doc_id"), col("source"), col("n_tok"),
        col("cum_tok"))
      .orderBy("source", "cum_tok")
  }

  val q116Oracle: String =
    """WITH d AS (
      |  SELECT doc_id, source,
      |    CAST(LEN(string_split_regex(LOWER(TRIM(text)), '\s+'))
      |      AS BIGINT) AS n_tok,
      |    ('0x' || substr(md5('mix:' || doc_id::VARCHAR), 1, 15))::BIGINT
      |      AS h
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, source, n_tok,
      |    CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok,
      |    CASE source WHEN 'src1' THEN 6000 WHEN 'src2' THEN 3000
      |      WHEN 'src3' THEN 1500 WHEN 'src4' THEN 750 ELSE 0 END
      |      AS budget
      |  FROM d)
      |SELECT doc_id, source, n_tok, cum_tok
      |FROM c WHERE cum_tok - n_tok < budget
      |ORDER BY source, cum_tok""".stripMargin

  /** q119 — N-GRAM LANGUAGE-MODEL PERPLEXITY buckets ([EXT], round
    * 11): the CCNet-style fluency filter — train an add-k-smoothed
    * bigram LM on the corpus itself, score every document by its
    * average negative log-likelihood, and cut each language into
    * head/middle/tail thirds by percent_rank (the bucket a mixing
    * pipeline up-/down-weights). P(w2|w1) = (c(w1,w2)+0.5) /
    * (c(w1)+0.5·V) with V = distinct unigram types; all counts are
    * exact integers, so the only float math per bigram is two ln's on
    * identical IEEE inputs in both engines, summed then ROUNDed (the
    * q35 determinism argument), and ties in the percent_rank ordering
    * break on doc_id.
    *
    * Shape at 100 TB: doc-side bigrams collapse to per-doc TF rows
    * BEFORE the model join (repetitive text shrinks, worst case 1:1),
    * staged ONCE per corpus fingerprint so the corpus is
    * tokenized a single time however many relations consume it; the
    * LM relations (c2 keyed by bigram, c1 by unigram) are
    * vocabulary-sized, not corpus-sized — they come off two hash aggs
    * with map-side combine and broadcast when they fit, otherwise the
    * score join is a plain bigram-keyed shuffle. V is one memoized
    * scalar from the build (bounded driver traffic, the q34 license).
    * The only window is per-language percent_rank (the q27 shape); at
    * extreme single-language skew the same thirds come from sampled
    * cutpoints — the exact window form is what the oracle replays. */
  /** q119's per-doc bigram-TF relation, STAGED and MEMOIZED per
    * corpus fingerprint like the shingle/BPE indexes: the model
    * counts (c2, c1), and the score join all consume the same
    * relation, and Spark does not dedupe common subplans — unstaged,
    * the corpus would be tokenized four times per run. The vocabulary
    * size V (one scalar) is computed at build time and memoized with
    * the entry — a bounded one-row driver value, the q34 license. */
  private val lmIndex = new StagedIndex[(String, Long)]("lm-tf", tv => Seq(tv._1))

  private def stagedLmTf(spark: SparkSession, dir: String)
      : (DataFrame, Long) = {
    val (tfDir, vocab) = lmIndex.get(StagedCache.source(dir, "documents")) {
      val toksAll = Tables.load(spark, dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)
        .select(col("doc_id"), col("lang"), tokens(col("text")).as("t"))
      val t = graft.Scratch.dir("graft-lm").resolve("tf").toString
      toksAll.filter(size(col("t")) >= 2)
        .select(col("doc_id"), col("lang"),
          explode(expr(
            "transform(sequence(0, size(t) - 2), i -> struct(t[i] AS w1, t[i+1] AS w2))"))
            .as("b"))
        .select(col("doc_id"), col("lang"), col("b.w1"), col("b.w2"))
        .groupBy("doc_id", "lang", "w1", "w2")
        .agg(count(lit(1)).as("tf"))
        .write.parquet(t)
      val v = toksAll.select(explode(col("t")).as("w"))
        .agg(countDistinct(col("w"))).head.getLong(0)
      (t, v)
    }
    (StagedCache.readStaged(spark, tfDir), vocab)
  }

  val q119LmPerplexity: Q = (spark, dir) => {
    import org.apache.spark.sql.expressions.Window
    val (tf, v) = stagedLmTf(spark, dir)
    val c2 = tf.groupBy("w1", "w2").agg(sum("tf").as("c2"))
    val c1 = tf.groupBy("w1").agg(sum("tf").as("c1"))
    val sc = tf.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
      .groupBy("doc_id", "lang")
      .agg(
        sum("tf").cast("long").as("n_bigrams"),
        round(-sum(col("tf") *
          (log(col("c2") + lit(0.5)) - log(col("c1") + lit(0.5) * lit(v.toDouble))))
          / sum(col("tf")), 4).as("nll"))
    val w = Window.partitionBy("lang").orderBy("nll", "doc_id")
    sc.withColumn("pr", round(percent_rank().over(w), 4))
      .withColumn("bucket",
        when(col("pr") < 0.3333, "head")
          .when(col("pr") < 0.6667, "middle")
          .otherwise("tail"))
      .select("doc_id", "lang", "n_bigrams", "nll", "bucket")
      .orderBy("doc_id")
  }

  val q119Oracle: String =
    """WITH tok AS (
      |  SELECT doc_id, lang,
      |    string_split_regex(LOWER(TRIM(text)), '\s+') AS t
      |  FROM documents),
      |v AS (
      |  SELECT COUNT(DISTINCT w) AS v
      |  FROM (SELECT UNNEST(t) AS w FROM tok)),
      |bg AS (
      |  SELECT doc_id, lang, t[i+1] AS w1, t[i+2] AS w2
      |  FROM tok, UNNEST(range(LEN(t) - 1)) g(i)
      |  WHERE LEN(t) >= 2),
      |tf AS (
      |  SELECT doc_id, lang, w1, w2, COUNT(*) AS tf
      |  FROM bg GROUP BY ALL),
      |c2 AS (SELECT w1, w2, CAST(SUM(tf) AS BIGINT) AS c2 FROM tf GROUP BY 1, 2),
      |c1 AS (SELECT w1, CAST(SUM(tf) AS BIGINT) AS c1 FROM tf GROUP BY 1),
      |sc AS (
      |  SELECT f.doc_id, f.lang,
      |    CAST(SUM(f.tf) AS BIGINT) AS n_bigrams,
      |    ROUND(-SUM(f.tf * (LN(c2.c2 + 0.5) - LN(c1.c1 + 0.5 * v.v)))
      |      / SUM(f.tf), 4) AS nll
      |  FROM tf f
      |  JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
      |  GROUP BY 1, 2),
      |pr AS (
      |  SELECT *, ROUND(PERCENT_RANK() OVER (
      |    PARTITION BY lang ORDER BY nll, doc_id), 4) AS pr
      |  FROM sc)
      |SELECT doc_id, lang, n_bigrams, nll,
      |  CASE WHEN pr < 0.3333 THEN 'head'
      |       WHEN pr < 0.6667 THEN 'middle'
      |       ELSE 'tail' END AS bucket
      |FROM pr ORDER BY doc_id""".stripMargin

  /** q120 — TRAINING-SHARD MANIFEST ([EXT], round 11): the handoff
    * artifact between a curation pipeline and a trainer — every doc
    * is assigned to one of 16 shards by a salted 60-bit hash (stable
    * across re-runs, executor counts and engines — the q26 sampling
    * key), and the manifest records per shard what a loader needs to
    * plan an epoch: doc count, token total, the id range, and an
    * ADDITIVE content fingerprint (the sum of per-doc 40-bit hashes —
    * commutative, so it needs no collect_list/sort and stays O(1)
    * state per shard; 40 bits keeps the BIGINT sum overflow-free to
    * ~10^12 docs/shard). Scale shape: one narrow codegen'd projection,
    * ONE 16-group hash agg with map-side combine — the manifest is
    * O(shards) regardless of corpus size; no per-shard data movement
    * happens here (writers consume the assignment column). */
  val q120ShardManifest: Q = (spark, dir) =>
    Tables.load(spark, dir, "documents")
      .select(
        col("doc_id"),
        (conv(substring(md5(concat(lit("shard:"),
          col("doc_id").cast("string"))), 1, 15), 16, 10)
          .cast("long") % 16).as("shard"),
        size(tokens(col("text"))).cast("long").as("n_tok"),
        conv(substring(md5(concat(lit("fp:"),
          col("doc_id").cast("string"))), 1, 10), 16, 10)
          .cast("long").as("fph"))
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tok").cast("long").as("total_tokens"),
        min("doc_id").as("min_doc"),
        max("doc_id").as("max_doc"),
        sum("fph").cast("long").as("manifest_fp"))
      .orderBy("shard")

  val q120Oracle: String =
    """SELECT
      |  ('0x' || substr(md5('shard:' || doc_id::VARCHAR), 1, 15))::BIGINT % 16
      |    AS shard,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(CAST(LEN(string_split_regex(LOWER(TRIM(text)), '\s+'))
      |    AS BIGINT)) AS BIGINT) AS total_tokens,
      |  MIN(doc_id) AS min_doc,
      |  MAX(doc_id) AS max_doc,
      |  CAST(SUM(('0x' || substr(md5('fp:' || doc_id::VARCHAR), 1, 10))::BIGINT)
      |    AS BIGINT) AS manifest_fp
      |FROM documents
      |GROUP BY 1 ORDER BY shard""".stripMargin

  /** q121 — TEMPERATURE-BASED domain mixing ([EXT], round 11): the
    * multinomial re-weighting (alpha = 0.5) that up-samples small
    * domains for pretraining — weight_s ∝ count_s^alpha, a target
    * total of half the corpus is split by weight, and each domain's
    * acceptance ratio is capped at 1 (no upsampling-by-duplication
    * here; the cap is reported so a loader knows which domains need
    * repetition instead). The per-doc keep decision is the q26
    * deterministic-hash coin (u = 24-bit salted md5 / 2^24) compared
    * against the ROUNDED ratio, so both engines compare identical
    * doubles — sqrt is IEEE-exact on integer counts and the only
    * order-dependent sum (Σ count^alpha over domains) sits behind a
    * 6-decimal round with ~1e-16 spread. Scale shape: domain stats
    * are one tiny hash agg broadcast back onto a narrow per-row
    * filter — no corpus shuffle at all; the kept-count audit agg is
    * map-side-combined on ~|domains| keys. */
  val q121TemperatureMix: Q = (spark, dir) => {
    val docs = Tables.load(spark, dir, "documents")
    val w = docs.groupBy("source").agg(count(lit(1)).as("c"))
    val tot = w.agg(sum(sqrt(col("c"))).as("s"), sum("c").as("n"))
    val r = w.crossJoin(broadcast(tot))
      .withColumn("weight", round(sqrt(col("c")) / col("s"), 6))
      .withColumn("accept_ratio",
        round(least(lit(1.0),
          lit(0.5) * col("n") * sqrt(col("c")) / col("s") / col("c")), 6))
    val kept = docs
      .withColumn("u",
        conv(substring(md5(concat(lit("temp:"),
          col("doc_id").cast("string"))), 1, 6), 16, 10)
          .cast("long") / lit(16777216.0))
      .join(broadcast(r.select("source", "accept_ratio")), "source")
      .filter(col("u") < col("accept_ratio"))
      .groupBy("source").agg(count(lit(1)).as("n_kept"))
    r.join(broadcast(kept), Seq("source"), "left")
      .na.fill(0L, Seq("n_kept"))
      .select(col("source"), col("c").as("n_docs"), col("weight"),
        col("accept_ratio"), col("n_kept"))
      .orderBy("source")
  }

  val q121Oracle: String =
    """WITH w AS (SELECT source, COUNT(*) AS c FROM documents GROUP BY 1),
      |tot AS (SELECT SUM(SQRT(c)) AS s, SUM(c) AS n FROM w),
      |r AS (
      |  SELECT source, c, ROUND(SQRT(c) / t.s, 6) AS weight,
      |    ROUND(LEAST(1.0, 0.5 * t.n * SQRT(c) / t.s / c), 6) AS accept_ratio
      |  FROM w CROSS JOIN tot t),
      |kept AS (
      |  SELECT d.source, COUNT(*) AS n_kept
      |  FROM documents d JOIN r USING (source)
      |  WHERE (('0x' || substr(md5('temp:' || d.doc_id::VARCHAR), 1, 6))::BIGINT
      |    / 16777216.0) < r.accept_ratio
      |  GROUP BY 1)
      |SELECT r.source, r.c AS n_docs, r.weight, r.accept_ratio,
      |  COALESCE(k.n_kept, 0) AS n_kept
      |FROM r LEFT JOIN kept k USING (source)
      |ORDER BY r.source""".stripMargin

  /** q139 — PER-SOURCE CAP ([EXT], round 14): domain balancing, the
    * C4/Gopher-style curation step q116/q121 reweight toward but
    * nothing here enforces — keep at most N documents per source,
    * preferring quality, so one giant crawl domain cannot dominate
    * the training mix no matter how many documents it contributes.
    * Keeper preference is (rounded stop-ratio DESC, doc_id) — ranking
    * on the ROUNDED score (q35's discipline) so a last-ulp division
    * difference can never flip a rank between engines, doc_id making
    * the order total.
    *
    * Scale shape — the naive form is a skew-killer: ROW_NUMBER over
    * PARTITION BY source puts an entire domain's documents in ONE
    * window partition, and at 100 TB a hot domain holds billions of
    * rows that AQE cannot split (skew handling does not apply to
    * windows). So the cap runs as a SALTED TWO-STAGE TOP-N: stage 1
    * ranks within (source, doc_id mod 8) and keeps ≤ N per salt —
    * bounded partitions regardless of domain size — and stage 2
    * re-ranks the ≤ 8·N survivors per source, which is now a
    * constant-sized partition by construction. Any document in the
    * true per-source top-N is in its salt's top-N (the order is
    * total), so the two-stage cut is LOSSLESS — the spec pins
    * equality with the single-window form, and the DuckDB oracle IS
    * that naive single-window form. */
  val q139SourceCap: Q = (spark, dir) => {
    import org.apache.spark.sql.expressions.Window
    val n = 15
    val scored = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).as("n_tokens"),
        size(regexp_extract_all(lower(col("text")),
          lit(StopwordRegex), lit(0))).as("stop_hits"))
      .select(col("doc_id"), col("source"),
        round(col("stop_hits") / col("n_tokens"), 4).as("stop_ratio"))
    val order = Seq(col("stop_ratio").desc, col("doc_id"))
    val wSalt = Window
      .partitionBy(col("source"), pmod(col("doc_id"), lit(8)))
      .orderBy(order: _*)
    val wFull = Window.partitionBy("source").orderBy(order: _*)
    scored
      .withColumn("salt_rank", row_number().over(wSalt))
      .filter(col("salt_rank") <= n)
      .withColumn("cap_rank", row_number().over(wFull))
      .filter(col("cap_rank") <= n)
      .select("source", "doc_id", "cap_rank", "stop_ratio")
      .orderBy("source", "cap_rank")
  }

  /** The oracle is the naive single-window form the salted plan must
    * equal (losslessness is the claim under test). */
  val q139Oracle: String =
    """WITH q AS (
      |  SELECT doc_id, source,
      |    ROUND(LEN(regexp_extract_all(LOWER(text), '\b(the|a|of|and|to|in|is)\b')) /
      |          LEN(string_split_regex(TRIM(LOWER(text)), '\s+')), 4) AS stop_ratio
      |  FROM documents),
      |r AS (
      |  SELECT source, doc_id, stop_ratio,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY stop_ratio DESC, doc_id) AS cap_rank
      |  FROM q)
      |SELECT source, doc_id, cap_rank, stop_ratio
      |FROM r WHERE cap_rank <= 15
      |ORDER BY source, cap_rank""".stripMargin

  val queries: Map[String, Q] = Map(
    "q138_bpe_roundtrip" -> q138BpeRoundtrip,
    "q139_source_cap" -> q139SourceCap,
    "q119_lm_perplexity" -> q119LmPerplexity,
    "q120_shard_manifest" -> q120ShardManifest,
    "q121_temperature_mix" -> q121TemperatureMix,
    "q116_token_budget_mix" -> q116TokenBudgetMix,
    "q114_rag_chunking" -> q114RagChunking,
    "q109_json_metadata" -> q109JsonMetadata,
    "q76_bpe_trainer" -> q76BpeTrainer,
    "q79_bpe_encode" -> q79BpeEncode,
    "q154_tokenizer_fertility" -> q154TokenizerFertility,
    "q89_curation_funnel" -> q89CurationFunnel,
    "q48_vocab_induction" -> q48VocabInduction,
    "q49_feature_hashing" -> q49FeatureHashing,
    "q147_model_quality" -> q147ModelQuality,
    "q37_pii_scrub" -> q37PiiScrub,
    "q38_repetition" -> q38Repetition,
    "q39_sequence_packing" -> q39SequencePacking,
    "q35_tfidf_terms" -> q35TfidfTerms,
    "q26_deterministic_sample" -> q26DeterministicSample,
    "q27_quality_percentile" -> q27QualityPercentile,
    "q20_lang_histogram" -> q20LangHistogram,
    "q21_token_stats" -> q21TokenStats,
    "q22_quality_score" -> q22QualityScore,
    "q23_langid" -> q23LangId,
    "q24_fingerprint" -> q24Fingerprint,
    "q25_bpe_tokens" -> q25BpeTokens)

  val oracles: Map[String, String] = Map(
    "q138_bpe_roundtrip" -> q138Oracle,
    "q139_source_cap" -> q139Oracle,
    "q119_lm_perplexity" -> q119Oracle,
    "q120_shard_manifest" -> q120Oracle,
    "q121_temperature_mix" -> q121Oracle,
    "q116_token_budget_mix" -> q116Oracle,
    "q114_rag_chunking" -> q114Oracle,
    "q109_json_metadata" -> q109Oracle,
    "q76_bpe_trainer" -> q76Oracle,
    "q79_bpe_encode" -> q79Oracle,
    "q154_tokenizer_fertility" -> q154Oracle,
    "q89_curation_funnel" -> q89Oracle,
    "q48_vocab_induction" -> q48Oracle,
    "q49_feature_hashing" -> q49Oracle,
    "q147_model_quality" -> q147Oracle,
    "q37_pii_scrub" -> q37Oracle,
    "q38_repetition" -> q38Oracle,
    "q39_sequence_packing" -> q39Oracle,
    "q35_tfidf_terms" -> q35Oracle,
    "q26_deterministic_sample" -> q26Oracle,
    "q27_quality_percentile" -> q27Oracle,
    "q20_lang_histogram" -> q20Oracle,
    "q21_token_stats" -> q21Oracle,
    "q22_quality_score" -> q22Oracle,
    "q23_langid" -> q23Oracle,
    "q24_fingerprint" -> q24Oracle,
    "q25_bpe_tokens" -> q25Oracle)
}
