package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.TextOps.normText

/** [EXT] Deduplication operators over `documents` (SURVEY.md §2.10
  * E1/E2): exact (hash-groupBy), n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * 100 TB design notes (the whole point of these shapes):
  *   - NO all-pairs comparison anywhere. Candidate pairs come from
  *     equi-joins on derived keys (fingerprint, shared shingle, LSH
  *     band bucket, SimHash chunk) — each is a shuffle hash join that
  *     scales linearly in candidates, not quadratically in documents.
  *   - Every hash is a deterministic built-in (md5) so results are
  *     identical across executor counts AND reproducible by the
  *     DuckDB oracle — no JVM-private hash seeds in the data path.
  *   - Skew: a hyper-common shingle (boilerplate headers, license
  *     blocks) would fan the candidate join out quadratically on its
  *     bucket. q31 caps candidate-generating shingles at
  *     [[skewDfCap]] document frequency (spec-proven to leave results
  *     unchanged on a skewed fixture — see the q31 scaladoc for the
  *     recall argument); partition-level residual skew is AQE
  *     skew-join territory (enabled in Bench). A giant MinHash BAND
  *     bucket (q32) is different: identical band = near-identical
  *     docs, so its pairs are TRUE dups and the quadratic output is
  *     the answer itself — production bounds it by running exact
  *     dedup (q30) first so identical docs collapse before LSH, and
  *     q34 consumes the pairs as edges without re-enumerating them.
  */
object DedupOps {
  type Q = (SparkSession, String) => DataFrame

  /** Word 3-gram shingle set per document as (doc_id, n, sarr) — one
    * row per doc, `sarr` = array of 60-bit shingle hashes, `n` =
    * |sarr|. Docs with <3 tokens yield no rows (no complete trigram
    * exists). Carrying `n` beside the array removes two whole
    * groupBy-count + join passes downstream: Jaccard's |A|/|B| terms
    * and the prefix filter's length test read it straight off the row.
    *
    * ONE NARROW PROJECTION since round 5: the native
    * [[graft.functions.WordShingles]] Expression computes each doc's
    * distinct hash set inline in the scan stage — bit-identical
    * arithmetic to the earlier posexplode + lead()-window + collect_set
    * pipeline (DedupSpec asserts set equality against that formulation,
    * and every DuckDB oracle still replays it), but with no token-row
    * explosion, no doc_id window shuffle, and no hash aggregate. The
    * index build is now scan → project → write. (History of the shape:
    * round 1's transform(sequence, …) lambda was CodegenFallback — 20 s
    * interpreted at sf0.1 — and was replaced by the window pipeline;
    * the native Expression removes that pipeline's two wide stages
    * too. Measured at sf0.1 on a noisy machine: the
    * q31+q32+q34+q36+q38 subset drops ~17 s → ~14.5-16 s, with
    * q32/q34/q36 the clear winners and q31 flat — its cost is the
    * prefix relation + candidate join, not the raw shingling.) */
  /** `spread = false` (round 18) for INLINE consumers — q75's derived
    * batch lineage executes inside every job that references it (the
    * batch collect and the probe pass over corpus ∪ batch), so the
    * build-parallelism repartition below would add an exchange to
    * each; a ~300-doc batch shingles fine on its scan partitions.
    * Staged-write callers keep the spread. */
  private[graft] def shingleArrays(docs: DataFrame, gramN: Int = 3,
      spread: Boolean = true): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    (if (!spread) docs else docs
      // The fixture corpus is one parquet file = one input partition;
      // without a repartition the per-doc hashing runs single-threaded
      // (the old window pipeline got 32-way parallelism as a side
      // effect of its doc_id shuffle). This repartition feeds a STAGED
      // parquet write, so the round-1 "repartition starves AQE of scan
      // stats" regression doesn't apply — downstream joins plan off
      // the staged files' own stats.
      .repartition(docs.sparkSession.sparkContext.defaultParallelism))
      // 60-bit hashes, NOT strings: every downstream stage (freq
      // groupBy, prefix window, candidate equi-join, array_intersect
      // verify) runs on fixed-width longs — measured 9× on the verify
      // stage vs string arrays. Same arithmetic exists in DuckDB
      // (('0x'||substr(md5(s),1,15))::BIGINT), so oracle equality
      // stays bit-exact.
      .select(col("doc_id"), expr(s"graft_shingles(text, $gramN)").as("sarr"))
      .filter(size(col("sarr")) > 0)
      .select(col("doc_id"), size(col("sarr")).as("n"), col("sarr"))
  }

  /** Per-doc shingle SET as an array — (doc_id, n, sarr) — computed
    * ONCE and staged to temp parquet, then re-read: q31/q32 consume the
    * shingle relation 3-5× (frequency, prefix, candidate join,
    * verification). Round 1 re-derived the regex-split + explode
    * pipeline at every use — the dominant CPU of the dedup trio under
    * bench memory pressure. `.cache()` is NOT the fix (measured: cached
    * relations lose size stats → worse join strategies, 43s→70-101s);
    * a parquet round-trip keeps file-level stats so AQE and join
    * planning see real sizes. Same staged-pipeline shape a 100 TB run
    * would use (write the shingle index, then join against it).
    *
    * NOTE: do NOT repartition() the documents scan before shingling —
    * measured q31 37s → 106s at sf0.1 (same regression as round 1's
    * repartition-before-the-hash-stages). The narrow single-file scan
    * is not the bottleneck. */
  /** The staged index is MEMOIZED per (corpus path, gram size,
    * corpus fingerprint): q31, q32 and q34 all consume the same
    * 3-gram relation, q36 the 5-gram one, and a production pipeline
    * builds a corpus index once and queries it many times —
    * re-deriving it per query would triple the dominant cost for
    * identical bytes. The value is a LIST of staged dirs: a full
    * build is one dir, and [[refreshShingleIndex]] extends it with
    * delta dirs (shingles of appended docs only) instead of
    * rebuilding. A corpus mtime change that was NOT registered
    * incrementally invalidates and full-rebuilds; a purged/missing
    * staging dir rebuilds. */
  private val shingleIndex = new StagedIndex[StagedParts]("shingles", _.dirs)

  /** Row counts of staged gram relations (the 3-gram arrays, q122's
    * eval grams) — see prefixCandidates. */
  private val gramRows = new StagedIndex[Long]("gram-rows", _ => Nil)

  private[graft] def stagedShingleArrays(spark: SparkSession, dir: String,
      gramN: Int = 3): DataFrame = {
    val e = shingleIndex.get(StagedCache.source(dir, "documents"), gramN) {
      val t = graft.Scratch.dir("graft-shingles").resolve("sh").toString
      stageShingles(Tables.load(spark, dir, "documents"), gramN, t, Seq(t))
      StagedParts(Nil, Seq(t), Tables.load(spark, dir, "documents").count())
    }
    StagedCache.readStaged(spark, e.dirs: _*)
  }

  /** Shingle `docs` into staged dir `d` through the engine's one staged
    * writer, and register the frame's schema as the read schema of the
    * index's `dirs`: an empty corpus stages an empty dir, which parquet
    * schema inference would reject. */
  private def stageShingles(docs: DataFrame, gramN: Int, d: String,
      dirs: Seq[String]): Unit = {
    val sh = shingleArrays(docs, gramN)
    graft.sources.StagedWriter.write(sh, java.nio.file.Paths.get(d))
    StagedCache.registerSchema(sh.schema, dirs: _*)
  }

  /** Incremental index refresh — the append workflow a 100 TB corpus
    * actually runs: after `newDocs` were appended to `dir`'s documents
    * table, extend the staged shingle index by shingling ONLY the new
    * docs into a DELTA dir and registering old ∪ delta under the
    * corpus's new mtime state. The existing staged files are reused
    * byte-for-byte — DedupSpec asserts their paths and mtimes are
    * untouched while every index consumer (q31/q32/q34/q38) sees the
    * combined corpus.
    *
    * `newDocs` must be exactly the rows appended since the index's
    * registered state; [[StagedIndex.extend]] reconciles every
    * registration by row count and clears the entry on any mismatch.
    * No-op when nothing was staged yet or the index is already current
    * for a count-consistent corpus. */
  def refreshShingleIndex(spark: SparkSession, dir: String,
      newDocs: DataFrame, gramN: Int = 3): Unit =
    shingleIndex.extend(StagedCache.source(dir, "documents"), gramN)(
        Tables.rowCount(spark, dir, "documents"), newDocs.count()) { p =>
      val d = graft.Scratch.dir("graft-shingles").resolve("delta").toString
      stageShingles(newDocs, gramN, d, p.dirs :+ d)
      Some(d)
    }

  /** Exploded (doc_id, n, shingle) rows off the staged arrays — a
    * narrow generator over the parquet scan, no shuffle. */
  private def shingleRows(arrays: DataFrame): DataFrame =
    arrays.select(col("doc_id"), col("n"), explode(col("sarr")).as("shingle"))

  /** Exact per-pair Jaccard for the given candidate pairs: join each
    * side's shingle ARRAY and count the overlap with `array_intersect`
    * — one narrow row per candidate pair. The round-1 shape instead
    * exploded every pair into |A| shingle rows and re-aggregated
    * (~16M-row shuffle join for 310k candidates at sf0.1); sets of
    * this size (~50 shingles) are far cheaper intersected in-row.
    * Inputs are distinct sets, so the intersect size IS |A ∩ B|. */
  private[graft] def jaccardFor(cand: DataFrame, arrays: DataFrame): DataFrame =
    cand
      // the array index is |docs| × ~50 shingle hashes (MBs at sf0.1)
      // → broadcast both sides of the verify join while the size
      // estimate stays under Hints.BroadcastCap: candidates stream
      // through map-side, no shuffle of array payloads at all. Past
      // the cap the hint vanishes and the verify shuffles on doc id —
      // the scalable shape (round 6 shipped the hint unconditionally;
      // flagged as part of the last scale-killer family).
      // Overlap via the native graft_sorted_overlap two-pointer merge
      // (the shingler emits ascending arrays for exactly this): the
      // built-in array_intersect builds a hash set PER candidate pair
      // — measured 5.5 s of q31's sf0.1 runtime, its largest stage.
      .join(Hints.broadcastIfSmall(arrays.as("x")),
        col("doc_a") === col("x.doc_id"))
      .join(Hints.broadcastIfSmall(arrays.as("y")),
        col("doc_b") === col("y.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        expr("graft_sorted_overlap(x.sarr, y.sarr)").as("inter"),
        col("x.n").as("n_a"), col("y.n").as("n_b"))
      .select(col("doc_a"), col("doc_b"), col("inter"),
        col("n_a"), col("n_b"),
        round(col("inter") / (col("n_a") + col("n_b") - col("inter")), 4)
          .as("jaccard"))

  /** q30 — exact dedup by content hash. The input is documents with
    * every even-doc_id row duplicated (so the operator has real work);
    * dedup key = md5(normalized text); keeper = lowest doc_id. This is
    * the hash-groupBy shape: one shuffle on the 16-byte hash, perfectly
    * scalable and skew-free for unique-ish content. */
  val q30ExactDedup: Q = (spark, dir) => {
    val docs = Tables.load(spark, dir, "documents")
    val withDups = docs.unionByName(docs.filter(col("doc_id") % 2 === 0))
    withDups
      .groupBy(md5(normText(col("text"))).as("fingerprint"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
      .orderBy("keeper_id")
  }

  val q30Oracle: String =
    """SELECT md5(regexp_replace(LOWER(TRIM(text)), '\s+', ' ', 'g')) AS fingerprint,
      |  MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
      |FROM (SELECT * FROM documents
      |      UNION ALL SELECT * FROM documents WHERE doc_id % 2 = 0)
      |GROUP BY 1 ORDER BY keeper_id""".stripMargin

  /** q145 — UNICODE CANONICAL-EQUIVALENCE dedup ([EXT], round 15):
    * the encoding-level hole in byte-keyed exact dedup. A web crawl
    * stores the SAME text under multiple Unicode renderings —
    * precomposed "é" (U+00E9) vs decomposed "e"+U+0301, combining
    * marks in either order — and md5/sha256 fingerprints (q30/q74)
    * treat canonically equal strings as distinct, so every such pair
    * sails through exact dedup. Production pipelines (CCNet,
    * RefinedWeb) normalize to NFC before fingerprinting; this
    * operator is that step, keyed on the native codegen'd
    * [[graft.functions.NfcNormalize]] (Spark ships no normalization
    * function; a Scala UDF would sever whole-stage codegen).
    *
    * Fixture (deterministic, the q30/q74 amplification pattern):
    * docs %4==1 re-enter precomposed (every 'e' → U+00E9, +1M) AND
    * decomposed (every 'e' → e+U+0301, +2M) — byte-distinct,
    * canonically equal; docs %4==2 re-enter with both ORDERINGS of a
    * two-mark cluster (a+U+0323+U+0301 vs a+U+0301+U+0323,
    * +3M/+4M) — NFC must canonically reorder (combining classes
    * 220 < 230) and compose both to the same U+1EA1+U+0301 cluster.
    * Output =
    * one row per CANONICAL fingerprint: keeper (min id), n_copies,
    * and n_encodings = distinct RAW byte renderings unified — the
    * quantity byte-keyed dedup gets wrong.
    *
    * 100 TB shape: NFC + md5 are one codegen'd scan projection (the
    * all-ASCII common case short-circuits on isNormalized — no
    * allocation), then ONE skew-free shuffle on the 16-byte canonical
    * hash with partial-combining aggs — exactly q30's cost. DuckDB's
    * nfc_normalize implements the same Unicode tables, so the whole
    * operator is hash-verified (md5-over-NFC equality on both
    * engines is pinned in DedupSpec on composed/decomposed/reordered
    * inputs). */
  val q145UnicodeDedup: Q = (spark, dir) => {
    graft.functions.GraftFunctions.register(spark)
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val pre = docs.filter(col("doc_id") % 4 === 1)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        expr("replace(text, 'e', '\u00e9')").as("text"))
    val dec = docs.filter(col("doc_id") % 4 === 1)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        expr("replace(text, 'e', 'e\u0301')").as("text"))
    val marksA = docs.filter(col("doc_id") % 4 === 2)
      .select((col("doc_id") + 3000000L).as("doc_id"),
        expr("replace(text, 'a', 'a\u0323\u0301')").as("text"))
    val marksB = docs.filter(col("doc_id") % 4 === 2)
      .select((col("doc_id") + 4000000L).as("doc_id"),
        expr("replace(text, 'a', 'a\u0301\u0323')").as("text"))
    docs.unionByName(pre).unionByName(dec)
      .unionByName(marksA).unionByName(marksB)
      .groupBy(md5(expr("graft_nfc(text)")).as("fingerprint"))
      .agg(min(col("doc_id")).as("keeper_id"),
        count(lit(1)).as("n_copies"),
        countDistinct(md5(col("text"))).as("n_encodings"))
      .orderBy("keeper_id")
  }

  val q145Oracle: String =
    """SELECT md5(nfc_normalize(text)) AS fingerprint,
      |  MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies,
      |  CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_encodings
      |FROM (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, replace(text, 'e', chr(233))
      |  FROM documents WHERE doc_id % 4 = 1
      |  UNION ALL
      |  SELECT doc_id + 2000000, replace(text, 'e', 'e' || chr(769))
      |  FROM documents WHERE doc_id % 4 = 1
      |  UNION ALL
      |  SELECT doc_id + 3000000, replace(text, 'a', 'a' || chr(803) || chr(769))
      |  FROM documents WHERE doc_id % 4 = 2
      |  UNION ALL
      |  SELECT doc_id + 4000000, replace(text, 'a', 'a' || chr(769) || chr(803))
      |  FROM documents WHERE doc_id % 4 = 2)
      |GROUP BY 1 ORDER BY keeper_id""".stripMargin

  /** q152 — CROSS-SOURCE DUPLICATION MATRIX ([EXT], round 16): the
    * provenance report a corpus owner reads BEFORE deduping — for
    * every pair of sources, how much exact content they share (a
    * re-crawl that subsumes an older crawl, a mirror of a mirror, a
    * dataset re-released under a new name: all show up as high
    * pairwise overlap, and the answer decides which source to DROP
    * wholesale rather than dedup row by row). The fixture's sources
    * are disjoint by construction, so the query re-enters every
    * doc_id % 3 == 0 doc under a synthetic 'recrawl' source and every
    * % 5 == 0 doc under 'mirror' — two overlapping re-releases both
    * engines replay identically (q30's injected-dups precedent).
    *
    * Shape at 100 TB: distinct (fingerprint, source) pairs — q30's
    * one skew-free 16-byte-hash shuffle; the pair join is an
    * equi-join on the fingerprint whose fan-out per fingerprint is
    * bounded by C(|sources|, 2) (a provenance taxonomy, not a data
    * column); per-source totals broadcast back (|sources| rows). The
    * overlap coefficient divides exact longs and rounds to 4, so the
    * whole matrix is hash-verified. */
  private[graft] val q152Index = new StagedIndex[String]("q152-fp", Seq(_))

  val q152SourceOverlap: Q = (spark, dir) => {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
    val corpus = docs
      .unionByName(docs.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 200000L).as("doc_id"), col("text"),
          lit("recrawl").as("source")))
      .unionByName(docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 300000L).as("doc_id"), col("text"),
          lit("mirror").as("source")))
    // STAGE the distinct (fp, source) relation once (the q43 idiom):
    // it feeds FOUR consumers (both self-join sides + both per-source
    // count joins), and an unstaged plan re-executes the corpus scan +
    // union + md5 + distinct per reference — the round-16 DevExplain
    // showed 24 parquet scans / 28 hash aggregates. Staged, the
    // corpus is read and fingerprinted exactly once at any scale —
    // and since round 17 MEMOIZED per corpus fingerprint like every
    // other index (round-16 verdict #6):
    // a provenance report is re-run against the same corpus many
    // times, and each re-run was re-fingerprinting the whole corpus
    // into a fresh Scratch dir. The synthetic amplification (%3
    // recrawl, %5 mirror) is code-fixed, so the corpus fingerprint
    // alone keys the cache; DedupSpec pins the second-call hit.
    val staged = q152Index.get(StagedCache.source(dir, "documents")) {
      val dPath = graft.Scratch.dir("graft-q152").resolve("d").toString
      corpus
        .select(md5(normText(col("text"))).as("fp"), col("source"))
        .distinct()
        .write.parquet(dPath)
      dPath
    }
    val d = StagedCache.readStaged(spark, staged)
    val counts = d.groupBy("source").agg(count(lit(1)).as("n_fp"))
    d.as("a")
      .join(d.as("b"),
        col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(counts.select(col("source").as("source_a"),
        col("n_fp").as("n_a"))), "source_a")
      .join(broadcast(counts.select(col("source").as("source_b"),
        col("n_fp").as("n_b"))), "source_b")
      .select(col("source_a"), col("source_b"), col("n_shared"),
        col("n_a"), col("n_b"),
        round(col("n_shared") /
          (col("n_a") + col("n_b") - col("n_shared")), 4)
          .as("overlap_jaccard"))
      .orderBy("source_a", "source_b")
  }

  val q152Oracle: String =
    """WITH corpus AS (
      |  SELECT doc_id, text, source FROM documents
      |  UNION ALL
      |  SELECT doc_id + 200000, text, 'recrawl' FROM documents
      |  WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT doc_id + 300000, text, 'mirror' FROM documents
      |  WHERE doc_id % 5 = 0),
      |d AS (
      |  SELECT DISTINCT
      |    md5(regexp_replace(LOWER(TRIM(text)), '\s+', ' ', 'g')) AS fp,
      |    source
      |  FROM corpus),
      |counts AS (SELECT source, COUNT(*) AS n_fp FROM d GROUP BY 1),
      |pairs AS (
      |  SELECT a.source AS source_a, b.source AS source_b,
      |    COUNT(*) AS n_shared
      |  FROM d a JOIN d b ON a.fp = b.fp AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT source_a, source_b, n_shared, ca.n_fp AS n_a, cb.n_fp AS n_b,
      |  ROUND(n_shared / (ca.n_fp + cb.n_fp - n_shared), 4) AS overlap_jaccard
      |FROM pairs
      |JOIN counts ca ON ca.source = source_a
      |JOIN counts cb ON cb.source = source_b
      |ORDER BY source_a, source_b""".stripMargin

  /** Canonical form of a URL, entirely in codegen'd string built-ins
    * (no UDF): scheme and host lowercased, a default port stripped
    * (:80 for http, :443 for https — non-default ports KEPT), trailing
    * path slashes stripped, and `utm_*` tracking params dropped while
    * every other param keeps its original order (reordering params is
    * NOT safe canonicalization — servers may be order-sensitive).
    * This is the crawl-side normalization that runs BEFORE text-level
    * dedup: the same page arrives under scheme-case / host-case /
    * default-port / trailing-slash / tracking-param variants, and
    * byte-keyed URL dedup misses all of them. Regex syntax is the
    * shared Java-regex/RE2 subset (anchors, char classes); both
    * engines return '' on no-match, so the piecewise reassembly is
    * engine-stable. DedupSpec pins the canonicalization table. */
  private[graft] def canonicalUrl(u: Column): Column = {
    val scheme = lower(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val host = lower(regexp_extract(u,
      "^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)", 1))
    val port = regexp_extract(u,
      "^[A-Za-z][A-Za-z0-9+.-]*://[^/:?#]+:([0-9]+)", 1)
    val path = regexp_replace(
      regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1),
      "/+$", "")
    val query = regexp_extract(u, "\\?([^#]*)", 1)
    val kept = array_join(
      filter(split(query, "&"), p => !startswith(p, lit("utm_"))), "&")
    val portPart = when(port === "" ||
        (scheme === "http" && port === "80") ||
        (scheme === "https" && port === "443"), lit(""))
      .otherwise(concat(lit(":"), port))
    val queryPart = when(kept === "", lit(""))
      .otherwise(concat(lit("?"), kept))
    concat(scheme, lit("://"), host, portPart, path, queryPart)
  }

  /** q148 — URL CANONICALIZATION + URL-LEVEL DEDUP ([EXT], round 16):
    * the crawl step BEFORE any text dedup — collapse scheme-case /
    * host-case / default-port / trailing-slash / utm-param variants of
    * the same page to one canonical URL and keep the min-doc_id
    * occurrence (q30's keeper rule on the URL key). The documents
    * fixture carries no URL column, so the query synthesizes a
    * deterministic one per doc — page = doc_id div 5 (five docs per
    * logical page), variant = doc_id % 5 cycling through exactly the
    * noise dimensions [[canonicalUrl]] must collapse (v0 clean, v1
    * scheme+host case + :80 + trailing slash, v2 pure-utm query, v3
    * :80 + mixed params where only utm_ drops, v4 the kept param
    * alone) — both engines replay the same synthesis, so the operator
    * under test is the canonicalizer + keeper, not the fixture.
    * Variants 0-2 collapse to the bare canonical URL and 3-4 to the
    * ?id= form: group sizes 3 and 2, keepers the group-min ids.
    *
    * 100 TB shape: canonicalization is ONE codegen'd scan projection
    * (regex piecewise + lambda filter, all row-local); dedup is ONE
    * hash shuffle on the canonical string — the q30 posture, skew-free
    * for web-scale URL sets (no host dominates the key space; a
    * per-HOST rollup would salt, but the key here is the full URL). */
  /** The deterministic per-doc URL synthesis q148 AND q153 share
    * (extracted round 17): page = doc_id div 5 (five docs per logical
    * page), host = site(page%20).example.com, variant = doc_id % 5
    * cycling through exactly the noise dimensions [[canonicalUrl]]
    * must collapse. Both engines replay the same synthesis, so the
    * operators under test are the canonicalizer + rollups, never the
    * fixture. */
  private def syntheticUrls(spark: SparkSession, dir: String,
      carry: Seq[String] = Nil): DataFrame =
    synthesizeUrls(Tables.load(spark, dir, "documents"), carry)

  /** DataFrame-level synthesis so the STREAMING twin can run it on a
    * micro-batch (round 17): input needs doc_id (+ carried cols). */
  private[graft] def synthesizeUrls(docs: DataFrame,
      carry: Seq[String] = Nil): DataFrame = {
    val pageS = col("page").cast("string")
    docs
      .select(col("doc_id") +: expr("doc_id div 5").as("page") +:
        (col("doc_id") % 5).as("v") +: carry.map(col): _*)
      .withColumn("hb",
        concat(lit("site"), (col("page") % 20).cast("string"),
          lit(".example.com")))
      .select(col("doc_id") +:
        when(col("v") === 0,
          concat(lit("http://"), col("hb"), lit("/doc/"), pageS))
        .when(col("v") === 1,
          concat(lit("HTTP://"), upper(col("hb")), lit(":80/doc/"), pageS,
            lit("/")))
        .when(col("v") === 2,
          concat(lit("http://"), col("hb"), lit("/doc/"), pageS,
            lit("?utm_source=feed&utm_campaign=x")))
        .when(col("v") === 3,
          concat(lit("http://"), col("hb"), lit(":80/doc/"), pageS,
            lit("?id="), (col("page") % 9).cast("string"),
            lit("&utm_medium=m")))
        .otherwise(
          concat(lit("http://"), col("hb"), lit("/doc/"), pageS,
            lit("?id="), (col("page") % 9).cast("string")))
        .as("url") +: carry.map(col): _*)
  }

  val q148UrlDedup: Q = (spark, dir) =>
    syntheticUrls(spark, dir)
      .select(col("doc_id"), canonicalUrl(col("url")).as("canonical_url"))
      .withColumn("host",
        regexp_extract(col("canonical_url"), "^[a-z]+://([^/:?#]+)", 1))
      .groupBy("host", "canonical_url")
      .agg(min(col("doc_id")).as("keeper_id"),
        count(lit(1)).as("n_dups"))
      .orderBy("canonical_url")

  /** q153 — HOST REPUTATION ROLLUP ([EXT], round 17): the host-level
    * curation report crawl pipelines (C4/RefinedWeb-style) compute
    * BEFORE any per-document work — per host: document count,
    * distinct canonical pages, the duplication ratio (a dup-farm /
    * mirror signal), and the host-level stopword quality — with a
    * verdict band read off the ROUNDED metrics (the q22 lesson, so
    * both engines band identically). Host-level filtering is the
    * cheapest lever a crawl has: dropping one spam host removes
    * millions of documents without scoring any of them.
    *
    * 100 TB shape: canonicalization + host extraction are ONE
    * row-local codegen'd projection. The rollup aggregates are all
    * ALGEBRAIC (counts and integer sums), and for algebraic
    * aggregates Spark's partial map-side combine IS the salting —
    * a hot host (one host can be 1% of a web corpus) contributes one
    * partial row per input partition, never a hot reduce key with
    * corpus-sized input (contrast q82, whose JOIN needed explicit
    * salt because joins have no partial combine). The exact
    * distinct-page count plans as Spark's standard two-phase
    * aggregate: the first level keys on (host, canonical_url) — high
    * cardinality, skew-free — and the second receives one row per
    * DISTINCT page with partial counts. Quality ratios come from
    * integer sums with ONE final rounded division each, so the
    * output is bit-stable across engines and partitionings (no
    * float-fold-order exposure at all). DedupSpec pins the verdict
    * table on crafted hosts exercising all three bands. */
  val q153HostReputation: Q = (spark, dir) =>
    // ONE corpus scan, no join: the synthesis CARRIES text through,
    // so canonical_url/host and the quality counters come out of a
    // single projection (a separate meta relation joined on doc_id
    // would scan documents twice and — broadcast at fixture scale —
    // ship a corpus-sized build side at 100 TB)
    hostReputationCore(
      hostUrlMetrics(Tables.load(spark, dir, "documents")))

  /** Per-row (host, canonical_url, n_tokens, stop_hits) from documents
    * rows — ONE codegen'd projection. Shared by batch q153 and the
    * streaming host-reputation MV's per-batch partials. */
  private[graft] def hostUrlMetrics(docs: DataFrame): DataFrame =
    synthesizeUrls(docs, carry = Seq("text"))
      .select(canonicalUrl(col("url")).as("canonical_url"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"),
        size(regexp_extract_all(lower(col("text")),
          lit(TextOps.StopwordRegex), lit(0))).cast("long").as("stop_hits"))
      .withColumn("host",
        regexp_extract(col("canonical_url"), "^[a-z]+://([^/:?#]+)", 1))

  /** Two-relation wrapper so DedupSpec can drive crafted (canon, meta)
    * host profiles through every verdict band. */
  private[graft] def hostReputation(canon: DataFrame,
      meta: DataFrame): DataFrame =
    hostReputationCore(canon.join(meta, "doc_id"))

  /** The rollup core over (host, canonical_url, n_tokens, stop_hits).
    * ONE aggregate carries the distinct-page count beside the
    * algebraic sums: Spark rewrites the mixed distinct as the
    * two-level (host, url)-keyed partial + host-keyed final — the
    * input is consumed exactly ONCE (a separate pages aggregate
    * would re-execute the whole producing subplan; Spark does not
    * dedupe common subplans — the q152 lesson). */
  private[graft] def hostReputationCore(rel: DataFrame): DataFrame =
    hostVerdict(rel.groupBy("host")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("canonical_url")).as("n_pages"),
        sum(col("n_tokens")).as("sum_tok"),
        sum(col("stop_hits")).as("sum_stop")))

  /** The verdict arithmetic over a rolled (host, n_docs, n_pages,
    * sum_tok, sum_stop) relation — ONE copy shared by batch q153 and
    * the streaming MV's read-side report, so the band thresholds and
    * rounding can never drift between the two. */
  private[graft] def hostVerdict(rolled: DataFrame): DataFrame =
    rolled
      .select(col("host"), col("n_docs"), col("n_pages"),
        round(lit(1.0) - col("n_pages") / col("n_docs"), 4).as("dup_ratio"),
        round(col("sum_stop") / col("sum_tok"), 4).as("host_quality"))
      .withColumn("verdict",
        when(col("dup_ratio") >= 0.5, lit("dup_farm"))
          .when(col("host_quality") < 0.05, lit("low_quality"))
          .otherwise(lit("ok")))
      .orderBy("host")

  /** The shared urls+canon CTE text (the oracle twin of
    * [[syntheticUrls]] + [[canonicalUrl]]) — q148's and q153's
    * oracles append different rollup tails. */
  private val urlCanonSql: String =
    """urls AS (
      |  SELECT doc_id,
      |    CASE doc_id % 5
      |      WHEN 0 THEN 'http://' || hb || '/doc/' || page
      |      WHEN 1 THEN 'HTTP://' || UPPER(hb) || ':80/doc/' || page || '/'
      |      WHEN 2 THEN 'http://' || hb || '/doc/' || page
      |        || '?utm_source=feed&utm_campaign=x'
      |      WHEN 3 THEN 'http://' || hb || ':80/doc/' || page
      |        || '?id=' || (page % 9) || '&utm_medium=m'
      |      ELSE 'http://' || hb || '/doc/' || page
      |        || '?id=' || (page % 9) END AS url
      |  FROM (SELECT doc_id, doc_id // 5 AS page,
      |          'site' || ((doc_id // 5) % 20) || '.example.com' AS hb
      |        FROM documents)),
      |canon AS (
      |  SELECT doc_id,
      |    scheme || '://' || host ||
      |    CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
      |           OR (scheme = 'https' AND port = '443') THEN ''
      |         ELSE ':' || port END ||
      |    path ||
      |    CASE WHEN kept = '' THEN '' ELSE '?' || kept END AS canonical_url
      |  FROM (
      |    SELECT doc_id,
      |      LOWER(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |      LOWER(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1)) AS host,
      |      regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/:?#]+:([0-9]+)', 1) AS port,
      |      regexp_replace(regexp_extract(url,
      |        '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1), '/+$', '') AS path,
      |      COALESCE(array_to_string(list_filter(string_split(
      |        regexp_extract(url, '\?([^#]*)', 1), '&'),
      |        p -> NOT starts_with(p, 'utm_')), '&'), '') AS kept
      |    FROM urls))""".stripMargin

  // NB: the prefix is concatenated AFTER each part's own stripMargin —
  // re-stripping interpolated text would eat the first pipe of any
  // continuation line beginning with `||`
  val q148Oracle: String =
    "WITH " + urlCanonSql + "\n" +
    """SELECT regexp_extract(canonical_url, '^[a-z]+://([^/:?#]+)', 1) AS host,
      |  canonical_url, MIN(doc_id) AS keeper_id, COUNT(*) AS n_dups
      |FROM canon GROUP BY 2 ORDER BY canonical_url""".stripMargin

  val q153Oracle: String =
    "WITH " + urlCanonSql + ",\n" +
    """hosted AS (
      |  SELECT doc_id, canonical_url,
      |    regexp_extract(canonical_url, '^[a-z]+://([^/:?#]+)', 1) AS host
      |  FROM canon),
      |meta AS (
      |  SELECT doc_id,
      |    CAST(LEN(string_split_regex(TRIM(LOWER(text)), '\s+')) AS BIGINT)
      |      AS n_tokens,
      |    CAST(LEN(regexp_extract_all(LOWER(text),
      |      '\b(the|a|of|and|to|in|is)\b')) AS BIGINT) AS stop_hits
      |  FROM documents),
      |r AS (
      |  SELECT h.host, COUNT(*) AS n_docs,
      |    COUNT(DISTINCT h.canonical_url) AS n_pages,
      |    SUM(m.n_tokens) AS sum_tok, SUM(m.stop_hits) AS sum_stop
      |  FROM hosted h JOIN meta m USING (doc_id)
      |  GROUP BY 1)
      |SELECT host, CAST(n_docs AS BIGINT) AS n_docs,
      |  CAST(n_pages AS BIGINT) AS n_pages,
      |  ROUND(1.0 - n_pages / n_docs, 4) AS dup_ratio,
      |  ROUND(sum_stop / sum_tok, 4) AS host_quality,
      |  CASE WHEN ROUND(1.0 - n_pages / n_docs, 4) >= 0.5 THEN 'dup_farm'
      |       WHEN ROUND(sum_stop / sum_tok, 4) < 0.05 THEN 'low_quality'
      |       ELSE 'ok' END AS verdict
      |FROM r ORDER BY host""".stripMargin

  /** q127 — LEAKAGE-SAFE train/val/test split: the eval-hygiene twin
    * of decontamination (q36/q122). A naive per-document hash split
    * puts exact duplicates on BOTH sides of the train/test boundary —
    * the classic self-contamination bug (a 100 TB web corpus is
    * 20-40% near-duplicate). The fix is to split by CONTENT GROUP:
    * the assignment hash is keyed on the q30 content fingerprint, so
    * every copy of a text follows its group into one split, by
    * construction. The fixture duplicates half the corpus under fresh
    * doc_ids to make the hazard real; the output carries a computed
    * leakage audit (groups straddling >1 split — the check a real
    * pipeline runs before training) which must be 0, plus per-split
    * doc/group counts. Scale shape: one md5-key groupBy shuffle and
    * two hash aggs — no windows, no driver traffic; the 80/10/10
    * bucket arithmetic is the q26 md5 technique, replayed exactly by
    * the DuckDB oracle (hash-green, unlike a random split). */
  val q127LeakageSafeSplit: Q = (spark, dir) => {
    val docs = Tables.load(spark, dir, "documents")
    val withDups = docs.unionByName(docs.filter(col("doc_id") % 2 === 0)
      .withColumn("doc_id", col("doc_id") + 100000))
    val assigned = withDups
      .withColumn("fingerprint", md5(normText(col("text"))))
      .withColumn("bucket",
        conv(substring(md5(concat(lit("split:"), col("fingerprint"))),
          1, 15), 16, 10).cast("long") % 10)
      .withColumn("split", when(col("bucket") < 8, "train")
        .when(col("bucket") === 8, "val").otherwise("test"))
    val leaky = assigned.groupBy("fingerprint")
      .agg(countDistinct(col("split")).as("n_splits"))
      .filter(col("n_splits") > 1)
      .agg(count(lit(1)).as("leaky_groups"))
    assigned.groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("fingerprint")).as("n_groups"))
      .crossJoin(broadcast(leaky))
      .orderBy("split")
  }

  val q127Oracle: String =
    """WITH corpus AS (
      |  SELECT * FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id, text, lang, source, n_chars
      |  FROM documents WHERE doc_id % 2 = 0),
      |s AS (
      |  SELECT doc_id, fingerprint,
      |    CASE WHEN bucket < 8 THEN 'train'
      |         WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split
      |  FROM (
      |    SELECT doc_id, fingerprint,
      |      ('0x' || substr(md5('split:' || fingerprint), 1, 15))::BIGINT
      |        % 10 AS bucket
      |    FROM (SELECT doc_id,
      |            md5(regexp_replace(LOWER(TRIM(text)), '\s+', ' ', 'g'))
      |              AS fingerprint
      |          FROM corpus))),
      |leak AS (
      |  SELECT COUNT(*) AS leaky_groups FROM (
      |    SELECT fingerprint FROM s GROUP BY fingerprint
      |    HAVING COUNT(DISTINCT split) > 1))
      |SELECT split, COUNT(*) AS n_docs,
      |  COUNT(DISTINCT fingerprint) AS n_groups,
      |  (SELECT leaky_groups FROM leak) AS leaky_groups
      |FROM s GROUP BY split ORDER BY split""".stripMargin

  /** q137 — COMPOSED CURATION PIPELINE ([EXT], round 14): the
    * end-to-end audit artifact a corpus owner actually reviews. Every
    * stage already exists and is individually hash-green — exact
    * dedup (q30), near-dup cluster keeper (q32/q34), benchmark
    * decontamination (q36), the q89 quality bars, leakage-safe split
    * (q127), shard manifest (q120) — but a pipeline is judged by its
    * FUNNEL: docs in, per-stage casualties, docs out, and a final
    * manifest fingerprint, one row per stage. This runs the amplified
    * corpus (the q30/q127 fixture: every even doc duplicated under a
    * shifted id, so dedup has real work) through the full chain and
    * emits exactly that report.
    *
    * Semantics: each document is charged to the FIRST stage that
    * drops it (the q89 funnel discipline extended across the whole
    * pipeline) — exact-dup non-keeper → near-dup cluster non-keeper →
    * eval-stratum holdout (src5) → contaminated (shares a 5-gram with
    * the eval union) → the four q89 quality bars in their pinned
    * order → model-scored quality gate (q147's learned linear scorer,
    * round 16 — the CCNet/DataComp ordering: cheap rules first, the
    * model only on their survivors) → split holdout (val/test buckets
    * of the fingerprint-keyed q127 hash) → train. Stage thresholds, hash
    * salts, and gram conventions are IDENTICAL to the standalone
    * operators (same md5 keying, same q21 whitespace tokens, same
    * trigram/5-gram kernels), so the composed funnel is consistent
    * with each per-stage query. Near-dup labels come from the
    * memoized q34 cluster index over the base corpus — sound under
    * composition because stage-2 casualties are exact duplicates,
    * whose shingle sets are identical to their keeper's: removing one
    * never disconnects a component, so clusters over the survivor set
    * equal clusters over the base set restricted to survivors.
    *
    * Scale shape (round 18): ONE labeled projection over the corpus
    * with ZERO corpus-wide shuffles — the exact-dedup keeper, cluster
    * and contamination relations are all STAGED per corpus state and
    * broadcast into the scan (the former window-min shuffled every
    * corpus row, text included, by fingerprint per invocation; the
    * keeper index shuffles (fingerprint, doc_id) pairs once at build
    * time — the §2.3 shape: decisions travel as keys, payloads never
    * move); quality bars are row-local codegen'd arithmetic. That
    * projection feeds ONE ~13-row hash agg carrying both the verdict
    * histogram and the train manifest scalars (count / distinct
    * shards / token sum / fingerprint sum per verdict); the report
    * assembly collects that bounded aggregate (≤ |stages|+3 rows —
    * the one-scalar-per-round license). No stage materializes an
    * intermediate corpus copy; at 100 TB this is the same one-pass
    * cost as q89, with the dedup shuffle amortized into the index
    * build.
    *
    * All-deterministic components ⇒ the ENTIRE funnel, split sizes,
    * and manifest fingerprint are hash-verified by one DuckDB oracle
    * replaying the identical chain (the round-13 verdict's "handoff
    * artifact" item). */
  /** q137's labeled projection: every corpus row with its funnel
    * verdict, the relation [[q137CurationPipeline]] aggregates and
    * PlanSpec inspects.
    *
    * WHY THE FOLD IS CHEAP HERE (the short-circuit, MADE structural in
    * round 17): the fold expression is constructed DIRECTLY inside the
    * verdict CaseWhen — never as its own withColumn — because the
    * round-16 `.withColumn("model_score", …)` form did NOT collapse:
    * the round-17 PlanSpec pin caught the optimized plan keeping
    * model_score as a standalone projected column, i.e. the fold was
    * evaluating for EVERY corpus row, exactly the per-row
    * interpreted-lambda cost the verdict flagged (and the missing
    * +1 s in q137's round-16 bench move). Built inline, the fold sits
    * in the CASE branch from construction, no optimizer cooperation
    * needed; CaseWhen evaluates branches SEQUENTIALLY in both codegen
    * and interpreted mode (the generated code is a chain of
    * early-returning ifs), so the fold runs only for rows that fell
    * through exact-dedup/neardup/holdout/contamination AND all four
    * quality bars — the q147 ordering, cheap rules first. PlanSpec
    * pins the structure (no standalone model_score alias, exactly one
    * fold, hosted inside the CaseWhen); the sf1 profile in BASELINE.md
    * pins the cost (fold-in-CASE ≈ no-model; fold-forced-per-row pays
    * the full lambda cost). */
  /** q137's DERIVED corpus (docs ∪ even-id clones at +100000) with its
    * dedup fingerprint — the relation both the labeled projection and
    * the staged keeper index derive from. */
  private def q137Corpus(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    docs.unionByName(docs.filter(col("doc_id") % 2 === 0)
        .withColumn("doc_id", col("doc_id") + 100000L))
      .withColumn("fingerprint", md5(normText(col("text"))))
  }

  /** q137's exact-dedup KEEPER relation (fingerprint, keeper_id =
    * min doc_id per fingerprint group) and its CONTAMINATION doc list,
    * STAGED and MEMOIZED per corpus state (round 18) — both are pure
    * functions of the corpus, and the labeled projection previously
    * recomputed them per invocation: the keeper via a window-min that
    * shuffled the ENTIRE corpus (text included) by fingerprint, the
    * contamination via two distinct shuffles over the gram index. With
    * the keeper staged, serving q137 shuffles NO corpus bytes at all —
    * the keeper/label/contam relations broadcast into one wide scan
    * (the §2.3 shape: group decisions travel as keys, payloads never
    * move). Keeper-min over a staged groupBy is bit-identical to the
    * window-min: same groups, same MIN. */
  private val q137KeeperIndex = new StagedIndex[String]("q137-keepers", Seq(_))
  private val q137ContamIndex = new StagedIndex[String]("q137-contam", Seq(_))

  private def q137Keepers(spark: SparkSession, dir: String): DataFrame =
    StagedCache.readStaged(spark,
      q137KeeperIndex.get(StagedCache.source(dir, "documents")) {
        val t = graft.Scratch.dir("graft-q137k").resolve("k").toString
        q137Corpus(spark, dir)
          .groupBy("fingerprint").agg(min("doc_id").as("keeper_id"))
          .write.parquet(t)
        t
      })

  private def q137Contam(spark: SparkSession, dir: String): DataFrame =
    StagedCache.readStaged(spark,
      q137ContamIndex.get(StagedCache.source(dir, "documents")) {
        val t = graft.Scratch.dir("graft-q137c").resolve("c").toString
        val g = stagedDeconGrams(spark, dir)
        val ev = g.filter(col("source") === "src5")
          .select("shingle").distinct()
        g.filter(col("source") =!= "src5")
          .join(broadcast(ev), "shingle")
          .select("doc_id").distinct()
          .write.parquet(t)
        t
      })

  private[graft] def q137Labeled(spark: SparkSession, dir: String)
      : DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // explicit spread (Hints.spreadIfCompact): the per-row text
    // kernels below (shingling, stopword regex, md5 keying, the fold)
    // are q137's dominant compute and otherwise run on the 2-partition
    // union scan at fixture scale (round 18; measured 1.55 → 0.50 s)
    val corpus = Hints.spreadIfCompact(q137Corpus(spark, dir))
    val labels = stagedClusterLabels(spark, dir)
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
    val contam = q137Contam(spark, dir)
      .withColumn("is_contam", lit(true))
    val modelGate =
      when(TextOps.modelScore(col("text")) < TextOps.ModelScoreBar,
        "model_filtered")
    val keepers = q137Keepers(spark, dir)
      .withColumnRenamed("fingerprint", "k_fingerprint")
    corpus
      // keeper via the STAGED (fingerprint → min doc_id) index
      // broadcast into the scan — the former window-min shuffled every
      // corpus row (text included) by fingerprint per invocation;
      // inner NULL-SAFE join: every corpus row's fingerprint is in the
      // index by construction (groupBy groups a null fingerprint like
      // the window partition did, and <=> matches it back), so row
      // count and values are identical to the window form on ANY
      // corpus, null texts included
      .join(Hints.broadcastIfSmall(keepers),
        col("fingerprint") <=> col("k_fingerprint"))
      .drop("k_fingerprint")
      .join(labels, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .withColumn("n_tokens",
        coalesce(size(split(lower(trim(col("text"))), "\\s+")), lit(0)))
      .withColumn("n_distinct",
        coalesce(size(expr("graft_shingles(text, 3)")), lit(0)))
      .withColumn("stop_hits",
        coalesce(size(regexp_extract_all(lower(col("text")),
          lit(TextOps.StopwordRegex), lit(0))), lit(0)))
      .withColumn("bucket",
        conv(substring(md5(concat(lit("split:"), col("fingerprint"))),
          1, 15), 16, 10).cast("long") % 10)
      .withColumn("verdict",
        // the four quality bars and the model gate are the SHARED
        // q89/q147 expressions (TextOps.qualityBarsThen / modelScore /
        // ModelScoreBar) — the scaladoc's "identical to the
        // standalone operators" is structural, not hand-synced
        when(col("doc_id") =!= col("keeper_id"), "exact_dedup")
          .when(col("cluster_id").isNotNull &&
            col("cluster_id") =!= col("doc_id"), "neardup")
          .when(col("source") === "src5", "eval_holdout")
          .when(coalesce(col("is_contam"), lit(false)), "decontaminated")
          .otherwise(TextOps.qualityBarsThen(
            modelGate
              .when(col("bucket") === 8, "val")
              .when(col("bucket") === 9, "test")
              .otherwise("train"))))
  }

  val q137CurationPipeline: Q = (spark, dir) => {
    import spark.implicits._
    val lab = q137Labeled(spark, dir)
    // bounded driver traffic: the verdict histogram AND the train
    // manifest scalars out of ONE ≤13-row hash agg — round 14 fused
    // the two separate actions (histogram + train-filtered agg), each
    // of which re-ran the whole labeled projection including the
    // fingerprint window shuffle; the shard/fingerprint md5s now
    // compute for every row instead of train-only, but that trades two
    // narrow hashes per row for a second full corpus pass
    val rep = lab
      .select(col("verdict"), col("n_tokens").cast("long").as("n_tok"),
        (conv(substring(md5(concat(lit("shard:"),
          col("doc_id").cast("string"))), 1, 15), 16, 10)
          .cast("long") % 16).as("shard"),
        conv(substring(md5(concat(lit("fp:"),
          col("doc_id").cast("string"))), 1, 10), 16, 10)
          .cast("long").as("fph"))
      .groupBy("verdict")
      .agg(count(lit(1)).as("n"), countDistinct(col("shard")).as("s"),
        sum("n_tok").cast("long").as("t"), sum("fph").cast("long").as("f"))
      .collect()
    val cnt = rep.map(r => r.getString(0) -> r.getLong(1)).toMap
    val (nTrain, nShards, totTok, manFp) = rep
      .find(_.getString(0) == "train")
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .getOrElse((0L, 0L, 0L, 0L))
    val total = cnt.values.sum
    val funnelStages = Seq("exact_dedup", "neardup", "eval_holdout",
      "decontaminated", "too_short", "lang_excluded", "repetitive",
      "low_quality", "model_filtered")
    val rows = Seq.newBuilder[(Long, String, Long, Long, Long, String)]
    rows += ((1L, "input", total, 0L, total, null))
    var in = total
    funnelStages.zipWithIndex.foreach { case (s, i) =>
      val dropped = cnt.getOrElse(s, 0L)
      rows += ((i + 2L, s, in, dropped, in - dropped, null))
      in -= dropped
    }
    val (v, t) = (cnt.getOrElse("val", 0L), cnt.getOrElse("test", 0L))
    rows += ((funnelStages.size + 2L, "split_holdout", in, v + t,
      in - v - t, s"val=$v,test=$t"))
    rows += ((funnelStages.size + 3L, "shard_manifest", nTrain, 0L, nTrain,
      s"shards=$nShards,total_tokens=$totTok,manifest_fp=$manFp"))
    rows.result().toDF("stage_seq", "stage", "docs_in", "docs_dropped",
      "docs_out", "detail")
      .orderBy("stage_seq")
  }

  /** Replays the identical composed chain in ONE statement: the
    * shared recursive-CC prefix over the base corpus (clusters), the
    * q36 5-gram contamination relation, the q89 quality arithmetic,
    * the q127/q120 hash keying, then the funnel assembly as a window
    * cumsum over the per-verdict histogram. Everything MATERIALIZED
    * (the deepest composed oracle in the repo — capwalk-verified). */
  val q137Oracle: String =
    "WITH RECURSIVE " + oracleClusterCtes +
    """,
      |g5 AS MATERIALIZED (
      |  SELECT doc_id, source,
      |    list_distinct(list_transform(range(GREATEST(LEN(tk)-4, 0)),
      |      i -> ('0x' || substr(md5(tk[i+1]||' '||tk[i+2]||' '||tk[i+3]||' '||tk[i+4]||' '||tk[i+5]), 1, 15))::BIGINT))
      |      AS gs
      |  FROM t),
      |ev AS MATERIALIZED (
      |  SELECT flatten(list(gs)) AS egs FROM g5 WHERE source = 'src5'),
      |o137_contam AS MATERIALIZED (
      |  SELECT doc_id FROM g5, ev
      |  WHERE source <> 'src5' AND LEN(list_intersect(gs, egs)) > 0),
      |o137_corpus AS MATERIALIZED (
      |  SELECT doc_id, lang, source,
      |    md5(regexp_replace(LOWER(TRIM(text)), '\s+', ' ', 'g')) AS fingerprint,
      |    COALESCE(LEN(tk), 0) AS n_tokens,
      |    COALESCE(LEN(regexp_extract_all(LOWER(text),
      |      '\b(the|a|of|and|to|in|is)\b')), 0) AS stop_n,
      |    COALESCE(list_sum(list_transform(tk, tok ->
      |      ((((('0x' || substr(md5(tok), 1, 15))::BIGINT // 16) % 2) * 2 - 1)
      |       * ([-6,1,8,-4,3,-9,-2,5,-7,0,7,-5,2,9,-3,4]::BIGINT[])
      |         [(('0x' || substr(md5(tok), 1, 15))::BIGINT % 16) + 1]))), 0)::BIGINT
      |      AS mscore
      |  FROM (SELECT doc_id, text, lang, source, tk FROM t
      |        UNION ALL
      |        SELECT doc_id + 100000, text, lang, source, tk
      |        FROM t WHERE doc_id % 2 = 0)),
      |o137_keep AS MATERIALIZED (
      |  SELECT doc_id, lang, source, fingerprint, n_tokens, stop_n, mscore,
      |    MIN(doc_id) OVER (PARTITION BY fingerprint) AS keeper_id
      |  FROM o137_corpus),
      |luts AS MATERIALIZED (
      |  SELECT
      |    (SELECT map_from_entries(list({'k': doc_id, 'v': cluster_id}))
      |     FROM clusters) AS cm,
      |    (SELECT list(doc_id) FROM o137_contam) AS ctl),
      |o137_lab AS MATERIALIZED (
      |  SELECT doc_id, n_tokens,
      |    CASE
      |      WHEN doc_id <> keeper_id THEN 'exact_dedup'
      |      WHEN cluster_id IS NOT NULL AND cluster_id <> doc_id
      |        THEN 'neardup'
      |      WHEN source = 'src5' THEN 'eval_holdout'
      |      WHEN COALESCE(list_contains(ctl, doc_id), FALSE) THEN 'decontaminated'
      |      WHEN n_tokens < 30 THEN 'too_short'
      |      WHEN lang NOT IN ('en','de','es','fr') THEN 'lang_excluded'
      |      WHEN (n_tokens - 2 - COALESCE(zn, 0)) * 50 > n_tokens - 2
      |        THEN 'repetitive'
      |      WHEN lang = 'en' AND ROUND(stop_n / n_tokens, 4) < 0.05
      |        THEN 'low_quality'
      |      WHEN mscore < -90 THEN 'model_filtered'
      |      WHEN ('0x' || substr(md5('split:' || fingerprint), 1, 15))::BIGINT % 10 = 8
      |        THEN 'val'
      |      WHEN ('0x' || substr(md5('split:' || fingerprint), 1, 15))::BIGINT % 10 = 9
      |        THEN 'test'
      |      ELSE 'train' END AS verdict
      |  FROM (SELECT k.*, l.ctl, l.cm[k.doc_id][1] AS cluster_id,
      |          LEN(sm.m[k.doc_id][1]) AS zn
      |        FROM o137_keep k, luts l, shmap sm)),
      |o137_agg AS MATERIALIZED (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS total,
      |    CAST(COUNT(*) FILTER (verdict = 'exact_dedup') AS BIGINT) AS n_exact,
      |    CAST(COUNT(*) FILTER (verdict = 'neardup') AS BIGINT) AS n_neardup,
      |    CAST(COUNT(*) FILTER (verdict = 'eval_holdout') AS BIGINT) AS n_eval,
      |    CAST(COUNT(*) FILTER (verdict = 'decontaminated') AS BIGINT) AS n_decon,
      |    CAST(COUNT(*) FILTER (verdict = 'too_short') AS BIGINT) AS n_short,
      |    CAST(COUNT(*) FILTER (verdict = 'lang_excluded') AS BIGINT) AS n_lang,
      |    CAST(COUNT(*) FILTER (verdict = 'repetitive') AS BIGINT) AS n_rep,
      |    CAST(COUNT(*) FILTER (verdict = 'low_quality') AS BIGINT) AS n_lowq,
      |    CAST(COUNT(*) FILTER (verdict = 'model_filtered') AS BIGINT) AS n_model,
      |    CAST(COUNT(*) FILTER (verdict = 'val') AS BIGINT) AS n_val,
      |    CAST(COUNT(*) FILTER (verdict = 'test') AS BIGINT) AS n_test,
      |    CAST(COUNT(*) FILTER (verdict = 'train') AS BIGINT) AS n_train,
      |    CAST(COALESCE(LEN(list_distinct(list(
      |      ('0x' || substr(md5('shard:' || doc_id::VARCHAR), 1, 15))::BIGINT % 16)
      |      FILTER (verdict = 'train'))), 0) AS BIGINT) AS n_shards,
      |    CAST(COALESCE(SUM(CAST(n_tokens AS BIGINT))
      |      FILTER (verdict = 'train'), 0) AS BIGINT) AS total_tokens,
      |    CAST(COALESCE(SUM(('0x' || substr(md5('fp:' || doc_id::VARCHAR), 1, 10))::BIGINT)
      |      FILTER (verdict = 'train'), 0) AS BIGINT) AS manifest_fp
      |  FROM o137_lab)
      |SELECT stage_seq, stage, docs_in, docs_dropped, docs_out, detail FROM (
      |  SELECT CAST(1 AS BIGINT) AS stage_seq, 'input' AS stage, total AS docs_in,
      |    CAST(0 AS BIGINT) AS docs_dropped, total AS docs_out,
      |    CAST(NULL AS VARCHAR) AS detail FROM o137_agg
      |  UNION ALL
      |  SELECT 2, 'exact_dedup', total, n_exact, total - n_exact, NULL FROM o137_agg
      |  UNION ALL
      |  SELECT 3, 'neardup', total - n_exact, n_neardup,
      |    total - n_exact - n_neardup, NULL FROM o137_agg
      |  UNION ALL
      |  SELECT 4, 'eval_holdout', total - n_exact - n_neardup, n_eval,
      |    total - n_exact - n_neardup - n_eval, NULL FROM o137_agg
      |  UNION ALL
      |  SELECT 5, 'decontaminated', total - n_exact - n_neardup - n_eval, n_decon,
      |    total - n_exact - n_neardup - n_eval - n_decon, NULL FROM o137_agg
      |  UNION ALL
      |  SELECT 6, 'too_short', total - n_exact - n_neardup - n_eval - n_decon,
      |    n_short, total - n_exact - n_neardup - n_eval - n_decon - n_short,
      |    NULL FROM o137_agg
      |  UNION ALL
      |  SELECT 7, 'lang_excluded',
      |    total - n_exact - n_neardup - n_eval - n_decon - n_short, n_lang,
      |    total - n_exact - n_neardup - n_eval - n_decon - n_short - n_lang,
      |    NULL FROM o137_agg
      |  UNION ALL
      |  SELECT 8, 'repetitive',
      |    total - n_exact - n_neardup - n_eval - n_decon - n_short - n_lang, n_rep,
      |    total - n_exact - n_neardup - n_eval - n_decon - n_short - n_lang - n_rep,
      |    NULL FROM o137_agg
      |  UNION ALL
      |  SELECT 9, 'low_quality',
      |    total - n_exact - n_neardup - n_eval - n_decon - n_short - n_lang - n_rep,
      |    n_lowq, n_model + n_train + n_val + n_test, NULL FROM o137_agg
      |  UNION ALL
      |  SELECT 10, 'model_filtered', n_model + n_train + n_val + n_test,
      |    n_model, n_train + n_val + n_test, NULL FROM o137_agg
      |  UNION ALL
      |  SELECT 11, 'split_holdout', n_train + n_val + n_test, n_val + n_test,
      |    n_train, 'val=' || n_val || ',test=' || n_test FROM o137_agg
      |  UNION ALL
      |  SELECT 12, 'shard_manifest', n_train, CAST(0 AS BIGINT), n_train,
      |    'shards=' || n_shards || ',total_tokens=' || total_tokens
      |      || ',manifest_fp=' || manifest_fp FROM o137_agg)
      |ORDER BY stage_seq""".stripMargin

  /** q31 — n-gram Jaccard near-dup, EXACT, via prefix filtering
    * (AllPairs/PPJoin): a naive shared-shingle join fans out
    * quadratically on frequent shingles (measured: 80 s of an
    * sf0.1 bench run, 58% of total). Prefix filter keeps the result
    * set *identical* — for J(A,B) >= τ the overlap is >= ⌈τ·|A|⌉, so
    * by pigeonhole the pair must share one of each doc's first
    * n - ⌈τ·n⌉ + 1 shingles under any global total order. Ordering
    * rarest-first makes those prefix shingles the LOW-frequency ones,
    * so the candidate join fans out on rare keys only. The oracle
    * stays the naive exact formulation — equality proves the filter
    * is lossless.
    *
    * Measured dead ends (sf0.1, do not retry blindly):
    * .cache() on sh/prefix REGRESSED 43s→70-101s (cached relations
    * lose size stats → worse join strategies); generating candidate
    * pairs with higher-order lambdas inside shingle groups regressed
    * to 345s (interpreted fan-out before distinct vs codegen'd hash
    * join); repartition()-spreading the 1-partition documents scan
    * before the hash stages regressed q31 11→27s and q32 8→46s —
    * the narrow pre-shuffle stages are not the bottleneck (downstream
    * groupBy/join shuffles already run 32-wide) and the extra
    * exchange starves AQE of scan statistics.
    *
    * Implementation split: [[prefixCandidates]] (the candidate
    * generator with the skew df cap) + [[jaccardFor]] (exact verify).
    */
  // (q31's narrative above; the helpers follow.)

  /** Skew cap for candidate GENERATION: shingles in more than this
    * many documents don't generate candidate pairs (they stay in the
    * arrays, so verification still counts them). 10% of the corpus
    * with an absolute floor of 50 — two orders of magnitude above the
    * fixtures' max df (25 of 5000 docs at sf0.1), so the oracled
    * results are untouched; a boilerplate shingle shared by the whole
    * corpus is exactly what it drops. */
  private[graft] val SkewDfCapFloor = 50L
  private def skewDfCap(nDocs: Long): Long = math.max(SkewDfCapFloor, nDocs / 10)

  /** Staged prefix-relation dirs, params (tau, cap). */
  private val prefixIndex = new StagedIndex[String]("prefix", Seq(_))

  /** The skew df cap for `dir`'s 3-gram index — the arrays row count
    * (docs with >=1 shingle) sizes it; a pure function of the staged
    * index state, memoized per corpus path (round 17). NOT
    * Tables.rowCount: empty docs shingle to nothing, so this count can
    * be below the documents row count. */
  private def defaultDfCap(spark: SparkSession, dir: String): Long =
    skewDfCap(gramRows.get(StagedCache.source(dir, "documents"), "arrays")(
      stagedShingleArrays(spark, dir).count()))

  /** The STAGED rarity-ordered prefix relation (doc_id, n, shingle,
    * pos): each doc's first n - ⌈lo·n⌉ + 1 shingles (lo =
    * [[pruneFloor]]) under the global (df, shingle) order, hyper-common
    * (df > cap) shingles dropped, `pos` = the shingle's 1-based rank in
    * the doc's FULL rarity order (the positional filter's input — round
    * 18). The candidate generator self-joins this relation and Spark
    * does not dedupe common subplans — unstaged, the freq shuffle AND
    * the rarity window would execute twice.
    *
    * The df cap applies AFTER the rarity positions are assigned:
    * rarest-first ordering puts hyper-common shingles at the TAIL of
    * each prefix, so dropping them never shifts a rare shingle out of
    * its slot — any pair sharing at least one sub-cap prefix shingle
    * is still found. A pair is lost only when its ONLY shared prefix
    * shingles are boilerplate-grade (df > 10% of the corpus): with
    * rarest-first prefixes that means essentially all the pair's
    * less-common shingles are disjoint, which pins its Jaccard far
    * below any useful τ — the verify stage would reject it anyway.
    * DedupSpec proves results unchanged on a fixture where every doc
    * shares a boilerplate header.
    *
    * Like the shingle arrays it derives from, the prefix relation is
    * MEMOIZED per (corpus, fingerprint, tau, cap): it is a pure
    * function of those keys, and the freq shuffle + rarity window are
    * q31's second-largest cost after the index build itself. */
  private[graft] def stagedPrefix(spark: SparkSession, dir: String,
      tau: Double, cap: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val arrays = stagedShingleArrays(spark, dir)
    val sh = shingleRows(arrays)
    val freq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy("doc_id")
      .orderBy(col("df"), col("shingle"))
    StagedCache.readStaged(spark,
      prefixIndex.get(StagedCache.source(dir, "documents"), (tau, cap)) {
        val t = graft.Scratch.dir("graft-prefix").resolve("p").toString
        sh.join(freq, "shingle")
          .withColumn("pos", row_number().over(byRarity))
          .filter(col("pos") <= col("n") - ceil(col("n") * pruneFloor(tau)) + 1 &&
            col("df") <= cap)
          .select("doc_id", "n", "shingle", "pos")
          .write.parquet(t)
        t
      })
  }

  /** Prefix-filtered candidate pairs (doc_a, doc_b) for [[q31NgramJaccard]].
    * `dfCap` = None → the relative [[skewDfCap]] default; Some(x) pins
    * it (DedupSpec uses Long.MaxValue to diff capped vs uncapped). */
  private[graft] def prefixCandidates(spark: SparkSession, dir: String,
      tau: Double, dfCap: Option[Long] = None): DataFrame = {
    val cap = dfCap.getOrElse(defaultDfCap(spark, dir))
    prefixCandidatesFrom(stagedPrefix(spark, dir, tau, cap), tau).distinct()
  }

  /** The raw (pre-dedup) candidate match rows off a prefix relation —
    * split out so callers can place the dedup's exchange deliberately.
    *
    * Three LOSSLESS prunes run inside the join condition, before any
    * row leaves it (every survivor is exactness-verified by
    * [[jaccardFor]], and the naive oracle proves the composition):
    *   - the AllPairs LENGTH filter: J(A,B) >= τ forces
    *     min(|A|,|B|) >= τ·max(|A|,|B|) (overlap can't exceed the
    *     smaller set);
    *   - the PPJoin POSITIONAL filter (round 18): a match row joining
    *     rank i of A to rank j of B can support at most
    *     1 + min(|A|-i, |B|-j) overlapping shingles, and J >= τ needs
    *     overlap >= τ·(|A|+|B|)/(1+τ). For a true pair, its globally
    *     FIRST shared shingle w is in both capped prefixes (any shared
    *     shingle ordered before w would be rarer-or-equal, hence
    *     uncapped and inside both prefixes — contradicting w first),
    *     and every other shared shingle orders after w in BOTH docs,
    *     so w's own match row satisfies the bound: true pairs always
    *     survive via at least that row. False fan-out rows — a
    *     boilerplate-grade shingle near the prefix tail is the classic
    *     case — die HERE instead of flooding the dedup and the
    *     verify's array joins. The 1e-9 slack makes float rounding
    *     err toward KEEPING a row, never pruning it.
    * Both filters, like the staged prefix, prune at [[pruneFloor]].
    */
  private[graft] def prefixCandidatesFrom(prefix: DataFrame,
      tau: Double): DataFrame = {
    val lo = pruneFloor(tau)
    prefix.as("a").join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id") &&
          least(col("a.n"), col("b.n")) >= ceil(greatest(col("a.n"), col("b.n")) * lo) &&
          (lit(1) + least(col("a.n") - col("a.pos"), col("b.n") - col("b.pos")))
            * (1.0 + lo) >= (col("a.n") + col("b.n")) * lo - 1e-9)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
  }

  /** The threshold every AllPairs/PPJoin prune uses: τ − 1e-4, not τ.
    * The final filter is round(J, 4) >= τ, which admits J down to
    * τ − 5e-5, so a prune at τ would lose those pairs. */
  private def pruneFloor(tau: Double): Double = tau - 1e-4

  val q31NgramJaccard: Q = (spark, dir) => {
    val tau = 0.5
    val arrays = stagedShingleArrays(spark, dir)
    // candidate dedup on a pinned-width exchange (Hints.spreadDedupPairs)
    // so the sorted-overlap verify runs at full parallelism — measured
    // 1.52 → 0.63 s at sf0.1 beside the positional filter (round 18)
    val cand = Hints.spreadDedupPairs(
      prefixCandidatesFrom(
        stagedPrefix(spark, dir, tau, defaultDfCap(spark, dir)), tau),
      Seq("doc_a", "doc_b"))
    jaccardFor(cand, arrays)
      .filter(col("jaccard") >= tau)
      .orderBy("doc_a", "doc_b")
  }

  // Shingles are 60-bit md5-hashes of the trigram — IDENTICAL
  // arithmetic to the Spark side's tokenHash (see shingles()).
  /** `sh` is consumed up to four times by every oracle built on this
    * prefix (candidate self-join both sides + intersection join both
    * sides) — MATERIALIZED (round 14) stops DuckDB re-inlining the
    * tokenize+unnest+md5+DISTINCT pipeline per consumer, which is
    * what pushed the q34/q117 recursive-reachability oracles past a
    * 256 MB cap (capwalk_r13: the only two fails at that cap; now
    * green). `tok` has one consumer and stays plain. */
  private lazy val oracleShingleCtes: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split_regex(LOWER(TRIM(text)), '\s+') AS t
      |  FROM documents),
      |sh AS MATERIALIZED (
      |  SELECT DISTINCT doc_id,
      |    ('0x' || substr(md5(t[i+1]||' '||t[i+2]||' '||t[i+3]), 1, 15))::BIGINT AS shingle
      |  FROM tok, UNNEST(range(GREATEST(LEN(t)-2, 0))) g(i)),
      |sizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)""".stripMargin

  val q31Oracle: String =
    oracleShingleCtes +
    """,
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
      |inter AS (
      |  SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
      |  FROM cand c
      |  JOIN sh x ON x.doc_id = c.doc_a
      |  JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
      |  GROUP BY 1, 2)
      |SELECT i.doc_a, i.doc_b, i.inter, sa.n AS n_a, sb.n AS n_b,
      |  ROUND(i.inter / (sa.n + sb.n - i.inter), 4) AS jaccard
      |FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
      |JOIN sizes sb ON sb.doc_id = i.doc_b
      |WHERE ROUND(i.inter / (sa.n + sb.n - i.inter), 4) >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  /** q32 — MinHash + LSH near-dup: 12 md5-based min-hashes per doc,
    * banded 4×3; candidates = pairs colliding in >= 1 band bucket;
    * confirmed by exact Jaccard >= 0.5 on candidates only. This is the
    * scale path: at 100 TB the band-bucket join touches ~|docs|×4 rows
    * instead of the shared-shingle join's shingle fan-out. The oracle
    * replays the *identical* deterministic LSH in DuckDB, so this is a
    * full hash-equality check, not a probabilistic one. */
  val q32MinHashLsh: Q = (spark, dir) => minHashConfirmedPairs(spark, dir)
    .select("doc_a", "doc_b", "inter", "n_a", "n_b", "jaccard")
    .orderBy("doc_a", "doc_b")

  /** The MinHash+LSH candidate → exact-Jaccard-confirm pipeline behind
    * q32 and q34 (unordered). */
  private def minHashConfirmedPairs(spark: SparkSession, dir: String): DataFrame = {
    val arrays = stagedShingleArrays(spark, dir)
    val sh = shingleRows(arrays)
    // 12 seeds per shingle → min per (doc, seed): the minhash
    // signature. Seed fan-out is a plain explode(sequence) followed by
    // codegen'd md5/concat — NOT a transform(…) lambda, which would be
    // an interpreted closure per (shingle × seed) (CodegenFallback;
    // 3.1M evals at sf0.1 — the bulk of round 1's q32 time).
    val mh = sh
      .select(col("doc_id"), col("shingle"),
        explode(expr("sequence(0, 11)")).as("seed"))
      .select(col("doc_id"), col("seed"),
        md5(concat(col("seed").cast("string"), lit(":"),
          col("shingle").cast("string"))).as("h"))
      .groupBy("doc_id", "seed")
      .agg(min(col("h")).as("mh"))
    // 4 bands of 3 rows; band hash = md5 of the 3 minhashes in seed order.
    val bands = mh
      .groupBy(col("doc_id"), expr("seed div 3").as("band"))
      .agg(md5(concat(
        max(when(col("seed") % 3 === 0, col("mh"))),
        max(when(col("seed") % 3 === 1, col("mh"))),
        max(when(col("seed") % 3 === 2, col("mh"))))).as("bh"))
    // plain distinct, NOT spreadDedupPairs (round 18, measured): an
    // identical band signature means near-identical docs, so this
    // candidate set is just the true-dup pairs — a few thousand rows
    // at sf0.1 — and pinning 32 partitions through the verify cost
    // +0.28 s over letting AQE run the tiny verify narrow
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    jaccardFor(cand, arrays)
      .filter(col("jaccard") >= 0.5)
  }

  val q32Oracle: String =
    "WITH RECURSIVE " + oracleCandCtes +
    """,
      |jac AS MATERIALIZED (
      |  SELECT doc_a, doc_b, inter, n_a, n_b,
      |    ROUND(inter / (n_a + n_b - inter), 4) AS jaccard
      |  FROM (SELECT c.doc_a, c.doc_b,
      |          LEN(list_intersect(sm.m[c.doc_a][1], sm.m[c.doc_b][1])) AS inter,
      |          LEN(sm.m[c.doc_a][1]) AS n_a, LEN(sm.m[c.doc_b][1]) AS n_b
      |        FROM cand c, shmap sm))
      |SELECT doc_a, doc_b, inter, n_a, n_b, jaccard FROM jac
      |WHERE jaccard >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  /** 60-bit token hash: first 15 hex chars of md5 → bigint. Identical
    * arithmetic exists in DuckDB (('0x'||substr(md5(t),1,15))::BIGINT),
    * so the whole SimHash pipeline is oracle-checkable. */
  private def tokenHash(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** q33 — SimHash near-dup: 60-bit fingerprint per doc (sign of the
    * per-bit sum of ±1 token-hash bits), candidates via the pigeonhole
    * trick — hamming <= 3 implies >= 1 of 4 15-bit chunks equal — then
    * exact hamming filter. Chunk-equality join keys scale like LSH
    * bands; no all-pairs pass.
    *
    * Fingerprint stage: ONE groupBy(doc_id) through the native
    * [[graft.functions.SimHashAgg]] TypedImperativeAggregate — the
    * whole per-doc state is a single long[61] buffer (count + per-bit
    * popcounts) updated in a tight JIT'd loop, and the doc_id shuffle
    * moves one 488-byte partial state per (doc × map partition).
    * Round 1 exploded every token into 60 (doc, bit, ±1) rows and
    * shuffled them — a 60× row blowup (586 s of the driver bench);
    * round 2 used 61 declarative SUM columns — correct, but 61
    * agg-buffer slots per update plus a 60-term reassembly projection.
    * Per-bit vote v = 2·popcount_j − n, so bit j is set iff
    * 2·sum((h>>j)&1) > n. The oracle keeps the ±1-vote formulation —
    * algebraically identical. */
  val q33SimHash: Q = (spark, dir) => {
    graft.functions.GraftFunctions.register(spark)
    val docs = Tables.load(spark, dir, "documents")
    val toks = docs
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
      .select(col("doc_id"), tokenHash(col("tok")).as("h"))
    val fp = toks
      .groupBy("doc_id")
      .agg(expr("graft_simhash_agg(h)").as("simhash"))
    val chunks = fp.select(col("doc_id"), col("simhash"),
        explode(expr("sequence(0, 3)")).as("k"))
      .withColumn("c", expr("(simhash >> (k * 15)) & 32767"))
    val cand = chunks.as("a").join(chunks.as("b"),
        col("a.k") === col("b.k") && col("a.c") === col("b.c") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("a.simhash").as("sh_a"),
        col("b.doc_id").as("doc_b"), col("b.simhash").as("sh_b"))
      .distinct()
    cand
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(sh_a ^ sh_b)").as("hamming"))
      .filter(col("hamming") <= 3)
      .orderBy("doc_a", "doc_b")
  }

  val q33Oracle: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
      |  FROM (SELECT doc_id,
      |          UNNEST(string_split_regex(LOWER(TRIM(text)), '\s+')) AS tok
      |        FROM documents)),
      |votes AS (
      |  SELECT doc_id, j,
      |    SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
      |  FROM toks, UNNEST(range(60)) g(j) GROUP BY doc_id, j),
      |fp AS (
      |  SELECT doc_id,
      |    SUM(CASE WHEN v > 0 THEN (1::BIGINT << j) ELSE 0 END) AS simhash
      |  FROM votes GROUP BY doc_id),
      |chunks AS (
      |  SELECT doc_id, simhash, k, (simhash >> (k * 15)) & 32767 AS c
      |  FROM fp, UNNEST(range(4)) g(k)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sh_a,
      |                  b.doc_id AS doc_b, b.simhash AS sh_b
      |  FROM chunks a JOIN chunks b
      |    ON a.k = b.k AND a.c = b.c AND a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b, bit_count(xor(sh_a, sh_b)) AS hamming
      |FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
      |ORDER BY doc_a, doc_b""".stripMargin

  /** q34 — dedup CLUSTER resolution: the step a real pipeline runs
    * after pair generation. Near-dup relations are not transitive-
    * closed (A~B, B~C but A≁C), so keeping "one of each pair" is
    * ill-defined; the standard resolution is connected components over
    * the pair graph — one cluster per component, keeper = the minimum
    * doc_id. Emits one row per clustered doc: (doc_id, cluster_id,
    * is_keeper).
    *
    * Algorithm: min-label propagation WITH pointer doubling. Per
    * round: l1(v) = min(label(v), min over neighbors' labels) — one
    * shuffle join of the edge list against the label table — then the
    * shortcut hop l2(v) = label(l1(v)) via a self-join of the label
    * table, taking the min. Plain propagation needs diameter rounds,
    * and near-dup corpora form long CHAINS (doc i ~ doc i+1 ~ …):
    * measured non-convergence in 20 rounds at sf0.1. The shortcut
    * halves representative paths each round → O(log diameter) rounds
    * for any graph. Labels are staged to parquet every round (the
    * fixpoint test needs an action anyway), so plan lineage stays flat
    * and each round's joins see real size stats. The driver only ever
    * receives the changed-count scalar — cluster-legal at any scale.
    * Oracle: DuckDB recursive CTE computes min-reachable-id per node
    * over the identical confirmed-pair graph. */
  /** The converged cluster-label relation (id, label) STAGED and
    * MEMOIZED per corpus fingerprint like the shingle and ANN
    * indexes (round 11): cluster resolution is an index a pipeline
    * builds once and consults many times — q34 serves the labels,
    * q117 joins them against quality. */
  private val clusterIndex = new StagedIndex[String]("cc-labels", Seq(_))

  private[graft] def stagedClusterLabels(spark: SparkSession,
      dir: String): DataFrame =
    StagedCache.readStaged(spark, clusterIndex.get(
      StagedCache.source(dir, "documents"))(buildClusterLabels(spark, dir)))

  /** Pointer-doubling label propagation over the confirmed-pair graph
    * (the q34 loop); returns the staged dir of the converged (id,
    * label) relation. */
  private def buildClusterLabels(spark: SparkSession, dir: String): String =
    propagateMinLabels(spark,
      minHashConfirmedPairs(spark, dir).select(col("doc_a"), col("doc_b")),
      "cc")

  /** The generic min-label pointer-doubling kernel behind q34's text
    * clusters and q140/q141's semantic clusters: takes ANY undirected
    * pair relation (two id columns), returns the staged dir of the
    * converged (id, label) relation — label = min reachable id. The
    * loop's scale contract is documented on [[stagedClusterLabels]];
    * `tag` keeps concurrent builders' scratch dirs disjoint. The
    * input's lineage executes exactly ONCE: it is staged to parquet
    * before the symmetrize-union (round-14 review — the former
    * `pairs.union(pairs.select(b, a))` ran the caller's whole
    * pair-confirm pipeline twice in the edge-write job, since Spark
    * does not dedupe common subplans). An EMPTY pair relation is
    * tolerated — the staged write keeps its schema and the loop
    * converges to an empty label relation (DegenerateDocsSpec pins a
    * zero-pair corpus end-to-end through q140). */
  /** `alreadyStaged`: the caller guarantees `pairs0` is a plain scan
    * of an already-materialized relation (e.g. it just wrote it to
    * scratch parquet), so the kernel's own staging pass — which exists
    * to run a LIVE pair-confirm pipeline exactly once — would only
    * re-copy bytes; skipped (round 17, measured 0.11-0.15 s of pure
    * overhead per q141/streaming absorb). */
  private[graft] def propagateMinLabels(spark: SparkSession,
      pairs0: DataFrame, tag: String,
      alreadyStaged: Boolean = false): String = {
    require(pairs0.columns.length == 2,
      s"pair relation must be 2 columns, got ${pairs0.columns.mkString(", ")}")
    // schemas of every staged relation in this kernel are KNOWN at
    // write time — provide them on the read-backs so the reader never
    // re-infers from footers on the driver (one inference per round
    // otherwise; round 17)
    val pairsSchema = pairs0.toDF("doc_a", "doc_b").schema
    val pairs =
      if (alreadyStaged) pairs0.toDF("doc_a", "doc_b")
      else {
        val pairsDir = graft.Scratch.dir(s"graft-$tag-pairs")
          .resolve("p").toString
        pairs0.toDF("doc_a", "doc_b").write.parquet(pairsDir)
        spark.read.schema(pairsSchema).parquet(pairsDir)
      }
    // the symmetrized edge view stays UNMATERIALIZED: each per-round
    // reference plans as two scans of the staged pairs file — the same
    // bytes per round as scanning a staged 2x-size edges file, minus
    // the up-front write of those 2x bytes (round 17; the round-14
    // staging lesson only required the LIVE pair pipeline to run once,
    // which the pairs staging above already guarantees)
    val edges = pairs.union(pairs.select(col("doc_b"), col("doc_a")))
      .toDF("src", "dst")
    var labelsDir = graft.Scratch.dir(s"graft-$tag-l0").resolve("l").toString
    // SEED = one hop, not the identity: label(v) = min(v, min nbr) —
    // the same one-shuffle class as the old distinct(src) seed (both
    // hash-agg on src), but the loop starts one propagation step
    // ahead, which at log-diameter round counts is a whole staged
    // round saved (round 17; labels stay node ids, so the
    // pointer-doubling self-join below is unchanged)
    edges.groupBy(col("src")).agg(min(col("dst")).as("mn"))
      .select(col("src").as("id"),
        least(col("src"), col("mn")).as("label"))
      .write.parquet(labelsDir)
    val idType = pairsSchema.head.dataType
    val labelsSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType),
      org.apache.spark.sql.types.StructField("label", idType)))
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < 20) {
      // staged schema: (id, [prev_label,] label) — `label` is always
      // the CURRENT value (the first round's seed file has no prev);
      // the explicit 2-column read schema IS the projection (parquet
      // clips the round files' prev_label away at the scan)
      val labels = spark.read.schema(labelsSchema).parquet(labelsDir)
      val nbrMin = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(edges("src")).agg(min(col("label")).as("nbr_label"))
      val l1 = labels.join(nbrMin, labels("id") === nbrMin("src"), "left")
        .select(col("id"), col("label"),
          least(col("label"), coalesce(col("nbr_label"), col("label")))
            .as("l1"))
      // pointer doubling: jump to the current label OF the candidate
      // representative (labels are node ids, so this is a self-join)
      val next = l1.join(labels.select(col("id").as("rep_id"),
            col("label").as("rep_label")),
          l1("l1") === col("rep_id"), "left")
        .select(col("id"), col("label").as("prev_label"),
          least(col("l1"), coalesce(col("rep_label"), col("l1")))
            .as("label"))
      val nextDir = graft.Scratch.dir(s"graft-$tag-l${iter + 1}")
        .resolve("l").toString
      // the convergence scalar rides the WRITE job as an observed
      // metric — the former separate count() job re-read the (tiny)
      // staged file and paid one full job of fixed overhead per round
      // (round 17: 0.06-0.12 s each at fixture scale)
      val obs = org.apache.spark.sql.Observation(s"cc-$tag-$iter")
      next.observe(obs, org.apache.spark.sql.functions.sum(
          when(col("label") < col("prev_label"), 1L).otherwise(0L))
        .as("changed"))
        .write.parquet(nextDir)
      // BOUNDED wait (round-17 ADVICE): `Observation.get` blocks
      // forever, so a dropped observed-metrics event (the listener bus
      // sheds under load) would hang the loop — a failure mode the old
      // count() job could not produce. The write above is synchronous,
      // so the event is either in flight (ms) or lost; wait briefly on
      // the observation's future, then fall back to the old count over
      // the just-written round file — same scalar, one extra job.
      changed = StagedCache.observedScalar(obs).getOrElse {
        val roundSchema = org.apache.spark.sql.types.StructType(
          labelsSchema :+ org.apache.spark.sql.types.StructField(
            "prev_label", idType))
        spark.read.schema(roundSchema).parquet(nextDir)
          .filter(col("label") < col("prev_label")).count()
      }
      labelsDir = nextDir
      iter += 1
    }
    // no silent caps: a component with diameter > 2^20 would otherwise
    // ship un-converged labels as if they were clusters
    require(changed == 0,
      s"dedup-cluster label propagation not converged after $iter rounds")
    labelsDir
  }

  val q34DedupClusters: Q = (spark, dir) =>
    stagedClusterLabels(spark, dir)
      .select(col("id").as("doc_id"), col("label").as("cluster_id"),
        (col("id") === col("label")).as("is_keeper"))
      .orderBy("doc_id")

  /** Shared LSH → exact-Jaccard → recursive-reachability oracle
    * prefix (q34, q117, q137): the full q32 candidate pipeline, the
    * confirmed-pair edge list, transitive reachability, and the
    * resolved `clusters(doc_id, cluster_id)` relation (cluster = min
    * reachable doc_id). Callers prepend "WITH RECURSIVE ".
    *
    * LIST-BASED
    * (round 15): per-doc shingle/minhash/band LISTS (list_transform /
    * list_distinct / list_intersect) replace the explode+DISTINCT+
    * GROUP BY pipeline, and the band/pair joins run against one-row
    * map relations — same md5 arithmetic, bit-identical clusters
    * (replayed old-vs-new at sf0.01), but a fraction of the plan's
    * hash operators. DuckDB reserves a fixed memory floor PER hash
    * operator at plan init (~3 MB each, measured: 20 trivial joins
    * OOM a 64 MB cap on 1000-row tables), so the deep composed
    * oracles were floor-bound, not data-bound — this prefix moves
    * q34/q117/q137 from a 96 MB floor to under 48 MB (capwalk). */
  /** t → shingle lists → minhash bands → band-bucket candidates →
    * the one-row shingle map (q32's surface; also the front half of
    * the clustering prefix below).
    *
    * Candidate generation is OUTPUT-BOUND (round-15 ADVICE): band
    * keys unnest into (doc_id, key) rows and equi-join on the key —
    * one hash join + one DISTINCT (~2 hash operators, ~6 MB of the
    * 64 MB per-operator floor budget) instead of the previous
    * O(n²)-in-doc-count cross join with a per-pair list_intersect,
    * which was memory-flat at sf0.01 but a runtime cliff if the
    * checker ever walks these oracles at sf0.1+. Replayed old-vs-new
    * at sf0.01: identical candidate pairs (the DISTINCT collapses
    * multi-band collisions exactly as LEN(intersect)>0 did). */
  private lazy val oracleCandCtes: String =
    """t AS MATERIALIZED (
      |  SELECT doc_id, source, lang, text,
      |    string_split_regex(LOWER(TRIM(text)), '\s+') AS tk
      |  FROM documents),
      |sh AS MATERIALIZED (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(GREATEST(LEN(tk)-2, 0)),
      |      i -> ('0x' || substr(md5(tk[i+1]||' '||tk[i+2]||' '||tk[i+3]), 1, 15))::BIGINT))
      |      AS shingles
      |  FROM t),
      |mh AS MATERIALIZED (
      |  SELECT doc_id,
      |    list_transform(range(4), b ->
      |      md5(ml[b*3+1] || ml[b*3+2] || ml[b*3+3])) AS bands
      |  FROM (SELECT doc_id,
      |          list_transform(range(12), s ->
      |            list_min(list_transform(shingles, g ->
      |              md5(s::VARCHAR || ':' || g::VARCHAR)))) AS ml
      |        FROM sh)),
      |bkeys AS MATERIALIZED (
      |  SELECT doc_id,
      |    list_filter(list_transform(range(4),
      |      b -> b::VARCHAR || ':' || bands[b+1]), x -> x IS NOT NULL) AS bk
      |  FROM mh),
      |bk_rows AS MATERIALIZED (
      |  SELECT doc_id, UNNEST(bk) AS k FROM bkeys),
      |cand AS MATERIALIZED (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bk_rows a JOIN bk_rows b ON a.k = b.k
      |  WHERE a.doc_id < b.doc_id),
      |shmap AS MATERIALIZED (
      |  SELECT map_from_entries(list({'k': doc_id, 'v': shingles})) AS m FROM sh)""".stripMargin

  private lazy val oracleClusterCtes: String =
    oracleCandCtes +
    """,
      |pairs AS MATERIALIZED (
      |  SELECT doc_a, doc_b
      |  FROM (SELECT c.doc_a, c.doc_b,
      |          LEN(list_intersect(sm.m[c.doc_a][1], sm.m[c.doc_b][1])) AS inter,
      |          LEN(sm.m[c.doc_a][1]) AS na, LEN(sm.m[c.doc_b][1]) AS nb
      |        FROM cand c, shmap sm)
      |  WHERE ROUND(inter / (na + nb - inter), 4) >= 0.5),
      |edges AS MATERIALIZED (
      |  SELECT doc_a AS src, doc_b AS dst FROM pairs
      |  UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      |clusters AS MATERIALIZED (
      |  SELECT n.src AS doc_id, LEAST(n.src, MIN(r.dst)) AS cluster_id
      |  FROM (SELECT DISTINCT src FROM edges) n
      |  JOIN reach r ON r.src = n.src
      |  GROUP BY n.src)""".stripMargin

  /** Recursive reachability over the confirmed-pair graph; a node's
    * cluster = min doc_id it can reach (including itself). */
  val q34Oracle: String =
    "WITH RECURSIVE " + oracleClusterCtes +
    """
      |SELECT doc_id, cluster_id, doc_id = cluster_id AS is_keeper
      |FROM clusters ORDER BY doc_id""".stripMargin

  /** Near-dup pairs TOUCHING a new batch, given the full array
    * relation (`arrays` = corpus index ∪ batch, or a refreshed index
    * that already contains the batch) and the batch's own arrays.
    * This is the incremental-dedup kernel, and it is ONE narrow pass
    * over `arrays`: no shuffle, no join, no corpus-sized broadcast.
    *
    *   - Driver: collect the batch (batch-sized, never corpus-sized;
    *     refused with a [[BatchTooLargeException]] when the optimizer's
    *     size estimate passes `capBytes`, the [[Hints.broadcastIfSmall]]
    *     rule) into a [[BatchPrefixIndex]] — each batch doc's AllPairs
    *     prefix, shingle → (batch slot, pos) — and broadcast it.
    *   - Executors: one typed `mapPartitions` over `arrays`. Each row
    *     walks its own prefix against the index, prunes each hit, and
    *     verifies a surviving (row, batch doc) pair at once with the
    *     [[graft.functions.SortedOverlap.merge]] two-pointer merge on
    *     the two arrays it already holds. A per-row bit set emits each
    *     pair once, and a batch-doc row pairs only with larger batch
    *     ids, so a within-batch pair is emitted once too: no distinct.
    *
    * Three LOSSLESS prunes, the q31 set ([[prefixCandidatesFrom]])
    * under a different global order:
    *   - the AllPairs PREFIX filter: each side probes only the first
    *     n - ⌈lo·n⌉ + 1 shingles of its array. The order is the shingle
    *     HASH order — the shingler already emits ascending arrays, so
    *     the order is global, fixed as the corpus grows, and needs no
    *     df statistic (q31's rarity order would need a corpus-wide
    *     freq pass per batch). Any pair with J >= τ shares its first
    *     common shingle inside both prefixes;
    *   - the AllPairs LENGTH filter: min(|A|,|B|) >= lo·max(|A|,|B|);
    *   - the PPJoin POSITIONAL filter: a match at 0-based slot p of A
    *     and q of B supports at most min(|A|-p, |B|-q) overlapping
    *     shingles, and J >= τ needs overlap >= lo·(|A|+|B|)/(1+lo); the
    *     first common shingle's own hit always meets it.
    * All three prune at `lo` = [[pruneFloor]] = τ - 1e-4, not τ: the
    * final filter is round(J, 4) >= τ, which admits J down to
    * τ - 5e-5, and every float comparison errs toward KEEPING a pair.
    * The same floor gates a double-only prefilter ahead of `round`,
    * which goes through BigDecimal per row and so only runs for the
    * few pairs that nearly pass. At production scale a
    * boilerplate-grade shingle shared by many batch docs would fan a
    * row out by that count — q31's skew territory, and the same df cap
    * composes (leave capped shingles out of the index); the oracled
    * query keeps the exact uncapped form. */
  private[graft] def incrementalNearDupsFrom(arrays: DataFrame,
      newArrays: DataFrame, tau: Double,
      capBytes: Long = Hints.BroadcastCap): DataFrame =
    nearDupsOfBatch(arrays, collectBatch(newArrays, capBytes), tau)

  /** The batch's (doc_id, n, sarr) rows on the driver, refused with a
    * [[BatchTooLargeException]] when `newArrays`'s optimizer size
    * estimate passes `capBytes`. */
  private[graft] def collectBatch(newArrays: DataFrame,
      capBytes: Long): Array[(Long, Int, Array[Long])] = {
    val est = newArrays.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est > BigInt(capBytes)) throw new BatchTooLargeException(est, capBytes)
    arrayRows(newArrays).collect()
  }

  /** An array relation's (doc_id, n, sarr) rows, typed. */
  private def arrayRows(a: DataFrame): Dataset[(Long, Int, Array[Long])] = {
    import a.sparkSession.implicits._
    a.select("doc_id", "n", "sarr").as[(Long, Int, Array[Long])]
  }

  /** [[incrementalNearDupsFrom]]'s pass over `arrays` for a batch already
    * collected by [[collectBatch]]. */
  private[graft] def nearDupsOfBatch(arrays: DataFrame,
      batch: Array[(Long, Int, Array[Long])], tau: Double): DataFrame = {
    val spark = arrays.sparkSession
    import spark.implicits._
    val lo = pruneFloor(tau)
    val index = spark.sparkContext.broadcast(new BatchPrefixIndex(batch, lo))
    // an empty batch prunes the corpus scan away
    arrayRows(arrays.filter(lit(batch.nonEmpty)))
      .mapPartitions { rows =>
        val ix = index.value
        rows.flatMap { case (id, n, sarr) => ix.probe(id, n, sarr) }
      }
      .toDF("doc_a", "doc_b", "inter", "n_a", "n_b")
      .select(col("doc_a"), col("doc_b"), col("inter"), col("n_a"), col("n_b"),
        round(col("inter") / (col("n_a") + col("n_b") - col("inter")), 4)
          .as("jaccard"))
      .filter(col("inter") / (col("n_a") + col("n_b") - col("inter")) >= lo)
      .filter(col("jaccard") >= tau)
  }

  /** q75 — INCREMENTAL dedup: near-dups of an appended batch against
    * the existing corpus index, without re-processing the corpus. The
    * batch is a deterministic derivation (every 17th doc re-keyed
    * +1,000,000 with two suffix tokens — replayable by the oracle);
    * its shingles are computed inline (narrow, no staging) while the
    * corpus side reads the MEMOIZED staged index shared with
    * q31/q32/q34 — the build-once-query-many shape of a production
    * append workflow ([[refreshShingleIndex]] extends that same index
    * in place when the batch is durably appended; DedupSpec proves the
    * refreshed path equals a full q31 recompute restricted to pairs
    * touching the batch, with the original staged files untouched).
    * Output matches q31's schema: one row per (doc_a, doc_b) with
    * J >= 0.5 where at least one side is new. */
  val q75IncrementalDedup: Q = (spark, dir) => {
    val tau = 0.5
    val newDocs = Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % 17 === 3)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" zz9 qq8")).as("text"))
    val newArrays = shingleArrays(newDocs, spread = false)
    val corpus = stagedShingleArrays(spark, dir)
    incrementalNearDupsFrom(corpus.unionByName(newArrays), newArrays, tau)
      .orderBy("doc_a", "doc_b")
  }

  /** Naive exact Jaccard over corpus ∪ derived batch, restricted to
    * pairs touching the batch — proves the incremental kernel's
    * prefix, length and positional prunes lossless.
    *
    * Staged AS MATERIALIZED (round 14): the shingle relation `o75_sh`
    * is consumed FOUR times (both sides of the candidate self-join,
    * both sides of the intersection join) — the plain-CTE form let
    * DuckDB re-inline the tokenize+unnest+md5 pipeline per consumer
    * and OOM'd the round-13 driver checker; materializing computes it
    * once, and the batch-side candidate list is pre-narrowed into its
    * own small stage so the self-join probes |batch| shingles, not
    * the corpus². Replayed vs the plain form at sf0.01: identical
    * rows; 256 MB capwalk green. */
  val q75Oracle: String =
    """WITH o75_alldocs AS MATERIALIZED (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text || ' zz9 qq8' AS text
      |  FROM documents WHERE doc_id % 17 = 3),
      |o75_sh AS MATERIALIZED (
      |  SELECT DISTINCT doc_id,
      |    ('0x' || substr(md5(t[i+1]||' '||t[i+2]||' '||t[i+3]), 1, 15))::BIGINT AS shingle
      |  FROM (SELECT doc_id, string_split_regex(LOWER(TRIM(text)), '\s+') AS t
      |        FROM o75_alldocs),
      |       UNNEST(range(GREATEST(LEN(t)-2, 0))) g(i)),
      |o75_batch_sh AS MATERIALIZED (
      |  SELECT doc_id, shingle FROM o75_sh WHERE doc_id >= 1000000),
      |o75_sizes AS MATERIALIZED (
      |  SELECT doc_id, COUNT(*) AS n FROM o75_sh GROUP BY doc_id),
      |o75_cand AS MATERIALIZED (
      |  SELECT DISTINCT LEAST(a.doc_id, b.doc_id) AS doc_a,
      |    GREATEST(a.doc_id, b.doc_id) AS doc_b
      |  FROM o75_batch_sh a JOIN o75_sh b
      |    ON a.shingle = b.shingle AND a.doc_id <> b.doc_id),
      |o75_inter AS MATERIALIZED (
      |  SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
      |  FROM o75_cand c
      |  JOIN o75_sh x ON x.doc_id = c.doc_a
      |  JOIN o75_sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
      |  GROUP BY 1, 2)
      |SELECT i.doc_a, i.doc_b, i.inter, sa.n AS n_a, sb.n AS n_b,
      |  ROUND(i.inter / (sa.n + sb.n - i.inter), 4) AS jaccard
      |FROM o75_inter i JOIN o75_sizes sa ON sa.doc_id = i.doc_a
      |JOIN o75_sizes sb ON sb.doc_id = i.doc_b
      |WHERE ROUND(i.inter / (sa.n + sb.n - i.inter), 4) >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  /** q36 — benchmark DECONTAMINATION: the check a training pipeline
    * runs before any eval is trustworthy — which training documents
    * overlap the held-out set? Eval corpus = one source stratum
    * (`src5`); a train doc is contaminated if it shares >= 1 word
    * 5-GRAM with the eval union. 5-grams, not the dedup trigrams: the
    * contamination signal must be specific enough that base-rate
    * collisions stay near zero as the corpus grows (trigram space is
    * small enough that at sf0.1 over half the corpus would flag; the
    * 5-gram space keeps random overlap <<1 hit/doc, so what flags is
    * genuinely shared phrasing — the same reason production systems
    * match on long n-grams).
    *
    * Shape at 100 TB: the 5-gram relation is staged once (window +
    * hash, same codegen'd pipeline as the dedup shingles) and consumed
    * three times (eval union, train sizes, hit join); the eval side of
    * the join is the distinct shingle union of the HELD-OUT set —
    * benchmarks are tiny relative to training corpora, so it is
    * broadcast and the train side never shuffles. Per-doc hit counts
    * come off one hash agg. */
  /** q36's gram relation carries `source` beside each shingle (the
    * eval/train split key a plain array index lacks), so it stages its
    * own shape as its own [[StagedIndex]]: repeated q36 invocations do
    * no gram write, exactly like the shingle/k-means/SQ8 indexes
    * (DedupSpec pins it). */
  private val deconGramIndex = new StagedIndex[String]("decon-grams", Seq(_))

  private def stagedDeconGrams(spark: SparkSession, dir: String): DataFrame =
    StagedCache.readStaged(spark,
      deconGramIndex.get(StagedCache.source(dir, "documents")) {
        graft.functions.GraftFunctions.register(spark)
        val t = graft.Scratch.dir("graft-decon").resolve("g").toString
        // native 5-gram shingler (already distinct per doc) exploded to
        // rows — one narrow generator off the scan, no window shuffle;
        // repartition for build parallelism (feeds a staged write, so
        // the round-1 "repartition starves AQE" regression doesn't apply)
        Tables.load(spark, dir, "documents")
          .repartition(spark.sparkContext.defaultParallelism)
          .select(col("doc_id"), col("source"),
            explode(expr("graft_shingles(text, 5)")).as("shingle"))
          .write.parquet(t)
        t
      })

  val q36Decontamination: Q = (spark, dir) => {
    val evalSrc = "src5"
    // Memoized staged gram index: three consumers below, and Spark
    // does not dedupe common subplans — unstaged, the shingle
    // pipeline would execute three times per run AND once per q36
    // invocation.
    val g = stagedDeconGrams(spark, dir)
    val ev = g.filter(col("source") === evalSrc).select("shingle").distinct()
    val train = g.filter(col("source") =!= evalSrc)
    val sizes = train.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val hits = train.join(broadcast(ev), "shingle")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    hits.join(sizes, "doc_id")
      .select(col("doc_id"), col("n_hits"), col("n_shingles"),
        round(col("n_hits") / col("n_shingles"), 4).as("contamination"))
      .orderBy("doc_id")
  }

  val q36Oracle: String =
    """WITH tok AS (
      |  SELECT doc_id, source, string_split_regex(LOWER(TRIM(text)), '\s+') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, source,
      |    ('0x' || substr(md5(t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]||' '||t[i+5]), 1, 15))::BIGINT AS shingle
      |  FROM tok, UNNEST(range(GREATEST(LEN(t)-4, 0))) g(i)),
      |ev AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src5'),
      |sizes AS (
      |  SELECT doc_id, COUNT(*) AS n_shingles FROM sh
      |  WHERE source <> 'src5' GROUP BY 1),
      |hits AS (
      |  SELECT s.doc_id, COUNT(*) AS n_hits
      |  FROM sh s JOIN ev ON s.shingle = ev.shingle
      |  WHERE s.source <> 'src5' GROUP BY 1)
      |SELECT h.doc_id, h.n_hits, z.n_shingles,
      |  ROUND(h.n_hits / z.n_shingles, 4) AS contamination
      |FROM hits h JOIN sizes z ON z.doc_id = h.doc_id
      |ORDER BY h.doc_id""".stripMargin

  /** q122 — BLOOM-PRUNED decontamination ([EXT], round 11): q36's
    * semantics (which training docs share a 5-gram with a held-out
    * eval set — here `src7`) behind a BLOOM PREFILTER, the shape that
    * survives when the eval set itself is too large to broadcast as a
    * distinct-gram relation: the eval grams fold into an m-bit bitset
    * via the native `graft_bloom_agg` (k=7 probes; partial states
    * OR-merge, so the agg map-combines like any other), the train side
    * probes the BROADCAST bitset with the codegen'd
    * `graft_bloom_contains` (a fixed-size byte[] — ~8 KB here, 2 MB at
    * m=2^24 — instead of a gram table), and only the surviving
    * candidates reach the exact confirm join. No false negatives by
    * construction, false positives die in the confirm, so the COMPOSED
    * operator is exact — the oracle is the plain exact SQL and never
    * needs to model the filter. m auto-scales with the eval set
    * (16 bits/gram, clamped to [2^16, 2^27] — ~0.04% FPR at design
    * load, the q42/q45 corpus-scaled-parameter lesson), sized by one
    * bounded driver count of the eval gram ROWS (an upper bound of
    * the distinct grams — overshoot only widens m, never changes the
    * exact result).
    *
    * Shape at 100 TB: the train side stays a narrow scan → probe →
    * confirm pipeline with NO shuffle before the per-doc hit agg; the
    * broadcast is O(m) bits regardless of eval cardinality; the
    * confirm join's right side is the eval distinct grams — only
    * needed for the (tiny) candidate stream. */
  val q122BloomDecontam: Q = (spark, dir) => {
    graft.functions.GraftFunctions.register(spark)
    val evalSrc = "src7"
    val g = stagedDeconGrams(spark, dir)
    val ev = g.filter(col("source") === evalSrc).select("shingle").distinct()
    // one bounded driver scalar sizes the filter: the RAW eval gram
    // row count (per-doc-distinct rows; >= the cross-doc distinct
    // count) — an upper bound is all the sizing needs, since m only
    // rounds UP to the next power of two and a wider filter only
    // lowers the FPR; the former exact-distinct count paid a full
    // shuffle per invocation just to size a perf knob (round 17), and
    // the raw count is itself a pure function of the staged gram index
    // state — memoized, so serving q122 pays no count job either
    // (round 18)
    val nEv = gramRows.get(StagedCache.source(dir, "documents"),
      ("decon", evalSrc))(g.filter(col("source") === evalSrc).count())
    val mBits = {
      val want = 16L * math.max(nEv, 1L)
      var m = 1L << 16
      while (m < want && m < (1L << 27)) m <<= 1
      m.toInt
    }
    // the bloom builds straight off the per-doc-distinct gram rows —
    // inserts are idempotent (duplicate grams set the same bits), so
    // the bitset is identical to the distinct-fed one minus that
    // build's dedup shuffle (round 18); the exact-confirm join below
    // still consumes the DISTINCT relation (duplicate eval rows there
    // would double-count hits)
    val bloom = g.filter(col("source") === evalSrc)
      .agg(expr(s"graft_bloom_agg(shingle, $mBits, 7)").as("bloom"))
    val train = g.filter(col("source") =!= evalSrc)
    val candidates = train.crossJoin(broadcast(bloom))
      .filter(expr("graft_bloom_contains(bloom, shingle, 7)"))
      .drop("bloom")
    val hits = candidates.join(broadcast(ev), "shingle")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    val sizes = train.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    hits.join(sizes, "doc_id")
      .select(col("doc_id"), col("n_hits"), col("n_shingles"),
        round(col("n_hits") / col("n_shingles"), 4).as("contamination"))
      .orderBy("doc_id")
  }

  val q122Oracle: String =
    """WITH tok AS (
      |  SELECT doc_id, source, string_split_regex(LOWER(TRIM(text)), '\s+') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, source,
      |    ('0x' || substr(md5(t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]||' '||t[i+5]), 1, 15))::BIGINT AS shingle
      |  FROM tok, UNNEST(range(GREATEST(LEN(t)-4, 0))) g(i)),
      |ev AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src7'),
      |sizes AS (
      |  SELECT doc_id, COUNT(*) AS n_shingles FROM sh
      |  WHERE source <> 'src7' GROUP BY 1),
      |hits AS (
      |  SELECT s.doc_id, COUNT(*) AS n_hits
      |  FROM sh s JOIN ev ON s.shingle = ev.shingle
      |  WHERE s.source <> 'src7' GROUP BY 1)
      |SELECT h.doc_id, h.n_hits, z.n_shingles,
      |  ROUND(h.n_hits / z.n_shingles, 4) AS contamination
      |FROM hits h JOIN sizes z ON z.doc_id = h.doc_id
      |ORDER BY h.doc_id""".stripMargin

  /** q115 — EDIT-DISTANCE near-dup ([EXT], round 11): the fifth
    * candidate-generation family beside shingle-Jaccard (q31),
    * MinHash (q32), SimHash (q33) and embedding cells (q43) —
    * classic record-linkage BLOCKING + a bounded Levenshtein
    * confirm. Blocking key = the normalized text's first 16 chars
    * (an equi-join bucket: candidates must share it — the standard
    * prefix-block; mutations past the head still match, head
    * mutations are the other families' job). Guards that keep it
    * linear at 100 TB: (a) candidate pairs only within a bucket —
    * never all-pairs; (b) a DEGENERATE-BUCKET cap: buckets over
    * 4096 members (boilerplate prefixes — the classic blocking
    * failure mode) are excluded from pairing entirely rather than
    * silently exploding the join (the cap is part of the declared
    * semantics and the oracle replays it); (c) a length-band prune
    * (|len diff| > 64 can't be within distance 48 anyway — the
    * distance lower bound); (d) the distance itself runs on the
    * 256-char HEAD window, bounding the O(m·n) DP per pair.
    * Output: (doc_a, doc_b, dist ≤ 48). Levenshtein is exact
    * character-level DP on both engines, so the whole operator is
    * DuckDB hash-verified. */
  val q115EditDistanceNearDup: Q = (spark, dir) => {
    val b = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), lower(trim(col("text"))).as("t"))
      .select(col("doc_id"), col("t"),
        substring(col("t"), 1, 16).as("p"), length(col("t")).as("len"))
    // degenerate-bucket cap: windowed count per blocking key; the
    // count shuffles 16-byte keys only, never text payloads twice
    val capped = b.withColumn("bucket_n",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window
        .partitionBy("p")))
      .filter(col("bucket_n") <= 4096).drop("bucket_n")
    // The Levenshtein confirm lives INSIDE the self-authored join
    // condition, LAST in the conjunction (round-11 profile): written
    // as a post-join .filter, Catalyst pushed it into the join
    // condition AHEAD of the cheap doc_id/length conjuncts, so every
    // same-bucket pair paid the full 256x256 DP — and AQE coalesces
    // this tiny probe side to ONE task, serializing those DPs
    // (measured 5.98 s at sf0.1; cheap-conjuncts-first books 0.93 s —
    // the DP runs only on the ~370 length-banded candidates). The
    // projection recomputes the distance for survivors only.
    val lev = levenshtein(substring(col("a.t"), 1, 256),
      substring(col("b.t"), 1, 256))
    // PROBE-SIDE PARALLELISM (round-11 sf1 rehearsal): the blocked
    // relation is tiny in BYTES (50k rows ≈ a few MB at sf1), so AQE
    // coalesces its exchange to ~1 task — and that one task then runs
    // EVERY surviving candidate's Levenshtein DP serially (measured
    // 32 s at sf1, where the 10-member near-dup clusters make ~half a
    // million length-banded candidates). A user-specified repartition
    // count is exempt from AQE coalescing, so the DP spreads across
    // the full executor width; at fixture scale the extra exchange of
    // 5k narrow rows is noise.
    val probe = capped.repartition(
      spark.sparkContext.defaultParallelism, col("doc_id"))
    probe.as("a").join(capped.as("b"),
        col("a.p") === col("b.p") && col("a.doc_id") < col("b.doc_id") &&
          abs(col("a.len") - col("b.len")) <= 64 && lev <= 48)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        lev.cast("long").as("dist"))
      .orderBy("doc_a", "doc_b")
  }

  val q115Oracle: String =
    """WITH n AS (
      |  SELECT doc_id, LOWER(TRIM(text)) AS t FROM documents),
      |b AS (
      |  SELECT doc_id, t, substr(t, 1, 16) AS p, LENGTH(t) AS len,
      |    COUNT(*) OVER (PARTITION BY substr(t, 1, 16)) AS bucket_n
      |  FROM n),
      |capped AS (SELECT * FROM b WHERE bucket_n <= 4096)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(levenshtein(substr(a.t, 1, 256), substr(b.t, 1, 256))
      |    AS BIGINT) AS dist
      |FROM capped a JOIN capped b
      |  ON a.p = b.p AND a.doc_id < b.doc_id
      |  AND abs(a.len - b.len) <= 64
      |WHERE levenshtein(substr(a.t, 1, 256), substr(b.t, 1, 256)) <= 48
      |ORDER BY doc_a, doc_b""".stripMargin

  /** q117 — QUALITY-AWARE cluster curation ([EXT], round 11): the
    * composed decision a real curation pipeline makes — q34 resolves
    * WHO is a duplicate of whom, q22 scores quality, and the keeper
    * per cluster should be the BEST member, not the arbitrary
    * min-doc_id: keeper = argmax(stop_ratio, then n_tokens, then min
    * doc_id) within each connected component. Emits one row per
    * cluster: size, total member tokens, the chosen keeper and its
    * score. Serves the MEMOIZED cluster-label index (built once,
    * shared with q34); the quality join is one doc_id equi-join of a
    * cluster-member-sized relation against the narrow quality
    * projection, the keeper pick one small per-cluster window. Both
    * ingredients are deterministic, so the composition is DuckDB
    * hash-verified (the oracle replays LSH → reachability → argmax,
    * staged as temp tables to bound checker memory). */
  val q117ClusterQualityKeeper: Q = (spark, dir) => {
    import org.apache.spark.sql.expressions.Window
    val clusters = stagedClusterLabels(spark, dir)
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
    val quality = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        size(split(lower(trim(col("text"))), "\\s+")).as("n_tokens"),
        size(regexp_extract_all(lower(col("text")),
          lit(TextOps.StopwordRegex), lit(0))).as("stop_hits"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("stop_hits") / col("n_tokens"), 4).as("stop_ratio"))
    val members = clusters.join(quality, "doc_id")
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("stop_ratio").desc, col("n_tokens").desc, col("doc_id"))
    val keepers = members.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("cluster_id"), col("doc_id").as("keeper_doc"),
        col("stop_ratio").as("keeper_stop_ratio"))
    members.groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        sum(col("n_tokens")).cast("long").as("cluster_tokens"))
      .join(keepers, "cluster_id")
      .orderBy("cluster_id")
  }

  /** ONE statement (round 13): the recursive reachability chain and
    * the member/keeper stages live in a single WITH — o117_* stages
    * are MATERIALIZED (compute-once, like the former temp tables)
    * so the driver checker's multi-statement handling (the round-12
    * empty-file incident) can't be tripped. Round 14 extends the
    * MATERIALIZED treatment to every pre-recursion stage — same
    * 256 MB-cap clearance as q34, identical output. */
  val q117Oracle: String =
    "WITH RECURSIVE " + oracleClusterCtes +
    """,
      |o117_m AS MATERIALIZED (
      |  SELECT c.cluster_id, c.doc_id,
      |    LEN(string_split_regex(LOWER(TRIM(d.text)), '\s+')) AS n_tokens,
      |    ROUND(LEN(regexp_extract_all(LOWER(d.text),
      |        '\b(the|a|of|and|to|in|is)\b'))
      |      / LEN(string_split_regex(LOWER(TRIM(d.text)), '\s+')), 4)
      |      AS stop_ratio
      |  FROM clusters c JOIN documents d ON d.doc_id = c.doc_id)
      |SELECT g.cluster_id, g.n_members, g.cluster_tokens,
      |  k.doc_id AS keeper_doc, k.stop_ratio AS keeper_stop_ratio
      |FROM (SELECT cluster_id, COUNT(*) AS n_members,
      |        CAST(SUM(n_tokens) AS BIGINT) AS cluster_tokens
      |      FROM o117_m GROUP BY 1) g
      |JOIN (SELECT cluster_id, doc_id, stop_ratio FROM (
      |        SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
      |          ORDER BY stop_ratio DESC, n_tokens DESC, doc_id) AS rk
      |        FROM o117_m) WHERE rk = 1) k
      |  ON k.cluster_id = g.cluster_id
      |ORDER BY g.cluster_id""".stripMargin

  /** q131 — EXACT-SUBSTRING dedup ([EXT], round 12): the published
    * pipeline step the whole-document/chunk families (q30–q34, q115)
    * don't cover — REPEATED SPANS inside otherwise-distinct documents
    * (the Lee et al. "Deduplicating Training Data Makes Language
    * Models Better" ExactSubstr step; their suffix-array build is a
    * single-machine construction, re-expressed here as a Spark
    * rolling-window pipeline). Semantics:
    *
    *   1. Every W=30-token window (word tokens, the engine's standing
    *      normalization) is hashed positionally — the codegen'd
    *      [[graft.functions.WordShingleSeq]] kernel, one narrow
    *      projection, so the corpus pass is scan → project →
    *      posexplode into (doc_id, pos, h) rows ~20 bytes each.
    *   2. A window hash occurring in >1 document is DUPLICATED text;
    *      the single KEEPER occurrence is the (min doc_id, min pos)
    *      one (rank-1 over the hash), every other occurrence is
    *      flagged for removal. Hashes with > [[substrOccCap]]
    *      occurrences are boilerplate (license blocks, headers) and
    *      are excluded from flagging — the q31/q115 skew-cap stance,
    *      declared in the semantics and replayed by the oracle, so
    *      the hot-key quadratic never happens.
    *   3. Flagged windows merge into MAXIMAL REMOVAL SPANS per doc
    *      (overlapping/adjacent windows union: gaps-and-islands over
    *      pos with break at gap > W), emitting one row per span:
    *      (doc_id, span_start, span_end, n_windows) in token indices,
    *      end exclusive.
    *
    * 100 TB shape: one groupBy on the 60-bit hash (map-side partial
    * count/min), one equi-join of the window relation against the
    * dup-hash set (size-conditional broadcast — duplicated hashes are
    * a small fraction of windows), two narrow windows (rank over h,
    * islands over doc_id) — no all-pairs, no text payload past the
    * first projection. Every step is deterministic md5 arithmetic →
    * DuckDB hash-verified end to end. */
  private[graft] val SubstrW = 30
  private[graft] val substrOccCap = 4096

  /** The q131 span pipeline as a reusable frame (doc_id, span_start,
    * span_end, n_windows) — q132 consumes it to apply the removals. */
  /** Positional window-hash relation (doc_id, pos, h) of a (doc_id,
    * text) frame — the raw material of the exact-substring family. */
  private[graft] def windowHashes(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      posexplode(expr(s"graft_shingle_seq(text, $SubstrW)"))
        .as(Seq("pos", "h")))

  /** Merge flagged window starts (doc_id, pos) into MAXIMAL removal
    * spans: gaps-and-islands over pos per doc, island break at gap >
    * W (strictly disjoint output spans). Shared by the batch q131 and
    * the streaming ingest twin. */
  private[graft] def mergeRemovalSpans(flagged: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    flagged
      .withColumn("newi",
        (col("pos") - coalesce(lag(col("pos"), 1).over(byDoc),
          lit(-SubstrW - 1)) > SubstrW).cast("int"))
      .withColumn("island", sum(col("newi")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + SubstrW).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select("doc_id", "span_start", "span_end", "n_windows")
  }

  /** The seed corpus's DISTINCT window-hash set, staged once per
    * corpus fingerprint like the shingle/SQ8 indexes — the
    * membership relation the STREAMING substring-dedup ingest probes
    * each micro-batch against (existence is all the incoming side
    * needs: any corpus occurrence makes the incoming one a removal
    * candidate; positions matter only within the batch). */
  private val windowHashIndex = new StagedIndex[String]("window-hashes", Seq(_))

  private[graft] def stagedWindowHashSet(spark: SparkSession,
      dir: String): DataFrame =
    StagedCache.readStaged(spark,
      windowHashIndex.get(StagedCache.source(dir, "documents")) {
        val t = graft.Scratch.dir("graft-substr").resolve("h").toString
        windowHashes(Tables.load(spark, dir, "documents"))
          .select("h").distinct().write.parquet(t)
        t
      })

  private[graft] def substringRemovalSpans(spark: SparkSession,
      dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = windowHashes(Tables.load(spark, dir, "documents"))
    val dup = w.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("nd"), count(lit(1)).as("occ"))
      .filter(col("nd") > 1 && col("occ") <= substrOccCap)
      .select("h")
    val flagged = w.join(Hints.broadcastIfSmall(dup), "h")
      .withColumn("rk", row_number().over(
        Window.partitionBy("h").orderBy("doc_id", "pos")))
      .filter(col("rk") > 1)
      .select("doc_id", "pos")
    mergeRemovalSpans(flagged)
  }

  /** The span relation, STAGED once per corpus fingerprint —
    * the q34/q117 precedent: q131 and q132 share one build, and q132's
    * plan references spans TWICE (affected-doc gate + anti-join) which
    * Spark would otherwise compute twice (no common-subplan dedup). */
  private val spanIndex = new StagedIndex[String]("removal-spans", Seq(_))

  private[graft] def stagedRemovalSpans(spark: SparkSession,
      dir: String): DataFrame =
    StagedCache.readStaged(spark,
      spanIndex.get(StagedCache.source(dir, "documents")) {
        val t = graft.Scratch.dir("graft-substr").resolve("spans").toString
        substringRemovalSpans(spark, dir).write.parquet(t)
        t
      })

  val q131SubstringDedup: Q = (spark, dir) =>
    stagedRemovalSpans(spark, dir)
      .orderBy("doc_id", "span_start")

  /** q132 — SPAN EXCISION ([EXT], round 12): APPLY q131's removal
    * lists — the second half of the Lee et al. ExactSubstr step
    * (detect, then excise). For every affected document: drop the
    * tokens inside any removal span and emit the audit a pipeline
    * gates on — (n_tokens, n_removed, n_kept) plus a POSITION-WEIGHTED
    * CHECKSUM of the surviving tokens, (Σ over kept tokens of
    * ((pos+1 mod M) · (hash60(tok) mod M) mod M)) mod M, M = 1000003
    * — the outer mod keeps the value in [0, M) so neither Spark's
    * wrapping LONG sum nor DuckDB's erroring HUGEINT→BIGINT cast can
    * diverge at any doc length. The checksum pins
    * WHICH token survived at WHICH position — the property excision
    * can get wrong — without reconstructing strings: no collect_list,
    * no higher-order lambda (both would sever codegen), just one
    * map-side-combinable SUM. Fully deterministic md5 arithmetic →
    * DuckDB hash-verified.
    *
    * 100 TB shape: spans re-derive via the q131 pipeline (shared
    * helper); the token explode runs over AFFECTED docs only (inner
    * join against the distinct span doc ids, broadcast when small);
    * the anti-join is doc_id-equi with a range residual (spans per doc
    * are few and disjoint); both aggs are narrow partial+final. */
  val q132SpanExcision: Q = (spark, dir) => {
    val spans = stagedRemovalSpans(spark, dir)
      .select(col("doc_id"), col("span_start"), col("span_end"))
    val affected = spans.select("doc_id").distinct()
    val tok = Tables.load(spark, dir, "documents")
      .join(Hints.broadcastIfSmall(affected), "doc_id")
      .select(col("doc_id"),
        posexplode(split(lower(trim(col("text"))), "\\s+", -1))
          .as(Seq("pos", "tok")))
    val kept = tok.as("t").join(spans.as("s"),
      col("t.doc_id") === col("s.doc_id") &&
        col("t.pos") >= col("s.span_start") &&
        col("t.pos") < col("s.span_end"),
      "left_anti")
    val M = 1000003L
    val h60 = expr(
      "cast(conv(substring(md5(tok), 1, 15), 16, 10) as bigint)")
    val term = ((col("pos") + 1) % M) * (h60 % M) % M
    val totals = tok.groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"))
    // The final % M keeps the published checksum inside [0, M): each
    // term is already < M, so the running LONG sum cannot wrap before
    // ~9.2e12 kept tokens, but DuckDB accumulates in HUGEINT and would
    // error (not wrap) past 2^63 — reducing the SUM itself mod M on
    // BOTH sides removes any doc-length bound from the contract.
    val keptStats = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        (sum(term) % M).cast("long").as("kept_checksum"))
    totals.join(keptStats, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L)))
          .as("n_removed"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_checksum"), lit(0L)).as("kept_checksum"))
      .orderBy("doc_id")
  }

  val q132Oracle: String =
    """WITH t AS MATERIALIZED (
      |  SELECT doc_id, string_split_regex(LOWER(TRIM(text)), '\s+') AS toks
      |  FROM documents),
      |w AS MATERIALIZED (
      |  SELECT doc_id, i AS pos,
      |    ('0x' || substr(md5(array_to_string(toks[i+1:i+30], ' ')), 1, 15))::BIGINT AS h
      |  FROM t, UNNEST(range(GREATEST(LEN(toks) - 29, 0))) g(i)),
      |dup AS MATERIALIZED (
      |  SELECT h FROM w GROUP BY h
      |  HAVING COUNT(DISTINCT doc_id) > 1 AND COUNT(*) <= 4096),
      |fl AS MATERIALIZED (
      |  SELECT doc_id, pos,
      |    ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rk
      |  FROM w JOIN dup USING (h)),
      |gaps AS MATERIALIZED (
      |  SELECT doc_id, pos,
      |    CASE WHEN pos - COALESCE(LAG(pos) OVER
      |        (PARTITION BY doc_id ORDER BY pos), -31) > 30
      |      THEN 1 ELSE 0 END AS newi
      |  FROM fl WHERE rk > 1),
      |isl AS MATERIALIZED (
      |  SELECT doc_id, pos,
      |    SUM(newi) OVER (PARTITION BY doc_id ORDER BY pos
      |                    ROWS UNBOUNDED PRECEDING) AS island
      |  FROM gaps),
      |spans AS MATERIALIZED (
      |  SELECT doc_id, MIN(pos) AS s, MAX(pos) + 30 AS e
      |  FROM isl GROUP BY doc_id, island),
      |tok AS MATERIALIZED (
      |  SELECT t.doc_id, i AS pos, toks[i+1] AS tok
      |  FROM t JOIN (SELECT DISTINCT doc_id FROM spans) a USING (doc_id),
      |       UNNEST(range(LEN(toks))) g(i)),
      |kept AS MATERIALIZED (
      |  SELECT tok.doc_id, pos, tok FROM tok
      |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
      |    WHERE sp.doc_id = tok.doc_id AND pos >= sp.s AND pos < sp.e)),
      |ks AS MATERIALIZED (
      |  SELECT doc_id, COUNT(*) AS n_kept,
      |    CAST(SUM(((pos + 1) % 1000003) *
      |      (('0x' || substr(md5(tok), 1, 15))::BIGINT % 1000003)
      |      % 1000003) % 1000003 AS BIGINT) AS kept_checksum
      |  FROM kept GROUP BY doc_id),
      |tot AS (SELECT doc_id, COUNT(*) AS n_tokens FROM tok GROUP BY doc_id)
      |SELECT tot.doc_id, n_tokens,
      |  n_tokens - COALESCE(n_kept, 0) AS n_removed,
      |  COALESCE(n_kept, 0) AS n_kept,
      |  COALESCE(kept_checksum, 0) AS kept_checksum
      |FROM tot LEFT JOIN ks USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** q133 — CLEANED-CORPUS EMISSION ([EXT], round 13): the final step
    * of the Lee et al. ExactSubstr pipeline — actually WRITE the
    * excised corpus, closing the detect (q131) → audit (q132) → emit
    * loop. For every document: the canonical cleaned text (kept
    * tokens joined by single spaces, over the same lower/trim/\s+
    * tokenization the whole family uses) plus its md5, so a consumer
    * can verify the reconstruction without shipping the text twice.
    *
    * The scale decision this operator exists to document: per-doc
    * order-preserving reconstruction NEEDS a grouped list, and here —
    * uniquely in the repo — that is scale-honest, because the grouped
    * state is bounded by the document's OWN input row (the full text
    * already arrived as one parquet value; the rebuilt string is ≤
    * that). The explode+rebuild runs over AFFECTED docs only (inner
    * join against the span doc ids); clean documents never explode —
    * their canonical hash is one codegen'd regexp_replace projection,
    * so at 100 TB with sparse duplication the heavy path touches only
    * the duplicated slice. No driver-side collect anywhere. */
  val q133CleanedText: Q = (spark, dir) =>
    cleanedTextOver(Tables.load(spark, dir, "documents"),
      stagedRemovalSpans(spark, dir))
      .orderBy("doc_id")

  /** The shared emit kernel behind q133 and the streaming ingest twin
    * ([[graft.streaming.StreamingOps.substrCleanIngestPipeline]]):
    * given (doc_id, text) docs and their removal spans, emit
    * (doc_id, n_kept, cleaned_hash) for EVERY doc — affected docs
    * rebuilt from kept tokens, clean docs hashed via one canonical
    * regexp_replace projection (never exploded). See [[q133CleanedText]]
    * for the scale contract. */
  private[graft] def cleanedTextOver(docs0: DataFrame,
      spans0: DataFrame): DataFrame = {
    val docs = docs0.select(col("doc_id"), col("text"))
    val spans = spans0.select(
      col("doc_id"), col("span_start"), col("span_end"))
    val affected = spans.select("doc_id").distinct()
    val tok = docs
      .join(Hints.broadcastIfSmall(affected), "doc_id")
      .select(col("doc_id"),
        posexplode(split(lower(trim(col("text"))), "\\s+", -1))
          .as(Seq("pos", "tok")))
    val kept = tok.as("t").join(spans.as("s"),
      col("t.doc_id") === col("s.doc_id") &&
        col("t.pos") >= col("s.span_start") &&
        col("t.pos") < col("s.span_end"),
      "left_anti")
    val rebuilt = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        md5(array_join(
          transform(
            array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok")),
          " ")).as("cleaned_hash"))
    val canon = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
    docs
      .join(Hints.broadcastIfSmall(
        affected.withColumn("is_affected", lit(true))), Seq("doc_id"), "left")
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("is_affected").isNull,
          size(split(lower(trim(col("text"))), "\\s+", -1)).cast("long"))
          .otherwise(coalesce(col("n_kept"), lit(0L))).as("n_kept"),
        when(col("is_affected").isNull, md5(canon))
          .otherwise(coalesce(col("cleaned_hash"), md5(lit(""))))
          .as("cleaned_hash"))
  }

  val q133Oracle: String =
    """WITH t AS MATERIALIZED (
      |  SELECT doc_id, string_split_regex(LOWER(TRIM(text)), '\s+') AS toks
      |  FROM documents),
      |w AS MATERIALIZED (
      |  SELECT doc_id, i AS pos,
      |    ('0x' || substr(md5(array_to_string(toks[i+1:i+30], ' ')), 1, 15))::BIGINT AS h
      |  FROM t, UNNEST(range(GREATEST(LEN(toks) - 29, 0))) g(i)),
      |dup AS MATERIALIZED (
      |  SELECT h FROM w GROUP BY h
      |  HAVING COUNT(DISTINCT doc_id) > 1 AND COUNT(*) <= 4096),
      |fl AS MATERIALIZED (
      |  SELECT doc_id, pos,
      |    ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rk
      |  FROM w JOIN dup USING (h)),
      |gaps AS MATERIALIZED (
      |  SELECT doc_id, pos,
      |    CASE WHEN pos - COALESCE(LAG(pos) OVER
      |        (PARTITION BY doc_id ORDER BY pos), -31) > 30
      |      THEN 1 ELSE 0 END AS newi
      |  FROM fl WHERE rk > 1),
      |isl AS MATERIALIZED (
      |  SELECT doc_id, pos,
      |    SUM(newi) OVER (PARTITION BY doc_id ORDER BY pos
      |                    ROWS UNBOUNDED PRECEDING) AS island
      |  FROM gaps),
      |spans AS MATERIALIZED (
      |  SELECT doc_id, MIN(pos) AS s, MAX(pos) + 30 AS e
      |  FROM isl GROUP BY doc_id, island),
      |aff AS (SELECT DISTINCT doc_id FROM spans),
      |tok AS MATERIALIZED (
      |  SELECT t.doc_id, i AS pos, toks[i+1] AS tok
      |  FROM t JOIN aff USING (doc_id),
      |       UNNEST(range(LEN(toks))) g(i)),
      |kept AS MATERIALIZED (
      |  SELECT tok.doc_id, pos, tok FROM tok
      |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
      |    WHERE sp.doc_id = tok.doc_id AND pos >= sp.s AND pos < sp.e)),
      |reb AS MATERIALIZED (
      |  SELECT doc_id, COUNT(*) AS n_kept,
      |    md5(string_agg(tok, ' ' ORDER BY pos)) AS cleaned_hash
      |  FROM kept GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CASE WHEN a.doc_id IS NULL
      |    THEN LEN(string_split_regex(LOWER(TRIM(d.text)), '\s+'))
      |    ELSE COALESCE(r.n_kept, 0) END AS n_kept,
      |  CASE WHEN a.doc_id IS NULL
      |    THEN md5(regexp_replace(LOWER(TRIM(d.text)), '\s+', ' ', 'g'))
      |    ELSE COALESCE(r.cleaned_hash, md5('')) END AS cleaned_hash
      |FROM documents d
      |LEFT JOIN aff a USING (doc_id)
      |LEFT JOIN reb r ON r.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  val q131Oracle: String =
    """WITH t AS MATERIALIZED (
      |  SELECT doc_id, string_split_regex(LOWER(TRIM(text)), '\s+') AS toks
      |  FROM documents),
      |w AS MATERIALIZED (
      |  SELECT doc_id, i AS pos,
      |    ('0x' || substr(md5(array_to_string(toks[i+1:i+30], ' ')), 1, 15))::BIGINT AS h
      |  FROM t, UNNEST(range(GREATEST(LEN(toks) - 29, 0))) g(i)),
      |dup AS MATERIALIZED (
      |  SELECT h FROM w GROUP BY h
      |  HAVING COUNT(DISTINCT doc_id) > 1 AND COUNT(*) <= 4096),
      |fl AS MATERIALIZED (
      |  SELECT doc_id, pos,
      |    ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rk
      |  FROM w JOIN dup USING (h)),
      |gaps AS MATERIALIZED (
      |  SELECT doc_id, pos,
      |    CASE WHEN pos - COALESCE(LAG(pos) OVER
      |        (PARTITION BY doc_id ORDER BY pos), -31) > 30
      |      THEN 1 ELSE 0 END AS newi
      |  FROM fl WHERE rk > 1),
      |isl AS MATERIALIZED (
      |  SELECT doc_id, pos,
      |    SUM(newi) OVER (PARTITION BY doc_id ORDER BY pos
      |                    ROWS UNBOUNDED PRECEDING) AS island
      |  FROM gaps)
      |SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 30 AS span_end,
      |  COUNT(*) AS n_windows
      |FROM isl GROUP BY doc_id, island
      |ORDER BY doc_id, span_start""".stripMargin

  val queries: Map[String, Q] = Map(
    "q137_curation_pipeline" -> q137CurationPipeline,
    "q133_cleaned_text" -> q133CleanedText,
    "q132_span_excision" -> q132SpanExcision,
    "q131_substring_dedup" -> q131SubstringDedup,
    "q127_leakage_safe_split" -> q127LeakageSafeSplit,
    "q122_bloom_decontam" -> q122BloomDecontam,
    "q117_cluster_keeper" -> q117ClusterQualityKeeper,
    "q115_editdist_neardup" -> q115EditDistanceNearDup,
    "q36_decontamination" -> q36Decontamination,
    "q30_exact_dedup" -> q30ExactDedup,
    "q145_unicode_dedup" -> q145UnicodeDedup,
    "q148_url_dedup" -> q148UrlDedup,
    "q153_host_reputation" -> q153HostReputation,
    "q152_source_overlap" -> q152SourceOverlap,
    "q31_ngram_jaccard" -> q31NgramJaccard,
    "q32_minhash_lsh" -> q32MinHashLsh,
    "q33_simhash" -> q33SimHash,
    "q34_dedup_clusters" -> q34DedupClusters,
    "q75_incremental_dedup" -> q75IncrementalDedup)

  val oracles: Map[String, String] = Map(
    "q137_curation_pipeline" -> q137Oracle,
    "q133_cleaned_text" -> q133Oracle,
    "q132_span_excision" -> q132Oracle,
    "q131_substring_dedup" -> q131Oracle,
    "q127_leakage_safe_split" -> q127Oracle,
    "q122_bloom_decontam" -> q122Oracle,
    "q117_cluster_keeper" -> q117Oracle,
    "q115_editdist_neardup" -> q115Oracle,
    "q36_decontamination" -> q36Oracle,
    "q30_exact_dedup" -> q30Oracle,
    "q145_unicode_dedup" -> q145Oracle,
    "q148_url_dedup" -> q148Oracle,
    "q153_host_reputation" -> q153Oracle,
    "q152_source_overlap" -> q152Oracle,
    "q31_ngram_jaccard" -> q31Oracle,
    "q32_minhash_lsh" -> q32Oracle,
    "q33_simhash" -> q33Oracle,
    "q34_dedup_clusters" -> q34Oracle,
    "q75_incremental_dedup" -> q75Oracle)
}

/** A near-dup batch too large to index on the driver: its optimizer size
  * estimate `estimate` passed `cap` bytes. */
final class BatchTooLargeException(val estimate: BigInt, val cap: Long)
  extends IllegalArgumentException(
    s"near-dup batch size estimate $estimate bytes exceeds the $cap-byte " +
      "cap for a driver-side batch index: split the batch")

/** The batch side of [[DedupOps.incrementalNearDupsFrom]], built on the
  * driver from the collected batch `(doc_id, n, sarr)` and broadcast.
  * Each batch doc's AllPairs prefix (its first n - ⌈lo·n⌉ + 1 shingles)
  * is indexed shingle → packed (batch slot << 32 | pos). [[probe]] runs
  * once per row of the array relation and returns that row's verified
  * pairs, oriented `doc_a < doc_b` as (doc_a, doc_b, inter, n_a, n_b). */
private[graft] final class BatchPrefixIndex(
    batch: Array[(Long, Int, Array[Long])], lo: Double) extends Serializable {
  import scala.collection.mutable
  import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
  import org.apache.spark.sql.catalyst.util.ArrayData

  private val ids = batch.map(_._1)
  private val ns = batch.map(_._2)
  private val sarrs = batch.map(_._3)
  private val idSet = ids.toSet
  private val hits: mutable.LongMap[Array[Long]] = {
    val m = mutable.LongMap.empty[mutable.ArrayBuilder.ofLong]
    for (s <- ids.indices; q <- 0 until prefixLen(ns(s)))
      m.getOrElseUpdate(sarrs(s)(q), new mutable.ArrayBuilder.ofLong) +=
        (s.toLong << 32 | q)
    m.mapValuesNow(_.result())
  }
  @transient private lazy val data: Array[ArrayData] =
    sarrs.map(UnsafeArrayData.fromPrimitiveArray)

  private def prefixLen(n: Int): Int =
    math.min(n.toLong, n - math.ceil(n * lo - 1e-9).toLong + 1).toInt

  def probe(id: Long, n: Int, sarr: Array[Long]): Seq[(Long, Long, Int, Int, Int)] = {
    val isBatch = idSet.contains(id)
    val paired = new java.util.BitSet(ids.length)
    var arr: ArrayData = null
    val out = Seq.newBuilder[(Long, Long, Int, Int, Int)]
    var p = 0
    val pl = prefixLen(n)
    while (p < pl) {
      val hs = hits.getOrNull(sarr(p))
      if (hs != null) {
        var h = 0
        while (h < hs.length) {
          val s = (hs(h) >>> 32).toInt
          val q = (hs(h) & 0xffffffffL).toInt
          val bid = ids(s); val bn = ns(s)
          if ((if (isBatch) bid > id else bid != id) && !paired.get(s) &&
              math.min(n, bn) >= math.max(n, bn) * lo - 1e-9 &&
              math.min(n - p, bn - q) * (1.0 + lo) >= (n + bn) * lo - 1e-9) {
            paired.set(s)
            if (arr == null) arr = UnsafeArrayData.fromPrimitiveArray(sarr)
            val inter = graft.functions.SortedOverlap.merge(arr, data(s), false)
            out += (if (id < bid) (id, bid, inter, n, bn) else (bid, id, inter, bn, n))
          }
          h += 1
        }
      }
      p += 1
    }
    out.result()
  }
}
