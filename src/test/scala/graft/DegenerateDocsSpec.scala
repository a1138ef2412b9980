package graft

import graft.operators.{DedupOps, TextOps}

/** Defined behavior for DEGENERATE documents — null, empty,
  * whitespace-only, and sub-shingle-length texts. A 100 TB crawl
  * corpus contains all of these in volume; the operators must neither
  * throw nor silently corrupt groupings, and the semantics pinned here
  * are the documented contract:
  *   - null text: null fingerprint (q30 groups all nulls together);
  *     invisible to shingle-based near-dup (no tokens → no shingles).
  *   - empty text fingerprints as md5(""); whitespace-only text
  *     fingerprints as md5(" ") — SQL `trim` strips SPACES only (not
  *     tabs), then the \s+ collapse leaves one space. The two are
  *     DISTINCT groups, identically in Spark and DuckDB (both engines'
  *     TRIM is space-only, so the oracle parity holds for free).
  *   - docs with fewer than 3 tokens have no complete trigram: absent
  *     from q31 pairs by construction (scaladoc'd on shingleArrays).
  */
class DegenerateDocsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir: String = {
    val d = tempDir("graft-degen").toString
    Seq[(Long, String, String, String, Long)](
      (0L, null, "en", "src", 0L),
      (1L, "", "en", "src", 0L),
      (2L, "   \t  ", "en", "src", 6L),
      (3L, "solo", "en", "src", 4L),
      (4L, "two tokens", "en", "src", 10L),
      (5L, null, "de", "src", 0L),
      (6L, "a real document with enough tokens to shingle properly", "en",
        "src", 55L),
      (7L, "a real document with enough tokens to shingle properly", "en",
        "src", 55L),
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    d
  }

  test("exact dedup: nulls group under the null fingerprint, blanks normalize together") {
    // q30 internally duplicates even doc_ids; keeper = min doc_id
    val rows = DedupOps.q30ExactDedup(spark, dir).collect()
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2)))
    val byKeeper = rows.map(r => r._2 -> r).toMap
    // null texts (0, 5): one null-fingerprint group, keeper 0
    val nullGroup = rows.filter(_._1.isEmpty)
    assert(nullGroup.length === 1 && nullGroup.head._2 === 0L)
    // doc 0 appears twice (even-dup) + doc 5 twice-ish: just check count >= 3
    assert(nullGroup.head._3 >= 3L)
    // empty (1) → md5(""), whitespace-only (2) → md5(" "): SQL trim is
    // space-only, so these are two DISTINCT well-defined groups
    val fp = rows.flatMap(r => r._1.map(r._2 -> _)).toMap
    assert(fp(1L) === "d41d8cd98f00b204e9800998ecf8427e") // md5("")
    assert(fp(2L) === "7215ee9c7d9dc229d2921a40e899ec5f") // md5(" ")
    // the two identical real docs collapse under keeper 6
    assert(byKeeper.contains(6L) && !byKeeper.contains(7L))
  }

  test("shingle near-dup: sub-trigram docs are invisible, real dups still found") {
    val pairs = DedupOps.q31NgramJaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((6L, 7L)),
      s"only the real near-dup pair may surface: ${pairs.toSeq}")
  }

  test("token stats and lang histogram neither throw nor drop rows") {
    val tok = TextOps.q21TokenStats(spark, dir).collect()
    assert(tok.length === 8, "every doc gets a token-stats row, even null text")
    val hist = TextOps.q20LangHistogram(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hist === Map("en" -> 7L, "de" -> 1L))
  }

  test("repetition filter: degenerate docs are excluded, never divide by zero") {
    val rows = TextOps.q38Repetition(spark, dir).collect()
      .map(r => r.getLong(0)).toSet
    // only docs with >= 1 complete trigram get a ratio; null/empty/
    // blank/1-2-token docs are absent rather than NaN/exception rows
    assert(rows === Set(6L, 7L), s"unexpected scored docs: $rows")
  }

  test("decontamination: sub-5-gram docs can neither contaminate nor be contaminated") {
    // src5 is the eval stratum; 'solo' and 'two tokens' have no
    // 5-gram, so eval membership is vacuous and nothing flags
    val d = tempDir("graft-degen-dec").toString
    Seq[(Long, String, String, String, Long)](
      (0L, "solo", "en", "src5", 4L),
      (1L, null, "en", "src5", 0L),
      (2L, "a longer train document with plenty of tokens inside", "en",
        "srcA", 52L),
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    assert(DedupOps.q36Decontamination(spark, d).collect().isEmpty)
  }

  test("sequence packing: null and empty docs pack as zero-token entries") {
    val rows = TextOps.q39SequencePacking(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    // all 8 docs are in source 'src', all fit bin 0 (tiny corpus);
    // null/empty texts count 0 BPE tokens but still occupy a slot
    assert(rows(("src", 0L)) === 8L)
  }

  test("incremental dedup: null/sub-trigram batch docs are invisible, no throw") {
    // batch = doc 3 ("solo") re-keyed with a 2-token suffix: its single
    // trigram "solo zz9 qq8" is shared with nothing, and null/blank
    // corpus docs can't join it — the query must return cleanly empty
    val pairs = DedupOps.q75IncrementalDedup(spark, dir).collect()
    assert(pairs.isEmpty, s"no batch pair may surface: ${pairs.toSeq}")
  }

  test("bpe trainer: degenerate docs contribute no pairs; trainer still converges") {
    val rows = TextOps.q76BpeTrainer(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    // pairs exist only in docs 4 ("two tokens") and 6/7 (identical real
    // docs); round 1's argmax is a pair shared by the twin docs (n=2)
    assert(rows.nonEmpty && rows.head._3 === 2L, s"round 1: ${rows.head}")
    // rounds are dense from 1 and stop when no adjacent pair remains
    assert(rows.map(_._1).toSeq === (1 to rows.length).toSeq)
    assert(rows.forall(_._3 >= 1L))
  }

  test("bpe encode: nulls absent, blanks are one empty token, twin docs " +
      "encode identically with at least one merge applied") {
    val rows = TextOps.q79BpeEncode(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows.keySet === Set(1L, 2L, 3L, 4L, 6L, 7L)) // nulls (0,5) absent
    assert(rows(1L) === ((1L, 0L)), "empty text is one '' token, unmerged")
    assert(rows(3L) === ((1L, 0L)), "'solo' is one token, unmerged")
    assert(rows.values.forall { case (n, m) => n >= 1L && m >= 0L && m <= n })
    // the identical twin docs (9 whitespace tokens each) encode the
    // same, and the trainer's merges (proven to fire on them above)
    // shrank the token count
    assert(rows(6L) === rows(7L))
    assert(rows(6L)._1 < 9L && rows(6L)._2 >= 1L)
  }

  test("tf-idf ranks only real tokens; blanks contribute nothing meaningful") {
    val terms = TextOps.q35TfidfTerms(spark, dir).collect()
      .map(_.getString(1)).toSet
    assert(terms.contains("shingle") || terms.contains("document"),
      s"real vocabulary must rank: $terms")
    assert(!terms.contains(null), "null never becomes a term")
  }

  test("lm perplexity: sub-bigram and null docs absent, twins score identically") {
    val rows = TextOps.q119LmPerplexity(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // docs with >= 2 tokens score: 4, 6, 7 — AND the whitespace-only
    // doc 2, whose split keeps the two boundary empties ("","") in
    // BOTH engines (Spark split limit=-1 == DuckDB string_split_regex;
    // verified cross-engine), making one degenerate bigram. Null (0,5),
    // empty (1, one "" token) and single-token (3) docs are absent.
    assert(rows.keySet === Set(2L, 4L, 6L, 7L), s"scored docs: ${rows.keySet}")
    assert(rows(6L) === rows(7L), "identical twins get the identical nll")
    assert(rows.values.forall(v => !v.isNaN && !v.isInfinity))
  }

  test("shard manifest covers degenerate docs; null-text token sum well-defined") {
    val m = TextOps.q120ShardManifest(spark, dir).collect()
    assert(m.map(_.getLong(1)).sum === 8L, "all 8 docs assigned a shard")
  }

  test("substring dedup: sub-window docs produce no spans; the " +
      "excision pass returns cleanly empty without touching anything") {
    // every doc here is under the 30-token window — even the identical
    // twins can't form a single complete window, so both halves of the
    // exact-substring family must return empty (never throw, never
    // fabricate a span from the empty-array explode)
    assert(DedupOps.queries("q131_substring_dedup")(spark, dir)
      .collect().isEmpty)
    assert(DedupOps.queries("q132_span_excision")(spark, dir)
      .collect().isEmpty)
  }

  test("cleaned-text emission (q133) on degenerate docs: one row per " +
      "doc, null text stays null, blanks hash their canonical forms") {
    val rows = DedupOps.queries("q133_cleaned_text")(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)),
          Option(r.getString(2)))).toMap
    assert(rows.size === 8, "every document must be emitted")
    // null text: tokenization is null → null count, null hash (the
    // same contract the whole text family pins for null docs)
    assert(rows(0L) === ((None, None)))
    assert(rows(5L) === ((None, None)))
    // empty text → one empty token, md5(""); whitespace-only "   \t  "
    // → SQL trim is space-only, leaving "\t", which \s+-splits into
    // TWO empty tokens → join " " → md5(" ") (identical in DuckDB:
    // string_split_regex('\t','\s+') = ['',''])
    assert(rows(1L) ===
      ((Some(1L), Some("d41d8cd98f00b204e9800998ecf8427e"))))
    assert(rows(2L) ===
      ((Some(2L), Some("7215ee9c7d9dc229d2921a40e899ec5f"))))
    // sub-window real docs: unaffected (no spans possible), canonical
    // hash of the full text; the identical twins hash identically
    assert(rows(6L) === rows(7L))
    assert(rows(6L)._1 === Some(9L))
  }

  test("graft_shingle_seq contract: null→null, short→empty, positional " +
      "length n-W+1, and its distinct set equals graft_shingles") {
    val df = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id", "graft_shingle_seq(text, 3) AS seq",
        "graft_shingles(text, 3) AS set")
    val rows = df.collect().map(r => r.getLong(0) ->
      (Option(r.getSeq[Long](1)), Option(r.getSeq[Long](2)))).toMap
    assert(rows(0L)._1.isEmpty, "null text nulls out")
    assert(rows(1L)._1.get.isEmpty && rows(3L)._1.get.isEmpty,
      "sub-trigram docs yield an empty sequence")
    // doc 6: 9 tokens -> exactly 7 positional trigram hashes, and the
    // sequence's distinct sorted form IS the set kernel's output (the
    // two expressions share one hash arithmetic by construction)
    val (seq6, set6) = (rows(6L)._1.get, rows(6L)._2.get)
    assert(seq6.length === 7)
    assert(seq6.distinct.sorted === set6)
  }

  test("temperature mix on a single degenerate-heavy domain: exact half kept target") {
    val rows = TextOps.q121TemperatureMix(spark, dir).collect()
    assert(rows.length === 1)
    // one domain: ratio = 0.5 * n * sqrt(c)/sqrt(c) / c = 0.5 exactly
    assert(rows.head.getDouble(3) === 0.5)
    assert(rows.head.getLong(4) <= rows.head.getLong(1))
  }

  test("semantic dedup (q140): a corpus with ZERO near-dup pairs neither throws nor clusters") {
    // all-orthogonal embeddings: every pairwise cosine is 0.0 < 0.45,
    // so the pair graph is EMPTY — the pointer-doubling kernel must
    // cope with staging an empty relation (or the caller must guard),
    // and the output is zero clustered vectors, not an exception
    val d = tempDir("graft-nopair").toString
    def basis(i: Int): Array[Float] =
      Array.tabulate(8)(j => if (i == j) 1.0f else 0.0f)
    Seq.tabulate(6)(i => (i.toLong, basis(i), 0))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$d/embeddings.parquet")
    val out = graft.operators.SimilarityOps
      .queries("q140_semantic_dedup")(spark, d).collect()
    assert(out.isEmpty, s"orthogonal corpus must yield no clusters: ${out.toSeq}")
    // and the incremental twin over the same corpus: batch copies of
    // %10==3 (id 3) pair with their originals at cosine 1 — exactly
    // one 2-member cluster appears, nothing else. Batch ids allocate
    // at off = max corpus id + 1 = 6, so the re-crawl copy of id 3
    // lands at 3 + 6 = 9 (round 15: no fixed +1M convention)
    val inc = graft.operators.SimilarityOps
      .queries("q141_incremental_semantic")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(inc.toSet === Set((3L, 3L, true), (9L, 3L, false)),
      s"got ${inc.toSeq}")
  }

  test("model quality (q147): every degenerate doc scores — null text " +
      "is the empty dot product (0, kept), never a dropped row") {
    val rows = TextOps.queries("q147_model_quality")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2),
        r.getBoolean(3)))).toMap
    // one output row per input doc — explode_outer keeps null-text
    // docs where a bare explode would silently drop them
    assert(rows.keySet === (0L to 7L).toSet, s"got ${rows.keySet}")
    // null text: no feature vector → score 0 → sigmoid 0.5 → kept
    assert(rows(0L) === ((0L, 0.5, true)) && rows(5L) === ((0L, 0.5, true)))
    // twins score identically; the fold formulation agrees on ALL
    // degenerate classes (the q137 embedding of the same arithmetic)
    assert(rows(6L) === rows(7L))
    val folded = Tables.load(spark, dir, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        TextOps.modelScore(org.apache.spark.sql.functions.col("text"))
          .as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (id, (score, _, _)) =>
      assert(folded(id) === score, s"doc $id: fold=${folded(id)} vs $score")
    }
  }

  test("url dedup (q148): text-independent synthesis — null/blank docs " +
      "group like any other, conservation holds") {
    val out = DedupOps.queries("q148_url_dedup")(spark, dir).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.map(_._3).sum === 8L, s"all 8 docs must land: ${out.toSeq}")
    // docs 0-4 share page 0: variants v0..v4 → canonical groups of 3
    // (bare) and 2 (?id=0); docs 5-7 are page 1 v0/v1/v2 → one group
    val byUrl = out.map(r => r._1 -> ((r._2, r._3))).toMap
    assert(byUrl("http://site0.example.com/doc/0") === ((0L, 3L)))
    assert(byUrl("http://site0.example.com/doc/0?id=0") === ((3L, 2L)))
    assert(byUrl("http://site1.example.com/doc/1") === ((5L, 3L)))
  }
}
