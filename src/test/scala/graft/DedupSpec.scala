package graft

import graft.operators.{DedupOps, SimilarityOps, TextOps}

/** Crafted-corpus checks for the dedup family: known dup/near-dup/
  * distinct documents must land on the right side of each operator's
  * threshold, and the operators must agree with each other where their
  * semantics overlap. Runs the production queries end-to-end against a
  * temp parquet dir shaped like the driver fixtures. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  /** doc 0 == doc 1 (exact dup); doc 2 ~ doc 0 (one word changed);
    * doc 3 unrelated; doc 4 short. */
  private lazy val corpusDir: String = {
    val base = "the quick brown fox jumps over the lazy dog near the old river bank " +
      "while morning light filters through tall green trees onto the quiet path"
    val near = base.replace("quiet", "narrow")
    val docs = Seq(
      (0L, base, "en", "srcA", base.length.toLong),
      (1L, base, "en", "srcB", base.length.toLong),
      (2L, near, "en", "srcC", near.length.toLong),
      (3L, "completely different words about spark catalyst optimizer plans and shuffles here",
        "en", "srcD", 80L),
      (4L, "tiny doc", "en", "srcE", 8L),
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempDir("graft-dedup-spec").toString
    docs.write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("exact dedup groups identical texts under one fingerprint") {
    // q30 duplicates even doc_ids internally; doc 0 == doc 1 on top of that
    val rows = DedupOps.q30ExactDedup(spark, corpusDir).collect()
    val byKeeper = rows.map(r => r.getLong(1) -> r.getLong(2)).toMap
    // keeper 0 absorbs: doc0, doc0-dup(evens), doc1 => 3 copies
    assert(byKeeper(0L) === 3L)
    assert(!byKeeper.contains(1L)) // doc 1 deduped into keeper 0
    assert(byKeeper(3L) === 1L)    // odd, distinct: single copy
  }

  test("ngram jaccard: exact dup scores 1.0, near-dup high, distinct absent") {
    val pairs = DedupOps.q31NgramJaccard(spark, corpusDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(5)).toMap
    assert(pairs((0L, 1L)) === 1.0)
    assert(pairs((0L, 2L)) > 0.7 && pairs((0L, 2L)) < 1.0)
    assert(!pairs.keySet.exists { case (a, b) => b == 3L || a == 3L })
  }

  test("skew cap: boilerplate shingle stops generating candidates, results unchanged") {
    // 60 docs, every one opening with the same 18-token boilerplate
    // header (17 hyper-common shingles, df = 60 > the cap floor of 50)
    // and a 3-token unique tail. The header is LONG relative to the
    // tail so the common shingles both land INSIDE each doc's
    // rarity-ordered prefix AND sit early enough that the round-18
    // PPJoin positional bound cannot prune them (each doc has n = 20
    // shingles; the first shared boilerplate shingle sits at rank 4,
    // and 1 + (20-4) = 17 >= ⌈τ/(1+τ)·40⌉ = 14): the uncapped
    // candidate join genuinely fans out all-pairs on the boilerplate
    // bucket, which is exactly the skew the df cap exists to stop.
    // (The previous 9-token fixture put its boilerplate at the prefix
    // TAIL, where the positional filter alone now kills the fan-out —
    // the right outcome for q31, but no longer a test of the cap.)
    // Docs 58/59 share their tail: the one TRUE near-dup pair,
    // reachable through rare (df=2) prefix shingles the cap keeps.
    val header = "terms of service apply to all users and content " +
      "provided by this site under the following conditions herein"
    val docs = (0 until 59).map { i =>
      (i.toLong, s"$header item u${i}a u${i}b u${i}c", "en", "src", 40L)
    } :+ (59L, s"$header item u58a u58b u58c", "en", "src", 40L)
    val dir = tempDir("graft-skew").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val uncapped = DedupOps.prefixCandidates(spark, dir, 0.5,
      Some(Long.MaxValue)).count()
    val capped = DedupOps.prefixCandidates(spark, dir, 0.5, None).count()
    // the boilerplate bucket alone contributes C(60,2) = 1770 pairs
    assert(uncapped >= 1770, s"fixture must be skewed (got $uncapped)")
    assert(capped < 60, s"cap must collapse the boilerplate fan-out (got $capped)")
    // ...and the FINAL result is identical: every capped-away candidate
    // fails the exact-Jaccard verify anyway (boilerplate-only overlap)
    val cappedPairs = DedupOps.q31NgramJaccard(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(5)))
    assert(cappedPairs.map(_._1).toSeq === Seq((58L, 59L)))
    assert(cappedPairs.head._2 === 1.0)
  }

  test("positional filter: prefix-tail boilerplate rows pruned even uncapped, true pairs survive") {
    // The round-18 PPJoin positional bound: a match row at ranks (i, j)
    // supports at most 1 + min(n_a-i, n_b-j) overlap. Short docs whose
    // ONLY shared shingles are boilerplate sitting at the prefix TAIL
    // (rarest-first order pushes df=60 shingles there) can never reach
    // τ=0.5, so their match rows die inside the join — even with the
    // df cap disabled. Docs 58/59 share rare tail shingles at rank 1-3
    // and must survive: the filter is lossless for true pairs.
    val header = "terms of service apply to" // 5 tokens: n=7, prefix=4
    val docs = (0 until 59).map { i =>
      (i.toLong, s"$header item u${i}a u${i}b u${i}c", "en", "src", 40L)
    } :+ (59L, s"$header item u58a u58b u58c", "en", "src", 40L)
    val dir = tempDir("graft-posf").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    // uncapped: the boilerplate bucket would fan out C(60,2) = 1770
    // pairs under the pre-round-18 prefix filter; the positional bound
    // alone collapses it (the shared boilerplate shingle ranks 4th of
    // n=7 — 1 + (7-4) = 4 < ⌈τ/(1+τ)·14⌉ = 5)
    val uncapped = DedupOps.prefixCandidates(spark, dir, 0.5,
      Some(Long.MaxValue)).count()
    assert(uncapped < 60, s"positional filter must prune the tail-only fan-out (got $uncapped)")
    // ...and the final result still finds exactly the one true pair
    val pairs = DedupOps.q31NgramJaccard(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(5)))
    assert(pairs.map(_._1).toSeq === Seq((58L, 59L)))
    assert(pairs.head._2 === 1.0)
  }

  test("q31 keeps a J = 5000/10001 pair that round(J, 4) lifts to 0.5000") {
    // |A| = 7500, |B| = 7501 shingles, overlap 5000: J ≈ 0.49995, which
    // the final round(J, 4) >= 0.5 filter and the oracle both admit.
    // In rarity order each doc's private shingles (df 1) come first, so
    // the first shared one sits at A rank 2501, B rank 2502: its
    // positional bound is 1 + min(4999, 4999) = 5000 overlap — below
    // the 5000.33 a prune at τ demands, above the 4999.67 at τ − 1e-4.
    val shared = (0 until 5002).map(i => s"c$i")
    val docA = (0 until 2500).map(i => s"a$i") ++ shared // 7500 3-grams
    val docB = (0 until 2501).map(i => s"b$i") ++ shared // 7501 3-grams
    val dir = tempDir("graft-q31-edge").toString
    Seq(docA, docB).zipWithIndex.map { case (ws, i) =>
      val text = ws.mkString(" ")
      (i.toLong + 1, text, "en", "src", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val pairs = DedupOps.q31NgramJaccard(spark, dir).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getAs[Number]("inter").longValue,
        r.getAs[Number]("n_a").longValue, r.getAs[Number]("n_b").longValue,
        r.getDouble(5)))
    assert(pairs.toSeq === Seq((1L, 2L, 5000L, 7500L, 7501L, 0.5)))
  }

  test("minhash LSH finds the same high-jaccard pairs as the exact pass") {
    val exact = DedupOps.q31NgramJaccard(spark, corpusDir).collect()
      .filter(_.getDouble(5) >= 0.9).map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = DedupOps.q32MinHashLsh(spark, corpusDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // identical docs collide in every band — guaranteed recall at j=1.0;
    // the 0.97-jaccard near-dup is expected (not guaranteed) to collide
    assert(exact.filter(p => p == (0L, 1L)).subsetOf(lsh))
    assert(lsh.subsetOf(
      DedupOps.q31NgramJaccard(spark, corpusDir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet))
  }

  test("simhash: identical docs have identical fingerprints (hamming 0)") {
    val rows = DedupOps.q33SimHash(spark, corpusDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Number](2).longValue).toMap
    assert(rows((0L, 1L)) === 0L)
    // near-dup doc 2 within the hamming<=3 net of doc 0 or absent — but
    // never reported against the unrelated doc 3
    assert(!rows.keySet.exists { case (a, b) => b == 3L || a == 3L })
  }

  test("dedup clusters: one row per paired doc, keeper = component min") {
    val pairs = DedupOps.q32MinHashLsh(spark, corpusDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    val clusters = DedupOps.q34DedupClusters(spark, corpusDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // exactly the docs appearing in some pair are clustered
    assert(clusters.keySet === pairs.flatMap(p => Seq(p._1, p._2)).toSet)
    // paired docs always share a cluster (edge consistency)
    pairs.foreach { case (a, b) =>
      assert(clusters(a)._1 === clusters(b)._1, s"pair ($a,$b) split") }
    // keeper is the cluster minimum, exactly one per cluster
    clusters.groupBy(_._2._1).foreach { case (cid, members) =>
      assert(members.keys.min === cid)
      assert(members.count(_._2._2) === 1)
      assert(members(cid)._2, s"cluster $cid keeper flag on wrong member")
    }
  }

  test("native simhash aggregate equals the declarative 61-column form") {
    import org.apache.spark.sql.functions._
    graft.functions.GraftFunctions.register(spark)
    val toks = Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
      .select(col("doc_id"),
        expr("cast(conv(substring(md5(tok), 1, 15), 16, 10) AS bigint)").as("h"))
    val native = toks.groupBy("doc_id")
      .agg(expr("graft_simhash_agg(h)").as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bitSums = (0 until 60).map(j => sum(expr(s"(h >> $j) & 1")).as(s"b$j"))
    val aggs = count(lit(1)).as("n") +: bitSums
    val declarative = toks.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"),
        (0 until 60).map(j =>
          when(col(s"b$j") * 2 > col("n"), shiftleft(lit(1L), j))
            .otherwise(lit(0L))).reduce(_ + _).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native === declarative)
    assert(native.nonEmpty)
  }

  test("q31 plan: broadcast verify joins, no cartesian product anywhere") {
    val df = DedupOps.queries("q31_ngram_jaccard")(spark, sf)
    val plan = df.queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"array-verify joins should broadcast the shingle index:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"no stage of the dedup pipeline may go all-pairs:\n$plan")
  }

  test("native graft_shingles == declarative window formulation, set-for-set") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(spark)
    // degenerate + real texts in one fixture: empty, blank-with-tab,
    // sub-trigram, leading/trailing whitespace, repeated trigrams
    val docs = Seq[(Long, String)](
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "  Mixed CASE  tokens  here with   runs of spaces  "),
      (2L, "a b"),
      (3L, ""),
      (4L, "\t x y z \t"),
      (5L, "rep rep rep rep rep"),
    ).toDF("doc_id", "text")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val declarative = docs
      .select(col("doc_id"),
        posexplode(split(lower(trim(col("text"))), "\\s+")).as(Seq("pos", "tok")))
      .withColumn("t1", lead("tok", 1).over(w))
      .withColumn("t2", lead("tok", 2).over(w))
      .filter(col("t2").isNotNull)
      .select(col("doc_id"),
        expr("cast(conv(substring(md5(concat_ws(' ', tok, t1, t2)), 1, 15), 16, 10) AS bigint)")
          .as("shingle"))
      .groupBy("doc_id").agg(collect_set(col("shingle")).as("sarr"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val native = docs
      .select(col("doc_id"), expr("graft_shingles(text, 3)").as("sarr"))
      .filter(size(col("sarr")) > 0)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(native === declarative)
  }

  test("graft_shingles fuzz: random hostile texts agree with the declarative form") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(spark)
    // seeded generator over a hostile alphabet: space runs, tabs,
    // newlines, unicode letters (accents, CJK, sharp-s whose
    // lowercase/uppercase round-trips are asymmetric), digits, empty
    // and whitespace-only strings — the crawl-corpus reality the
    // 6-doc fixture can't enumerate
    val rnd = new scala.util.Random(42)
    val atoms = Vector("the", "Fox", "ÀÉÎ", "straße", "日本語", "x1",
      "a", "BB", "ß", "émU", " ", "  ", "\t", "\n", " ")
    def text(): String =
      Seq.fill(rnd.nextInt(25))(atoms(rnd.nextInt(atoms.length))).mkString("")
    val docs = (0L until 80L).map(i => (i, text())).toDF("doc_id", "text")
    for (n <- Seq(3, 5)) {
      val w = Window.partitionBy("doc_id").orderBy("pos")
      var declarative = docs
        .select(col("doc_id"),
          posexplode(split(lower(trim(col("text"))), "\\s+")).as(Seq("pos", "tok")))
      val leads = (1 until n).map { k =>
        declarative = declarative.withColumn(s"t$k", lead("tok", k).over(w))
        col(s"t$k")
      }
      val expected = declarative
        .filter(col(s"t${n - 1}").isNotNull)
        .select(col("doc_id"),
          expr(s"cast(conv(substring(md5(concat_ws(' ', tok, ${
            (1 until n).map(k => s"t$k").mkString(", ")})), 1, 15), 16, 10) AS bigint)")
            .as("shingle"))
        .groupBy("doc_id").agg(collect_set(col("shingle")).as("sarr"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
      val native = docs
        .select(col("doc_id"), expr(s"graft_shingles(text, $n)").as("sarr"))
        .filter(size(col("sarr")) > 0)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
      assert(native === expected, s"n=$n mismatch")
    }
  }

  test("sorted-overlap kernel: arrays arrive sorted, count == array_intersect") {
    import org.apache.spark.sql.functions._
    graft.functions.GraftFunctions.register(spark)
    // the producer's invariant: graft_shingles output is ascending
    val arrs = Tables.load(spark, sf, "documents")
      .select(expr("graft_shingles(text, 3)").as("sarr"))
      .filter(size(col("sarr")) > 0)
    val unsorted = arrs
      .filter(expr("sarr != array_sort(sarr)")).count()
    assert(unsorted === 0, "shingler must emit ascending arrays")
    // and on those production arrays the two-pointer merge equals the
    // built-in intersection size, pair by pair
    val a = arrs.limit(40).withColumn("k", monotonically_increasing_id())
    val pairs = a.as("x").crossJoin(a.as("y"))
      .select(
        expr("graft_sorted_overlap(x.sarr, y.sarr)").as("fast"),
        size(array_intersect(col("x.sarr"), col("y.sarr"))).as("ref"))
    assert(pairs.filter(col("fast") =!= col("ref")).count() === 0)
  }

  test("sorted-overlap kernel: null element nulls the result (arbitrary-SQL safety)") {
    import org.apache.spark.sql.functions.expr
    graft.functions.GraftFunctions.register(spark)
    // session-registered and reachable from arbitrary SQL, where array
    // types admit null elements — getLong on a null slot must not
    // return garbage
    val r = spark.sql(
      """SELECT graft_sorted_overlap(array(1L, CAST(NULL AS BIGINT), 3L),
        |                            array(1L, 3L)) AS c,
        |       graft_sorted_overlap(array(1L, 3L), array(1L, 3L)) AS ok
        |""".stripMargin).head()
    assert(r.isNullAt(0), "null element must null the count")
    assert(r.getInt(1) === 2)
  }

  test("decontamination flags exactly the train docs sharing a 5-gram with eval") {
    val dir = tempDir("graft-decon-spec").toString
    Seq(
      // eval doc (src5 is the held-out stratum): 7 tokens → 3 5-grams
      (0L, "alpha beta gamma delta epsilon zeta eta", "en", "src5", 39L),
      // train doc quoting eval's opening 5-gram verbatim: 9 tokens →
      // 5 5-grams, exactly 1 shared
      (1L, "alpha beta gamma delta epsilon unrelated words follow here",
        "en", "srcA", 58L),
      // train doc with no shared phrasing: absent from the output
      (2L, "nine completely different tokens about catalyst plans and shuffles",
        "en", "srcB", 66L),
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = DedupOps.q36Decontamination(spark, dir).collect()
    assert(rows.length === 1, "only the quoting doc is contaminated")
    assert(rows(0).getLong(0) === 1L)
    assert(rows(0).getLong(1) === 1L) // n_hits
    assert(rows(0).getLong(2) === 5L) // n_shingles
    assert(rows(0).getDouble(3) === 0.2)
  }

  test("incremental dedup: append workflow reuses the staged index and equals " +
      "a full recompute restricted to pairs touching the batch") {
    import org.apache.spark.sql.functions.col
    import java.nio.file.{Files => JF, Paths => JP}
    import java.nio.file.attribute.FileTime
    val dir = tempDir("graft-incr-spec").toString
    val base = "the quick brown fox jumps over the lazy dog near the old river bank " +
      "while morning light filters through tall green trees onto the quiet path"
    Seq(
      (0L, base, "en", "srcA", base.length.toLong),
      (1L, base.replace("quiet", "narrow"), "en", "srcB", base.length.toLong),
      (2L, "completely different words about spark catalyst optimizer plans and shuffles here",
        "en", "srcC", 80L),
      (3L, "yet another unrelated document describing broadcast joins and partition pruning",
        "en", "srcD", 79L),
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    def fileMtime(uri: String): Long =
      JF.getLastModifiedTime(JP.get(java.net.URI.create(uri))).toMillis
    // 1. build the corpus index once; record its staged files
    val a1 = DedupOps.stagedShingleArrays(spark, dir)
    val files1 = a1.inputFiles.toSet
    val mtimes1 = files1.map(f => f -> fileMtime(f)).toMap
    val n1 = a1.count()
    // 2. append a batch (one near-dup of doc 0, one novel doc) — the
    // reference's own append workflow — and register it incrementally
    val batch = Seq(
      (100L, base + " tonight", "en", "srcN", base.length + 8L),
      (101L, "novel content sharing no phrasing with anything already indexed",
        "en", "srcN", 63L),
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    batch.write.mode("append").parquet(s"$dir/documents.parquet")
    val corpusPath = JP.get(s"$dir/documents.parquet")
    JF.setLastModifiedTime(corpusPath, FileTime.fromMillis(
      JF.getLastModifiedTime(corpusPath).toMillis + 1500))
    DedupOps.refreshShingleIndex(spark, dir, batch)
    // 3. the refreshed index = old staged files (byte-untouched) + a delta
    val a2 = DedupOps.stagedShingleArrays(spark, dir)
    val files2 = a2.inputFiles.toSet
    assert(files1.subsetOf(files2), "refresh must reuse the staged corpus files")
    assert(files2.size > files1.size, "refresh must add a delta dir")
    mtimes1.foreach { case (f, m) =>
      assert(fileMtime(f) === m, s"staged corpus file rewritten: $f") }
    assert(a2.count() === n1 + 2)
    // 4. incremental near-dups off the refreshed index == full q31
    // recompute on the combined corpus, restricted to pairs touching
    // the batch (and the full run ALSO reuses the staged files)
    val newArrays = a2.filter(col("doc_id") >= 100L)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_a", "doc_b", "inter", "n_a", "n_b", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getInt(3), r.getInt(4), r.getDouble(5))).toSet
    val inc = rows(DedupOps.incrementalNearDupsFrom(a2, newArrays, 0.5))
    val full = rows(DedupOps.q31NgramJaccard(spark, dir)
      .filter(col("doc_a") >= 100L || col("doc_b") >= 100L))
    assert(inc === full)
    assert(inc.exists { case (a, b, _, _, _, _) => a === 0L && b === 100L },
      "the batch near-dup of doc 0 must be found")
    assert(!inc.exists { case (_, b, _, _, _, _) => b === 101L },
      "the novel batch doc has no near-dups")
    mtimes1.foreach { case (f, m) =>
      assert(fileMtime(f) === m, s"full q31 run rebuilt staged file: $f") }
    // 5. the prefix/positional pruning is lossless on harder inputs:
    // seeded docs with truncated copies whose sizes straddle the
    // length bound ⌈τ·max⌉, a pair at exactly J = 0.5, and a pair at
    // J = 5000/10001 that round(·, 4) lifts to 0.5000. Reference: the
    // unpruned join (every shingle probed, no length filter).
    val rng = new scala.util.Random(20260)
    val vocab = (0 until 30).map(i => s"w$i")
    def words(k: Int) = Seq.fill(k)(vocab(rng.nextInt(vocab.size)))
    val bases = (0 until 12).map(i => (i.toLong, words(8 + rng.nextInt(30))))
    val copies = bases.flatMap { case (id, ws) =>
      val cut = (ws.size + 2) / 2 // shingle count ≈ half the source's
      Seq(-1, 0, 1, 2).map(d => (1000L + 10 * id + d + 1, ws.take(cut + d))) ++
        Seq((2000L + id, ws.updated(rng.nextInt(ws.size), "zz")))
    }
    val chain = (0 until 10003).map(i => s"t$i")
    val edge = Seq(
      (3000L, chain.take(22)), (3001L, chain.take(12)), // 10 ⊂ 20: J = 0.5
      (3002L, chain), (3003L, chain.take(5002))) // 5000 ⊂ 10001
    val all = (bases ++ copies ++ edge)
      .map { case (id, ws) => (id, ws.mkString(" ")) }.toDF("doc_id", "text")
    val arrays = DedupOps.shingleArrays(all, spread = false)
    val batchArrays = arrays.filter(col("doc_id") >= 1000L)
    val unpruned = unprunedNearDups(arrays, batchArrays)
    val pruned = rows(DedupOps.incrementalNearDupsFrom(arrays, batchArrays, 0.5))
    val expect = rows(unpruned)
    assert(pruned === expect)
    assert(expect.contains((3000L, 3001L, 10, 20, 10, 0.5)))
    assert(expect.contains((3002L, 3003L, 5000, 10001, 5000, 0.5)))
    // the truncated copies land on both sides of the threshold
    val truncated = bases.flatMap { case (id, _) =>
      (0 until 4).map(k => (id, 1000L + 10 * id + k)) }
    val kept = truncated.count { case (a, b) =>
      expect.exists(r => r._1 == a && r._2 == b) }
    assert(kept > 0 && kept < truncated.size)
  }

  /** The unpruned reference for the incremental kernel: every shingle
    * of every doc probes every shingle of the batch (no prefix, length
    * or positional filter), distinct pairs, exact verify. */
  private def unprunedNearDups(arrays: org.apache.spark.sql.DataFrame,
      batchArrays: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions.{col, explode, greatest, least}
    def shingleRows(a: org.apache.spark.sql.DataFrame) =
      a.select(col("doc_id"), explode(col("sarr")).as("shingle"))
    DedupOps.jaccardFor(
      shingleRows(arrays).as("s").join(shingleRows(batchArrays).as("b"),
          col("s.shingle") === col("b.shingle") && col("s.doc_id") =!= col("b.doc_id"))
        .select(least(col("s.doc_id"), col("b.doc_id")).as("doc_a"),
          greatest(col("s.doc_id"), col("b.doc_id")).as("doc_b"))
        .distinct(), arrays)
      .filter(col("jaccard") >= 0.5)
  }

  test("incremental near-dups: each pair exactly once, as the unpruned reference") {
    import org.apache.spark.sql.functions.col
    val rng = new scala.util.Random(18018)
    val vocab = (0 until 400).map(i => s"v$i")
    def words(k: Int) = Seq.fill(k)(vocab(rng.nextInt(vocab.size)))
    val a = words(40); val b = words(30); val c = words(50)
    val docs = Seq(
      100L -> a, 200L -> b, 300L -> words(35), 301L -> words(20), // corpus
      5L -> a.updated(3, "x1"), // batch id below its corpus partner 100
      500L -> (b :+ "tail"), // batch id above its corpus partner 200
      7L -> c, 600L -> c.take(45), // a within-batch pair, n(7) > n(600)
      800L -> a) // a copy of 100: the pair shares every prefix shingle
      .map { case (id, ws) => (id, ws.mkString(" ")) }.toDF("doc_id", "text")
    val arrays = DedupOps.shingleArrays(docs, spread = false)
    val batch = arrays.filter(col("doc_id").isin(5L, 500L, 7L, 600L, 800L))
    // a sorted Seq, not a Set: a pair emitted twice must fail
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_a", "doc_b", "inter", "n_a", "n_b", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getInt(3), r.getInt(4), r.getDouble(5))).toSeq.sorted
    val got = rows(DedupOps.incrementalNearDupsFrom(arrays, batch, 0.5))
    assert(got === rows(unprunedNearDups(arrays, batch)))
    val n = arrays.select("doc_id", "n").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    def pair(x: Long, y: Long) = got.filter(r => r._1 == x && r._2 == y)
    assert(pair(5L, 100L).size === 1, "batch id below its partner")
    assert(pair(200L, 500L).size === 1, "batch id above its partner")
    assert(pair(100L, 800L).map(_._6) === Seq(1.0), "several shared prefix shingles")
    assert(n(7L) > n(600L))
    assert(pair(7L, 600L).map(r => (r._4, r._5)) === Seq((n(7L), n(600L))),
      "a within-batch pair: one row, n_a/n_b oriented by id")
    assert(got.forall(r => r._1 < r._2))
    // an empty batch: no rows and no error
    assert(DedupOps.incrementalNearDupsFrom(arrays,
      batch.filter(col("doc_id") < 0L), 0.5).count() === 0L)
  }

  test("incremental near-dups: a batch over the broadcast cap fails typed") {
    import org.apache.spark.sql.functions.col
    val arrays = DedupOps.stagedShingleArrays(spark, corpusDir)
    val batch = arrays.filter(col("doc_id") >= 2L)
    val e = intercept[graft.operators.BatchTooLargeException](
      DedupOps.incrementalNearDupsFrom(arrays, batch, 0.5, capBytes = 16L))
    assert(e.cap === 16L && e.estimate > BigInt(16))
    assert(e.getMessage.contains(e.estimate.toString) && e.getMessage.contains("16-byte"))
    assert(DedupOps.incrementalNearDupsFrom(arrays, batch, 0.5).count() > 0L)
  }

  test("q31 over an empty documents table returns an empty result") {
    val dir = tempDir("graft-q31-empty").toString
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    assert(DedupOps.stagedShingleArrays(spark, dir).count() === 0L)
    assert(DedupOps.q31NgramJaccard(spark, dir).collect().isEmpty)
  }

  test("q36 gram relation is memoized: second invocation stages no new dir") {
    import scala.jdk.CollectionConverters._
    def deconDirs: Int = {
      val s = java.nio.file.Files.list(
        java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
      try s.iterator.asScala.count(
        _.getFileName.toString.startsWith("graft-decon"))
      finally s.close()
    }
    val r1 = DedupOps.q36Decontamination(spark, corpusDir).collect()
    val before = deconDirs
    val r2 = DedupOps.q36Decontamination(spark, corpusDir).collect()
    assert(deconDirs === before,
      "second q36 invocation must reuse the memoized gram relation")
    assert(r2.toSeq === r1.toSeq)
  }

  test("q75 on the fixture: every pair touches the batch, jaccard >= tau, " +
      "batch self-dups found") {
    import org.apache.spark.sql.functions.col
    val rows = DedupOps.q75IncrementalDedup(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(1) >= 1000000L),
      "doc_b of every pair must be a batch doc (batch ids are maximal)")
    assert(rows.forall(_.getDouble(5) >= 0.5))
    // each derived batch doc is a near-dup of its own source doc
    // (suffix of 2 tokens cannot push J below 0.5 for docs >= 4 tokens)
    val selfPairs = rows.filter(r =>
      r.getLong(1) === r.getLong(0) + 1000000L).map(_.getLong(0)).toSet
    val expected = graft.Tables.load(spark, sf, "documents")
      .filter(col("doc_id") % 17 === 3)
      .filter(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.lower(
            org.apache.spark.sql.functions.trim(col("text"))), "\\s+")) >= 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(selfPairs === expected)
  }

  test("bloom filter: zero false negatives, bounded false positives, build==probe layout") {
    import org.apache.spark.sql.functions._
    graft.functions.GraftFunctions.register(spark)
    // 2,000 member hashes folded into a 2^16-bit filter (k=7): every
    // member MUST probe true (the no-false-negative guarantee the
    // exact-confirm composition relies on); disjoint non-members probe
    // true at ~the design FPR (<< 1% at 32 bits/element) — assert a
    // generous 5% ceiling so the test never flakes on hash accidents
    val members = spark.range(0, 2000)
      .select((col("id") * 2654435761L + 12345L).as("h"))
    members.createOrReplaceTempView("bloom_members")
    val bloom = spark.sql(
      "SELECT graft_bloom_agg(h, 65536, 7) AS bloom FROM bloom_members")
    val withBloom = members.crossJoin(broadcast(bloom))
    assert(withBloom.filter(expr("graft_bloom_contains(bloom, h, 7)")).count()
      === 2000L, "every inserted hash must be contained")
    val nonMembers = spark.range(0, 10000)
      .select((col("id") * 987654321987L + 777L).as("h"))
      .crossJoin(broadcast(bloom))
    val fp = nonMembers.filter(expr("graft_bloom_contains(bloom, h, 7)")).count()
    assert(fp <= 500L, s"false-positive count $fp exceeds 5% of 10k probes")
  }

  test("bloom decontamination == exact decontamination; the prefilter actually prunes") {
    import org.apache.spark.sql.functions._
    graft.functions.GraftFunctions.register(spark)
    // q122 (bloom-pruned, src7 eval) must equal the plain exact
    // formulation computed independently here — the bloom is a
    // transparent optimization
    val dir = sf
    val docs = Tables.load(spark, dir, "documents")
    val grams = docs.select(col("doc_id"), col("source"),
      explode(expr("graft_shingles(text, 5)")).as("shingle"))
    val ev = grams.filter(col("source") === "src7").select("shingle").distinct()
    val train = grams.filter(col("source") =!= "src7")
    val exact = train.join(broadcast(ev), "shingle")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      .join(train.groupBy("doc_id").agg(count(lit(1)).as("n_shingles")), "doc_id")
      .select(col("doc_id"), col("n_hits"), col("n_shingles"),
        round(col("n_hits") / col("n_shingles"), 4).as("contamination"))
      .orderBy("doc_id")
    val got = DedupOps.q122BloomDecontam(spark, dir)
    assert(got.collect().toSeq === exact.collect().toSeq)
    // pruning: probes passing the filter are a small fraction of the
    // train grams (eval stratum is ~5% of the corpus)
    val nEv = ev.count()
    val mBits = { var m = 1L << 16; while (m < 16L * nEv && m < (1L << 27)) m <<= 1; m }
    val bloom = ev.agg(expr(s"graft_bloom_agg(shingle, $mBits, 7)").as("bloom"))
    val total = train.count()
    val passed = train.crossJoin(broadcast(bloom))
      .filter(expr("graft_bloom_contains(bloom, shingle, 7)")).count()
    assert(passed < total / 2,
      s"bloom prefilter must prune the train side: $passed of $total passed")
  }

  test("fingerprint is whitespace-insensitive but content-sensitive") {
    val docs = Seq(
      (0L, "hello   world", "en", "s", 13L),
      (1L, " hello world ", "en", "s", 13L),
      (2L, "hello worlds", "en", "s", 12L),
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempDir("graft-fp").toString
    docs.write.parquet(s"$dir/documents.parquet")
    val fps = TextOps.q24Fingerprint(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fps(0L) === fps(1L))
    assert(fps(0L) !== fps(2L))
  }

  test("exact-substring dedup (q131): spans are well-formed, disjoint, " +
      "and each really is duplicated text — the 30-token head of every " +
      "removal span occurs token-aligned in another document") {
    val W = 30
    val spans = DedupOps.queries("q131_substring_dedup")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    assert(spans.nonEmpty, "fixture must contain duplicated spans")
    // well-formed: a span covers at least one full window; the flagged
    // window count fits the span's window capacity
    spans.foreach { case (doc, start, end, nw) =>
      assert(start >= 0 && end >= start + W, s"degenerate span $doc/$start/$end")
      assert(nw >= 1 && nw <= end - start - W + 1,
        s"window count $nw outside span capacity at $doc/$start/$end")
    }
    // maximal: per doc, consecutive spans have a gap (> W between
    // flagged window starts means strictly start > previous end) —
    // touching spans would mean the island merge failed
    spans.groupBy(_._1).values.foreach { ss =>
      ss.sortBy(_._2).sliding(2).foreach {
        case Array((_, _, e1, _), (d, s2, _, _)) =>
          assert(s2 > e1, s"doc $d: spans touch/overlap ($e1 vs $s2)")
        case _ =>
      }
    }
    // ground truth, no hashes involved: the first window of every span
    // appears verbatim (token-aligned) in some OTHER document, or at a
    // DIFFERENT position of the same document — i.e. the flagged text
    // is genuinely repeated, not a hash artifact
    val norm = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).trim.toLowerCase.split("\\s+", -1)).toMap
    val joined = norm.view.mapValues(t => " " + t.mkString(" ") + " ").toMap
    spans.foreach { case (doc, start, _, _) =>
      val win = " " + norm(doc).slice(start, start + W).mkString(" ") + " "
      val selfText = joined(doc)
      val dupElsewhere = joined.exists { case (d, t) =>
        d != doc && t.contains(win) }
      val dupWithin = selfText.indexOf(win) < selfText.lastIndexOf(win)
      assert(dupElsewhere || dupWithin,
        s"span head at doc=$doc start=$start is not duplicated anywhere")
    }
  }

  test("span excision (q132): removal counts reconcile with q131's " +
      "spans exactly, and the kept-token checksum matches an " +
      "independent driver-side replay of the interval exclusion") {
    val spans = DedupOps.queries("q131_substring_dedup")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    val out = DedupOps.queries("q132_span_excision")(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // affected-doc sets agree; per-doc removed == sum of span lengths
    val byDoc = spans.groupBy(_._1)
    assert(out.keySet === byDoc.keySet)
    byDoc.foreach { case (doc, ss) =>
      val expectRemoved = ss.map(s => s._3 - s._2).sum.toLong
      val (nTok, nRem, nKept, _) = out(doc)
      assert(nRem === expectRemoved,
        s"doc $doc: removed $nRem != span total $expectRemoved")
      assert(nTok === nRem + nKept)
      assert(nRem >= 30, s"doc $doc: a span removes at least one window")
    }
    // independent replay: driver-side interval exclusion over the raw
    // tokens must reproduce the SQL checksum bit-for-bit
    val texts = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val M = 1000003L
    out.foreach { case (doc, (_, _, _, checksum)) =>
      val toks = texts(doc).trim.toLowerCase.split("\\s+", -1)
      val ss = byDoc(doc)
      val replay = toks.indices.filterNot(p =>
        ss.exists(s => p >= s._2 && p < s._3)).map { p =>
        val hex = org.apache.commons.codec.digest.DigestUtils.md5Hex(
          toks(p).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val h = java.lang.Long.parseLong(hex.substring(0, 15), 16)
        ((p + 1) % M) * (h % M) % M
      }.sum % M // the published checksum is reduced mod M (round 13)
      assert(replay === checksum,
        s"doc $doc: checksum $checksum != driver replay $replay")
    }
  }

  test("cleaned-text emission (q133): affected docs rebuild to exactly " +
      "the kept tokens in order; clean docs hash their canonical text; " +
      "kept counts reconcile with q132") {
    val spans = DedupOps.queries("q131_substring_dedup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    val byDoc = spans.groupBy(_._1)
    val q132 = DedupOps.queries("q132_span_excision")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap // n_kept
    val out = DedupOps.queries("q133_cleaned_text")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val texts = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet === texts.keySet, "q133 must emit EVERY document")
    def md5hex(s: String): String =
      org.apache.commons.codec.digest.DigestUtils.md5Hex(
        s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    texts.foreach { case (doc, text) =>
      val toks = text.trim.toLowerCase.split("\\s+", -1)
      val (nKept, hash) = out(doc)
      if (byDoc.contains(doc)) {
        val ss = byDoc(doc)
        val kept = toks.indices.filterNot(p =>
          ss.exists(s => p >= s._2 && p < s._3)).map(toks)
        assert(nKept === kept.length.toLong)
        assert(nKept === q132(doc), s"doc $doc: q133/q132 n_kept differ")
        assert(hash === md5hex(kept.mkString(" ")),
          s"doc $doc: cleaned hash != ordered kept-token replay")
        assert(hash !== md5hex(toks.mkString(" ")),
          s"doc $doc: an affected doc's cleaned text must differ")
      } else {
        assert(nKept === toks.length.toLong)
        assert(hash === md5hex(toks.mkString(" ")),
          s"doc $doc: clean doc must hash its canonical text")
      }
    }
  }

  test("leakage-safe split (q127): duplicates never straddle splits; " +
      "80/10/10 shape holds roughly") {
    val rows = DedupOps.q127LeakageSafeSplit(spark, sf).collect()
    val bySplit = rows.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(bySplit.keySet === Set("train", "val", "test"))
    // the computed audit: zero content groups straddle a split boundary
    assert(rows.forall(_.getLong(3) === 0L),
      s"leaky groups must be 0: ${rows.toSeq}")
    // hash-split shape: train holds the large majority of groups
    val total = bySplit.values.map(_._2).sum.toDouble
    assert(bySplit("train")._2 / total > 0.6,
      s"train share off: $bySplit")
    // duplicated docs (the +100000 ids) inflate docs above groups
    assert(bySplit.values.map(_._1).sum > total)
  }

  test("q145: canonically equal renderings unify under one NFC fingerprint") {
    import org.apache.spark.sql.functions._
    // expression-level contract first: composition, decomposition and
    // mark reordering all land on the same NFC form
    graft.functions.GraftFunctions.register(spark)
    val forms = Seq("\u00e9", "e\u0301").toDF("s")
      .select(expr("graft_nfc(s)").as("n")).as[String].collect()
    assert(forms.distinct.length === 1 && forms.head === "\u00e9",
      s"NFC must compose e+COMBINING ACUTE to U+00E9: ${forms.toSeq}")
    val marks = Seq("a\u0323\u0301", "a\u0301\u0323").toDF("s")
      .select(expr("graft_nfc(s)").as("n")).as[String].collect()
    assert(marks.distinct.length === 1 && marks.head === "\u1ea1\u0301",
      s"NFC must reorder classes 220<230 and compose the dot-below " +
        s"(U+1EA1 + the acute left combining): ${marks.toSeq}")
    // operator-level: the derived variants pair with each other, never
    // with their byte-plain base, and n_encodings counts the unified
    // byte-distinct renderings
    val d = tempDir("graft-nfc-spec").toString
    Seq(
      (0L, "plain zero avocado", "en", "s", 18L),
      (1L, "the letter e appears here", "en", "s", 25L), // %4==1: e-variants
      (2L, "an apple a day", "en", "s", 14L), // %4==2: a-mark variants
      (3L, "no vowel swap target", "en", "s", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    val rows = DedupOps.queries("q145_unicode_dedup")(spark, d).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc 1's precomposed (+1M) and decomposed (+2M) copies: one group,
    // 2 copies, 2 byte-distinct renderings, keeper = min variant id
    assert(rows.contains((1000001L, 2L, 2L)), s"e-variants: ${rows.toSeq}")
    // doc 2's two mark orderings (+3M/+4M): same
    assert(rows.contains((3000002L, 2L, 2L)), s"mark-variants: ${rows.toSeq}")
    // the bases stay singletons — canonical dedup never conflates a
    // plain 'e' with 'é'
    for (base <- Seq(0L, 1L, 2L, 3L))
      assert(rows.contains((base, 1L, 1L)), s"base $base: ${rows.toSeq}")
    assert(rows.length === 6)
  }

  test("q148: the URL canonicalization table — scheme/case/port/slash/" +
      "utm variants collapse, distinct paths and real params don't") {
    import org.apache.spark.sql.functions._
    def canon(urls: String*): Seq[String] =
      urls.toDF("u").select(DedupOps.canonicalUrl(col("u")).as("c"))
        .as[String].collect().toSeq
    // collapsing variants: each group lands on ONE canonical form
    assert(canon(
      "http://www.example.com/a",
      "HTTP://WWW.Example.COM/a",          // scheme + host case
      "http://www.example.com:80/a",        // default port
      "http://www.example.com/a/",          // trailing slash
      "http://www.example.com/a?utm_source=x&utm_campaign=y" // pure utm
    ).distinct === Seq("http://www.example.com/a"))
    assert(canon(
      "https://ex.com:443/p?id=1&utm_medium=m",
      "HTTPS://EX.com/p?id=1"
    ).distinct === Seq("https://ex.com/p?id=1"))
    // NON-collapsing: distinct paths, kept params, non-default ports,
    // different schemes, param ORDER (not safe to reorder)
    assert(canon("http://ex.com/a", "http://ex.com/b").distinct.size === 2)
    assert(canon("http://ex.com/a?id=1", "http://ex.com/a?id=2")
      .distinct.size === 2)
    assert(canon("http://ex.com:8080/a") === Seq("http://ex.com:8080/a"))
    assert(canon("http://ex.com/a", "https://ex.com/a").distinct.size === 2)
    assert(canon("http://ex.com/a?x=1&y=2") === Seq("http://ex.com/a?x=1&y=2"))
    assert(canon("http://ex.com/a?y=2&x=1") === Seq("http://ex.com/a?y=2&x=1"))
    // utm dropped from the middle keeps the others' order
    assert(canon("http://ex.com/a?x=1&utm_source=s&y=2")
      === Seq("http://ex.com/a?x=1&y=2"))
    // host-only URL: empty path stays empty, no stray slash
    assert(canon("HTTP://Ex.COM", "http://ex.com/").distinct
      === Seq("http://ex.com"))
    // end-to-end keeper semantics on the synthesized fixture: variant
    // groups are {v0,v1,v2} (bare) and {v3,v4} (?id=), keeper = group min
    val rows = DedupOps.queries("q148_url_dedup")(spark, sf).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    val byUrl = rows.map(r => r._1 -> ((r._2, r._3))).toMap
    assert(rows.nonEmpty)
    // page 1 (docs 5-9): site1.example.com/doc/1 — bare group keeper=5
    // (v0), size 3; ?id=1 group keeper=8 (v3), size 2
    assert(byUrl("http://site1.example.com/doc/1") === ((5L, 3L)))
    assert(byUrl("http://site1.example.com/doc/1?id=1") === ((8L, 2L)))
    // conservation: group sizes sum to the doc count
    val nDocs = Tables.load(spark, sf, "documents").count()
    assert(rows.map(_._3).sum === nDocs)
  }

  test("q153: host reputation bands — dup_farm / low_quality / ok, " +
      "with dup_farm taking precedence on the rounded metrics") {
    import org.apache.spark.sql.functions._
    // crafted host profiles driving every verdict branch through the
    // extracted rollup core (the fixture's uniform synthesis exercises
    // only the dup_farm band end-to-end)
    val canon = Seq(
      // dupfarm.ex: 4 docs on 2 pages -> dup_ratio 0.5 (boundary IN)
      (1L, "http://dupfarm.ex/a", "dupfarm.ex"),
      (2L, "http://dupfarm.ex/a", "dupfarm.ex"),
      (3L, "http://dupfarm.ex/b", "dupfarm.ex"),
      (4L, "http://dupfarm.ex/b", "dupfarm.ex"),
      // junk.ex: no dup, stopword ratio 1/100 = 0.01 < 0.05
      (5L, "http://junk.ex/a", "junk.ex"),
      (6L, "http://junk.ex/b", "junk.ex"),
      // good.ex: no dup, healthy ratio
      (7L, "http://good.ex/a", "good.ex"),
      (8L, "http://good.ex/b", "good.ex"),
      // both.ex: dup-farm AND junk-grade quality -> first branch wins
      (9L, "http://both.ex/a", "both.ex"),
      (10L, "http://both.ex/a", "both.ex"))
      .toDF("doc_id", "canonical_url", "host")
    val meta = Seq(
      (1L, 50L, 10L), (2L, 50L, 10L), (3L, 50L, 10L), (4L, 50L, 10L),
      (5L, 100L, 1L), (6L, 100L, 1L),
      (7L, 100L, 20L), (8L, 100L, 20L),
      (9L, 100L, 0L), (10L, 100L, 0L))
      .toDF("doc_id", "n_tokens", "stop_hits")
    val got = DedupOps.hostReputation(canon, meta).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getString(5)))).toMap
    assert(got("dupfarm.ex") === ((4L, 2L, 0.5, 0.2, "dup_farm")))
    assert(got("junk.ex") === ((2L, 2L, 0.0, 0.01, "low_quality")))
    assert(got("good.ex") === ((2L, 2L, 0.0, 0.2, "ok")))
    assert(got("both.ex") === ((2L, 1L, 0.5, 0.0, "dup_farm")))
    // fixture end-to-end: every synthesized host carries 5 variants
    // per page collapsing to 2 canonical pages -> dup_ratio 0.6, all
    // dup_farm; host count = min(20, pages)
    val fixture = DedupOps.queries("q153_host_reputation")(spark, sf)
      .collect()
    assert(fixture.nonEmpty && fixture.length <= 20)
    assert(fixture.forall(_.getDouble(3) === 0.6))
    assert(fixture.forall(_.getString(5) === "dup_farm"))
    // conservation: per-host docs sum to the corpus
    val nDocs = Tables.load(spark, sf, "documents").count()
    assert(fixture.map(_.getLong(1)).sum === nDocs)
  }

  test("q152: the cross-source overlap matrix counts shared canonical " +
      "content, not shared ids — disjoint sources never pair") {
    import org.apache.spark.sql.functions._
    // fixture sources are disjoint; the synthetic 'recrawl' (%3) and
    // 'mirror' (%5) re-releases create known overlaps. Verify against
    // first-principles set arithmetic on the corpus itself.
    val rows = DedupOps.queries("q152_source_overlap")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        md5(TextOps.normText(col("text"))).as("fp"), col("source"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val fpBySrc = docs.groupBy(_._3).view
      .mapValues(_.map(_._2).toSet).toMap
    val recrawl = docs.filter(_._1 % 3 == 0).map(_._2).toSet
    val mirror = docs.filter(_._1 % 5 == 0).map(_._2).toSet
    // every original source × recrawl: shared = its own %3 fps
    fpBySrc.foreach { case (src, fps) =>
      val wantShared = (fps & recrawl).size.toLong
      val got = rows.get(
        if (src < "recrawl") (src, "recrawl") else ("recrawl", src))
      if (wantShared == 0) assert(got.isEmpty, s"$src: $got")
      else assert(got.get._1 === wantShared, s"$src: $got want $wantShared")
    }
    // mirror × recrawl: the %15 docs
    val mr = rows(("mirror", "recrawl"))
    assert(mr._1 === (mirror & recrawl).size.toLong)
    assert(mr._2 === mirror.size.toLong && mr._3 === recrawl.size.toLong)
    // jaccard recomputes from the counts, rounded
    rows.values.foreach { case (s, na, nb, j) =>
      assert(j === BigDecimal(s.toDouble / (na + nb - s))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    // NO pair of two original (disjoint) sources appears
    assert(rows.keys.forall { case (a, b) =>
      Set(a, b).exists(s => s == "recrawl" || s == "mirror") })
  }

  test("q152 memoizes its staged (fp, source) relation per corpus " +
      "fingerprint: a repeat invocation stages nothing") {
    // round-16 verdict #6: each re-run of the provenance report was
    // re-fingerprinting the whole corpus into a fresh Scratch dir;
    // StagedCache now keys it on the documents fingerprint like every
    // other index. First call may build or hit (other tests run q152
    // too) — the SECOND call must be a pure cache hit either way.
    val r1 = DedupOps.queries("q152_source_overlap")(spark, sf).collect()
    val afterFirst = DedupOps.q152Index.builds
    val r2 = DedupOps.queries("q152_source_overlap")(spark, sf).collect()
    assert(DedupOps.q152Index.builds === afterFirst,
      "repeat q152 invocation re-staged the corpus fingerprint relation")
    assert(r1.map(_.toString).sorted.toSeq ===
      r2.map(_.toString).sorted.toSeq)
  }

  test("curation pipeline (q137): funnel conserves documents and its " +
      "stages reconcile with the standalone operators") {
    import org.apache.spark.sql.functions._
    val rows = DedupOps.q137CurationPipeline(spark, sf).collect()
      .sortBy(_.getLong(0))
    assert(rows.length === 12)
    assert(rows.map(_.getString(1)).toSeq === Seq("input", "exact_dedup",
      "neardup", "eval_holdout", "decontaminated", "too_short",
      "lang_excluded", "repetitive", "low_quality", "model_filtered",
      "split_holdout", "shard_manifest"))
    // conservation: every stage's out = in - dropped, and it feeds the
    // next stage's in (the manifest row restates the final train set)
    rows.foreach { r =>
      assert(r.getLong(4) === r.getLong(2) - r.getLong(3), r.toString) }
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getLong(2) === a.getLong(4), s"funnel gap: $a -> $b") }
    // stage 1/2 reconcile with the corpus arithmetic: input = docs +
    // amplified copies; exact_dedup drops corpus - distinct texts
    val docs = Tables.load(spark, sf, "documents")
    val n = docs.count()
    val dup = docs.filter(col("doc_id") % 2 === 0).count()
    assert(rows(0).getLong(2) === n + dup)
    val distinctFp = docs.select(
      graft.operators.TextOps.normText(col("text"))).distinct().count()
    assert(rows(1).getLong(3) === n + dup - distinctFp)
    // stage 3 reconciles with q34: dropped = clustered non-keepers
    // that survived exact dedup (= non-keepers whose id is a distinct-
    // text keeper; on this fixture every base doc with distinct text)
    val q34 = DedupOps.q34DedupClusters(spark, sf).collect()
    val nonKeepers = q34.count(r => !r.getBoolean(2))
    assert(rows(2).getLong(3) <= nonKeepers &&
      rows(2).getLong(3) >= nonKeepers - (n + dup - distinctFp))
    // the model gate binds on this fixture: some survivors drop, some
    // pass (a vacuous stage would mean the threshold is mis-set)
    val model = rows.find(_.getString(1) == "model_filtered").get
    assert(model.getLong(3) > 0L && model.getLong(4) > 0L,
      s"model stage should drop some but not all: $model")
    // (the per-doc reconciliation with the standalone q147 bar is the
    // oracle's job — both replay the same shared score arithmetic)
    // manifest detail parses and restates the train row
    val detail = rows(11).getString(5)
    val kv = detail.split(",").map(_.split("=")).map(a => a(0) -> a(1).toLong).toMap
    assert(kv("shards") >= 1L && kv("shards") <= 16L)
    assert(kv("total_tokens") > 0L)
    assert(rows(11).getLong(2) === rows(10).getLong(4))
    // split detail sums to the split_holdout casualties
    val sd = rows(10).getString(5).split(",").map(_.split("=")(1).toLong).sum
    assert(sd === rows(10).getLong(3))
  }

  test("q137 funnel: a corpus with an empty train set emits the zero manifest, not nulls") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // every doc is too_short, so nothing reaches 'train' — the
    // manifest row must read shards=0,total_tokens=0,manifest_fp=0 on
    // BOTH engines (round-14 review: the oracle's un-COALESCEd SUMs
    // returned NULL here and '||' nulled the whole detail string)
    val dir = tempDir("graft-q137e").toString
    Seq((0L, "a b c", "en", "src0", 5L), (1L, "d e f", "en", "src1", 5L),
      (2L, "g h i", "de", "src2", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = DedupOps.q137CurationPipeline(spark, dir).collect()
      .sortBy(_.getLong(0))
    assert(rows.length === 12)
    assert(rows.find(_.getString(1) == "too_short").get.getLong(3) === 3L)
    val manifest = rows.find(_.getString(1) == "shard_manifest").get
    assert(manifest.getLong(2) === 0L)
    assert(manifest.getString(5) === "shards=0,total_tokens=0,manifest_fp=0")
  }
}
