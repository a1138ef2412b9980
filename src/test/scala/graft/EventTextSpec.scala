package graft

import java.sql.Timestamp
import graft.operators.{EventOps, TextOps}

/** Sessionization on crafted event streams with known gaps, plus
  * text-analysis edge cases. */
class EventTextSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("sessionization splits on >30min gaps, per user") {
    val dir = tempDir("graft-ev").toString
    Seq(
      // user 1: two sessions (gap of 45 min between event 2 and 3)
      (0L, ts("2024-01-01 10:00:00"), 1L, "click", 1.0, "{}"),
      (1L, ts("2024-01-01 10:10:00"), 1L, "click", 2.0, "{}"),
      (2L, ts("2024-01-01 10:20:00"), 1L, "click", 3.0, "{}"),
      (3L, ts("2024-01-01 11:05:00"), 1L, "click", 4.0, "{}"),
      // user 2: one session, exactly-30min gap must NOT split (> not >=)
      (4L, ts("2024-01-01 09:00:00"), 2L, "view", 5.0, "{}"),
      (5L, ts("2024-01-01 09:30:00"), 2L, "view", 6.0, "{}"),
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val rows = EventOps.q51Sessionize(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(rows((1L, 1L)) === 3L) // first session: 3 events
    assert(rows((1L, 2L)) === 1L) // second session: 1 event
    assert(rows((2L, 1L)) === 2L) // exactly 30min stays one session
    assert(!rows.contains((2L, 2L)))
  }

  test("hourly rollup buckets on hour boundaries") {
    val dir = tempDir("graft-ev2").toString
    Seq(
      (0L, ts("2024-01-01 10:59:59"), 1L, "click", 1.0, "{}"),
      (1L, ts("2024-01-01 11:00:00"), 1L, "click", 2.0, "{}"),
      (2L, ts("2024-01-01 11:30:00"), 2L, "click", 3.0, "{}"),
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val rows = EventOps.q50HourlyRollup(spark, dir).collect()
    assert(rows.length === 2)
    assert(rows.map(_.getLong(2)).toSeq === Seq(1L, 2L)) // n_events per hour
    assert(rows(1).getLong(4) === 2L) // distinct users in hour 11
  }

  test("native session_window (q57) == manual window algebra, exact-micros semantics") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // The manual twin replays session_window's OWN semantics: gaps in
    // exact microseconds, split at STRICTLY > 30 min (touching windows
    // merge), end = last_ts + gap. (q51 floors to whole seconds first
    // — a subtly different contract; see the q57 scaladoc.)
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val manual = Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          col("ts_us") - col("prev_us") > 1800L * 1000000L, 1).otherwise(0))
      .withColumn("session_seq", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_seq")
      .agg(min(col("ts_us")).as("start_us"),
        (max(col("ts_us")) + 1800L * 1000000L).as("end_us"),
        count(lit(1)).as("n_events"),
        graft.functions.Exact.moneySum(col("value")).as("session_value"))
      .select("user_id", "start_us", "end_us", "n_events", "session_value")
      .orderBy("user_id", "start_us")
    val native = operators.EventOps.q57SessionWindow(spark, sf)
    assert(native.collect().toSeq === manual.collect().toSeq)
  }

  test("session_window boundary: exact-gap touch merges, one micro over splits") {
    val dir = tempDir("graft-sw").toString
    Seq(
      // user 2: gap of exactly 30 min — touching windows MERGE
      (0L, ts("2024-01-01 09:00:00"), 2L, "view", 5.0, "{}"),
      (1L, ts("2024-01-01 09:30:00"), 2L, "view", 6.0, "{}"),
      // user 3: 30 min + 1 microsecond — strictly past the gap, SPLITS
      (2L, ts("2024-01-01 09:00:00"), 3L, "view", 7.0, "{}"),
      (3L, ts("2024-01-01 09:30:00.000001"), 3L, "view", 8.0, "{}"),
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val native = operators.EventOps.q57SessionWindow(spark, dir).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(native(2L) === 1, "exact-30min touch must merge")
    assert(native(3L) === 2, "30min + 1us must split")
    // q51 floors to seconds: the 1us excess vanishes, so it merges both
    val manual = operators.EventOps.q51Sessionize(spark, dir).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(manual(2L) === 1 && manual(3L) === 1,
      "q51's floored-seconds gap must merge both users")
  }

  test("burst detection (q150): a constructed spike flags, steady and " +
      "singleton series never do, zero-variance pins z to 0") {
    val dir = tempDir("graft-burst").toString
    // 'click': 9 quiet days of 2 events + day 10 with 20 (the burst);
    // 'view': constant 3/day (stddev 0 → z 0 everywhere);
    // 'ping': a single day (stddev undefined → z 0)
    val rows = Seq.newBuilder[(Long, java.sql.Timestamp, Long, String, Double, String)]
    var id = 0L
    for (d <- 1 to 9; k <- 1 to 2) {
      rows += ((id, ts(f"2024-01-0$d%01d 10:0$k%01d:00".take(19)), 1L,
        "click", 1.0, "{}")); id += 1
    }
    for (k <- 0 until 20) {
      rows += ((id, ts(f"2024-01-10 10:${k}%02d:00"), 1L, "click", 1.0,
        "{}")); id += 1
    }
    for (d <- 1 to 9; k <- 1 to 3) {
      rows += ((id, ts(f"2024-01-0$d%01d 11:0$k%01d:00".take(19)), 2L,
        "view", 1.0, "{}")); id += 1
    }
    rows += ((id, ts("2024-01-05 12:00:00"), 3L, "ping", 1.0, "{}"))
    rows.result().toDF("event_id", "ts", "user_id", "event_type", "value",
      "props").write.parquet(s"$dir/events.parquet")
    val out = EventOps.queries("q150_burst_detection")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    val day10 = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
      .getTime / 1000
    // the spike day flags; its z matches the hand computation
    val (n, z, burst) = out(("click", day10))
    assert(n === 20L && burst, s"spike must flag: $z")
    // every quiet click day is below the bar (9×2 + 1×20: z ≈ -0.316)
    assert(out.count { case ((t, _), (_, _, b)) => t == "click" && b } === 1)
    // constant series: z exactly 0, never flagged
    assert(out.filter(_._1._1 == "view").values
      .forall { case (_, zz, b) => zz === 0.0 && !b })
    // singleton series: stddev undefined → z pinned to 0
    assert(out.filter(_._1._1 == "ping").values.toSeq ===
      Seq((1L, 0.0, false)))
  }

  test("approx distinct users tracks exact within HLL++ error (q53 bound)") {
    import org.apache.spark.sql.functions._
    // the PRODUCTION one-pass shape (HLL in the same exchange as the
    // other aggregates — q53's scale argument), bounded vs exact here;
    // q53 itself now emits (exact_users, hll_within_3sd) for the
    // driver's hash oracle
    val approx = Tables.load(spark, sf, "events")
      .groupBy(unix_timestamp(date_trunc("day", col("ts"))).as("day_epoch"),
        col("event_type"))
      .agg(approx_count_distinct(col("user_id")).as("approx_users"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val exact = Tables.load(spark, sf, "events")
      .groupBy(unix_timestamp(date_trunc("day", col("ts"))).as("day_epoch"),
        col("event_type"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (k, ex) =>
      val ap = approx(k).toDouble
      // default rsd = 5%; allow 3 sigma plus slack for tiny groups
      assert(math.abs(ap - ex) <= math.max(3, 0.15 * ex),
        s"$k: approx=$ap exact=$ex")
    }
    // and the verification twin's flag must hold everywhere (the 3σ
    // contract the DuckDB oracle asserts TRUE by construction)
    val q53 = EventOps.q53ApproxUsers(spark, sf).collect()
    assert(q53.nonEmpty && q53.forall(_.getBoolean(4)),
      "every group's HLL estimate must land within ±3σ of exact")
  }

  test("as-of join: latest prior click per purchase, ties by event order") {
    val dir = tempDir("graft-asof").toString
    Seq(
      (0L, ts("2024-01-01 09:30:00"), 1L, "purchase", 1.0, "{}"), // no prior click
      (1L, ts("2024-01-01 10:00:00"), 1L, "click", 1.0, "{}"),
      (2L, ts("2024-01-01 10:10:00"), 1L, "click", 1.0, "{}"),
      (3L, ts("2024-01-01 10:30:00"), 1L, "purchase", 9.0, "{}"), // matches id 2
      (4L, ts("2024-01-01 11:00:00"), 2L, "click", 1.0, "{}"),    // other user
      (5L, ts("2024-01-01 11:00:00"), 2L, "purchase", 2.0, "{}"), // same-ts click,
      // smaller event_id → counts as "before" under (ts, event_id) order
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val rows = EventOps.q54AsofJoin(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
    assert(!rows.contains(0L), "purchase without prior click must be absent")
    assert(rows(3L) === ((ts("2024-01-01 10:10:00").getTime * 1000, 1200L)))
    assert(rows(5L)._2 === 0L) // same-instant click attributed by id order
  }

  test("range join plans as an equi-join on the bucket grid, no NL join") {
    val df = EventOps.q55RangeJoin(spark, sf)
    val plan = df.queryExecution.sparkPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"interval join fell back to a nested-loop plan:\n$plan")
    // correctness vs direct containment on collected rows
    val sessions = EventOps.q51Sessionize(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(3), r.getLong(4)))
    val errors = Tables.load(spark, sf, "events")
      .filter(org.apache.spark.sql.functions.col("event_type") === "error")
      .select(org.apache.spark.sql.functions.col("user_id"),
        org.apache.spark.sql.functions.unix_timestamp(
          org.apache.spark.sql.functions.col("ts")).as("e"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = sessions.map { case (k @ (u, _), (s, e)) =>
      k -> errors.count { case (eu, et) => eu == u && et >= s && et <= e }
    }.filter(_._2 > 0).toMap
    val got = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2).toInt).toMap
    assert(got === expected)
  }

  test("loadEvents restores session conf; frame readable after restore") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(key)
    val df = Tables.loadEvents(spark, sf) // real TIMESTAMP(NANOS) file
    assert(spark.conf.getOption(key) === before,
      "loadEvents must not leave a global conf delta")
    // action AFTER the restore: the legacy conf must have been captured
    // into the relation at read time, not re-read at execution
    assert(df.count() > 0)
    assert(df.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
  }

  test("token stats handle multi-space and mixed case") {
    val dir = tempDir("graft-tx").toString
    Seq((0L, "The  QUICK   brown fox", "en", "s", 22L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val r = TextOps.q21TokenStats(spark, dir).head()
    assert(r.getInt(2) === 4) // 4 tokens despite repeated spaces
  }

  test("deterministic sample: stable across runs, near stratum rates") {
    val a = TextOps.q26DeterministicSample(spark, sf).collect()
      .map(_.getLong(0))
    val b = TextOps.q26DeterministicSample(spark, sf).collect()
      .map(_.getLong(0))
    assert(a.toSeq === b.toSeq, "hash-based sampling must be replayable")
    val byLang = TextOps.q26DeterministicSample(spark, sf).collect()
      .groupBy(_.getString(1)).view.mapValues(_.length).toMap
    val totals = Tables.load(spark, sf, "documents").groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val enRate = byLang.getOrElse("en", 0).toDouble / totals("en")
    assert(math.abs(enRate - 0.5) < 0.15, s"en rate $enRate far from 0.5")
    (totals.keySet - "en").foreach { l =>
      val r = byLang.getOrElse(l, 0).toDouble / totals(l)
      assert(math.abs(r - 0.2) < 0.15, s"$l rate $r far from 0.2")
    }
  }

  test("quality percentile cut keeps ~75% of every language") {
    val kept = TextOps.q27QualityPercentile(spark, sf).collect()
      .groupBy(_.getString(1)).view.mapValues(_.length).toMap
    val totals = Tables.load(spark, sf, "documents").groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    totals.foreach { case (lang, n) =>
      val frac = kept.getOrElse(lang, 0).toDouble / n
      assert(frac > 0.7 && frac <= 0.8,
        s"$lang keeps $frac, expected ~0.75 (n=$n)")
    }
  }

  test("salted join == plain join on the skewed key, and salt reaches the join keys") {
    val plain = EventOps.userDeviation(spark, sf, None).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val salted = EventOps.userDeviation(spark, sf, Some(8)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(salted.toSeq === plain.toSeq,
      "salting must be invisible in the result")
    val p = EventOps.userDeviation(spark, sf, Some(8))
      .queryExecution.sparkPlan.toString
    assert(p.contains("salt"),
      s"the salted plan should join on (user_id, salt):\n$p")
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("pii scrub redacts emails and phones and fingerprints the clean text") {
    val dir = tempDir("graft-pii").toString
    Seq(
      // odd, not %3: no injection — the in-text email is the only PII
      (1L, "write to bob@example.org today", "en", "s", 30L),
      // even AND %3==0: both injections fire on clean text
      (6L, "no pii here", "en", "s", 11L),
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = TextOps.q37PiiScrub(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(rows(1L) === ((1, 0, md5hex("write to <EMAIL> today"))))
    assert(rows(6L) === ((1, 1,
      md5hex("no pii here contact <EMAIL> call <PHONE>"))))
  }

  test("repetition ratio: degenerate doc flags, varied doc scores 0, sub-trigram excluded") {
    val dir = tempDir("graft-rep").toString
    Seq(
      (0L, "a a a a a", "en", "s", 9L),          // 3 trigram slots, 1 distinct
      (1L, "one two three four", "en", "s", 18L), // 2 slots, 2 distinct
      (2L, "x y", "en", "s", 3L),                 // no complete trigram
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = TextOps.q38Repetition(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(rows(0L) === ((3, 1, 0.6667, true)))
    assert(rows(1L) === ((2, 2, 0.0, false)))
    assert(!rows.contains(2L), "doc with <3 tokens has no defined ratio")
  }

  test("sequence packing: bin = window the doc's first token lands in, per source") {
    val dir = tempDir("graft-pack").toString
    val w300 = Seq.fill(300)("aa").mkString(" ") // 300 BPE word tokens
    Seq(
      (0L, w300, "en", "s1", w300.length.toLong),
      (1L, w300, "en", "s1", w300.length.toLong),          // starts at 300 → bin 0
      (2L, "aa bb cc dd ee ff gg hh ii jj", "en", "s1", 29L), // starts at 600 → bin 1
      (3L, w300, "en", "s2", w300.length.toLong),          // own stratum, bin 0
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = TextOps.q39SequencePacking(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(rows(("s1", 0L)) === ((2L, 600L, 1.1719))) // overflow stays in bin 0
    assert(rows(("s1", 1L)) === ((1L, 10L, 0.0195)))
    assert(rows(("s2", 0L)) === ((1L, 300L, 0.5859)))
    assert(rows.size === 3)
  }

  test("bpe trainer: greedy leftmost-nonoverlapping merges, re-tokenized each round") {
    val dir = tempDir("graft-bpe").toString
    // "a a a a b": the self-pair (a,a) occurs 3× OVERLAPPING; greedy
    // leftmost BPE merges at positions 0 and 2 only (run parity) →
    // ["a a", "a a", "b"]. Round 2's tie between ("a a","a a") and
    // ("a a","b") resolves by the (x, y) tie-break → "a a a a".
    Seq((0L, "a a a a b", "en", "s", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = TextOps.q76BpeTrainer(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(rows.toSeq === Seq(
      (1, "a a", 3L),          // pre-merge overlapping count
      (2, "a a a a", 1L),      // ["a a","a a","b"] → merge the self-pair
      (3, "a a a a b", 1L)))   // ["a a a a","b"] → final merge
    // round 4 has no adjacent pairs left: the loop stops early
  }

  test("langid picks the language with the most marker hits") {
    val dir = tempDir("graft-lid").toString
    Seq(
      (0L, "the cat and the dog of the house is big", "en", "s", 39L),
      (1L, "el perro de la casa que los gatos", "es", "s", 33L),
      (2L, "der hund und die katze das haus ein baum", "de", "s", 40L),
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val det = TextOps.q23LangId(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(6)).toMap
    assert(det(0L) === "en")
    assert(det(1L) === "es")
    assert(det(2L) === "de")
  }

  test("lm perplexity: every multi-token doc scored, per-lang thirds, repeated text is head") {
    val rows = TextOps.q119LmPerplexity(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getString(4)))
    val docs = Tables.load(spark, sf, "documents")
    val eligible = docs.filter(
      org.apache.spark.sql.functions.size(org.apache.spark.sql.functions
        .split(org.apache.spark.sql.functions.lower(
          org.apache.spark.sql.functions.trim(
            org.apache.spark.sql.functions.col("text"))), "\\s+")) >= 2)
      .count()
    assert(rows.length.toLong === eligible,
      "one score row per doc with >= 1 bigram")
    assert(rows.forall(r => r._4 > 0 && !r._4.isNaN),
      "nll is positive and finite (smoothed LM never assigns P=1 or 0)")
    // per-language bucket split is thirds (by percent_rank construction)
    for ((lang, rs) <- rows.groupBy(_._2) if rs.length >= 9) {
      val n = rs.length
      val byB = rs.groupBy(_._5).view.mapValues(_.length).toMap
      assert(Set("head", "middle", "tail").subsetOf(byB.keySet),
        s"$lang has all three buckets: $byB")
      assert(byB.values.forall(c => math.abs(c - n / 3.0) <= n / 3.0 * 0.5 + 2),
        s"$lang buckets near thirds: $byB")
    }
  }

  test("shard manifest: partitions the corpus, additive fingerprint is stable") {
    val m1 = TextOps.q120ShardManifest(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(5)))
    val total = Tables.load(spark, sf, "documents").count()
    assert(m1.map(_._2).sum === total, "shards partition the corpus exactly")
    assert(m1.map(_._1).toSet.subsetOf((0L until 16L).toSet))
    assert(m1.forall(_._3 > 0), "every shard carries tokens")
    // deterministic: a re-run books the identical manifest fingerprints
    val m2 = TextOps.q120ShardManifest(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(5)))
    assert(m1.map(t => (t._1, t._4)).toSeq === m2.toSeq)
  }

  test("temperature mix: ratios capped at 1, small domains upweighted, kept <= docs") {
    val rows = TextOps.q121TemperatureMix(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4)))
    assert(rows.forall(r => r._4 <= 1.0 && r._4 > 0.0))
    assert(rows.forall(r => r._5 <= r._2))
    // alpha < 1 flattens: acceptance ratio is non-increasing in domain size
    // (ratio ∝ c^(alpha-1) until the cap)
    val bySize = rows.sortBy(_._2)
    for (Array(a, b) <- bySize.sliding(2) if a._2 < b._2)
      assert(a._4 >= b._4 - 1e-9,
        s"smaller domain ${a._1} must not have lower acceptance than ${b._1}")
    // weights are a distribution
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-3)
  }

  test("bpe roundtrip (q138): decode(encode(doc)) == canonical normalized text, every doc") {
    import org.apache.spark.sql.functions._
    // Direct canonical form computed WITHOUT the tokenizer — the same
    // oracle-side claim, replayed in Spark so the spec stands alone.
    val want = Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " "))
          .as("roundtrip_md5"),
        length(regexp_replace(lower(trim(col("text"))), "\\s+", " "))
          .cast("long").as("n_chars_norm"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val got = TextOps.q138BpeRoundtrip(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.length === want.length)
    assert(got.toSeq === want.toSeq)
  }

  test("tokenizer fertility (q154): per-lang measures are consistent " +
      "with the q79 encode and bounded by the merge semantics") {
    import org.apache.spark.sql.functions._
    val rows = TextOps.q154TokenizerFertility(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    // one row per fixture language, every doc accounted for
    val nDocs = Tables.load(spark, sf, "documents").count()
    assert(rows.map(_._1).distinct.length === rows.length)
    assert(rows.map(_._2).sum === nDocs)
    // word-merge BPE can only SHRINK the token stream: 0 < fertility
    // <= 1 (a subword tokenizer would exceed 1 — the metric's sign is
    // the tokenizer family, the per-lang SPREAD is the audit)
    assert(rows.forall(r => r._5 > 0.0 && r._5 <= 1.0))
    // every token carries at least one char; merged tokens make the
    // mean strictly exceed the corpus's min token length
    assert(rows.forall(_._6 >= 1.0))
    // cross-query consistency: per-lang token totals sum to q79's
    // corpus-wide encoded token count
    val q79Total = TextOps.q79BpeEncode(spark, sf).collect()
      .map(_.getLong(1)).sum
    assert(rows.map(_._3).sum === q79Total)
  }

  test("source cap (q139): salted two-stage top-N == naive single window, cap binds") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val dir = "/root/testdata/sf0.01" // 25 docs/source — the 15-cap binds
    val got = TextOps.q139SourceCap(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    // naive single-window replay (the oracle's form)
    val scored = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(split(lower(trim(col("text"))), "\\s+")).as("n_tokens"),
        size(regexp_extract_all(lower(col("text")),
          lit("\\b(the|a|of|and|to|in|is)\\b"), lit(0))).as("stop_hits"))
      .select(col("doc_id"), col("source"),
        round(col("stop_hits") / col("n_tokens"), 4).as("stop_ratio"))
    val w = Window.partitionBy("source")
      .orderBy(col("stop_ratio").desc, col("doc_id"))
    val want = scored.withColumn("cap_rank", row_number().over(w))
      .filter(col("cap_rank") <= 15)
      .select("source", "doc_id", "cap_rank", "stop_ratio")
      .orderBy("source", "cap_rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(got.toSeq === want.toSeq)
    // the cap binds: every source contributes exactly 15 of its 25 docs
    val per = got.groupBy(_._1).view.mapValues(_.length)
    assert(per.values.forall(_ == 15))
    assert(got.groupBy(_._1).forall { case (_, rs) =>
      rs.map(_._3).sorted.toSeq == (1 to 15) })
  }

  test("model quality (q147): explode route == row-local fold == the " +
      "composed q49-features-then-dot route, and the band binds") {
    import org.apache.spark.sql.functions._
    // three formulations of the same integer dot product must agree
    // exactly on every doc: the composed route the round-15 verdict
    // names (q49's 16-dim hashed features joined against the weight
    // vector), q147's codegen'd explode kernel, and the row-local
    // interpreted fold the q137 funnel embeds (TextOps.modelScore)
    import spark.implicits._
    val w = TextOps.ModelWeights.zipWithIndex
      .map { case (v, d) => (d.toLong, v.toLong) }
      .toDF("dim", "w")
    val composed = TextOps.queries("q49_feature_hashing")(spark, sf)
      .join(w, "dim")
      .groupBy("doc_id")
      .agg(sum(col("weight") * col("w")).as("score"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val folded = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), TextOps.modelScore(col("text")).as("score"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exploded = TextOps.queries("q147_model_quality")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3)))
    assert(exploded.nonEmpty)
    exploded.foreach { case (id, score, kept) =>
      // q49 drops zero-weight dims (sparse) — absent doc means score 0
      assert(score === composed.getOrElse(id, 0L),
        s"doc $id: explode=$score composed=${composed.get(id)}")
      assert(score === folded(id),
        s"doc $id: explode=$score fold=${folded(id)}")
      assert(kept === (score >= TextOps.ModelScoreBar))
    }
    // the band binds on the fixture: both classes are non-empty
    assert(exploded.exists(_._3) && exploded.exists(!_._3))
  }
}
