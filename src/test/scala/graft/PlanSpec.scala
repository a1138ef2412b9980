package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.SparkPlan
import graft.operators.{DedupOps, EventOps, Relational, SimilarityOps}

/** Explain-plan regression guards for the most expensive bench
  * queries: the measured-and-earned plan shapes (broadcast vs shuffle
  * choice, codegen coverage, no nested-loop fallbacks) are asserted
  * here so a refactor that silently degrades one fails a test instead
  * of a bench round. Complements the operator-local plan checks
  * (DedupSpec's q31 broadcast guard, EventTextSpec's q55 no-NL guard,
  * DeltaSpec's vectorized-scan and numFiles guards). */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): SparkPlan = df.queryExecution.sparkPlan

  /** Every CodegenFallback expression anywhere in the physical plan —
    * these evaluate interpreted per row, severing whole-stage codegen
    * exactly where the dedup/ANN pipelines burn their CPU (measured:
    * higher-order lambdas cost q31 20 s and q32 the bulk of round 1's
    * time before the posexplode/window rewrites). TypedImperativeAggregate
    * is exempt: it is CodegenFallback by construction (object-typed
    * buffers evaluated inside the aggregate operator, once per row per
    * group — the design point of graft_simhash_agg, not a per-row
    * expression-tree interpretation). */
  private def fallbacks(p: SparkPlan): Seq[String] =
    p.collect { case node =>
      node.expressions.flatMap(_.collect {
        case e: CodegenFallback
            if !e.isInstanceOf[org.apache.spark.sql.catalyst.expressions
              .aggregate.TypedImperativeAggregate[_]] =>
          e.prettyName
      })
    }.flatten.distinct

  test("dedup/ANN pipelines: whole-stage codegen, no interpreted fallbacks") {
    val hot = Seq(
      "q31_ngram_jaccard" -> DedupOps.queries("q31_ngram_jaccard"),
      "q32_minhash_lsh" -> DedupOps.queries("q32_minhash_lsh"),
      "q33_simhash" -> DedupOps.queries("q33_simhash"),
      "q43_cell_neardup" -> SimilarityOps.queries("q43_cell_neardup"),
      "q45_hyperplane_lsh" -> SimilarityOps.queries("q45_hyperplane_lsh"),
      "q89_curation_funnel" -> graft.operators.TextOps.queries("q89_curation_funnel"),
      "q143_temporal_neardup" ->
        graft.operators.MultimodalOps.queries("q143_temporal_neardup"),
      "q145_unicode_dedup" -> DedupOps.queries("q145_unicode_dedup"),
      "q146_centroid_outliers" ->
        SimilarityOps.queries("q146_centroid_outliers"),
      // round 16: the explode-route scorer must STAY codegen'd — its
      // first formulation (HOF fold) was an interpreted-lambda 4x
      // regression the sf1 rehearsal caught; q149's 8-way join spine
      // guards the widest reorder. (q148 is deliberately absent: its
      // utm-param filter is a row-local ArrayFilter lambda over a
      // handful of query params — interpreted by design and benched
      // linear at sf1.)
      "q147_model_quality" ->
        graft.operators.TextOps.queries("q147_model_quality"),
      "q149_tpch_q8" -> Relational.queries("q149_tpch_q8"),
      // the streaming near-dup kernel's prefix probe (slice +
      // posexplode) must stay codegen'd like q31's
      "incremental_near_dups" -> { (s: org.apache.spark.sql.SparkSession,
          d: String) =>
        val arrays = DedupOps.stagedShingleArrays(s, d)
        DedupOps.incrementalNearDupsFrom(arrays,
          arrays.filter(org.apache.spark.sql.functions.col("doc_id") % 17 === 3),
          0.5)
      })
    for ((name, q) <- hot) {
      val p = plan(q(spark, sf))
      val fb = fallbacks(p)
      assert(fb.isEmpty,
        s"$name has interpreted (CodegenFallback) expressions: " +
          s"${fb.mkString(", ")}\n$p")
      val s = p.toString
      assert(!s.contains("CartesianProduct") &&
        !s.contains("BroadcastNestedLoopJoin"),
        s"$name fell back to a nested-loop/cartesian join:\n$s")
    }
  }

  test("q137: the model-score fold is INLINED inside the verdict CASE " +
      "(the stage-10 short-circuit is structural, not hoped-for)") {
    // Round-17 verdict #4: the funnel keeps q147's scorer as a
    // row-local interpreted fold (ArrayAggregate) because its single
    // consumer — the verdict CaseWhen — makes CollapseProject inline
    // it into the CASE branch, and CaseWhen evaluates branches
    // sequentially (codegen emits early-returning ifs): the fold runs
    // ONLY for rows surviving the nine prior bars. If a refactor adds
    // a second consumer or blocks the collapse, the fold silently
    // becomes per-row on the whole corpus (the 4x-slower q147 shape
    // the sf1 rehearsal measured) — this pins the inlined structure.
    import org.apache.spark.sql.catalyst.expressions.{Alias, CaseWhen}
    import org.apache.spark.sql.catalyst.expressions.ArrayAggregate
    val opt = DedupOps.q137Labeled(spark, sf)
      .groupBy("verdict").count().queryExecution.optimizedPlan
    val exprs = opt.collect { case n => n.expressions }.flatten
    val standalone = exprs.flatMap(_.collect {
      case a: Alias if a.name == "model_score" => a })
    assert(standalone.isEmpty,
      "model_score survives as its own projected column - the fold " +
        "would evaluate for EVERY row, not just post-bar survivors")
    val folds = exprs.flatMap(_.collect { case a: ArrayAggregate => a })
    assert(folds.size === 1,
      s"expected exactly one inlined fold, found ${folds.size}")
    val caseHosted = exprs.flatMap(_.collect { case c: CaseWhen => c })
      .exists(_.collectFirst { case a: ArrayAggregate => a }.nonEmpty)
    assert(caseHosted,
      "the fold must sit INSIDE the verdict CaseWhen (sequential " +
        "branch evaluation is the short-circuit)")
  }

  test("q28: correlated scalar subquery is decorrelated into a join") {
    val p = plan(Relational.queries("q28_corr_subquery")(spark, sf)).toString
    // RewriteCorrelatedScalarSubquery must leave NO per-row subquery:
    // the 0.2x-avg threshold becomes an aggregate joined on l_partkey
    assert(!p.contains("Subquery"),
      s"correlated subquery survived to the physical plan (per-row rescans):\n$p")
    assert(p.contains("HashAggregate") &&
      (p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
        p.contains("BroadcastHashJoin")),
      s"expected the decorrelated aggregate-join shape:\n$p")
  }

  test("q29: nested IN + correlated HAVING decorrelates to semi + agg joins") {
    val p = plan(Relational.queries("q29_nested_subquery")(spark, sf)).toString
    assert(!p.contains("Subquery"),
      s"a subquery survived to the physical plan:\n$p")
    assert(p.contains("LeftSemi"),
      s"the IN predicate should plan as a left-semi join:\n$p")
  }

  test("q142: EXISTS + NOT EXISTS plan as one semi and one anti join, no subquery") {
    val p = plan(Relational.queries("q142_exists_not_exists")(spark, sf))
      .toString
    assert(!p.contains("Subquery"),
      s"a subquery survived to the physical plan (per-row rescans):\n$p")
    assert(p.contains("LeftSemi"),
      s"EXISTS should plan as a left-semi join:\n$p")
    assert(p.contains("LeftAnti"),
      s"NOT EXISTS should plan as a left-anti join:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"q142 fell back to a nested-loop/cartesian join:\n$p")
  }

  test("q01/q16/q86: dimension tables broadcast, fact side never shuffled for them") {
    for (name <- Seq("q01_flagship_left_join", "q16_shipping_priority",
        "q86_tpch_q5")) {
      val s = plan(Relational.queries(name)(spark, sf)).toString
      assert(s.contains("BroadcastHashJoin"),
        s"$name should broadcast its dimension side:\n$s")
      assert(!s.contains("CartesianProduct"), s"$name went all-pairs:\n$s")
    }
  }

  test("q149: 8-table Q8 shape — every dimension (incl. BOTH nation " +
      "scans) broadcasts, no cartesian/nested-loop fallback") {
    val s = plan(Relational.queries("q149_tpch_q8")(spark, sf)).toString
    val bhj = "BroadcastHashJoin".r.findAllIn(s).size
    // part, supplier, nation(n1), region, nation(n2) each broadcast
    // against the fact spine: five broadcast joins; orders/customer
    // join however stats dictate, but never all-pairs
    assert(bhj >= 5,
      s"expected >= 5 broadcast joins (both nation roles included), got $bhj:\n$s")
    assert("n_nationkey".r.findAllIn(s).size >= 2,
      s"the nation table must join twice (customer + supplier roles):\n$s")
    assert(!s.contains("CartesianProduct") &&
      !s.contains("BroadcastNestedLoopJoin"),
      s"q149 fell back to a nested-loop/cartesian join:\n$s")
  }

  test("q96 cube and q57 session_window keep hash-based aggregation") {
    val cube = plan(Relational.queries("q96_cube")(spark, sf)).toString
    assert(cube.contains("Expand") && cube.contains("HashAggregate"),
      s"CUBE should plan as Expand + hash aggregate:\n$cube")
    val gs = plan(Relational.queries("q151_grouping_sets")(spark, sf))
      .toString
    assert(gs.contains("Expand") && gs.contains("HashAggregate"),
      s"GROUPING SETS should plan as one Expand + hash aggregate " +
        s"(one fact pass for both summaries):\n$gs")
    val sw = plan(EventOps.queries("q57_session_window")(spark, sf)).toString
    assert(sw.contains("SessionWindow") || sw.contains("session_window"),
      s"q57 should plan the native session-window operator:\n$sw")
  }

  test("q36 decontamination: eval shingle union broadcasts, train side never NL-joins") {
    val p = plan(DedupOps.queries("q36_decontamination")(spark, sf)).toString
    assert(p.contains("BroadcastHashJoin"),
      s"the held-out set's shingle union should broadcast to the train side:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"q36 fell back to a nested-loop/cartesian join:\n$p")
  }

  test("q37/q39: per-row scrub and packing stay codegen'd, no fallbacks") {
    for (name <- Seq("q37_pii_scrub", "q39_sequence_packing")) {
      val p = plan(graft.operators.TextOps.queries(name)(spark, sf))
      val fb = fallbacks(p)
      assert(fb.isEmpty,
        s"$name has interpreted (CodegenFallback) expressions: ${fb.mkString(", ")}\n$p")
    }
  }

  test("q46/q47/q82: quantized search and salted join stay codegen'd, no NL joins") {
    val qs = Seq(
      "q46_sq_ann" -> SimilarityOps.queries("q46_sq_ann"),
      "q47_reranked_ann" -> SimilarityOps.queries("q47_reranked_ann"),
      "q78_incremental_sq8" -> SimilarityOps.queries("q78_incremental_sq8"),
      "q82_salted_join" -> graft.operators.EventOps.queries("q82_salted_join"))
    for ((name, q) <- qs) {
      val p = plan(q(spark, sf))
      val fb = fallbacks(p)
      assert(fb.isEmpty,
        s"$name has interpreted (CodegenFallback) expressions: ${fb.mkString(", ")}\n$p")
      val s = p.toString
      assert(!s.contains("CartesianProduct") &&
        !s.contains("BroadcastNestedLoopJoin"),
        s"$name fell back to a nested-loop/cartesian join:\n$s")
    }
  }

  private def explainStr(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  test("q46/q47: ONE fused dot+norms aggregate, query rows broadcast") {
    // the whole point of the fused agg is a single corpus pass for
    // dot AND both norms — a refactor that re-derives norms in a
    // second aggregate doubles the dominant scan. q47's shortlist
    // stage is tested directly: the full query consumes it through
    // the re-rank's driver-side collect, so its aggs never appear in
    // the returned plan.
    val staged = Seq(
      "q46_sq_ann" -> SimilarityOps.queries("q46_sq_ann")(spark, sf),
      "q47 shortlist stage" -> SimilarityOps.sqShortlist(spark, sf),
      "q78_incremental_sq8" ->
        SimilarityOps.queries("q78_incremental_sq8")(spark, sf))
    for ((name, df) <- staged) {
      val p = plan(df)
      val aggs = p.collect {
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a }
      assert(aggs.length === 2,
        s"$name expected exactly one two-phase fused aggregate " +
          s"(partial+final), found ${aggs.length} HashAggregate nodes:\n$p")
      assert(p.toString.contains("BroadcastHashJoin"),
        s"$name should broadcast the query rows:\n$p")
    }
  }

  test("q86: the date filter reaches the orders parquet scan") {
    val ex = explainStr(Relational.queries("q86_tpch_q5")(spark, sf))
    val pushed = "PushedFilters: \\[[^\\]]*o_orderdate".r
    assert(pushed.findFirstIn(ex).isDefined,
      s"o_orderdate range must be pushed into the orders scan:\n$ex")
  }

  test("q77: the codes scan is cell-pruned at the partition level") {
    // the shortlist stage owns the codes scan; the full query consumes
    // it through the re-rank collect, so assert on the stage relation
    val ex = explainStr(SimilarityOps.ivfSqShortlist(spark, sf))
    val pf = "PartitionFilters: \\[[^\\]]*cell".r
    assert(pf.findFirstIn(ex).isDefined,
      s"the probed-cell filter must prune the cell-partitioned codes " +
        s"table at the file level:\n$ex")
  }

  test("q47/q77 re-rank: full-vector fetch is shortlist-id-pushed, not a corpus scan") {
    // round 6 broadcast the UNFILTERED embeddings table as the re-rank
    // build side — a forced OOM at 100× corpus scale. The fix fetches
    // by collected shortlist ids; both the query-side and the
    // neighbor-side embedding scans must carry a pushed IN(vec_id …)
    // filter so parquet row-group pruning makes the fetch an id lookup.
    for (name <- Seq("q47_reranked_ann", "q77_ivf_sq_ann",
        "q135_projected_ann")) {
      val ex = explainStr(SimilarityOps.queries(name)(spark, sf))
      val pushed = "PushedFilters: \\[[^\\]]*vec_id".r
      assert(pushed.findAllIn(ex).size >= 2,
        s"$name: both re-rank embedding fetches must push their " +
          s"shortlist-id filter into the scan:\n$ex")
    }
  }

  test("q83 substrate: the change feed scans only the changed versions' files") {
    import graft.sources.{DeltaLog, DeltaTable}
    val t = java.nio.file.Files.createTempDirectory("graft-plan-cdf")
      .resolve("t").toString
    DeltaTable.write(spark.range(100).toDF("id"), t, "overwrite")   // v0
    DeltaTable.write(spark.range(100, 110).toDF("id"), t, "append") // v1
    DeltaTable.write(spark.range(110, 115).toDF("id"), t, "append") // v2
    val v0Files = DeltaLog.snapshot(t, Some(0L)).files.map(_.path).toSet
    val scanned = DeltaTable.changes(spark, t, 1L, 2L).inputFiles.toSeq
    assert(scanned.nonEmpty)
    assert(!scanned.exists(f => v0Files.exists(f.endsWith)),
      s"change feed 1..2 must not rescan the base version's files: " +
        s"scanned=${scanned.mkString(",")} v0=${v0Files.mkString(",")}")
  }

  test("q34 connected components: band join stays an equi hash join per round") {
    // the per-round label propagation joins are generated inside the
    // loop; guard the candidate-edge source it feeds on instead
    val p = plan(DedupOps.queries("q32_minhash_lsh")(spark, sf)).toString
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"band-bucket candidate join must be an equi join:\n$p")
  }

  test("q115 edit-distance near-dup: prefix-block join is an equi join, " +
      "never a nested loop; q114 chunking is shuffle-free per doc") {
    val p115 = plan(
      DedupOps.queries("q115_editdist_neardup")(spark, sf)).toString
    assert(!p115.contains("NestedLoop") && !p115.contains("CartesianProduct"),
      s"prefix blocking must never plan all-pairs:\n$p115")
    assert(p115.contains("SortMergeJoin") ||
      p115.contains("ShuffledHashJoin") || p115.contains("BroadcastHashJoin"),
      s"the candidate join must be an equi join on the blocking key:\n$p115")
    assert(fallbacks(plan(DedupOps.queries(
      "q115_editdist_neardup")(spark, sf))).isEmpty,
      "levenshtein confirm must stay codegen'd")
    // CONJUNCT-ORDER TRIPWIRE (round 12): the 6x win of round 11's
    // profile fix depends on the join-condition conjunction keeping
    // the cheap doc_id/length guards BEFORE the levenshtein DP —
    // evaluation order inside a join condition is not a documented
    // Spark contract, so a Catalyst change that reorders it would
    // come back as a mystery slowdown. Pin it as a plan assertion:
    // the physical join's residual condition must render the cheap
    // conjuncts first and the DP last.
    val levJoins = plan(
      DedupOps.queries("q115_editdist_neardup")(spark, sf)).collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.condition.exists(_.toString.contains("levenshtein")) => j
    }
    assert(levJoins.nonEmpty, "the levenshtein confirm must live in a " +
      "join condition (a pushed post-join filter re-creates the " +
      "round-11 6x slowdown)")
    // Walk the condition TREE (not its rendered string — a Catalyst
    // render change must not flip this test either way): split the
    // And-chain into conjuncts in evaluation order and require the
    // levenshtein predicate to be the LAST one, with the cheap
    // doc_id / length-band guards somewhere before it.
    def conjuncts(e: org.apache.spark.sql.catalyst.expressions.Expression)
        : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
      e match {
        case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
          conjuncts(l) ++ conjuncts(r)
        case other => Seq(other)
      }
    levJoins.foreach { j =>
      val cs = conjuncts(j.condition.get)
      val levIdx = cs.indexWhere(c => c.exists {
        case _: org.apache.spark.sql.catalyst.expressions.Levenshtein => true
        case _ => false
      })
      assert(levIdx >= 0, s"no levenshtein conjunct in: ${j.condition.get}")
      assert(levIdx == cs.size - 1 && cs.size >= 3,
        s"the levenshtein DP must be the LAST conjunct (evaluation is " +
          s"left-to-right) with the cheap guards before it; got conjunct " +
          s"$levIdx of ${cs.size} in: ${cs.mkString(" AND ")}")
      val before = cs.take(levIdx)
      assert(before.exists(c => c.exists {
        case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
          => a.name.contains("doc_id")
        case _ => false
      }), s"a doc_id guard must precede the DP: ${cs.mkString(" AND ")}")
      assert(before.exists(c => c.exists {
        case _: org.apache.spark.sql.catalyst.expressions.Abs => true
        case _ => false
      }), s"the length-band abs() guard must precede the DP: " +
        s"${cs.mkString(" AND ")}")
    }
    // q131's span BUILD plan (the staged index's one-time cost): the
    // window relation is one codegen'd projection + posexplode; the
    // dup-hash detection is hash aggregation; the flag join is an
    // equi join on the 60-bit hash — never an all-pairs shape
    val p131 = plan(DedupOps.substringRemovalSpans(spark, sf))
    val s131 = p131.toString
    assert(!s131.contains("CartesianProduct") && !s131.contains("NestedLoop"),
      s"substring dedup must never plan all-pairs:\n$s131")
    assert(s131.contains("HashAggregate"),
      s"dup-hash detection must be hash aggregation:\n$s131")
    assert(fallbacks(p131).isEmpty,
      "graft_shingle_seq and the span merge must stay codegen'd")
    // q134's projection plan: ONE codegen'd scan-stage projection +
    // bounded posexplode, zero shuffles before the presentation sort
    val p134 = plan(graft.operators.SimilarityOps
      .queries("q134_random_projection")(spark, sf))
    assert(fallbacks(p134).isEmpty,
      "graft_project must stay codegen'd")
    val ex134 = p134.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(ex134.size <= 1 &&
      ex134.forall(_.outputPartitioning.toString.contains("range")),
      s"projection must not shuffle except the final sort:\n$p134")
    // q133's emit plan: the affected-docs gate must stay equi-join
    // shaped (never all-pairs), and the per-doc rebuild is the one
    // sanctioned ObjectHashAggregate (collect_list bounded by the
    // doc's own input row — see the q133 scaladoc)
    val p133 = plan(DedupOps.queries("q133_cleaned_text")(spark, sf))
    val s133 = p133.toString
    assert(!s133.contains("CartesianProduct") && !s133.contains("NestedLoop"),
      s"cleaned-text emission must never plan all-pairs:\n$s133")
    assert(s133.contains("ObjectHashAggregate"),
      s"the per-doc rebuild must be a hash-based list aggregate:\n$s133")
    val p114 = plan(
      graft.operators.TextOps.queries("q114_rag_chunking")(spark, sf))
    val exchanges = p114.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.size <= 1 &&
      exchanges.forall(_.outputPartitioning.toString.contains("range")),
      s"chunking must not shuffle except the final sort:\n$p114")
  }

  test("q139 per-source cap: the salted stage survives — two windows, salt first") {
    // The naive single window puts an entire hot domain in ONE
    // partition (the skew AQE cannot split); q139's scale claim IS
    // the salted two-stage shape, so a refactor that collapses it
    // back to one window must fail here, not a bench round.
    val p = plan(
      graft.operators.TextOps.queries("q139_source_cap")(spark, sf))
    val wins = p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.size == 2,
      s"expected the salted two-stage top-N (2 window nodes):\n$p")
    // collect is root-first: wins(0) is the downstream re-rank (per
    // source alone, 1 key), wins(1) the upstream salted stage (the
    // pmod salt is pre-projected to a _w0 attribute, so assert the
    // KEY COUNT, 2, not the expression text).
    val specs = wins.map(_.partitionSpec)
    assert(specs(0).size == 1 && specs(1).size == 2,
      s"want re-rank window (1 key) over salted window (2 keys); " +
        s"got ${specs.map(_.map(_.toString))}")
    // and the salt really is the projected pmod, not a second column
    assert(p.toString.toLowerCase.contains("pmod"),
      s"the salted stage's partition key must derive from pmod:\n$p")
  }
}
