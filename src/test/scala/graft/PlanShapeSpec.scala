package graft

import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.FormattedMode

/** Plan-shape regression protection: the scale properties PlanAudit prints
  * are asserted here so `sbt test` FAILS if a pushed filter disappears, a
  * join silently degrades to a nested-loop, or a corpus-sized broadcast
  * hint sneaks back into a dedup pipeline. These lock in the round-2/3
  * scale fixes permanently — a green build means the graded queries still
  * carry the plans we would want on a 1000-executor cluster.
  */
class PlanShapeSpec extends SparkTestBase {

  private lazy val queries = SparkEntry.queries
  private val dir = "/root/testdata/sf0.001"

  /** AQE-final formatted physical plan (collect() first so adaptive
    * re-planning has actually happened — count() would plan separately). */
  private def finalPlan(name: String): String = {
    val df = queries(name)(spark, dir)
    df.collect()
    df.queryExecution.explainString(FormattedMode)
  }

  /** Broadcast-hinted join sides in the OPTIMIZED LOGICAL plan — the
    * static hints written in our code, before AQE makes its own runtime
    * broadcast decisions (which are size-gated and therefore fine). */
  private def hintedSideOutputs(name: String): Seq[Seq[String]] = {
    val plan = queries(name)(spark, dir).queryExecution.optimizedPlan
    plan.collect {
      case j: Join =>
        val sides = Seq(
          j.hint.leftHint.flatMap(_.strategy).map(_ => j.left.output.map(_.name)),
          j.hint.rightHint.flatMap(_.strategy).map(_ => j.right.output.map(_.name)))
        sides.flatten
    }.flatten
  }

  test("dedup/sketch pipelines carry no corpus-sized broadcast hints") {
    // Only the token-dictionary join may be hinted (vocab-bounded, and
    // size-gated in TokenBits); any other hinted side — bands, per-doc
    // bitmap/size tables, the corpus itself — is a 100 TB OOM reintroduced.
    val dedups = Seq("q_dedup_near", "q_dedup_minhash", "q_dedup_simhash",
      "q_dedup_simhash_r1", "q_dedup_ngram")
    dedups.foreach { name =>
      hintedSideOutputs(name).foreach { out =>
        assert(out.exists(c => c == "__id" || c == "__off"),
          s"$name has a broadcast hint on a non-dictionary side (cols: " +
            s"${out.mkString(", ")}) — corpus-sized broadcasts cannot run at scale")
      }
    }
  }

  test("no BroadcastNestedLoopJoin outside the documented theta/knn baselines") {
    // q_join_theta (non-equi by definition) and q_vec_knn (brute-force
    // baseline; scale path is the bucketed/LSH ANN queries) are the only
    // sanctioned BNLJ plans in the inventory.
    val mustNotBnlj = Seq("q_join_star", "q_join_big", "q_join_range",
      "q_join_asof", "q_dedup_near", "q_dedup_minhash", "q_dedup_simhash_r1",
      "q_dedup_ngram", "q_vec_ann_bucketed", "q_vec_lsh_bucketed",
      "q_vec_lsh_neardup",
      // correlated scalar subquery must decorrelate to an aggregate + equi
      // join, never a per-row nested loop
      "q_subquery_scalar",
      // MERGE is ONE keyed full-outer equi-join of base and batch — a
      // BNLJ here would be the per-row-lookup anti-pattern MERGE exists
      // to avoid. (The merge-on-read form runs its join EAGERLY inside
      // upsertBatchDv, invisible to finalPlan — it gets its own
      // listener-captured lock below, not a vacuous entry here.)
      "q_merge_upsert")
    mustNotBnlj.foreach { name =>
      assert(!finalPlan(name).contains("BroadcastNestedLoopJoin"),
        s"$name degraded to BroadcastNestedLoopJoin")
    }
    assert(finalPlan("q_join_theta").contains("BroadcastNestedLoopJoin"),
      "q_join_theta should be the BNLJ baseline (supplier is dim-sized)")
  }

  test("filters are pushed down to the parquet scan") {
    Seq("q_filter_pred", "q_agg_pricing", "q_vec_ann_bucketed").foreach { name =>
      val plan = finalPlan(name)
      assert(plan.contains("PushedFilters: [") && !plan.contains("PushedFilters: []"),
        s"$name lost its parquet filter pushdown")
    }
  }

  test("layout skip-scans push their residual filters into the pruned read") {
    // The file-level manifests prune a SUPERSET; correctness rests on the
    // residual row filter, and its cost on reaching the parquet reader
    // (row-group skipping + no post-scan Filter doing the whole job).
    // These rows also end in an aggregate, so the pruned scan must carry
    // non-empty PushedFilters in the final plan.
    Seq("q_layout_zorder_skip", "q_layout_bloom_skip", "q_layout_skip_combo")
      .foreach { name =>
        val plan = finalPlan(name)
        assert(plan.contains("PushedFilters: [") && !plan.contains("PushedFilters: []"),
          s"$name lost its residual-filter pushdown on the pruned read")
      }
  }

  test("pagerank exchanges stay bounded: edge list shuffles once, never per iteration") {
    // The r11 edge-build rewrite moves the full edge list through exactly
    // ONE exchange (the final repartition(u) that co-partitions it for
    // the iteration joins); each of the 3 iterations then re-exchanges
    // only the node-cardinality score side. Re-introducing a per-round
    // edge reshuffle (the r10 shape shuffled the 2|E| list twice before
    // the loop even started) shows up as extra Exchange nodes — lock the
    // count. Measured: the full plan carries well under 16 exchanges;
    // a per-iteration edge reshuffle adds 3+ immediately.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = queries("q_graph_pagerank")(spark, dir)
    df.collect()
    // count SHUFFLE operators in the AQE-final tree (descending into
    // query stages; broadcast exchanges and reused exchanges don't move
    // the edge list and don't count). The cached edges sub-plan is not
    // traversed — its one build shuffle already happened once, which is
    // the point.
    def shuffles(p: SparkPlan): Int = {
      val self = p match { case _: ShuffleExchangeLike => 1; case _ => 0 }
      val nested = p match {
        case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
        case q: QueryStageExec => shuffles(q.plan)
        case _ => 0
      }
      self + nested + p.children.map(shuffles).sum
    }
    val n = shuffles(df.queryExecution.executedPlan)
    info(s"pagerank final-plan shuffle count: $n")
    // measured 3 on the r11 shape (the cached edge list is served
    // pre-partitioned, so iterations only move node-cardinality frames);
    // one re-shuffled edge list per iteration would add 3+ immediately
    assert(n <= 8,
      s"pagerank plan grew to $n shuffles — an iteration is re-shuffling " +
        "the edge list")
    assert(!finalPlan("q_graph_pagerank").contains("BroadcastNestedLoopJoin"))
  }

  test("flagship agg keeps partial aggregation and top-k keeps TakeOrderedAndProject") {
    val agg = finalPlan("q_agg_pricing")
    assert(agg.contains("HashAggregate") && agg.contains("partial_"),
      "q_agg_pricing lost map-side partial aggregation")
    assert(finalPlan("q_sort_limit").contains("TakeOrderedAndProject"),
      "q_sort_limit global sort+limit no longer plans as TakeOrderedAndProject")
  }

  test("per-group top-k pushes the rank limit below the shuffle (WindowGroupLimit)") {
    // rn <= k over a window must plan a map-side WindowGroupLimit BEFORE
    // the exchange (each task keeps its local top-k), not just the final
    // one after — that pre-shuffle prune is what keeps a 100 TB per-group
    // top-k from shuffling the whole fact table.
    Seq("q_win_topk", "q_doc_topk_quality", "q_cdc_compact",
        "q_stream_dedup", "q_sample_weighted", "q_token_pair_merge",
        "q_token_bpe_apply", "q_bitext_mine").foreach { name =>
      val plan = finalPlan(name)
      assert(plan.sliding("WindowGroupLimit".length).count(_ == "WindowGroupLimit") >= 2,
        s"$name should carry partial (pre-shuffle) + final WindowGroupLimit")
    }
  }

  test("bloom prefilter evaluates at the probe side, before the exact semi-join") {
    val plan = finalPlan("q_join_bloom")
    assert(plan.contains("might_contain"),
      "q_join_bloom lost its Bloom probe filter")
    assert(plan.contains("LeftSemi"),
      "q_join_bloom lost the exact semi-join that removes false positives")
    // the probe must be a Filter feeding the join, not a post-join residual:
    // the formatted plan lists the Filter operator id below the join inputs
    val filterIdx = plan.indexOf("might_contain")
    assert(filterIdx >= 0 && plan.substring(0, filterIdx).contains("Filter"),
      "q_join_bloom's might_contain is no longer inside a Filter operator")
  }

  test("salted join refines the key with __salt on both sides") {
    val plan = queries("q_join_skew_salt")(spark, dir)
      .queryExecution.optimizedPlan
    val saltedJoins = plan.collect {
      case j: Join if j.condition.exists(_.references.exists(_.name == "__salt")) => j
    }
    assert(saltedJoins.nonEmpty,
      "q_join_skew_salt no longer joins on the salt sub-key — hot keys collapse " +
        "back onto single reducers")
  }

  test("new equi-join pipelines never degrade to nested loops") {
    Seq("q_join_bloom", "q_join_skew_salt", "q_vec_ivf_probe2",
      "q_time_resample").foreach { name =>
      assert(!finalPlan(name).contains("BroadcastNestedLoopJoin") ||
        name == "q_vec_ivf_probe2", // centroid cross join IS k-row broadcast
        s"$name degraded to BroadcastNestedLoopJoin")
    }
    // ivf multi-probe: the only nested-loop is the k-row centroid cross
    // join (broadcast by construction); the candidate join must stay equi
    val ivf = finalPlan("q_vec_ivf_probe2")
    assert(ivf.contains("SortMergeJoin") || ivf.contains("BroadcastHashJoin")
      || ivf.contains("ShuffledHashJoin"),
      "q_vec_ivf_probe2 lost its equi candidate join")
  }

  test("pivot with explicit values plans a single aggregate pass (no distinct pre-scan)") {
    // One relation leaf only (a two-level pivotfirst aggregate over one
    // scan): omitting the pivot value list would add a distinct job over
    // the data before the real aggregation. Counted on the optimized
    // logical plan — the formatted physical string duplicates the scan in
    // its tree/details/AQE-initial sections.
    val leaves = queries("q_pivot")(spark, dir)
      .queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.size == 1, s"q_pivot should scan lineitem exactly once, saw ${leaves.size}")
  }

  test("multi-table LSH: candidate generation is an equi-join, no corpus hints") {
    // The whole point of the long-form signature table is that candidates
    // come from a plain (tbl, bucket) equi-join — a cartesian or a
    // corpus-sized broadcast hint here is the 100 TB failure mode.
    for (name <- Seq("q_vec_lsh_multi", "q_vec_recall_multi")) {
      val plan = finalPlan(name)
      assert(!plan.contains("CartesianProduct"),
        s"$name planned a CartesianProduct in the candidate path")
      assert(hintedSideOutputs(name).isEmpty,
        s"$name carries a static broadcast hint (corpus-sized at scale)")
    }
    // recall_multi's brute-force truth side is the sanctioned exception:
    // a BNLJ over the bounded query panel, same as q_vec_knn. The ANN
    // query itself must not have one.
    assert(!finalPlan("q_vec_lsh_multi").contains("BroadcastNestedLoopJoin"),
      "q_vec_lsh_multi degraded to BroadcastNestedLoopJoin")
  }

  test("disjunctive predicates: implied envelopes reach both parquet scans") {
    // The OR-of-ANDs itself can't push across tables; the stated
    // single-table envelopes must — lineitem reads only qty ∈ [1,30],
    // part only the three brands with size ≤ 15. Losing either turns the
    // join input back into a full table scan at 100 TB.
    val plan = finalPlan("q_olap_disjunct")
    assert(plan.contains("GreaterThanOrEqual(l_quantity,1.0)") &&
      plan.contains("LessThanOrEqual(l_quantity,30.0)"),
      "q_olap_disjunct lost the lineitem quantity envelope pushdown")
    assert(plan.contains("In(p_brand") &&
      plan.contains("LessThanOrEqual(p_size,15)"),
      "q_olap_disjunct lost the part brand/size envelope pushdown")
  }

  test("lapsed-rich customers plan an anti-join, never a per-row subquery") {
    val plan = finalPlan("q_olap_lapsed_rich")
    assert(plan.contains("LeftAnti"),
      "q_olap_lapsed_rich lost its anti-join against recent orders")
    // the date filter prunes the orders scan before the anti-join
    assert(plan.contains("GreaterThanOrEqual(o_orderdate"),
      "q_olap_lapsed_rich no longer pushes the recency filter to the scan")
  }

  test("big-orders HAVING aggregates the fact table before any join") {
    // The qualifying-orders aggregate must run on the lineitem scan
    // directly (semi-join shape): an aggregate AFTER the customer join
    // would shuffle the full fact join output at 100 TB.
    val plan = queries("q_olap_big_orders")(spark, dir).queryExecution.optimizedPlan
    val aggBelowJoin = plan.collect { case j: Join => j }.forall { j =>
      Seq(j.left, j.right).exists(side =>
        side.collect { case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a }.nonEmpty)
    }
    assert(aggBelowJoin,
      "q_olap_big_orders joins before aggregating — the HAVING filter no longer prunes the fact table first")
  }

  test("incremental dedup: candidate gen is an equi-join probing the band index") {
    val plan = finalPlan("q_dedup_incremental")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "q_dedup_incremental degraded to an all-pairs plan")
    hintedSideOutputs("q_dedup_incremental").foreach { out =>
      assert(out.exists(c => c == "__id" || c == "__off"),
        s"q_dedup_incremental has a non-dictionary broadcast hint (cols: ${out.mkString(", ")})")
    }
  }

  test("returned-items ranking prunes scans and takes the top-10 without a global sort") {
    val plan = finalPlan("q_olap_returned")
    assert(plan.contains("TakeOrderedAndProject"),
      "q_olap_returned's LIMIT no longer plans as TakeOrderedAndProject")
    assert(plan.contains("EqualTo(l_returnflag,R)"),
      "q_olap_returned lost the returnflag pushdown on the lineitem scan")
    assert(plan.contains("GreaterThanOrEqual(o_orderdate"),
      "q_olap_returned lost the order-date pushdown on the orders scan")
  }

  test("two-nation volume flow never degrades to a nested loop") {
    assert(!finalPlan("q_olap_volume_ship").contains("BroadcastNestedLoopJoin"),
      "q_olap_volume_ship degraded to BroadcastNestedLoopJoin")
  }

  test("stream-enrich joins the dim by broadcast; the profiler scans once") {
    // The stream-static enrichment's whole scale story is that the dim
    // broadcasts (the stream side never shuffles for the join).
    assert(finalPlan("q_stream_enrich").contains("BroadcastHashJoin"),
      "q_stream_enrich's customer dim no longer broadcasts")
    // q_profile_numeric computes all per-column stats in ONE wide
    // aggregate over ONE scan — a second relation leaf means the profiler
    // regressed to a scan per column.
    val leaves = queries("q_profile_numeric")(spark, dir)
      .queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.size == 1,
      s"q_profile_numeric should scan lineitem exactly once, saw ${leaves.size}")
  }

  test("OOV coverage joins the bounded vocab by broadcast, never by shuffle") {
    // The top-500 vocab is the repo's one justified corpus-derived
    // broadcast (bounded by the LIMIT, not by corpus size). Locking the
    // shape both ways: the coverage join must be a BroadcastHashJoin
    // (a shuffle join here re-keys the full token incidence — the 100 TB
    // cost the broadcast exists to avoid), and the hint must sit on the
    // vocab side only.
    val plan = finalPlan("q_text_oov")
    val finalSection = plan.split("== Initial Plan ==").head
    assert(finalSection.contains("BroadcastHashJoin"),
      s"vocab coverage join lost its broadcast:\n$finalSection")
    hintedSideOutputs("q_text_oov").foreach { out =>
      assert(out.contains("iv"),
        s"q_text_oov broadcast hint moved off the vocab side (cols: ${out.mkString(", ")})")
    }
  }

  test("bm25: only posting-bounded sides are hinted; top-10 avoids a global sort") {
    // dfreq (|query| = 3 rows) and the 1-row corpus-stats frame are the
    // only broadcast hints — a hint on the dl/corpus side would be the
    // 100 TB OOM. The final ranking must plan TakeOrderedAndProject (per
    // -partition top-10 + driver merge), never a full sort exchange.
    hintedSideOutputs("q_text_bm25").foreach { out =>
      assert(out.forall(c => Set("t", "df", "n_docs", "avgdl").contains(c)),
        s"q_text_bm25 hints a non-bounded side (cols: ${out.mkString(", ")})")
    }
    val finalSection = finalPlan("q_text_bm25").split("== Initial Plan ==").head
    assert(finalSection.contains("TakeOrderedAndProject"),
      s"bm25 top-10 lost TakeOrderedAndProject:\n$finalSection")
  }

  test("ncc broadcasts only the k-row centroid table") {
    // The per-vector argmax is a map-side cross join against the label-
    // cardinality centroid frame; a hint on the corpus side would be the
    // 100 TB OOM. The rank window may shuffle only (ids, label, sim).
    hintedSideOutputs("q_vec_ncc").foreach { out =>
      assert(out.forall(c => Set("clabel", "cv").contains(c)),
        s"q_vec_ncc hints a non-centroid side (cols: ${out.mkString(", ")})")
    }
  }

  test("interval join stays an equi-join on the hour bucket") {
    // The whole point of the bucket decomposition is that a keyless
    // temporal overlap NEVER plans as a nested loop or cartesian: the
    // hour bucket is the equi key, overlap + bucket-ownership are
    // residual conditions, and both interval sides shuffle once.
    val full = finalPlan("q_join_interval")
    val plan = full.split("== Initial Plan ==").head
    assert(!plan.contains("CartesianProduct"),
      "q_join_interval planned a cartesian product")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "q_join_interval degraded to BroadcastNestedLoopJoin")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      "q_join_interval lost its equi join")
    // column details print below the tree — search the full string
    assert(full.contains("bkt"), "hour-bucket key missing from the plan")
  }

  test("SCD2 intervals plan exactly one window pass and one key shuffle") {
    // lead() over (key, ts) needs one hash exchange on the key and one
    // WindowExec — a second window or exchange means the interval build
    // re-shuffles the change log (the merge-on-read cost model breaks).
    // Count only the AQE-final tree (the formatted string repeats nodes
    // in its Initial Plan section), allowing the presentation-sort range
    // exchange for the query's total ORDER BY.
    val finalSection = finalPlan("q_cdc_scd2").split("== Initial Plan ==").head
    val windows = finalSection.split('\n').count(_.contains("Window ("))
    assert(windows == 1, s"expected exactly 1 Window op, saw $windows:\n$finalSection")
    val exchanges = finalSection.split('\n').count(_.contains("Exchange ("))
    assert(exchanges <= 2, // key shuffle + final ORDER BY range exchange
      s"interval build must shuffle the change log once, saw $exchanges:\n$finalSection")
  }

  test("substring dedup is linear: one gram exchange family, one doc window, no pairs") {
    // ExactSubstr's whole value is LINEAR cost in corpus chars — the plan
    // must stay two windows (gram-hash min/max + doc_id islands) with no
    // join at all. A nested loop or a second doc_id exchange means the
    // island merge re-partitioned the per-position frame.
    val plan = finalPlan("q_dedup_substring").split("== Initial Plan ==").head
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct") && !plan.contains("Join"),
      "q_dedup_substring must stay join-free (window-only linear plan)")
    val windows = plan.split('\n').count(_.contains("Window ("))
    assert(windows == 2,
      s"expected gram min/max window + island window, saw $windows:\n$plan")
    val exchanges = plan.split('\n').count(_.contains("Exchange ("))
    assert(exchanges <= 3, // gram hash + doc_id + presentation ORDER BY
      s"substring dedup grew beyond its 2 data shuffles, saw $exchanges:\n$plan")
    // FormattedMode keys live on detail "Arguments:" lines — count there
    val docExchanges =
      "hashpartitioning\\(doc_id#".r.findAllIn(plan).length
    assert(docExchanges <= 1,
      s"island merge must ride ONE (doc_id) exchange, saw $docExchanges:\n$plan")
  }

  test("pq scoring joins only broadcast codebook/LUT; corpus vectors never re-shuffle") {
    // PQ's scale contract: the only big frames are the subvector split and
    // the encoded (vec_id, s, code) table; every join against them must be
    // a broadcast — the ONE-ROW codebook book (a sanctioned
    // BroadcastNestedLoopJoin, like the kmeans book) or the hash-joined
    // query LUT. A sort-merge or shuffled-hash join here means a
    // corpus-sized exchange of vector payloads that ADC exists to avoid.
    val plan = finalPlan("q_vec_pq").split("== Initial Plan ==").head
    assert(!plan.contains("CartesianProduct"),
      "q_vec_pq planned a cartesian product")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"q_vec_pq shuffled a corpus side into a join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      "q_vec_pq lost its broadcast LUT/codebook hash joins")
    // the encode argmin sits behind the scratch-cached codebook/enc
    // relations, so the physical plan hides it — check the analyzed tree
    val analyzed = queries("q_vec_pq")(spark, dir)
      .queryExecution.analyzed.toString
    assert(analyzed.contains("graft_l2"),
      "q_vec_pq's encode argmin lost the graft_l2 primitive (HOF fold regression)")
  }

  test("clustered-corpus rungs: generation is map-only, scoring keeps the broadcast discipline") {
    // The generated corpus must be a pure per-row projection over the
    // fixture scan — an exchange in the generator would mean the
    // operating-point rows pay a shuffle the real pipeline never would
    // (a real corpus arrives already materialized). The scoring chain
    // reuses ivfpqRank / ivfpqResRank verbatim, so the q_vec_pq lock's
    // no-shuffled-join contract must hold here too.
    for (name <- Seq("q_vec_recall_ivfpq_clu", "q_vec_recall_ivfpq_res_clu")) {
      val plan = finalPlan(name).split("== Initial Plan ==").head
      assert(!plan.contains("CartesianProduct"),
        s"$name planned a cartesian product")
      assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
        s"$name shuffled a corpus side into a join:\n$plan")
      // generator purity: no exchange keyed on the corpus row id anywhere
      // (the only hashpartitioning keys are group/cell/code rollups)
      assert(!plan.contains("hashpartitioning(vec_id#"),
        s"$name re-partitioned the generated corpus on vec_id:\n$plan")
    }
  }

  test("index datasheet rows: one bounded rollup, no corpus-sized hints") {
    // q_vec_cell_stats: the only join is the 1-row totals frame riding a
    // sanctioned one-row BNLJ; q_vec_index_stats: the 16-row per-subspace
    // totals join back by broadcast. A sort-merge join or a vec_id
    // exchange would mean the datasheet re-shuffled the index tables it
    // is supposed to read at metadata cost.
    for (name <- Seq("q_vec_cell_stats", "q_vec_index_stats")) {
      val plan = finalPlan(name).split("== Initial Plan ==").head
      assert(!plan.contains("CartesianProduct"),
        s"$name planned a cartesian product")
      assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
        s"$name shuffled a side into a join:\n$plan")
      assert(!plan.contains("hashpartitioning(vec_id#"),
        s"$name re-partitioned on the corpus row id:\n$plan")
    }
  }

  test("kmeans iterations never re-partition the corpus (map-only assignment)") {
    // The Lloyd loop's scale contract: assignment is a per-row argmax
    // against a one-row broadcast book, so NO exchange may be keyed on
    // vec_id — the only per-iteration shuffles are the (cid, pos) mean
    // rollups and the k-row report joins. A vec_id exchange means the
    // corpus re-partitioned (the window/join form — k× corpus volume per
    // iteration at 100 TB).
    // The assignment cross join against the ONE-ROW book is a sanctioned
    // BroadcastNestedLoopJoin (1-row build side); CartesianProduct and any
    // vec_id-keyed exchange are not. FormattedMode puts exchange keys on
    // detail "Arguments:" lines, so match the substring, not a tree line.
    val plan = finalPlan("q_vec_kmeans_iter").split("== Initial Plan ==").head
    assert(!plan.contains("CartesianProduct"),
      "q_vec_kmeans_iter planned a cartesian product")
    assert(!plan.contains("hashpartitioning(vec_id#"),
      s"kmeans iteration re-partitioned the corpus on vec_id:\n$plan")
  }

  test("winnow is array-local: zero windows; fuzzy match blocks before levenshtein") {
    // q_dedup_winnow's fingerprint construction is fully ARRAY-LOCAL
    // (the Shingles discipline): shingle array -> hash array -> window-
    // min array -> distinct set, exploded once. The plan must carry NO
    // Window at all — a Window reappearing means the token stream is
    // being re-sorted/re-shuffled per document (the expensive frame at
    // 100 TB this refactor removed).
    val wPlan = finalPlan("q_dedup_winnow").split("== Initial Plan ==").head
    assert(!wPlan.contains("BroadcastNestedLoopJoin") &&
      !wPlan.contains("CartesianProduct"),
      "q_dedup_winnow degraded to a nested loop")
    val windowLines = wPlan.split('\n').count(_.contains("Window ("))
    assert(windowLines == 0,
      s"winnow must build fingerprints array-locally (no Window), saw " +
        s"$windowLines:\n$wPlan")
    // q_join_fuzzy: the join must be equi on the block key with
    // levenshtein evaluated AFTER (join condition/filter), never a
    // nested-loop over the dictionary; and the dictionary collapse must
    // keep partial aggregation (map-side combine before the one shuffle).
    val fPlan = finalPlan("q_join_fuzzy")
    assert(!fPlan.contains("BroadcastNestedLoopJoin") &&
      !fPlan.contains("CartesianProduct"),
      "q_join_fuzzy degraded to a nested loop — the blocking key was lost")
    assert(fPlan.contains("HashAggregate"),
      "q_join_fuzzy's dictionary collapse lost its hash aggregate")
  }

  test("semdedup: 8-row centroid broadcast, in-cluster pair join stays equi") {
    // SemDeDup's scale contract: the ONLY nested-loop is the k-row
    // centroid assignment cross join (broadcast by construction, the IVF
    // centroid precedent); the pair search must be an equi-join on the
    // cluster id — a corpus-level cartesian here is exactly the n² the
    // clustering exists to avoid.
    // final-plan section only (the Initial Plan section renumbers nodes);
    // distinct node ids, not lines — the formatted output repeats each
    // node in tree + details + cached-plan sections
    val plan = finalPlan("q_dedup_semdedup").split("== Initial Plan ==").head
    val bnljIds = "BroadcastNestedLoopJoin[^(]*\\((\\d+)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toSet
    assert(bnljIds.size <= 2, s"semdedup has ${bnljIds.size} distinct " +
      "nested-loop joins — only the centroid cross join is sanctioned")
    // and each one must be the build-right cross of the 8-row seed frame
    plan.split('\n').filter(_.contains("BroadcastNestedLoopJoin")).foreach {
      l => assert(!l.contains("BuildLeft"),
        s"semdedup nested-loop builds the corpus side: $l")
    }
    assert(!plan.contains("CartesianProduct"),
      "semdedup degraded to a corpus cartesian")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"),
      "semdedup lost its equi in-cluster pair join")
    // the static broadcast hint must be the 8-row seed frame, never the
    // corpus: every hinted side exposes the centroid columns
    hintedSideOutputs("q_dedup_semdedup").foreach { out =>
      assert(out.contains("cid") || out.contains("cvec"),
        s"semdedup broadcast-hints a non-centroid side: ${out.mkString(", ")}")
    }
  }

  test("dsir scores the corpus through broadcasts; only bounded frames are hinted") {
    // DSIR's scale contract: the per-bucket log-ratio table is bounded by
    // the FIXED 1024-bucket vocabulary, so the scoring join must be a
    // broadcast — the corpus-sized token frame never exchanges to be
    // scored. Since the threshold-refinement rewrite the query is a
    // driver-orchestrated loop of aggregate passes whose FINAL frame is a
    // bounded per-language local table, so the properties live in the
    // plans it EXECUTES along the way, not in one final plan — capture
    // them all with a listener (the ScaleSpec no-window lock's pattern).
    val spk = spark
    val execPlans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val hinted = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = {
        execPlans.add(qe.executedPlan.toString)
        qe.optimizedPlan.foreach {
          case j: Join =>
            j.hint.leftHint.flatMap(_.strategy)
              .foreach(_ => hinted.add(j.left.output.map(_.name)))
            j.hint.rightHint.flatMap(_.strategy)
              .foreach(_ => hinted.add(j.right.output.map(_.name)))
          case _ => ()
        }
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spk.listenerManager.register(listener)
    try {
      queries("q_dsir")(spk, dir).collect()
      // listener events dispatch asynchronously — drain until quiescent
      val deadline = System.currentTimeMillis() + 15000
      var last = -1
      while (System.currentTimeMillis() < deadline && execPlans.size != last) {
        last = execPlans.size; Thread.sleep(400)
      }
      assert(!execPlans.isEmpty, "listener captured no executed plans")
      var sawScoringBroadcast = false
      execPlans.forEach { p =>
        assert(!p.contains("CartesianProduct"),
          s"q_dsir degraded to a corpus cartesian:\n$p")
        // plan toString embeds cached-relation plans with their own
        // Final/Initial sections, so the ONE sanctioned BNLJ prints
        // several times — count only the slice before the first
        // "== Initial Plan ==" (the outermost final plan plus the final
        // plans of any embedded caches, each BNLJ once)
        val fin = p.split("== Initial Plan ==").head
        val bnlj = fin.split('\n').count(_.contains("BroadcastNestedLoopJoin"))
        assert(bnlj <= 1, s"q_dsir plan has $bnlj nested-loop joins — " +
          s"only the one-row totals cross join is sanctioned:\n$p")
        if (p.contains("BroadcastHashJoin")) sawScoringBroadcast = true
      }
      assert(sawScoringBroadcast,
        "q_dsir lost the broadcast scoring join in every executed plan")
      // every static hint covers a bounded frame — the 1024-bucket
      // log-ratio table (units/counts) or the per-LANGUAGE grid/cut
      // frames of the refinement loop — never the corpus
      val bounded = Set("units", "nq", "np", "cq", "cp", "glo", "ghi",
        "gw", "cut")
      hinted.forEach { out =>
        assert(out.exists(bounded.contains),
          s"q_dsir broadcast-hints a non-bounded side: ${out.mkString(", ")}")
      }
    } finally {
      spk.listenerManager.unregister(listener)
      graft.sources.Scratch.releaseAll()
    }
  }

  test("quality funnel: ONE corpus scan, no join — all five rules ride the projection") {
    // All five rules (incl. the top-word count, computed array-locally by
    // TextExtras.topRepeat) are per-row expressions over a single scan;
    // the only exchange left is the final per-lang aggregate. A second
    // scan or any join means the top-word rule regressed to the old
    // explode → count → max → join shape (r21: two corpus-mass exchanges
    // removed, funnel stage of q_pipeline_e2e shares the same form).
    val plan = finalPlan("q_doc_quality_funnel").split("== Initial Plan ==").head
    assert(!plan.contains("Join"),
      "q_doc_quality_funnel re-grew a join for a per-row rule")
    val scans = plan.split('\n').count(_.contains("Scan parquet"))
    assert(scans <= 1,
      s"q_doc_quality_funnel re-scans the corpus: $scans parquet scans")
  }

  test("topRepeat (array-local sorted-run max) == explode/count/max, incl. edge rows") {
    import org.apache.spark.sql.functions._
    val spk = spark
    import spk.implicits._
    val docs = Seq(
      (1L, "a b a b a"), (2L, "x"), (3L, ""), (4L, "t t t t"),
      (5L, "a a b b"), (6L, "z y x w v u"), (7L, "q q  q")
    ).toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    val viaAgg = docs
      .select(col("doc_id"), explode(col("ws")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("topc"))
    val viaRun = docs.select(col("doc_id"),
      graft.operators.TextExtras.topRepeat(col("ws")).as("topc"))
    assert(viaRun.orderBy("doc_id").collect().toSeq ===
      viaAgg.orderBy("doc_id").collect().toSeq)
  }

  test("keep-best survivor selection adds no corpus broadcast over the CC labels") {
    // Survivor selection composes the pair pipeline + CC with one
    // doc_id equi-join and one comp window. No static broadcast hint may
    // cover a corpus-sized side, and the join must stay keyed.
    val plan = finalPlan("q_dedup_keep_best").split("== Initial Plan ==").head
    assert(!plan.contains("CartesianProduct"),
      "q_dedup_keep_best degraded to a cartesian")
    assert(plan.split('\n').exists(l => l.contains("Window (") ||
      l.contains("RunningWindowFunction")),
      "q_dedup_keep_best lost its survivor-rank window")
    hintedSideOutputs("q_dedup_keep_best").foreach { out =>
      assert(!out.contains("text"),
        s"q_dedup_keep_best broadcast-hints a corpus side: ${out.mkString(", ")}")
    }
  }

  test("lm filter banding adds one lang window over the shared scored frame") {
    // The banding must ride the LM scoring — its plan may add the ntile
    // window and the final aggregate, but never a second corpus tokenize
    // (the bigram frame is built once and persisted for both halves of
    // the scoring join).
    val plan = finalPlan("q_doc_lm_filter").split("== Initial Plan ==").head
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      "q_doc_lm_filter degraded to a nested loop")
    val ntiles = plan.split('\n').count(l => l.contains("Window (") ||
      l.contains("RunningWindowFunction"))
    assert(ntiles >= 1, "q_doc_lm_filter lost its banding window")
    val scans = plan.split('\n').count(_.contains("Scan parquet"))
    assert(scans <= 2,
      s"q_doc_lm_filter re-scans the corpus: $scans parquet scans")
  }

  test("shingle construction is map-side: no window, no pre-aggregate exchange") {
    // The Shingles discipline (functions/Shingles.scala): shingles are
    // assembled INSIDE the token array and exploded once, so the shingle
    // families plan NO Window over the token stream and the only wide
    // operators are keyed by the shingle itself. A Window reappearing in
    // the no-window rows means the posexplode->lead->dropDuplicates idiom
    // (two token-stream-sized exchanges per query at 100 TB) crept back.
    // Expected Window counts: boilerplate/novelty/decontaminate build
    // pure distinct sets (0); ngram keeps its df-cap window — it rides
    // the (lang, s) exchange the inverted-index join needs anyway (1);
    // dup_mass keeps its two island windows — they run over the cross-doc
    // DUPLICATE positions, a tiny fraction of the token stream (2).
    for ((q, expWin) <- Seq("q_text_boilerplate" -> 0, "q_doc_novelty" -> 0,
        "q_decontaminate" -> 0, "q_dedup_ngram" -> 1, "q_doc_dup_mass" -> 2)) {
      val plan = finalPlan(q).split("== Initial Plan ==").head
      val wins = plan.split('\n').count(_.contains("Window ("))
      assert(wins == expWin, s"$q: expected $expWin Window nodes, saw $wins:\n$plan")
      graft.sources.Scratch.releaseAll()
    }
    // boilerplate's exchanges are all source/(source,s)-keyed: a doc_id
    // exchange means the per-doc dedup left the array again
    val bp = finalPlan("q_text_boilerplate").split("== Initial Plan ==").head
    assert(!bp.contains("Exchange hashpartitioning(doc_id"),
      s"q_text_boilerplate shuffles the token stream by doc_id:\n$bp")
    graft.sources.Scratch.releaseAll()
    // CollapseProject guard on the exact construction every site uses:
    // the aliased token array is referenced >= 2 times, so the non-cheap
    // split() must stay in its own Project — inlined into the transform
    // lambda it would re-evaluate once per shingle (~50x measured).
    import org.apache.spark.sql.functions._
    val sh = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"),
        explode_outer(graft.functions.Shingles.distinctSet(col("tk"), 3)).as("s"))
      .filter(col("s").isNotNull)
    val opt = sh.queryExecution.optimizedPlan.toString
    val nSplit = "split\\(".r.findAllIn(opt).length
    assert(nSplit == 1,
      s"shingle build must evaluate split(text) exactly once, saw $nSplit:\n$opt")
    assert(!opt.contains("Window"),
      s"shingle build must not plan a Window:\n$opt")
    // the InferFiltersFromGenerate trap (Shingles.scala scaladoc): a plain
    // explode gets a synthesized size()>0 filter with the WHOLE shingle
    // construction inlined below the Generate — split(text) re-evaluated
    // inside lambdas, measured 266s vs 1s on the winnow build at sf0.1.
    // The nSplit==1 assertion above is the lock; this re-checks the trap
    // stays closed on the winnow (nested-HOF) shape too.
    val fp = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), graft.functions.Shingles.all(col("tk"), 3).as("sh2"))
      .select(col("doc_id"),
        expr(s"transform(sh2, s -> ${graft.functions.PortableHash.spark("s")})")
          .as("h"))
      .select(col("doc_id"),
        when(size(col("h")) >= 4,
          array_distinct(transform(sequence(lit(0), size(col("h")) - 4),
            w => array_min(slice(col("h"), w + lit(1), lit(4))))))
          .otherwise(array().cast("array<bigint>")).as("fps"))
      .select(col("doc_id"), explode_outer(col("fps")).as("fp"))
      .filter(col("fp").isNotNull)
    val fOpt = fp.queryExecution.optimizedPlan.toString
    assert("split\\(".r.findAllIn(fOpt).length == 1 &&
      "md5\\(".r.findAllIn(fOpt).length == 1,
      s"winnow fingerprint build re-evaluates split/md5 (InferFilters trap):\n$fOpt")
  }

  test("bloom-manifest probe is a distributed scan filter, not a driver loop") {
    // The skip reader's `_bloom` selection must evaluate the sketch test
    // ON EXECUTORS (a Filter with graft_bloom_any over the manifest scan)
    // and collect only surviving file names — pulling the sketch BYTES to
    // the driver is 5-50 GB of heap + a single-threaded probe loop at
    // 100 TB file counts, in exactly the hot metadata path the index
    // accelerates.
    val spk = spark
    val root = java.nio.file.Files
      .createTempDirectory("graft_bloomplan").toString + "/t"
    graft.operators.PipelineOps.bloomSeed(graft.sources.Tables.lineitem(spk, dir)
      .select("l_orderkey", "l_shipdate"), root)
    val keys = graft.sources.Tables.lineitem(spk, dir)
      .select("l_orderkey").orderBy("l_orderkey").limit(2)
      .collect().map(_.getLong(0)).toSeq
    val Seq((_, probe)) = graft.sources.Sinks.skipManifests(spk,
      graft.sources.Sinks.resolveTable(spk, root), Nil, Some(("l_orderkey", keys)))
    val opt = probe.queryExecution.optimizedPlan.toString
    assert(opt.contains("graft_bloom_any"),
      s"manifest probe lost its distributed graft_bloom_any filter:\n$opt")
    // the filter's child is the manifest RELATION (the probe plans as a
    // scan-filter), not a pre-collected local row set
    assert(opt.contains("Filter") && opt.toLowerCase.contains("relation"),
      s"manifest probe is not a scan filter over the manifest:\n$opt")
    assert(probe.collect().nonEmpty, "probe selected zero files")
  }

  test("q_join_dpp plans dynamic partition pruning and reads fewer partitions than the table has") {
    // The join-driven prune that makes a dim-filtered fact join cheap on a
    // partitioned 100 TB fact: the fact side has NO static filter (the
    // selective predicate lives on the derived dim attribute), so the only
    // way the scan avoids reading all 5 priority partitions is a
    // DynamicPruningExpression subquery on the partition column, reusing
    // the dim's broadcast. Locked twice: the plan carries the dynamic
    // filter in the scan's PartitionFilters, AND the runtime metric shows
    // fewer partitions read than exist (2 of 5 survive prio_class <= 2).
    val df = queries("q_join_dpp")(spark, dir)
    df.collect()
    val plan = df.queryExecution.explainString(FormattedMode)
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"fact scan lost its DynamicPruningExpression partition filter:\n$plan")
    // flatten through AQE boundaries: QueryStageExec exposes its stage
    // plan as a field, not a child, so a plain TreeNode.collect stops at
    // every materialized stage and misses the scans inside
    def flatten(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val kids = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          Seq(q.plan)
        case o => o.children
      }
      p +: kids.flatMap(flatten)
    }
    val scans = flatten(df.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    val partitioned = scans.filter(_.relation.partitionSchema.nonEmpty)
    assert(partitioned.nonEmpty, "no partitioned fact scan in the plan")
    val read = partitioned.map(f =>
      f.metrics.get("numPartitions").map(_.value).getOrElse(-1L)).max
    assert(read >= 0, "partitioned scan exposes no numPartitions metric")
    assert(read < 5 && read > 0,
      s"dynamic pruning read $read partitions; expected 2 of 5")
  }

  test("merge-on-read merge join executes as a keyed full-outer equi-join, never a nested loop") {
    // upsertBatchDv runs its merge join EAGERLY inside the call, so the
    // returned DataFrame's plan (what finalPlan sees) never contains it —
    // a mustNotBnlj entry for q_merge_dv would be a VACUOUS lock (the
    // r17 valve-spec failure mode). Capture the plans the merge actually
    // executes with a QueryExecutionListener and assert on those.
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    val spk = spark
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = { plans.add(qe.executedPlan.toString); () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spk.listenerManager.register(listener)
    try {
      val root = java.nio.file.Files
        .createTempDirectory("graft_morplan").toString + "/t"
      val ord = graft.sources.Tables.orders(spk, sf("sf0.001"))
        .select(col("o_orderkey").as("key"), col("o_orderdate"),
          col("o_totalprice"))
      graft.sources.Sinks.upsertBatch(ord.withColumn("seq", lit(1L)),
        root, "key", "seq")
      graft.sources.Sinks.upsertBatchDv(
        ord.filter(col("key") % 10 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 100)
          .withColumn("seq", lit(2L)),
        root, "key", "seq")
      // listener delivery is async — poll for the FullOuter plan(s)
      val deadline = System.currentTimeMillis() + 30000
      def fullOuter = plans.asScala.filter(_.contains("FullOuter")).toSeq
      while (fullOuter.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      val captured = fullOuter
      assert(captured.nonEmpty,
        "no FullOuter merge plan was captured from upsertBatchDv")
      captured.foreach { p =>
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"merge-on-read merge degraded to BroadcastNestedLoopJoin:\n$p")
        assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
          s"merge-on-read FullOuter is not a keyed shuffle join:\n$p")
      }
    } finally spk.listenerManager.unregister(listener)
  }

  test("pruned reads pre-filter the deletion-vector scan to the scanned files") {
    // VERDICT r19 #4: applyDeletes used to distinct + anti-join the FULL
    // vector set on every read; under a skip-read the DV probe must now
    // carry a scanned-file filter (normalized-path IN / prefix match) so
    // its cost tracks files scanned, not total deletes. The filter sits
    // above the _deletes scan as a regexp_replace-normalized IN/INSET —
    // assert it is present in the composed plan, then that the read is
    // still exact.
    import org.apache.spark.sql.functions._
    val spk = spark
    val root = java.nio.file.Files
      .createTempDirectory("graft_dvprune").toString + "/t"
    val ord = graft.sources.Tables.orders(spk, sf("sf0.001"))
      .select(col("o_orderkey").as("key"), col("o_orderdate"),
        col("o_totalprice"))
    graft.sources.Sinks.upsertBatch(ord.withColumn("seq", lit(1L)),
      root, "key", "seq", statsCols = Seq("o_orderdate"))
    graft.sources.Sinks.deleteWhere(spk, root, col("key") % 7 === 0)
    val lo = lit("1990-01-01 00:00:00").cast("timestamp")
    val hi = lit("2000-12-31 23:59:59").cast("timestamp")
    val df = graft.sources.Sinks.readTableSkip(spk, root, Seq(("o_orderdate", lo, hi)))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("regexp_replace") &&
      (plan.contains("INSET") || plan.contains(" IN (") ||
        plan.contains("StartsWith")),
      s"deletion-vector scan is not pre-filtered to the scanned files:\n" +
        plan.take(4000))
    val expect = ord
      .filter(col("o_orderdate").between(lo, hi) && col("key") % 7 =!= 0)
      .count()
    assert(df.count() === expect,
      "file-pruned DV application changed the visible rows")
  }
}
