package graft

import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan assertions — the 100 TB posture checks: predicates
  * reach the parquet scan, small dims broadcast, semi/anti joins stay
  * semi/anti, global top-k avoids a total sort, aggregations run inside
  * whole-stage codegen. A regression here is a scale bug even when
  * results stay correct. */
class PlanSpec extends SparkSpec {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf())
      .queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q1: shipdate predicate pushed to parquet scan") {
    val p = planOf("q1_agg")
    assert(p.contains("PushedFilters") && p.contains("LessThanOrEqual(l_shipdate"))
  }

  test("q1: aggregation inside whole-stage codegen with partial agg") {
    val df = SparkEntry.queries("q1_agg")(spark, sf())
    df.collect() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(1)"), "scan+partial-agg stage not codegen'd")
    assert(p.contains("*(2)"), "final-agg stage not codegen'd")
    assert(p.contains("partial_sum"))
    assert(p.contains("HashAggregate"))
  }

  test("j1: dimension joins broadcast") {
    val p = planOf("j1_dim_join")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("j2: tiny range dim joins via broadcast nested loop") {
    assert(planOf("j2_range_join").contains("BroadcastNestedLoopJoin"))
  }

  test("j3: point lookup pushes equality to scan") {
    val p = planOf("j3_point_lookup")
    assert(p.contains("EqualTo(c_custkey,419)"))
  }

  test("j4: event-profile join scan prunes to referenced columns") {
    val p = planOf("j4_event_profile")
    // events scan must not read props/event_type (projection pruning)
    val scanSection = p.split("\n").filter(_.contains("ReadSchema")).mkString("\n")
    assert(!scanSection.contains("props"))
  }

  test("j6: semi/anti joins planned as semi/anti") {
    assert(planOf("j6_semi_join").contains("LeftSemi"))
    assert(planOf("j6_anti_join").contains("LeftAnti"))
  }

  test("w4: global top-k is TakeOrderedAndProject, not a full sort") {
    val p = planOf("w4_top_orders")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("p3: stream-filter predicate pushed to scan") {
    val p = planOf("p3_stream_filter")
    assert(p.contains("PushedFilters") && p.contains("GreaterThan(value,100.0)"))
  }

  test("sim1: single broadcast of the query vector, no shuffle join") {
    val p = planOf("sim1_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("pk1: packing windows partition by bucket — never a global sort") {
    val p = planOf("pk1_seq_packing")
    // the running total must be a per-bucket window (parallel across
    // buckets); a Window with an empty partition spec would serialize
    // the whole corpus through one task
    assert(p.contains("Window"))
    assert(p.contains("windowspecdefinition(bucket#"),
      "running-total window is not partitioned by bucket:\n" +
        p.linesIterator.filter(_.contains("Window")).mkString("\n"))
    // the only Sort is the window's partition-local (bucket, doc_id)
    // sort — leading with the partition key, never a global corpus sort
    val sortArgs = p.linesIterator.dropWhile(!_.startsWith("(4) Sort"))
      .slice(1, 3).mkString(" ")
    assert(sortArgs.isEmpty || sortArgs.contains("bucket"),
      s"unexpected sort shape: $sortArgs")
  }

  test("d7: the bloom probe path joins nothing — corpus side is scan-local") {
    // isolate the probe branch: grams → substring(bitmap) filter. The
    // full d7 query also carries the exact-comparison semi-join, so the
    // assertion targets the probe subexpression: it must appear as a
    // Filter over the scan projection, not as any flavor of join.
    val df = SparkEntry.queries("d7_bloom_decontam")(spark, sf())
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the native probe expression must sit in the plan (NOT matched via
    // 'substring', which hash60's md5 slicing puts in EVERY gram plan) —
    // and every join in the query (the exact-check LeftSemi, the two
    // per-doc flag LeftOuters) must be a BROADCAST of the tiny side:
    // the 100 TB corpus is never shuffled for a join here
    assert(p.toLowerCase.contains("bloomprobe"),
      "native bloom probe expression not present in the plan")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "corpus side must never shuffle for a join in the bloom path:\n" +
        p.linesIterator.filter(_.contains("Join")).mkString("\n"))
  }

  test("t_unigram_lm: vocab aggregate is partial-agg'd before its shuffle") {
    val df = SparkEntry.queries("t_unigram_lm")(spark, sf())
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      "vocab count must map-side combine before shuffling tokens")
  }

  test("w6: set algebra folds to ONE scan and ONE shuffle") {
    // count nodes on the executed-plan tree (formatted explain lists
    // every node twice — once in the tree, once in the detail section)
    val plan = SparkEntry.queries("w6_set_ops")(spark, sf())
      .queryExecution.executedPlan.toString
    val scans = plan.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 1, s"expected a single events scan, saw $scans")
    val exchanges = algoExchangeLines(plan).size
    assert(exchanges <= 1, s"expected one shuffle, saw $exchanges")
    assert(!plan.contains("Intersect") && !plan.contains("Except"))
  }

  test("sim4: centroid dim and probe cells broadcast, final is top-k") {
    val p = planOf("sim4_ann_ivf")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("sim3: banded join keys on (band, bval), candidates capped by window") {
    val p = planOf("sim3_near_dup")
    assert(p.contains("band"), "join must key on the signature band")
    assert(p.contains("RunningWindowFunction") || p.contains("row_number"),
      "bucket cap window missing from the plan")
  }

  test("m4: geo enrichment plans as a broadcast range join") {
    val p = planOf("m4_geoip")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "range dim must broadcast — a shuffled range join is a scale bug")
  }

  test("ds1/ds2: deterministic sampling is one scan + one shuffle") {
    for (q <- Seq("ds1_hash_sample", "ds2_mixture")) {
      val plan = SparkEntry.queries(q)(spark, sf())
        .queryExecution.executedPlan.toString
      val scans = plan.linesIterator.count(_.contains("FileScan parquet"))
      assert(scans == 1, s"$q: expected one documents scan, saw $scans")
      val exchanges = algoExchangeLines(plan).size
      assert(exchanges <= 1, s"$q: sampling must not shuffle, saw $exchanges")
    }
  }

  test("d6: benchmark gram set broadcasts; corpus side never shuffles by gram") {
    val p = planOf("d6_decontaminate")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "contamination probe must be a broadcast semi join")
  }

  test("a11: gap-fill aggregates the corpus ONCE; the grid never re-scans") {
    // the hourly rollup is checkpointed, so the query plan reads the
    // materialized rollup — zero parquet scans remain in the fill plan
    val plan = SparkEntry.queries("a11_gapfill")(spark, sf())
      .queryExecution.executedPlan.toString
    val scans = plan.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 0, s"expected the checkpointed rollup only, saw $scans scans")
  }

  test("ds3: epoch-shuffle head is a top-k heap, not a global sort") {
    assert(planOf("ds3_shuffle").contains("TakeOrderedAndProject"))
  }

  test("sim6: the query batch broadcasts; ranking is a per-query window") {
    val p = planOf("sim6_knn_join")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    assert(p.contains("row_number") || p.contains("RunningWindowFunction"))
  }

  test("sim5: centroids broadcast; pair join keyed on the cell") {
    val p = planOf("sim5_semantic_dedup")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "centroid assignment must broadcast the centroid dim")
    val keyLines = p.linesIterator
      .filter(l => l.contains("keys") && l.contains("cell")).toSeq
    assert(keyLines.nonEmpty,
      "within-cell pair join must key on cell — the partition key at scale")
  }

  test("j8: join keys carry the salt so a hot key spreads over buckets") {
    val p = planOf("j8_salted_join")
    // two-path treatment: the hot branch must key on (orderkey, salt);
    // the cold branch joins plainly; the hot-key set broadcasts
    val keyLines = p.linesIterator
      .filter(l => l.contains("keys") && l.contains("orderkey")).toSeq
    assert(keyLines.exists(_.contains("salt")),
      s"hot branch missing salt in join keys:\n${keyLines.mkString("\n")}")
    assert(keyLines.exists(!_.contains("salt")),
      "cold branch should join without salt (no replication where no skew)")
    assert(p.contains("BroadcastHashJoin"),
      "hot-key set must broadcast for the semi/anti splits")
  }

  test("t_redact: redaction is one scan + one aggregate shuffle") {
    val plan = SparkEntry.queries("t_redact")(spark, sf())
      .queryExecution.executedPlan.toString
    val scans = plan.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 1, s"expected one events scan, saw $scans")
    val exchanges = algoExchangeLines(plan).size
    assert(exchanges <= 1, s"redaction must stream at scan speed, saw $exchanges")
  }

  test("w8: native session windows — one user shuffle, no join, no window exec") {
    val plan = SparkEntry.queries("w8_session_window")(spark, sf())
      .queryExecution.executedPlan.toString
    assert(plan.contains("SessionWindow") || plan.contains("session_window"),
      "expected the native session-window operator")
    assert(!plan.contains("Join"), "sessionization must not self-join")
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 2, s"expected user-keyed shuffle only, saw $exchanges")
  }

  test("a13: day grid broadcasts into the BETWEEN fan-out join") {
    val plan = SparkEntry.queries("a13_rolling_dau")(spark, sf())
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      "the tiny day grid must broadcast — a shuffled join here is a scale bug")
    assert(!plan.contains("CartesianProduct"))
  }

  test("t_entropy: both aggregations partial-agg'd, no window/join") {
    val df = SparkEntry.queries("t_entropy")(spark, sf())
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      "token counts must combine map-side")
    assert(!plan.contains("Join") && !plan.contains("Window"))
  }

  test("a16: one events scan — variant stats lift via window, not re-aggregation") {
    // the cross-variant na/ca/nb/cb must come from a whole-frame window
    // over the 2-row variant aggregate, NOT from filtered branches that
    // re-trigger the events scan + both aggregations
    val plan = SparkEntry.queries("a16_ab_test")(spark, sf())
      .queryExecution.executedPlan.toString
    val scans = plan.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 1, s"expected a single events scan, saw $scans")
  }

  test("a14/a15: path analytics are one user shuffle + window, no self-join") {
    for (q <- Seq("a14_event_paths", "a15_attribution")) {
      val plan = SparkEntry.queries(q)(spark, sf())
        .queryExecution.executedPlan.toString
      val scans = plan.linesIterator.count(_.contains("FileScan parquet"))
      assert(scans == 1, s"$q: expected one events scan, saw $scans")
      assert(!plan.contains("Join"), s"$q: path analytics must not self-join")
    }
  }

  test("d10: benchmark band keys broadcast; train corpus never shuffles on them") {
    val plan = SparkEntry.queries("d10_fuzzy_decontam")(spark, sf())
      .queryExecution.executedPlan.toString
    // the flag probe is a broadcast LEFT SEMI (benchmark is MBs vs a
    // TB-scale corpus); a SortMergeJoin here would shuffle the whole
    // train side on the band key — the d6-class scale contract
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      "fuzzy-contamination probe is not a broadcast semi join")
    assert(!plan.contains("SortMergeJoin"),
      "train corpus shuffled into a sort-merge join")
  }

  test("mm4: banded phash join is an equi join on (band, key) — " +
    "no cartesian or nested-loop pairing anywhere") {
    val p = planOf("mm4_phash_neardup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "phash pairing degenerated to an all-pairs product")
    // the verify predicate is codegen'd bit arithmetic on two longs —
    // no text column survives into the join
    assert(p.contains("bit_count"), "hamming verify missing from the plan")
  }

  /** Exchanges only exist post-EnsureRequirements, and under AQE they
    * hide inside QueryStageExec wrappers that collect() won't traverse —
    * so these two pins plan without AQE to get a plain executed tree. */
  private def executedWithoutAqe(name: String) = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try SparkEntry.queries(name)(spark, sf()).queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("ds7: the split tag is scan-side — one shuffle total, " +
    "and it is the report aggregate's") {
    val plan = executedWithoutAqe("ds7_split")
    val exchanges = algoShuffles(plan)
    assert(exchanges.size == 1,
      s"expected exactly one exchange, got ${exchanges.size}:\n$plan")
    assert(plan.toString.contains("partial_count"),
      "split report is not partial-aggregated")
  }

  test("d14: contamination join ships 8-byte gram hashes, never gram text") {
    val plan = executedWithoutAqe("d14_contamination")
    val shuffles = algoShuffles(plan)
    assert(shuffles.nonEmpty)
    // every exchange's payload is (source, h)-shaped or an aggregate of
    // it: no string column wider than the source tag crosses the wire
    shuffles.foreach { e =>
      val cols = e.child.output.map(_.name)
      assert(!cols.contains("shingle") && !cols.contains("text"),
        s"gram text crosses an exchange: $cols")
    }
    // the whole matrix reads ONE gram pass: a single corpus scan feeds
    // the per-hash source-set aggregation, and every exchange after it
    // is |sources|- or |sources|²-bounded (the r11 shape re-scanned the
    // corpus for each self-join side and for the totals)
    assert(plan.toString.linesIterator
      .count(_.contains("FileScan parquet")) == 1,
      s"d14 must scan the corpus exactly once:\n$plan")
  }

  test("t_topk_ngrams: one gram count shuffle, top-k over aggregated vocab") {
    val plan = SparkEntry.queries("t_topk_ngrams")(spark, sf())
      .queryExecution.executedPlan.toString
    // partial-final count must collapse the gram stream map-side before
    // the shuffle; the window ranks |vocab| rows, never |corpus|
    assert(plan.contains("partial_count") || plan.contains("Partial"),
      "gram count is not partial-aggregated")
    assert(plan.linesIterator.count(_.contains("FileScan parquet")) == 1)
  }

  test("t_topk_ngrams: two-level top-k — the per-language merge task " +
    "sees k×partitions survivors, never the full vocabulary") {
    val df = SparkEntry.queries("t_topk_ngrams")(spark, sf())
    df.collect() // finalize the adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    // InferWindowGroupLimit must compile `row_number ≤ k` into the
    // Partial (per-partition top-k heap BEFORE the exchange) / Final
    // (merge of the survivors) pair — without the Partial, one task
    // sorts a language's entire aggregated vocabulary
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      s"per-partition top-k heap missing before the exchange:\n$plan")
    assert(plan.contains("Final"),
      s"final merge WindowGroupLimit missing:\n$plan")
  }

  test("t_topk_served: the exact vocabulary aggregate is gone — exact " +
    "counts only ever run AFTER the broadcast candidate join") {
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    // the pre-AQE physical plan: a plain tree (no QueryStageExec
    // wrappers), so collect/find traverse the whole thing
    val plan = SparkEntry.queries("t_topk_served")(spark, sf())
      .queryExecution.sparkPlan
    // every (lang, gram)-keyed aggregate must be candidate-bounded: its
    // input either passed the SpaceSaving head generator (MapPartitions
    // emits ≤ ServedHeads rows per language per partition) or the
    // broadcast join with the k-row served frame. An exact count over
    // the FULL vocabulary (the t_topk_cms harness shape) aggregates
    // straight off the gram explode and is the plan this variant exists
    // to remove
    import org.apache.spark.sql.execution.MapPartitionsExec
    val gramAggs = plan.collect {
      case h: HashAggregateExec
        if h.groupingExpressions.size == 2 &&
          h.groupingExpressions.exists(_.toString.contains("gram")) => h
    }
    assert(gramAggs.nonEmpty, "audit aggregate missing entirely")
    gramAggs.foreach { h =>
      assert(h.find {
        case _: BroadcastHashJoinExec => true
        case _: MapPartitionsExec => true
        case _ => false
      }.isDefined,
        s"vocabulary-wide exact aggregate crept back into the served plan:\n$h")
    }
  }

  test("a17/w9: trend windows rank the aggregate grain, not the corpus") {
    for (q <- Seq("a17_ltv_cohort", "w9_period_over_period")) {
      val df = SparkEntry.queries(q)(spark, sf())
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      // the window input must already be aggregated: a Window directly
      // over a scan would sort the corpus instead of the rollup
      assert(plan.contains("HashAggregate") && plan.contains("Window"),
        s"$q: expected aggregate-then-window")
      assert(plan.contains("partial_count") || plan.contains("Partial"),
        s"$q: corpus rollup is not partial-aggregated")
    }
  }

  test("j9: interval join is an EQUI join on the bin, never a nested loop") {
    val df = SparkEntry.queries("j9_interval_join")(spark, sf())
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // a plain BETWEEN join between two big sides plans as
    // BroadcastNestedLoopJoin — every point against every interval;
    // the binned rewrite must hash/sort-merge on the bin key with the
    // BETWEEN as a residual condition
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      "interval join degenerated to a nested loop")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"),
      "no equi join on the bin key found")
  }

  test("d12: CDC chunking stays scan-side — no joins anywhere") {
    val df = SparkEntry.queries("d12_cdc_chunks")(spark, sf())
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // boundaries + chunk texts are one array projection per document;
    // the only shuffles are the hash-partition window and the per-doc
    // fold — a join here means chunking stopped being per-row
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
      "d12 grew a join")
    assert(plan.contains("Window"), "chunk-occurrence window missing")
  }

  test("d11: dup-gram counting is a window over the hash partition, " +
    "not a self-join") {
    val df = SparkEntry.queries("d11_dup_spans")(spark, sf())
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
    // exactly one join: folding span coverage back onto the doc stats
    // (grams meet each other through the window, never a join)
    assert(plan.split("Join").length - 1 <= 2,
      s"unexpected join count in d11 plan")
    assert(plan.contains("Window"))
  }

  test("a21: pair self-join is equi on the basket key; dims broadcast") {
    val df = SparkEntry.queries("a21_cooccurrence")(spark, sf())
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "type totals not broadcast")
    assert(!plan.contains("CartesianProduct"), "basket join degenerated")
  }

  test("ds5: DSIR top-k is TakeOrderedAndProject over broadcast totals") {
    val p = planOf("ds5_dsir")
    assert(p.contains("TakeOrderedAndProject"),
      "selection must be a per-partition heap + driver merge, not a global sort")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the 1-row LM-totals frame must broadcast")
  }

  test("pk2: batching windows partition by length class — never a global sort") {
    val p = planOf("pk2_pad_waste")
    assert(p.contains("partitionBy") || p.contains("Window"),
      "expected a window operator")
    assert(!p.contains("SinglePartition"),
      "pad batching must parallelize across length classes")
  }

  test("prof1: no HLL aggregate above an Expand — sketch pass is single-group") {
    import org.apache.spark.sql.execution.ExpandExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    // the fused form carried six ~16 KB HLL++ buffers through every
    // (gid, distinct-value) Expand group: ~100 s on a 2 MB input. The
    // split form keeps Expand buffers to plain longs and computes the
    // six sketches once, in one group.
    val plan = SparkEntry.queries("prof1_column_stats")(spark, sf())
      .queryExecution.sparkPlan
    val hllAggs = plan.collect {
      case h: BaseAggregateExec if h.aggregateExpressions.exists(
        _.toString.contains("hll_sketch_agg")) => h
    }
    assert(hllAggs.nonEmpty, "sketch pass missing from prof1")
    hllAggs.foreach { h =>
      assert(h.find { case _: ExpandExec => true; case _ => false }.isEmpty,
        "HLL aggregate planned above an Expand — per-group sketch buffers")
      assert(h.groupingExpressions.isEmpty,
        "sketch aggregate must be single-group (six sketches total)")
    }
  }

  test("prof1_served: the scale profiler never Expands") {
    import org.apache.spark.sql.execution.ExpandExec
    val plan = SparkEntry.queries("prof1_served")(spark, sf())
      .queryExecution.sparkPlan
    assert(plan.find { case _: ExpandExec => true; case _ => false }.isEmpty,
      "served profiler must carry no count(DISTINCT) Expand")
  }

  test("hn1: per-anchor top-k is a WindowGroupLimit, partial before the exchange") {
    val plan = SparkEntry.queries("hn1_hard_negatives")(spark, sf())
      .queryExecution.executedPlan.toString
    // the Partial limit keeps ≤ k rows per (anchor, kind) per input
    // partition ahead of the shuffle — a full per-anchor sort of the
    // corpus never materializes
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      s"expected map-side WindowGroupLimit in:\n$plan")
  }

  test("sim kernels: cosine scoring runs inside whole-stage codegen") {
    val df = SparkEntry.queries("sim1_cosine_topk")(spark, sf())
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the VectorDot projection must sit inside a codegen span — the HOF
    // formulation it replaced forced CodegenFallback on the scorer
    assert(plan.contains("*("), "no whole-stage codegen span in sim1's plan")
    assert(!plan.toLowerCase.contains("zip_with"),
      "HOF dot product leaked back into the production path")
  }

  test("r4: probe set is a bounded TakeOrdered; no cartesian anywhere") {
    val plan = SparkEntry.queries("r4_retrieval_metrics")(spark, sf())
      .queryExecution.executedPlan.toString
    // the md5-ordered probe selection must never become a global sort
    assert(plan.contains("TakeOrderedAndProject"),
      s"probe selection is not bounded:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("emb3: probe batch broadcasts; the corpus is never hash-shuffled") {
    val plan = SparkEntry.queries("emb3_knn_accuracy")(spark, sf())
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // corpus rows meet probes via broadcast NLJ/hash joins only — the
    // lone hash exchanges are the bounded per-probe aggregations
    assert(!plan.contains("SortMergeJoin"), s"corpus shuffled for a join:\n$plan")
  }

  test("ds10: one dedup shuffle, gram probe broadcast-semi, no cartesian") {
    val plan = SparkEntry.queries("ds10_curation_funnel")(spark, sf())
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    // the benchmark gram set reaches the corpus as a broadcast
    // LeftSemi — the corpus is never shuffled by gram hash
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"decontam stage lost its broadcast-semi shape:\n$plan")
  }

  test("sq2: negative drawing never shuffles the event side") {
    val plan = SparkEntry.queries("sq2_negatives")(spark, sf())
      .queryExecution.executedPlan.toString
    assert(!algoExchangeLines(plan).exists(_.contains("hashpartitioning")),
      s"event rows crossed a hash exchange:\n$plan")
  }
}
