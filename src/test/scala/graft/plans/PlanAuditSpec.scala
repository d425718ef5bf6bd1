package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.ClassicConversions.castToImpl

/** Physical-plan audit of the driver queries — the 100 TB guards
  * (SURVEY §4): no accidental cartesian products anywhere, filters and
  * column pruning pushed into the parquet scan, dimension joins broadcast,
  * the anomaly join planned as a real anti join. A regression here is a
  * scale bug even when sf0.001 results stay correct, so it is pinned as a
  * spec, not a one-off `.explain` glance. */
class PlanAuditSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df: DataFrame = graft.SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  test("no driver query plans a CartesianProduct") {
    // fit/stream queries execute work while building; the plan audit covers
    // every pure-transform query (the pipeline queries' joins are the same
    // shapes as q11/q22/q25 pieces, spec'd below and in GeoscanSpec)
    val audited = graft.SparkEntry.queries.keys.toSeq.sorted
      .filterNot(Set("q21_geoscan_tiles", "q22_geoscan_transform",
        "q23_geoscan_geojson", "q24_bloom_score", "q25_pipeline_anomalies",
        "q49_stream_window", "q50_stream_anomalies",
        "q61_stream_state", "q63_stream_dedup", "q64_stream_join",
        "q20_csv_roundtrip", "q26_table_roundtrip", "q46_jsonl_roundtrip",
        "q60_bucketed_join"))
    // plan every query before judging: one query that fails to plan must
    // not leave the ones after it unaudited
    val problems = audited.flatMap { name =>
      scala.util.Try(plan(name)) match {
        case scala.util.Success(p) if p.contains("CartesianProduct") =>
          Some(s"$name plans a cartesian:\n$p")
        case scala.util.Success(_) => None
        case scala.util.Failure(e) =>
          Some(s"$name failed to plan: ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    assert(problems.isEmpty,
      s"${problems.length} of ${audited.length} audited queries:\n${problems.mkString("\n")}")
  }

  test("q01 pushes the filter and prunes columns at the parquet scan") {
    val p = plan("q01_scan_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)]"), p)
    // projection pruning: the scan must not read the other 6 orders columns
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("o_orderkey") && readSchema.contains("o_totalprice"))
    assert(!readSchema.contains("o_orderdate") && !readSchema.contains("o_comment"), readSchema)
  }

  test("q134 z-ordered scan pushes BOTH box dimensions to the parquet scan") {
    // read the scan node's metadata — the plan's toString elides long
    // PushedFilters lists, so string-matching the rendered plan is flaky
    val df = graft.SparkEntry.queries("q134_zorder_scan")(spark, sf)
    val scan = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    val pushed = scan.metadata("PushedFilters")
    assert(pushed.contains("GreaterThanOrEqual(latitude,40.72)"), pushed)
    assert(pushed.contains("LessThan(latitude,40.73)"), pushed)
    assert(pushed.contains("GreaterThanOrEqual(longitude,-74.0)"), pushed)
    assert(pushed.contains("LessThan(longitude,-73.99)"), pushed)
  }

  test("q13 dimension joins are broadcast hash joins") {
    val p = plan("q13_broadcast_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q11 plans a real LeftAnti join") {
    val p = plan("q11_anti_join")
    assert(p.contains("LeftAnti"), p)
  }

  test("q12 left_outer + IS NULL is rewritten to a LeftAnti join end-to-end") {
    // the AntiJoinRewrite rule exists FOR this spelling
    // (02_geofraud_fraud.py:62-68) — pin the whole-query plan, not just the
    // rule's unit shape, so a planner miss can't hide behind green results
    val p = plan("q12_leftouter_isnull")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("LeftOuter"), p)
  }

  test("q60 bucketed join + aggregate reuse the bucket layout: zero shuffles before the orderBy") {
    // force the SMJ path (at sf0.001 the dimension side would broadcast,
    // which hides the property under test: bucket co-location)
    val savedThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try {
      val df = graft.SparkEntry.queries("q60_bucketed_join")(spark, sf)
      df.collect() // realize the AQE plan
      // AQE's toString repeats the plan under "== Initial Plan =="; audit
      // only the final executed section
      val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      assert(p.contains("SortMergeJoin"), p)
      assert(p.contains("Bucketed: true"), p)
      // join on the bucket key and groupBy on that key add NO exchange; the
      // only shuffle in the whole plan is the final orderBy's range partition
      assert("Exchange".r.findAllIn(p).size == 1, p)
      assert(p.contains("rangepartitioning"), p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedThreshold)
  }

  test("q16 broadcast-scalar N is a broadcast loop over one row, not a shuffle") {
    val p = plan("q16_tfidf")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q81 profile: n columns cost ONE scan (single Expand aggregate)") {
    val p = plan("q81_profile")
    // one Expand feeding the multi-distinct aggregate, one parquet scan —
    // profiling must never rescan per column
    assert("FileScan parquet".r.findAllIn(p).size == 1, p)
    assert(p.contains("Expand"), p)
  }

  test("q77 inverted index: the window partitioning is reused by the aggregate") {
    val df = graft.SparkEntry.queries("q77_inverted_index")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // groupBy(term) rides the window's hashpartitioning(term) exchange; the
    // only other shuffle is the presentation orderBy
    assert("Exchange".r.findAllIn(p).size <= 2, p)
  }

  test("q80 bloom-prune filters the fact side BELOW the join") {
    val df = graft.SparkEntry.queries("q80_bloom_prune_join")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    val joinAt = p.indexOf("Join")
    // the probe-filter must sit on the streamed (fact) side, under the join
    val filterAt = p.indexOf("Filter", joinAt)
    assert(joinAt >= 0 && filterAt > joinAt, p)
  }

  test("q45 rank filter gets WindowGroupLimit pushdown (partial before the shuffle)") {
    val p = plan("q45_window_rank")
    // Spark 4 prunes each map partition to the top-k BEFORE the window's
    // sort shuffle — the property that keeps the window spelling viable at
    // scale (TopK.topK is the agg-shaped alternative)
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("Partial"), p)
  }

  test("q118 LATERAL top-1 plans without the decorrelation's global sort") {
    // LateralTopKRewrite folds the subquery's ORDER BY into the window's
    // orderSpec: no global range sort+exchange of orders, and the explicit
    // orderSpec unlocks InferWindowGroupLimit's map-side top-1 pruning
    val p = plan("q118_lateral")
    assert(!p.contains("rangepartitioning(o_orderdate"),
      s"decorrelated global sort survived:\n$p")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q14 geo_cell composition stays inside whole-stage codegen") {
    // AQE prints codegen markers only on the FINAL plan — execute first
    val df = graft.SparkEntry.queries("q14_geo_cell")(spark, sf)
    df.collect() // count() would execute a different (agg) plan
    val p = df.queryExecution.executedPlan.toString
    // '*(n)' prefixes mark codegen stages; the cell projection must carry one
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("geo_cell(")), p)
  }

  test("q188 repetition stays map-side: no explode, no aggregation shuffle") {
    val p = plan("q188_repetition")
    // the trigram list, distinct count and fraction are higher-order array
    // ops WITHIN the row — an explode (Generate) or a hash-partitioned
    // exchange here means the cheapest quality pass grew a shuffle
    assert(!p.contains("Generate"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("q186 hybrid RRF top-k's each leg before the fusion join") {
    val p = plan("q186_hybrid_rrf")
    // orderBy+limit legs must plan as TakeOrderedAndProject (per-partition
    // heaps) — a global Sort+Limit would ship every scored row
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q191 nested-struct scan prunes to the one touched leaf") {
    val df = graft.SparkEntry.queries("q191_nested_pruning")(spark, sf)
    val scan = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    val rs = scan.metadata("ReadSchema")
    // the payload struct must shrink to user_id — decoding the sibling
    // leaves per row is the 100 TB cost this pin guards against
    assert(rs.contains("user_id"), rs)
    assert(!rs.contains("event_type") && !rs.contains("value_micros"), rs)
  }

  test("q168 native kmv aggregate: two-level ObjectHashAggregate (map-side partial)") {
    val p = plan("q168_kmv_native")
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("kmv_sketch"), p)
    // partial (pre-shuffle) mode present — the bounded map-side combine
    assert(p.contains("partial_kmv_sketch"), p)
  }

  test("q158 residual bbox filter is pushed to the planned files' scan") {
    // assert on the Filter node's full predicate text — the PushedFilters
    // list in the scan line is elided ("...") past ~100 chars
    val p = plan("q158_file_skipping")
    assert(p.contains(">= 40.701)") && p.contains("<= -73.99)"), p)
    assert(p.contains("PushedFilters: [IsNotNull(latitude)"), p)
  }

  test("q170 partitioned layout prunes whole partitions at planning time") {
    val p = plan("q170_partitioned_scan")
    assert(p.contains("PartitionFilters") && p.contains("event_type"), p)
    // pruned to the one matching partition directory — data filters empty
    assert(p.contains("(event_type") && p.contains("= purchase)"), p)
  }

  test("q172 all three hinted join strategies appear in the union plan") {
    val p = plan("q172_join_hints")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("SortMergeJoin"), p)
    assert(p.contains("ShuffledHashJoin"), p)
  }

  test("q197 mixture windows stay bucket-parallel: no single-partition funnel, dims broadcast") {
    // MixtureSampling's running sums must plan as windows PARTITIONED by
    // (source, bucket) — a SinglePartition exchange anywhere means the
    // corpus funnels through one task at 100 TB (the final scalar-free
    // aggregate groups by source, so none is expected at all)
    val p = plan("q197_mixture_sample")
    assert(!p.contains("SinglePartition"), p)
    // the budgets dim and the per-bucket offsets frame both broadcast
    assert(p.contains("BroadcastExchange"), p)
  }

  test("q210 packing offsets stay bucket-parallel; block agg has map-side partials") {
    val p = plan("q210_sequence_pack")
    // the running-offset window is PARTITIONED by the prefix-sum bucket —
    // a bare global window here would funnel the corpus into one task
    assert(p.contains("windowspecdefinition(__bucket"), p)
    assert(p.contains("partial_count"), p)
  }

  test("q212 mg_topk recount broadcasts the candidate set; scan prunes to text") {
    val p = plan("q212_heavy_hitters")
    // the exact re-count must be an equi-join against the ≤k broadcast
    // candidates (never a full token-frequency shuffle gate at the scan)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("ReadSchema: struct<text:string>"), p)
  }

  test("q213 vocab top-K cut is TakeOrderedAndProject, not a global sort") {
    val p = plan("q213_vocab_coverage")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q216 hidden partitioning: derived day bounds reach PartitionFilters, ts range is pushed") {
    val p = plan("q216_hidden_partitioning")
    // the caller named only the ts range; the day predicate must appear in
    // the scan anyway (the transform helper derived it), else every day
    // directory is read
    assert(p.contains("(day#") && p.contains(">= 19727"), p)
    assert(p.contains("GreaterThanOrEqual(ts,1704412800000000000)"), p)
  }

  test("q215 partitioned fact scan carries a DynamicPruningExpression") {
    // the dim filter is a query (not a static predicate), so only DPP can
    // prune the fact partitions — losing this regresses the scan to
    // reading every partition at any scale
    val p = plan("q215_dynamic_pruning")
    assert(p.contains("dynamicpruning"), p)
  }

  test("q224 negative ranks stay bucket-partitioned (no global row_number)") {
    // the per-anchor negative lookup must ride Sharding.withTokenOffsets'
    // bucketed prefix-sum: every window in the plan must partition by the
    // prefix-sum bucket — an UNPARTITIONED window is the global
    // row_number funnel the design forbids. (A SinglePartition exchange
    // does appear: the 1-row scalar doc count, the q16 broadcast-scalar
    // shape — bounded, not corpus-scale.)
    val p = plan("q224_contrastive_pairs")
    val specs = "windowspecdefinition\\(".r.findAllMatchIn(p).map(_.end).toSeq
    assert(specs.nonEmpty, p)
    specs.foreach { at =>
      assert(p.startsWith("__bucket", at), s"unbucketed window at offset $at:\n$p")
    }
  }

  test("q222 ntile window is partitioned by source, not global") {
    val p = plan("q222_perplexity_buckets")
    assert(p.contains("windowspecdefinition(source"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("q219 pair algebra meets the pair frame through HASH joins") {
    // after the bounded sketch pass, the union/intersection math runs on
    // ≤2k rows per pair. The sketch frame must meet the broadcast pair
    // list through equi-joins (source = a ∪ source = b) — BroadcastHASH,
    // two O(1) probes per sketch row. The single OR-join spelling
    // degrades to BroadcastNestedLoopJoin: O(S²) predicate evals per
    // row. (The pair-list build itself is an inequality self-join, but
    // it runs once at build time on the checkpointed tiny source list —
    // the executed plan of the query carries no nested-loop join.)
    val p = plan("q219_kmv_set_ops")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("windowspecdefinition(a"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("q153 vocab rank runs over the top-500 cut, not the whole vocabulary") {
    // the top-500 cut must be TakeOrderedAndProject (distributed
    // per-partition top-k) and the id-assigning window must sit ON that
    // ≤500-row frame — ranking the full distinct-token frame through an
    // unpartitioned window moves the corpus vocabulary to one partition.
    // No SinglePartition exchange anywhere: the window's input is already
    // single-partition BECAUSE it is the bounded top-k result.
    val p = plan("q153_vocab_encode")
    assert(p.contains("TakeOrderedAndProject(limit=500"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("q100 share-of-total divides by a broadcast scalar, not a global window") {
    // the per-user frame is O(#users); a sum().over(Window.partitionBy())
    // would funnel ALL of it through one partition just to divide by the
    // total. The broadcast-agg spelling keeps the only SinglePartition
    // exchange on the 1-row scalar leg (32 partial sums → 1 row, the q16
    // broadcast-scalar shape) and the top-10 cut is TakeOrderedAndProject.
    val p = plan("q100_skew_report")
    assert(!p.contains("windowspecdefinition"), p)
    assert(p.contains("TakeOrderedAndProject(limit=10"), p)
    assert(p.contains("BroadcastExchange"), p)
  }

  test("q230 contamination joins through the MEASURED broadcast path") {
    // the r10 weak item, closed: the eval gram set is counted before the
    // join — under the 10 MB budget (it is, at every shipped sf: ≤6.4k
    // distinct grams at sf0.1) it must broadcast; the corpus gram stream
    // must never shuffle toward the eval side. The over-budget cutover to
    // SortMergeJoin is law-pinned in DecontaminationSpec.
    val p = plan("q230_contamination")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q236 MoR position deletes apply through a broadcast ANTI join") {
    // the delete side is a tiny parquet at every shipped sf, so the
    // planner's size stats must broadcast it — a shuffled anti join here
    // would repartition the whole data read to drop a handful of rows;
    // and the join must be LeftAnti (an inner/semi spelling would KEEP
    // exactly the deleted rows)
    val df = graft.SparkEntry.queries("q236_iceberg_mor_read")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q239/q240 Delta DV deletes apply through a broadcast ANTI join") {
    // descriptor-declared cardinality is tiny at every shipped sf, so
    // the measured cutover must hand the planner a broadcast hint — a
    // shuffled anti join would repartition the whole table scan to drop
    // a bitmap's worth of rows; LeftAnti, or the deleted rows are
    // exactly what's KEPT
    for (q <- Seq("q239_delta_deletion_vectors", "q240_delta_dv_delete")) {
      val df = graft.SparkEntry.queries(q)(spark, sf)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("LeftAnti"), s"$q: $p")
      assert(p.contains("BroadcastHashJoin"), s"$q: $p")
    }
  }

  test("q247 upsert MoR read: equality deletes as anti joins, never a nested loop") {
    // each equality-id group anti-joins null-safely on the key columns
    // (equi keys — hashable) with the sequence comparison as a residual
    // condition; a BroadcastNestedLoopJoin or cartesian here would put
    // the whole data read against every delete row per upsert tier
    val df = graft.SparkEntry.queries("q247_iceberg_upsert")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q225 winnowing pairing caps hot fingerprints before the self-join") {
    // the anti-join against the hot-fingerprint tail must be IN the plan
    // (dropping it silently restores the quadratic C(k,2) fan-out on
    // boilerplate fingerprints), and the pairing itself stays an
    // equi-join — no cartesian/nested-loop anywhere
    val p = plan("q225_winnowing")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q267 catalog-resolved SQL keeps pushdown: the name adds resolution, not a layer") {
    // run q267 once so the catalog name is registered and the tables
    // bound, then audit a FILTERED read through the same catalog: the
    // predicate must reach the parquet scan's PushedFilters exactly as
    // the path-API read would push it — the substitution rule hands
    // Catalyst the reader's own relations, so a regression here means
    // the catalog started planning its own scans
    graft.SparkEntry.queries("q267_sql_catalog_read")(spark, sf).collect()
    val cat = "graft_" + Integer.toHexString(sf.hashCode).takeRight(8)
    val q = spark.sql(
      s"SELECT event_id FROM $cat.graft.events_iceberg WHERE event_id > 1000")
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(event_id), GreaterThan(event_id,1000)]"), p)
    assert(!p.contains("GraftSqlTable"), p)
  }
}
