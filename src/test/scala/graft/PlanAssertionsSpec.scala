package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.funsuite.AnyFunSuite

/** Pin the physical-plan shapes the 100 TB design claims depend on —
  * a regression here is a silent scale bug even while results stay
  * correct: a filter that stops reaching the scan re-reads the corpus;
  * a top-k that stops compiling to TakeOrderedAndProject becomes a
  * global sort; an aggregate that loses its partial split shuffles raw
  * rows. */
class PlanAssertionsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir)
      .queryExecution.explainString(FormattedMode)

  test("sky_li_3d: the shipdate predicate is pushed to the parquet scan") {
    val p = plan("sky_li_3d")
    assert(p.contains("PushedFilters") &&
      p.linesIterator.exists(l => l.contains("PushedFilters") && l.contains("l_shipdate")),
      s"shipdate filter must reach the scan:\n$p")
  }

  test("text_langid: the scan is column-pruned to the referenced columns") {
    val p = plan("text_langid")
    val read = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(read.contains("doc_id") && read.contains("text") &&
      !read.contains("n_chars") && !read.contains("source"),
      s"scan must read only doc_id/text:\n$read")
  }

  test("q_topk_lineitems compiles to TakeOrderedAndProject, not a global sort") {
    val p = plan("q_topk_lineitems")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not global-sort:\n$p")
  }

  test("sky_topdom: k-row cut is TakeOrderedAndProject over local counts") {
    // the operator is EAGER: its counting passes run before it returns,
    // and the returned frame cuts k rows from a local relation of the
    // candidates and their counts — no join, no re-scan of the input
    val p = plan("sky_topdom")
    assert(p.contains("TakeOrderedAndProject"),
      s"the k-row cut must not global-sort:\n$p")
    assert(p.contains("LocalTableScan") && !p.contains("Join") && !p.contains("Exchange"),
      s"the k-row cut must read only the local candidate counts:\n$p")
  }

  test("an UN-hinted dimension join auto-broadcasts under the size threshold") {
    // q_region_revenue carries explicit broadcast() hints, which would
    // make this assertion tautological — gate the AUTO path instead
    val p = spark.read.parquet(s"$dir/customer.parquet")
      .join(spark.read.parquet(s"$dir/nation.parquet"),
        org.apache.spark.sql.functions.col("c_nationkey") ===
          org.apache.spark.sql.functions.col("n_nationkey"))
      .queryExecution.explainString(FormattedMode)
    assert(p.contains("BroadcastHashJoin"),
      s"small dimension joins must auto-broadcast without hints:\n$p")
  }

  test("q_bpe_encode: aggregation-free join plan — no SortAggregate, no Window") {
    // the encode chain must run on the DISTINCT-word frame (one
    // partial/final hash aggregate) and join back; a per-doc roll-up
    // carrying the encoded string through an agg buffer degrades to
    // SortAggregate (strings are not hash-agg mutable-buffer types),
    // and a window over doc_id would single-task hot documents
    val p = plan("q_bpe_encode")
    assert(!p.contains("SortAggregate"), s"bpe encode must not sort-aggregate:\n$p")
    assert(!p.contains("Window"), s"bpe encode must not use windows:\n$p")
    assert(p.contains("HashAggregate"), s"vocab distinct must hash-aggregate:\n$p")
  }

  test("skyline and top-k aggregates keep the partial/final split (map-side local results)") {
    // the grouped skyline; the global batch skyline is a verify stage
    // over local frontiers, with no aggregate
    val sky = plan("sky_by_segment")
    assert(sky.contains("partial_skyline"),
      s"skyline must aggregate map-side first:\n$sky")
    val topk = plan("ann_topk")
    assert(topk.contains("partial_topk_agg"),
      s"top-k heap must aggregate map-side first:\n$topk")
  }

  test("batch skylines verify on defaultParallelism tasks: a set-count exchange, no single partition") {
    // the local frontiers reach the verify tasks through a repartition
    // to a set count, which AQE never coalesces; a SinglePartition
    // exchange would be a one-task global merge
    val p = spark.sparkContext.defaultParallelism
    for (name <- Seq("sky_li_2d", "sky_hint_dim", "sky_hint_angle")) {
      val sky = plan(name)
      assert(s"hashpartitioning\\(_1#\\d+, $p\\), REPARTITION_BY_NUM".r.findFirstIn(sky).isDefined,
        s"$name: the verify exchange must be a repartition into $p partitions:\n$sky")
      assert(!sky.contains("SinglePartition"), s"$name: no stage may run on one partition:\n$sky")
    }
  }

  test("ann_pq / ann_topk_bq: compressed scans broadcast the QUERY side, keep the " +
      "partial top-k split, and never fall to CartesianProduct") {
    for (name <- Seq("ann_pq", "ann_topk_bq")) {
      val p = plan(name)
      // the corpus-side scan pairs with a BROADCAST query side (tables /
      // signatures are queries x small payload); a CartesianProduct here
      // would shuffle the whole corpus against the queries
      assert(p.contains("BroadcastNestedLoopJoin"),
        s"$name: the query side must broadcast against the compressed scan:\n$p")
      assert(!p.contains("CartesianProduct"),
        s"$name: compressed scan must never be a CartesianProduct:\n$p")
      // shortlist + re-rank joins are all bounded-side broadcasts
      assert(p.contains("BroadcastHashJoin"),
        s"$name: the shortlist re-rank joins must broadcast:\n$p")
      // both the shortlist heap and the final k-heap aggregate map-side
      assert(p.contains("partial_topk_agg"),
        s"$name: the top-k heap must keep its partial/final split:\n$p")
    }
  }

  test("ivfpq rank engine: window row_number selection, no CartesianProduct, broadcast re-rank") {
    // the spill-safe deep-shortlist path (depth > 65536): selection must
    // be a Window (external sort — spills to disk, never a driver or
    // executor-memory bound), the probe joins must not degrade to a
    // CartesianProduct, and the exact re-rank keeps its broadcast shape.
    // Built directly (the gate query localCheckpoints, which hides the
    // probe plan behind an RDD scan).
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val idx = graft.operators.Similarity.buildIvfPq(e, "vec_id", "embedding",
      dim = 64, nlist = 8, ivfIters = 2, m = 16, ksub = 16, pqIters = 2)
    try {
      val probe = idx.topK(e.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 5, nprobe = 8, shortlist = 65537, corpus = e)
      val p = probe.queryExecution.explainString(FormattedMode)
      assert(p.contains("Window"), s"deep shortlist must select via window rank:\n$p")
      assert(!p.contains("CartesianProduct"),
        s"rank-engine probe must never be a CartesianProduct:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"the exact re-rank joins must broadcast:\n$p")
      assert(p.contains("partial_topk_agg"),
        s"the final k-heap must keep its partial/final split:\n$p")
    } finally idx.unpersist()
  }

  test("annTopK fully-auto conf path: heap shortlist, broadcast re-rank, no CartesianProduct") {
    // the zero-knowledge one-shot (ann_conf_auto's operator): at test SF
    // the auto depth stays under the heap ceiling, so selection must be
    // the bounded partial/final heap aggregate (never a global sort),
    // the re-rank must broadcast, and nothing degrades to a cartesian.
    // Built directly — annTopK's ivfpq path localCheckpoints, which
    // hides the probe plan, so this drives the same machinery one level
    // down with the auto-resolved sizings.
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = e.count()
    val idx = graft.operators.Similarity.buildIvfPq(e, "vec_id", "embedding",
      dim = 64, nlist = 0, ivfIters = 3, m = 16, ksub = 16, pqIters = 3,
      trainPointsPerCentroid = 0)
    try {
      assert(idx.assignCentroids.length ==
        graft.operators.Similarity.autoNlist(n),
        "nlist=0 must auto-size from the corpus count")
      val cal = idx.calibrateNprobe(e, "vec_id", "embedding", 0.95)
      val probe = idx.topK(e.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 5, nprobe = cal, shortlist = -1, corpus = e)
      val p = probe.queryExecution.explainString(FormattedMode)
      assert(p.contains("partial_topk_agg"),
        s"auto depth under the heap ceiling must select via the bounded heap:\n$p")
      assert(!p.contains("CartesianProduct"),
        s"the auto-conf probe must never be a CartesianProduct:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"the exact re-rank joins must broadcast:\n$p")
    } finally idx.unpersist()
  }

  test("q_split_assign is map-side only: no exchange anywhere in the plan") {
    val p = plan("q_split_assign")
    assert(!p.contains("Exchange"), s"split assignment must not shuffle:\n$p")
  }

  test("q_snapshot_diff shuffles (id, hash) projections, never document bodies") {
    val p = plan("q_snapshot_diff")
    // every Exchange block's input must be the 2-column (id, xxhash64)
    // projection — bodies compared by hash, never shipped
    val blocks = p.split("\n\n").filter(_.linesIterator.next().contains("Exchange"))
    assert(blocks.nonEmpty, s"expected shuffle exchanges in:\n$p")
    blocks.foreach { b =>
      assert(!b.contains("text#"), s"an exchange carries document bodies:\n$b")
    }
    assert(p.contains("xxhash64"), s"content hash must be computed pre-shuffle:\n$p")
  }

  test("q_gapfill's dense-grid cross join is broadcast and both sides are post-aggregation") {
    // the hours x types grid is a DELIBERATE cross join — safe only
    // because each side is the output of an aggregation (1-row bounds
    // exploded to hours; distinct types), never raw events rows. Pin
    // both properties so a refactor can't silently turn it into a
    // corpus-sized cartesian product.
    val p = SparkEntry.queries("q_gapfill")(spark, dir).queryExecution.sparkPlan
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val cross = p.collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(cross.size == 1, s"expected exactly one broadcast cross join:\n$p")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty,
      s"grid join must broadcast, never CartesianProduct:\n$p")
    cross.head.children.foreach { side =>
      assert(side.collectFirst { case a: BaseAggregateExec => a }.nonEmpty,
        s"a cross-join side feeds raw (pre-aggregation) rows:\n$side")
    }
  }

  test("q_bm25: term filter is map-side below the shuffle; the tf sliver is cached, not recomputed") {
    // the scale claims: (a) only query-term matches ever shuffle — the
    // isin filter must sit under the (id, term) aggregate, not after it;
    // (b) df(t) and the scoring join share ONE tokenize pass via the
    // persisted sliver (Spark does not share unmaterialized subplans)
    val df = SparkEntry.queries("q_bm25")(spark, dir)
    val p = df.queryExecution.explainString(FormattedMode)
    assert(!p.contains("Window"), s"no window anywhere in bm25:\n$p")
    assert(p.contains("InMemoryRelation"),
      s"the tf sliver must be persisted so df(t) reuses it:\n$p")
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // the tf sliver's plan lives inside the cached relation (AQE-wrapped,
    // and AdaptiveSparkPlanExec is a leaf to collect() — unwrap it)
    val cachedPlans = df.queryExecution.sparkPlan.collect {
      case s: InMemoryTableScanExec => s.relation.cachedPlan
    }.map {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case other => other
    }
    assert(cachedPlans.nonEmpty, "expected the persisted tf sliver in the plan")
    // map-side order inside the sliver: partial aggregate ABOVE the term
    // filter ABOVE the token explode — i.e. non-matching tokens die in
    // the same task that generated them, and only matching (id, term)
    // partials ever reach the exchange EnsureRequirements inserts above
    val s = cachedPlans.mkString("\n")
    val iPartial = s.indexOf("partial_count")
    val iFilter = s.indexOf("Filter _term")
    val iGen = s.indexOf("Generate explode")
    assert(iPartial >= 0 && iFilter > iPartial && iGen > iFilter,
      s"term filter must sit between the partial aggregate and the explode:\n$s")
    spark.catalog.clearCache() // release the sliver this plan pinned
  }

  test("dedup_best survivor pick is a partial-able aggregate, never a window over the text") {
    // a hot duplicate (boilerplate page repeated a billion-fold) must
    // pre-combine map-side; a window over textCol would funnel every
    // copy through one task
    val p = plan("dedup_best")
    assert(!p.contains("Window"), s"no window in the survivor pick:\n$p")
    assert(p.contains("partial_max_by") || p.contains("partial_max"),
      s"survivor argmax must keep the partial/final split:\n$p")
  }

  test("q_tfidf: document frequencies come from an aggregate+join, never a token-partitioned window") {
    // a count-over-window partitioned by token funnels every row of a
    // hot stopword through ONE task; the aggregate+join shape keeps the
    // partial/final split and lets AQE split the hot join keys. Only the
    // per-document rank window (bounded by per-doc vocabulary) may remain.
    val df = SparkEntry.queries("q_tfidf")(spark, dir)
    import org.apache.spark.sql.execution.window.WindowExec
    val windows = df.queryExecution.sparkPlan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, "expected the per-doc rank window")
    windows.foreach { w =>
      val parts = w.partitionSpec.map(_.toString)
      assert(parts.nonEmpty && !parts.exists(_.contains("token")),
        s"a window partitions by token (hot-key straggler): $parts")
    }
    val p = df.queryExecution.explainString(FormattedMode)
    assert(p.contains("InMemoryRelation"),
      s"the tf table must be persisted so df(t) reuses it:\n$p")
    spark.catalog.clearCache()
  }

  test("q_seg_dedup picks first occurrences with a partial min-aggregate, never a window") {
    // the scale claim: a billion-fold repeated segment must pre-combine
    // map-side (partial min(struct)) instead of funnelling every copy
    // through one window-partition task
    val p = plan("q_seg_dedup")
    assert(!p.contains("Window"), s"no window over segments allowed:\n$p")
    assert(p.contains("partial_min") || p.contains("partial min") ||
      p.linesIterator.exists(l => l.contains("HashAggregate") && l.contains("min")),
      s"first-occurrence pick must be a partial-able min aggregate:\n$p")
  }

  test("q_sample_stratified ranks with the bounded heap aggregate and broadcasts the picks") {
    // the scale claims: (a) never a row_number window partitioned by
    // stratum (a crawl source can be most of the corpus in one task);
    // (b) the k-per-stratum pick set joins back as a BROADCAST semi-join
    val p = plan("q_sample_stratified")
    assert(!p.contains("Window"), s"no per-stratum window allowed:\n$p")
    assert(p.contains("topk_agg"), s"ranking must be the bounded topk aggregate:\n$p")
    assert(p.contains("partial_topk_agg"),
      s"heap aggregate must keep its partial/final split (map-side heaps):\n$p")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"pick-set join-back must be a broadcast semi-join:\n$p")
  }

  test("q_ingest_admit: every join is keyed (no cartesian product anywhere in the admission plan)") {
    // the probe, in-batch pair graph, and cluster-decision joins are all
    // equi-joins on (band, bh) / ref_id / id / cluster_id; a cartesian
    // creeping in would be an O(batch x index) scale bug the tiny-SF
    // result check cannot see. The gate row's crossJoins of 1-ROW
    // aggregates are the one sanctioned shape — so assert on the
    // OPERATOR plan (opOnly), which has none.
    val p = SparkEntry.opOnly("q_ingest_admit")(spark, dir)()
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("CartesianProduct"),
      s"admission plan must not contain a cartesian product:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"expected keyed joins in:\n$p")
  }

  test("dedup_passages: gram dedup is a partial-able aggregate; the only window is per-document") {
    val p = plan("dedup_passages")
    // the >= minDocs filter must pre-combine map-side (partial count
    // distinct on the gram hash), not funnel per-gram rows into windows
    assert(p.contains("partial_count(distinct") || p.contains("partial_count(DISTINCT") ||
      p.toLowerCase.contains("partial_count(distinct"),
      s"gram doc-count must be a partial-able distinct aggregate:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no product joins in the gram pipeline:\n$p")
    // exactly the one interval-merge window, partitioned by the doc id
    // (bounded by one document's length — never per-gram or global)
    val windowSpecs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windowSpecs.nonEmpty && windowSpecs.forall(_.contains("id#")),
      s"the only window must partition by the doc id:\n$p")
    // the shingle frame is cached for the call scope: both consumers
    // (dup aggregate + probe) read the cache, and the persist boundary
    // stops pushdown from substituting the tokenize+shingle expression
    // into a scan-level generate filter (it duplicated ~16x before)
    assert(p.contains("InMemoryTableScan") || p.contains("InMemoryRelation"),
      s"the shingle frame must be cached, not recomputed per consumer:\n$p")
  }
}
