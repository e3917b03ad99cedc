package graft.queries

import graft.{SparkEntry, SparkTestBase}

/** Plan-shape regression gates — the scale claims in SCALE.md, turned
  * into assertions. Each test pins the PHYSICAL plan property that makes
  * an operator survive 100×, so a refactor that silently re-introduces a
  * recompute, loses a broadcast hint, or falls back to a cartesian
  * product fails the suite instead of only showing up in the bench.
  *
  * Plans are inspected as the pre-execution physical plan string (AQE
  * initial plan): broadcast decisions asserted here come from explicit
  * `broadcast()` hints and cartesian products from join conditions, both
  * of which are visible statically.
  */
class PlanGuardSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    planOf(SparkEntry.queries(name)(spark, sf))

  test("d6's pair input is a parquet scan — no minhash subtree") {
    // force the one-time materialization, then inspect what consumers see
    val pairs = LlmQueries.d2Pairs(spark, sf)
    val p = planOf(pairs)
    assert(p.contains("Scan parquet"), p)
    assert(p.contains("dedup_pairs"), p)
    // a recompute would carry the shingle explode (Generate) and the
    // minhash aggregation — a table scan carries neither
    assert(!p.contains("Generate"), p)
    assert(!p.contains("HashAggregate"), p)
  }

  test("d8's incremental probe reads persisted signatures, dims broadcast") {
    val p = plan("d8_incremental_dedup")
    assert(p.contains("dedup_bands"), p)
    assert(p.contains("dedup_sets"), p)
    // the size-prefilter/set sides ride broadcast hints — the corpus-
    // sized band table must never be the shuffled-both-sides build
    assert(p.contains("BroadcastHashJoin"), p)
    // probing persisted signatures must not re-shingle the corpus text
    assert(!p.contains("Generate explode"), p)
  }

  // the dedup band/set tables are written bucketBy((band, bkey) /
  // doc_id): a probe's joins must consume the on-disk layout, so no
  // Exchange (shuffle OR broadcast build) may sit directly above a
  // lake-table scan. Exchanges of candidate-sized relations downstream
  // of a join/aggregate barrier are fine — those move delta-sized
  // data. Asserted in the cluster shape (broadcasts disabled), like
  // s14: at 100 TB nothing here fits a broadcast. Shared by the d8
  // single-probe pin and d8b's split-probe pin (round 19): the split
  // form exists precisely so the corpus lake relations stay
  // un-unioned and un-shuffled per batch.
  private def assertNoLakeShuffle(name: String,
      lakeTables: Seq[String] = Seq("dedup_bands", "dedup_sets")): Unit = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def lakeScanWithoutBarrier(p: SparkPlan): Boolean = p match {
      case s: FileSourceScanExec =>
        s.tableIdentifier.exists(t =>
          lakeTables.exists(t.table.contains))
      case _: org.apache.spark.sql.execution.joins.BaseJoinExec => false
      case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
        false
      case other => other.children.exists(lakeScanWithoutBarrier)
    }
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val df = SparkEntry.queries(name)(spark, sf)
      val root = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
      val offenders = root.collect {
        case e: Exchange if lakeScanWithoutBarrier(e.child) => e.nodeName
      }
      assert(offenders.isEmpty,
        s"$name: lake-table scans shuffled by:\n${offenders.mkString("\n")}")
      val p = planOf(df)
      assert(p.contains("Bucketed: true"), p)
      assert(p.contains("SortMergeJoin"), p)
    } finally spark.conf.set(key, prev)
  }

  test("d8's probe rides the bucketed signature-lake layout — no " +
    "exchange ever shuffles a lake-table scan") {
    assertNoLakeShuffle("d8_incremental_dedup")
  }

  test("d8b's SPLIT probe keeps the same property with corpus and " +
    "delta relations disjoint — no exchange above a lake-table scan") {
    assertNoLakeShuffle("d8b_external_delta")
  }

  test("e2b's lake probe never shuffles the bucketed vector lake — " +
    "the re-score's target fetch rides the vec_id layout in the " +
    "cluster shape (the width harness's corpus-shuffle fix, pinned)") {
    assertNoLakeShuffle("e2b_lsh_lake", Seq("emb_vecs"))
  }

  /** The static-pruned-lake pin (e4b's property, shared with e11b):
    * every scan of the named lake directories carries the probed cells
    * as a LITERAL partition filter — static pruning at file-listing
    * time (the width harness measured the dynamic-pruning alternative
    * reading the full corpus: the planted dynamicpruningexpression
    * degenerates when the broadcast exchange isn't reused; see
    * ivfLakeTopK's scaladoc) — and no exchange (shuffle OR broadcast
    * build) sits above any lake scan: the probe relations arrive as
    * explicit broadcasts of probe-sized data, so the corpus rows never
    * cross the wire before the join — the d8 lake posture.
    */
  private def assertStaticPrunedLake(name: String,
      lakeDirs: Seq[String]): Unit = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    spark.conf.set("spark.sql.maxMetadataStringLength", 4000)
    // full traversal: sortedSmall caches the result, so the probe plan
    // lives inside an InMemoryRelation (the a3f walk's lesson)
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val into = p match {
        case a: AdaptiveSparkPlanExec => walk(a.initialPlan)
        case im: InMemoryTableScanExec => walk(im.relation.cachedPlan)
        case _ => Seq.empty
      }
      (p +: into) ++ p.children.flatMap(walk)
    }
    val df = SparkEntry.queries(name)(spark, sf)
    val nodes = walk(df.queryExecution.executedPlan)
    def isLake(f: FileSourceScanExec): Boolean =
      f.metadata.get("Location").exists(l => lakeDirs.exists(l.contains))
    // the literal list plans as INSET (or IN for short lists); a
    // residual dynamicpruningexpression may coexist — redundant and
    // harmless once the static filter prunes the file listing — but it
    // must NOT satisfy the pin: strip every dynamicpruningexpression(…)
    // before matching, so a Spark version that prints the dynamic
    // filter as a parenthesized IN list can never silently stand in
    // for the static literal this test documents
    def stripDpp(pf: String): String =
      "dynamicpruningexpression\\([^)]*\\)".r.replaceAllIn(pf, "")
    lakeDirs.foreach { lake =>
      val lakeScans = nodes.collect {
        case f: FileSourceScanExec
            if f.metadata.get("Location").exists(_.contains(lake)) => f
      }
      assert(lakeScans.nonEmpty, s"$name: no $lake scan:\n" +
        df.queryExecution.executedPlan)
      assert(lakeScans.forall(f =>
          f.metadata.get("PartitionFilters").map(stripDpp).exists(pf =>
            pf.contains("cell") &&
              (pf.contains("INSET") || pf.contains(" IN (")))),
        s"$name: a $lake scan has no literal cell IN/INSET partition " +
          "filter: " +
          lakeScans.map(_.metadata.get("PartitionFilters")).mkString(" | "))
    }
    def lakeScanWithoutBarrier(p: SparkPlan): Boolean = p match {
      case f: FileSourceScanExec => isLake(f)
      case _: org.apache.spark.sql.execution.joins.BaseJoinExec => false
      case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
        false
      case other => other.children.exists(lakeScanWithoutBarrier)
    }
    val offenders = nodes.collect {
      case e: Exchange if lakeScanWithoutBarrier(e.child) => e.nodeName
    }
    assert(offenders.isEmpty,
      s"$name: lake scan shuffled by:\n${offenders.mkString("\n")}")
  }

  test("e4b's inverted-file probe prunes the lake scan to the probed " +
    "cells STATICALLY and never shuffles it — literal cell partition " +
    "filter (runtime DPP measured a no-op in this shape), probe " +
    "relations broadcast, the only exchange is the candidate-sized " +
    "top-k window") {
    assertStaticPrunedLake("e4b_ivf_lake", Seq("ivf_lake"))
  }

  test("e7b's trained-IVF probe statically prunes the trained lake " +
    "and never shuffles it — same property as e4b, under the trained " +
    "coarse quantizer's assignment") {
    assertStaticPrunedLake("e7b_trained_ivf_lake", Seq("trained_ivf_lake"))
  }

  test("e11b's IVF-PQ serving probe statically prunes BOTH lakes — " +
    "the cell-partitioned code table the ADC scores from and the " +
    "cell-partitioned vector table the re-rank fetches from — and " +
    "never shuffles either (LUT, probe cells, probe vectors, rerank " +
    "survivors all broadcast)") {
    assertStaticPrunedLake("e11b_ivfpq_lake",
      Seq("ivfpq_codes_lake", "ivfpq_vec_lake"))
  }

  test("d4's hot-shingle cut is a broadcast of the per-lang hot list") {
    val p = plan("d4_ngram_jaccard")
    // the max-df cut joins the tiny per-lang hot arrays as the BUILD
    // side of a broadcast outer join (array_except does the removal) —
    // the corpus-sized doc-set relation must never shuffle to be
    // filtered
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("LeftOuter, BuildRight"), p)
    // sizes are grouping keys riding the posting rows: no corpus-sized
    // size-lookup join may reappear downstream of the aggregate
    assert(p.toLowerCase.contains("hashaggregate"), p)
  }

  test("s15's wide-corr chain plans zero hash exchanges off the " +
    "bucketed panel") {
    val p = plan("s15_bucketed_panel")
    // the whole chain reads the bucketed lake table...
    assert(p.contains("panel_by_bucket") || p.contains("Bucketed: true"),
      p)
    assert(p.toLowerCase.contains("corrmatrixagg"), p)
    // ...and the per-bucket vector assembly rides the on-disk layout:
    // no DATA-sized shuffle anywhere. The only exchanges left are
    // matrix-sized — the round-robin redistribution of the ~288
    // assembled panel rows (the stage barrier that keeps the scan +
    // assembly out of the UDAF's deliberate coalesce(1); see the
    // query's comment for the A/B) and the single-partition gathers
    // (UDAF final merge, output sort); no hash or range
    // repartitioning of the scanned rows exists.
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("e9/e11 ADC plans scan persisted codes — never retrain/re-encode") {
    val p9 = plan("e9_pq_recall")
    assert(p9.contains("pq_codes"), p9)
    val p11 = plan("e11_ivfpq_recall")
    assert(p11.contains("pq_codes"), p11)
  }

  test("g4's wide edges contain the co-moment aggregate and no join") {
    val p = plan("g4_wide_edges")
    // the UDAF aggregate is the plan's centerpiece...
    assert(p.toLowerCase.contains("corrmatrixagg"), p)
    // ...and the only join anywhere is the resample grid's LeftOuter
    // ffill join: no Inner join means no bucket-keyed k² pair expansion
    // (g1's shape), and no shuffled join of any kind exists
    assert(!p.contains("Inner"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      p)
  }

  test("g3's per-window edges come from the co-moment UDAF, not a " +
    "bucket-keyed pair join") {
    val p = plan("g3_graph_samples")
    // edges flow through the window-keyed UDAF aggregate...
    assert(p.toLowerCase.contains("corrmatrixagg"), p)
    // ...and no Pearson pair aggregation exists anywhere in the plan —
    // the old shape computed corr() over an Inner join of the panel
    // with itself on bucket (k² rows per bucket before aggregating)
    assert(!p.toLowerCase.contains("corr("), p)
    // the resample grid's LeftOuter ffill join on (bucket, user_id) is
    // legitimate (same as g4); what must not exist is an INNER join
    // keyed on bucket — the k²-per-bucket pair expansion
    assert(!"Join \\[bucket[^\\]]*\\], \\[bucket[^\\]]*\\], Inner".r
      .findFirstIn(p).isDefined, p)
  }

  test("e1b's per-window wide matrices share the same join-free shape") {
    val p = plan("e1b_flagship_wide")
    // the exact integer co-moment aggregate: bit-deterministic merge,
    // the same join-free per-window shape as g3 and g4
    assert(p.toLowerCase.contains("corrmatrixagg"), p)
    assert(!p.contains("Inner"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      p)
  }

  test("the pruned tier's vector verify ships no panel broadcast in " +
    "the CLUSTER shape (a hinted panel-broadcast join is the positive " +
    "control)") {
    // The claim that matters at 100 TB: the pruned tier's verify
    // broadcasts nothing panel-sized. Size-based broadcasts
    // vanish past autoBroadcastJoinThreshold by construction, so the
    // cluster shape is pinned the way the s14 test pins its own:
    // threshold -1 with the panel caches rebuilt under it, leaving
    // only explicit broadcast() hints in the plan. (Round 13's guard
    // ran at fixture threshold and flagged the planner broadcasting
    // the dimension-small bucketed cell panel into the shared grid
    // join — size adaptivity doing its job at 43k cells, not a plan
    // property that survives 100×. That guard was red for the right
    // underlying reason: the FIXTURE plan does ship panel cells.)
    //
    // Classifier: a broadcast build reaching the ffill Window, a file
    // scan, or any aggregate still keyed per-(bucket,series) — without
    // first crossing a PER-SERIES contraction, i.e. an aggregate with
    // a single grouping key (the stats / vector relations, k rows) —
    // ships panel-sized data. Caches and AQE wrappers are descended,
    // never trusted: the round-13 classifier labeled EVERY in-memory
    // scan raw panel, which made it flag the aggregate-contracted
    // bucketed cache and prove nothing about the actual bytes.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def rawPanel(p: SparkPlan): Boolean = p match {
      // a Generate (the fill_grid posexplode) re-inflates a per-series
      // contraction back to one row per grid slot — panel-sized again,
      // exactly like the old ffill Window output it replaced
      case _: org.apache.spark.sql.execution.GenerateExec => true
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
          if a.groupingExpressions.size <= 1 => false
      // per-(bucket,key) aggregates are k·T cells — still the panel;
      // keep descending (they reach the tick file scan)
      case _: org.apache.spark.sql.execution.window.WindowExec => true
      case _: org.apache.spark.sql.execution.FileSourceScanExec => true
      case im: InMemoryTableScanExec => rawPanel(im.relation.cachedPlan)
      case ad: AdaptiveSparkPlanExec => rawPanel(ad.initialPlan)
      case other => other.children.exists(rawPanel)
    }
    // full traversal: the sortedSmall cache wraps the whole pruned plan
    // in an InMemoryRelation (and AQE nests adaptive nodes inside it) —
    // a plain collect() would see only Sort→Exchange→InMemoryTableScan
    // and pass vacuously either way
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val into = p match {
        case a: AdaptiveSparkPlanExec => walk(a.initialPlan)
        case im: InMemoryTableScanExec => walk(im.relation.cachedPlan)
        case _ => Seq.empty
      }
      (p +: into) ++ p.children.flatMap(walk)
    }
    def broadcastOffenders(df: org.apache.spark.sql.DataFrame)
        : Seq[String] =
      walk(df.queryExecution.executedPlan).collect {
        case e: BroadcastExchangeExec if rawPanel(e.child) =>
          e.child.treeString.linesIterator.take(3).mkString(" | ")
      }
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    // caches are planned at registration time: drop any registered
    // under the fixture threshold so both queries rebuild theirs in
    // the cluster shape
    graft.ops.Time.unpersistPanels()
    spark.conf.set(key, "-1")
    try {
      // positive control: a3d's candidates joined to a HINTED
      // broadcast of the same cached panel (the shape of a broadcast
      // verify) — the hint survives threshold -1 (that is what a hint
      // means), so the walk+classifier finding it proves the guard
      // below is non-vacuous
      import org.apache.spark.sql.functions._
      val jan1 = SparkEntry.jan1
      val panel = SparkEntry
        .resampled(spark, sf, 300, jan1, SparkEntry.jan2, 600)
        .withColumn("pos", ((col("bucket") - jan1) / 600 + 1).cast("int"))
      val control = graft.ops.CorrPrune
        .corrCandidates(panel, "user_id", "pos", "value",
          dims = 144, bands = 8, bits = 5)
        .join(broadcast(panel.select(col("user_id").as("i"), col("pos"),
          col("value"))), Seq("i"))
      assert(broadcastOffenders(control).nonEmpty,
        "walk no longer reaches a hinted panel broadcast — " +
          "the guard below would be vacuous")
      // the vector verify, direct (a3d; a3f is the same query) and
      // through the selector (a3e) — zero panel-reaching broadcasts in
      // the cluster shape; the only broadcasts left are the hinted
      // hyperplane generator and single-key per-series relations
      Seq("a3d_corr_pruned", "a3e_corr_auto_pruned").foreach { name =>
        val off = broadcastOffenders(SparkEntry.queries(name)(spark, sf))
        assert(off.isEmpty,
          s"$name's vector verify ships raw panel:\n${off.mkString("\n")}")
      }
    } finally {
      spark.conf.set(key, prev)
      // drop the cluster-shape caches so later tests rebuild under the
      // fixture threshold they expect
      graft.ops.Time.unpersistPanels()
    }
  }

  test("a14b's sketch binning is map-only against broadcast edges — " +
    "no window, no ntile, mergeable GK partials") {
    // the 100 TB histogram path must never regress to a14's exact
    // shape: a per-group ntile Window funnels each group through one
    // reducer, which is exactly what the sketch-edge design avoids
    val p = plan("a14b_sketch_histogram")
    // no Window node anywhere — which is also where an ntile would
    // live (the substring "ntile" itself appears inside
    // "percentile_approx", so the node check is the meaningful one)
    assert(!p.contains("Window"), p)
    // edge arrays ride a broadcast into the row stream (map-only
    // assignment)...
    assert(p.contains("BroadcastHashJoin"), p)
    // ...and the GK summary aggregates with map-side partials — the
    // constant-size mergeable-sketch property, visible as a
    // partial_percentile_approx below the exchange
    assert(p.contains("partial_percentile_approx"), p)
  }

  test("w5's sliding fold multiplies hour-grain partials, never the " +
    "event scan") {
    // the r17 two-level shape: window(4h,1h)'s Expand multiplied EVERY
    // scanned row ×4 before the partial agg; now the only fan-out is a
    // Generate explode over the hourly aggregate (24 rows/day/type).
    // An Expand reappearing means the query regressed to per-event
    // multi-assignment — 4× the scan's row stream at any scale.
    val p = plan("w5_sliding_windows")
    assert(!p.contains("Expand"), p)
    assert(p.contains("Generate explode"), p)
    // and the explode sits ABOVE an aggregate of the scan, not on it:
    // the plan has two HashAggregate pairs (hourly, then per-window)
    assert(p.toLowerCase.contains("hashaggregate"), p)
  }

  test("a11 keeps the single-pass shape — no distinct-aggregate Expand") {
    // the round-10 rewrite replaced count(DISTINCT)-style Expand (which
    // multiplies every input row per aggregate) with one pass; a
    // refactor reintroducing Expand doubles the scan at any scale
    val p = plan("a11_approx_distinct")
    assert(!p.contains("Expand"), p)
  }

  test("wide-tier final sorts are single-partition, never a range " +
    "exchange") {
    // the bare orderBy plans Exchange rangepartitioning, whose boundary
    // sampling RE-EXECUTES the aggregate child (measured ~2x on a3c/
    // e1b/a3d at sf0.1); the single-partition sort replaced it in
    // round 10 and this pins it
    Seq("a3c_corr_onepass_wide", "e1b_flagship_wide", "a3d_corr_pruned",
      "g4_wide_edges").foreach { name =>
      val p = plan(name)
      assert(!p.contains("rangepartitioning"), s"$name: $p")
      assert(p.contains("SinglePartition"), s"$name: $p")
    }
  }

  test("s6b's square-CSV read-back stays narrow — a text scan, no " +
    "k-column pivot, no range exchange") {
    val p = plan("s6b_wide_corr_matrix")
    assert(p.contains("Scan text"), p)
    // the k+1-column route would surface as a csv scan + Expand/pivot
    assert(!p.contains("Scan csv"), p)
    assert(!p.contains("rangepartitioning"), p)
  }

  test("s14's bucketed join and rollup plan zero shuffle exchanges") {
    // both sides are bucketed by user_id with matching bucket counts:
    // the join and the groupBy after it must ride the on-disk layout —
    // any hashpartitioning exchange means the bucket spec was lost
    val p = plan("s14_bucketed_join")
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(p.contains("Bucketed: true"), p)
    // at fixture scale the profile side broadcasts (also shuffle-free);
    // the CLUSTER shape — both sides too big to broadcast — must be the
    // co-located sort-merge join, still with zero exchanges
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val p2 = plan("s14_bucketed_join")
      assert(p2.contains("SortMergeJoin"), p2)
      assert(!p2.contains("Exchange hashpartitioning"), p2)
    } finally spark.conf.set(key, prev)
  }

  test("optimizer fence pins the pearson_arrays kernel to exactly ONE " +
    "distinct plan site — and removing the barrier multiplies it (red " +
    "baseline)") {
    // The r15 scale bug, as a permanent gate: downstream predicates
    // (the null filter + round-then-threshold) alias-inline a bare
    // kernel into the vector JOIN CONDITION, re-running the O(dims)
    // kernel up to 3× per pair. The fence (a non-deterministic identity
    // wrapper) pins it to its Project. Counting is DISTINCT NORMALIZED
    // plan lines, not raw substring hits — a cached plan prints the
    // same Project twice (live node + the InMemoryRelation's stored
    // copy); the shared graft.plans.PlanText.distinctSites. If a Spark
    // upgrade or new Catalyst rule starts substituting
    // non-deterministic aliases, the fenced case here goes red
    // LOUDLY instead of CORRECTNESS staying green at triple the cost.
    import org.apache.spark.sql.functions._
    def kernelSites(fenced: Boolean): Set[String] = {
      val jan1 = graft.SparkEntry.jan1
      val panel = graft.SparkEntry
        .resampled(spark, sf, 300, jan1, graft.SparkEntry.jan2, 600)
        .withColumn("pos", ((col("bucket") - jan1) / 600 + 1).cast("int"))
      val df = graft.ops.CorrPrune
        .candidateRhoVectors(panel, "user_id", "pos", "value",
          dims = 144, bands = 8, bits = 5, fenced = fenced)
        .select(col("i"), col("j"), round(col("rho"), 4).as("rho"))
        .where(col("rho") >= 0.5)
      graft.plans.PlanText.distinctSites(
        df.queryExecution.executedPlan.toString, "pearson_arrays")
    }
    val fenced = kernelSites(fenced = true)
    assert(fenced.size == 1,
      s"fenced kernel at ${fenced.size} plan sites (want exactly 1):\n" +
        fenced.mkString("\n"))
    // the red baseline: the SAME plan without any barrier — Catalyst
    // inlines the rho alias into the pushed predicates. If this ever
    // reads 1, Catalyst stopped inlining and the fence is dead weight:
    // re-evaluate it rather than carry it on faith.
    val bare = kernelSites(fenced = false)
    assert(bare.size >= 2,
      s"unfenced kernel at ${bare.size} plan sites — alias inlining no " +
        s"longer multiplies the kernel; the fence may be removable:\n" +
        bare.mkString("\n"))
    // and the shipped pruned queries (fenced by default) stay at one
    // site: a3d directly, a3e through panelRho's pruned branch
    Seq("a3d_corr_pruned", "a3e_corr_auto_pruned").foreach { name =>
      val shipped = graft.plans.PlanText.distinctSites(
        planOf(SparkEntry.queries(name)(spark, sf)), "pearson_arrays")
      assert(shipped.size == 1,
        s"shipped $name kernel at ${shipped.size} sites:\n" +
          shipped.mkString("\n"))
    }
  }

  test("fencing is not a pushdown plug: predicates BELOW the fenced " +
    "Project still reach the parquet scan (and a sibling filter ABOVE " +
    "it provably does not — callers must pre-filter)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.SparkPlan
    // 1) the real fenced path: a3f's events scan keeps its pushed
    // user_id/ts predicates — the fence sits far downstream and must
    // not cost the scan its pushdown (filters are applied BELOW the
    // kernel select by construction; caches are descended because the
    // panel prefix lives in an InMemoryRelation)
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val into = p match {
        case a: AdaptiveSparkPlanExec => walk(a.initialPlan)
        case im: InMemoryTableScanExec => walk(im.relation.cachedPlan)
        case _ => Seq.empty
      }
      (p +: into) ++ p.children.flatMap(walk)
    }
    spark.conf.set("spark.sql.maxMetadataStringLength", 4000)
    val a3f = SparkEntry.queries("a3f_corr_pruned_unbroadcast")(spark, sf)
    val scans = walk(a3f.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec
          if f.metadata.get("Location").exists(_.contains("events")) => f
    }
    assert(scans.nonEmpty, "no events scan found under a3f")
    assert(scans.exists(_.metadata("PushedFilters")
        .contains("LessThan(user_id")),
      s"user_id filter lost below the fenced path: " +
        scans.map(_.metadata("PushedFilters")).mkString(" | "))
    // 2) the documented limitation (see OptimizerFence's scaladoc):
    // PushPredicateThroughNonJoin requires EVERY project field to be
    // deterministic, so a filter on a SIBLING column above a fenced
    // Project also stops pushing — pre-filtering before the kernel
    // select is the caller's job. Both directions pinned so the
    // scaladoc claim stays evidenced.
    val dir = scratchDir("graft_fence_push_")
    import spark.implicits._
    (0 until 100).map(i => (i.toLong, i.toDouble)).toDF("k", "v")
      .write.mode("overwrite").parquet(dir)
    def pushed(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.collectFirst {
        case f: FileSourceScanExec => f.metadata("PushedFilters")
      }.getOrElse(fail("no scan"))
    val pre = spark.read.parquet(dir)
      .where(col("k") < 10)
      .select(col("k"), graft.ops.Stats.fenced(col("v") * 2).as("f"))
    assert(pushed(pre).contains("LessThan(k,10)"),
      s"pre-filter below a fenced Project must push: ${pushed(pre)}")
    val post = spark.read.parquet(dir)
      .select(col("k"), graft.ops.Stats.fenced(col("v") * 2).as("f"))
      .where(col("k") < 10)
    assert(!pushed(post).contains("LessThan"),
      "a sibling filter above a fenced Project unexpectedly pushed — " +
        "Catalyst behavior changed; revisit the fence scaladoc's " +
        s"pre-filter guidance: ${pushed(post)}")
  }

  test("no CartesianProduct in any query plan") {
    // broadcast-tiny plane/profile generators surface as
    // BroadcastNestedLoopJoin, which is fine; an unhinted non-equi join
    // falling back to CartesianProduct is never fine
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val p = plan(name)
      if (p.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }
}
