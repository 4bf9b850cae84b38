package graft.ml

import graft.Par
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (SURVEY.md §2C): exact brute-force top-k as the correctness
  * baseline, SRP-LSH bucketed ANN as the scale path.
  *
  * Scale design: the probe set is small and BROADCAST — the corpus
  * side streams once and is never cross-joined with itself. The LSH
  * variant prunes the corpus to bucket-mates before any distance
  * math; at 100 TB that is the difference between a scan and an
  * impossible O(n·probes) full pass per probe batch (brute force is
  * kept only as the small-probe baseline / recall oracle).
  */
object Similarity {

  val TopK = 5
  val NumProbes = 8

  /** Multi-consumer intermediates go through CacheScope.materialize
    * (persist + count + registered for release at query end).
    */
  private def materialize(df: DataFrame): DataFrame =
    graft.CacheScope.materialize(df)

  /** Probe-side relation shared by all three top-k rankers (so the
    * probe contract can't diverge between them): the designated
    * probes that HAVE a direction — a zero-quantized vector's cosine
    * is 0/sqrt(0) = NaN, which ranks ABOVE every real neighbor under
    * both engines' NaN-greatest ordering (same guard class as
    * Dedup.embeddingPairs); a zero-norm probe has no meaningful
    * ranking, so it is excluded rather than given an all-NaN one.
    */
  private def probeSide(qv: DataFrame): DataFrame =
    qv.filter(col("vec_id") < NumProbes && col("n2") > 0)
      .select(col("vec_id").as("probe_id"), col("q").as("q_p"), col("n2").as("n2_p"))

  /** Corpus side of the rankers: only vectors with a direction can
    * be neighbors (see [[probeSide]]).
    */
  private def corpusSide(qv: DataFrame): DataFrame =
    qv.filter(col("n2") > 0).select(col("vec_id"), col("q"), col("n2"))

  /** Exact top-k cosine neighbors for probe vectors (vec_id <
    * NumProbes). The probe side broadcasts; ranking is a window per
    * probe with a deterministic (cos desc, vec_id) tiebreak.
    */
  def topKBruteForce(embs: DataFrame): DataFrame =
    topKOn(materialize(Vectors.quantized(embs)))

  /** Brute-force top-k over an already-quantized (vec_id, q, n2)
    * relation — shared by the full-dimension ranking and the
    * truncated-prefix ranking of [[prefixRecall]]. */
  private def topKOn(qv: DataFrame): DataFrame = {
    val probes = broadcast(probeSide(qv))
    val scored = corpusSide(qv).join(probes, col("vec_id") =!= col("probe_id"))
      .withColumn("cos_sim",
        Vectors.cosine(Vectors.dot(col("q_p"), col("q")), col("n2_p"), col("n2")))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= TopK)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        col("cos_sim"), col("rk"))
  }

  val PrefixDim = 16

  /** Matryoshka truncation gauge: recall@k of the top-k computed
    * from only the FIRST `prefixDim` embedding components against
    * the full-dimension exact top-k. Matryoshka-style training
    * orders information into the leading components so an index can
    * store a prefix at a fraction of the memory — this measures what
    * that truncation actually costs on this corpus (the
    * dimensionality sibling of `sim_ann_pq_recall`'s code-budget
    * gauge).
    *
    * Scale shape: both rankings are the broadcast-probe brute-force
    * scan (bounded probes); the prefix side slices the SAME
    * quantized relation — one extra map projection, no extra
    * shuffle. Output |probes| rows.
    */
  def prefixRecall(embs: DataFrame, prefixDim: Int = PrefixDim): DataFrame = {
    val qv = materialize(Vectors.quantized(embs))
    val pqv = qv.select(col("vec_id"),
        slice(col("q"), 1, prefixDim).as("q"))
      .withColumn("n2", Vectors.norm2(col("q")))
    recallAtK(topKOn(qv), topKOn(pqv))
  }

  val PrefixCurveDims: Seq[Int] = Seq(4, 8, 16, 32)

  /** The full Matryoshka trade-off curve: [[prefixRecall]]'s gauge
    * swept across prefix widths {4, 8, 16, 32} — recall@k per probe
    * at each dimension budget. Where [[prefixRecall]] answers "what
    * does THIS truncation cost", the curve answers the deployment
    * question "which width first clears my recall bar" (memory is
    * linear in width, so the knee of this curve is the index's
    * byte budget), the dimensionality twin of `sim_ann_ivf_curve`'s
    * nProbe sweep.
    *
    * Scale shape: the exact ranking computes ONCE (materialized,
    * consumed by every width); each width re-ranks by slicing the
    * SAME cached quantized relation — a map projection + the
    * broadcast-probe scan per width, no extra corpus shuffles.
    * Output |dims|·|probes| rows.
    */
  def prefixRecallCurve(
      embs: DataFrame, dims: Seq[Int] = PrefixCurveDims): DataFrame = {
    val qv = materialize(Vectors.quantized(embs))
    val exact = materialize(topKOn(qv))
    dims.map { d =>
      val pqv = qv.select(col("vec_id"), slice(col("q"), 1, d).as("q"))
        .withColumn("n2", Vectors.norm2(col("q")))
      recallAtK(exact, topKOn(pqv))
        .withColumn("prefix_dim", lit(d.toLong))
    }.reduce(_ unionByName _)
      .select(col("prefix_dim"), col("probe_id"), col("recall_at_k"))
      .orderBy(col("prefix_dim"), col("probe_id"))
  }

  val QuantCurveBits: Seq[Int] = Seq(2, 4, 6, 8)

  /** Scalar-quantization recall curve: recall@k of the top-k ranked
    * over per-vector symmetric int-b requantized components (the
    * `embed_quantize` quantizer at b bits: q_b = round(q·L/m),
    * L = 2^(b-1)−1, m = max|q_i|) against the exact ranking — the
    * SCALAR-precision budget on the same measuring stick as
    * `embed_prefix_curve` (dimension budget), `sim_ann_pq_recall`
    * (codebook budget) and `sim_ann_ivf_curve` (probe budget). Where
    * `embed_quantize` reports the representation error (err_ppm),
    * this reports what that error does to RETRIEVAL: b=8 is the
    * standard int8 serving format, b=2 is ternary sign-quantization.
    * Memory is linear in b, so the knee of this curve is the
    * bytes-per-component a 100 TB index actually needs.
    *
    * Scale shape: the exact ranking computes ONCE (materialized,
    * consumed by every width); each bit width re-ranks by a map-only
    * requantization of the SAME cached quantized relation (the
    * per-vector scale m is an in-row array fold, no shuffle) + the
    * broadcast-probe scan. Output |bits|·|probes| rows. A vector
    * with m ≥ 1 keeps its max component nonzero at every b, so the
    * n2 > 0 probe/corpus membership is identical across the curve.
    */
  def quantRecallCurve(
      embs: DataFrame, bits: Seq[Int] = QuantCurveBits): DataFrame = {
    val qv = materialize(Vectors.quantized(embs))
    val exact = materialize(topKOn(qv))
    val m = greatest(aggregate(transform(col("q"), x => abs(x)), lit(0L),
      (acc, x) => greatest(acc, x)), lit(1L))
    bits.map { b =>
      val levels = (1L << (b - 1)) - 1
      val rq = qv.withColumn("m", m)
        .select(col("vec_id"),
          transform(col("q"),
            x => round((x * levels).cast("double") / col("m"))
              .cast("long")).as("q"))
        .withColumn("n2", Vectors.norm2(col("q")))
      recallAtK(exact, topKOn(rq))
        .withColumn("n_bits", lit(b.toLong))
    }.reduce(_ unionByName _)
      .select(col("n_bits"), col("probe_id"), col("recall_at_k"))
      .orderBy(col("n_bits"), col("probe_id"))
  }

  val MmrK = 5
  val MmrC = 10
  val MmrLambda = 0.5

  /** Maximal-Marginal-Relevance re-ranking: per probe, greedily pick
    * k results from the top-C relevance candidates, each step taking
    * the argmax of λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s) — the
    * diversified-retrieval pass a serving stack runs AFTER the ANN
    * index returns raw neighbors (raw top-k from a near-duplicated
    * corpus is k copies of one document; MMR trades relevance for
    * coverage). First pick pays no penalty (empty-set max = 0), ties
    * break on vec_id, λ = 0.5.
    *
    * Scale shape: candidate generation is the broadcast-probe scan
    * (the corpus streams once, WindowGroupLimit prunes to C); the
    * greedy loop then runs ENTIRELY in-row — each probe's ≤C
    * candidates collapse to one array row and a single
    * `aggregate(sequence(1,k), …)` expression replays the k greedy
    * picks over that array (pairwise sims computed on demand inside
    * the lambda — C·k dots per probe, no C² relation, no per-step
    * Spark job). One keyed shuffle total, independent of corpus
    * size. At 100 TB candidates come from the IVF/PQ/graph index
    * instead; this re-rank stage is unchanged.
    */
  def mmrDiversify(embs: DataFrame): DataFrame = {
    val qv = materialize(Vectors.quantized(embs))
    val probes = broadcast(probeSide(qv))
    val scored = corpusSide(qv).join(probes, col("vec_id") =!= col("probe_id"))
      .withColumn("rel",
        Vectors.cosine(Vectors.dot(col("q_p"), col("q")), col("n2_p"), col("n2")))
    val cw = Window.partitionBy(col("probe_id"))
      .orderBy(col("rel").desc, col("vec_id"))
    val cand = scored
      .withColumn("crk", row_number().over(cw)).filter(col("crk") <= MmrC)
      .select(col("probe_id"), col("vec_id"), col("rel"), col("q"), col("n2"))
    // (mmr desc, vec_id) argmax as an array_sort comparator — the
    // in-row twin of the old per-step row_number window.
    def byMmr(a: Column, b: Column): Column =
      when(a("mmr") > b("mmr"), -1).when(a("mmr") < b("mmr"), 1)
        .when(a("vec_id") < b("vec_id"), -1)
        .when(a("vec_id") > b("vec_id"), 1).otherwise(0)
    val selType = "array<struct<vec_id:bigint,rel:double,mmr:double," +
      "rk:bigint,q:array<bigint>,n2:bigint>>"
    val sel = aggregate(
      sequence(lit(1L), lit(MmrK.toLong)),
      expr(s"CAST(array() AS $selType)"),
      (acc, t) => {
        val rem = filter(col("cands"),
          c => !exists(acc, s => s("vec_id") === c("vec_id")))
        val scoredArr = transform(rem, c => struct(
          c("vec_id").as("vec_id"),
          c("rel").as("rel"),
          (lit(MmrLambda) * c("rel") - lit(1 - MmrLambda) *
            coalesce(array_max(transform(acc, s =>
              Vectors.cosine(Vectors.dotHof(c("q"), s("q")),
                c("n2"), s("n2")))), lit(0.0))).as("mmr"),
          t.as("rk"),
          c("q").as("q"),
          c("n2").as("n2")))
        concat(acc, slice(array_sort(scoredArr, byMmr), 1, 1))
      })
    cand.groupBy(col("probe_id"))
      .agg(collect_list(struct(col("vec_id"), col("rel"),
        col("q"), col("n2"))).as("cands"))
      .select(col("probe_id"), explode(sel).as("s"))
      .select(col("probe_id"), col("s.rk").as("rk"),
        col("s.vec_id").as("vec_id"), col("s.rel").as("rel"),
        col("s.mmr").as("mmr_score"))
      .orderBy(col("probe_id"), col("rk"))
  }

  val RrfK = 60

  /** Hybrid retrieval via Reciprocal-Rank Fusion: the vector top-k
    * ([[topKBruteForce]]) and the lexical hashed-TF-IDF top-k
    * ([[TextAnalysis.tfidfTopK]] — doc_id and vec_id are the same id
    * space) fused per probe by rrf = Σ 1/(K + rank) over the
    * rankings that returned the candidate (K = 60, the Cormack et
    * al. constant). The production shape of "BM25 + dense" serving:
    * rank fusion needs no score calibration between a cosine in
    * [−1,1] and a lexical cosine over integer TF-IDF weights —
    * ranks are the only common currency. Candidates missing from a
    * ranking contribute 0 from it (rank reported as 0); ties break
    * on neighbor_id; the fused list is cut back to [[TopK]].
    *
    * Scale shape: both input rankers are the existing scale-safe
    * paths (broadcast probes, corpus streamed once each); the fusion
    * itself joins two ≤|probes|·k relations — constant-size work
    * regardless of corpus scale. At 100 TB the inputs swap to the
    * IVF/PQ index and an inverted-index lexical ranker; the fusion
    * stage is unchanged.
    */
  def hybridRrf(embs: DataFrame, docs: DataFrame): DataFrame = {
    def contrib(rank: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      coalesce(lit(1.0) / (lit(RrfK) + rank), lit(0.0))
    // the dense and lexical rankers touch disjoint tables (embeddings
    // vs documents) and each runs its own eager materialization —
    // overlap the two builds (guide §2.6); the fusion below is lazy
    val (vecRank, lexRank) = Par.run2(
      () => topKBruteForce(embs),
      () => TextAnalysis.tfidfTopK(docs))
    val vec = vecRank
      .select(col("probe_id"), col("neighbor_id"), col("rk").as("vec_rk"))
    val lex = lexRank
      .select(col("probe_id"), col("neighbor_id"), col("rk").as("lex_rk"))
    val fused = vec.join(lex, Seq("probe_id", "neighbor_id"), "full_outer")
      .withColumn("rrf_score",
        contrib(col("vec_rk")) + contrib(col("lex_rk")))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("rrf_score").desc, col("neighbor_id"))
    fused.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= TopK)
      .select(col("probe_id"), col("rk"), col("neighbor_id"),
        coalesce(col("vec_rk"), lit(0L)).as("vec_rk"),
        coalesce(col("lex_rk"), lit(0L)).as("lex_rk"),
        col("rrf_score"))
      .orderBy(col("probe_id"), col("rk"))
  }

  val HardNegK = 3

  /** Hard-negative mining: per probe, the most-similar neighbors
    * whose label DIFFERS — the contrastive-training draw (a triplet
    * loss wants negatives that are nearly positives; random negatives
    * are too easy to teach anything). Exact cosine over the
    * quantized relation, deterministic (cos desc, vec_id) tie-break.
    *
    * Scale shape: identical to [[topKBruteForce]] — the probe side
    * (bounded) broadcasts with its labels, the corpus streams past
    * once, the per-probe window is WindowGroupLimit-prunable to k.
    * The label filter rides the broadcast-join condition, so
    * same-label pairs never materialize. At corpus scale the
    * candidate generation swaps to the IVF/LSH bucketed paths; this
    * is their exact-verification twin.
    */
  def hardNegatives(embs: DataFrame, k: Int = HardNegK): DataFrame = {
    val lab = embs.select(col("vec_id"), col("label"))
    val qv = materialize(Vectors.quantized(embs))
    val probes = broadcast(probeSide(qv)
      .join(lab.select(col("vec_id").as("probe_id"),
        col("label").as("probe_label")), "probe_id"))
    val scored = corpusSide(qv).join(lab, "vec_id")
      .join(probes, col("vec_id") =!= col("probe_id") &&
        col("label") =!= col("probe_label"))
      .withColumn("cos_sim",
        Vectors.cosine(Vectors.dot(col("q_p"), col("q")), col("n2_p"), col("n2")))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("probe_id"), col("probe_label"),
        col("vec_id").as("neighbor_id"), col("label").as("neighbor_label"),
        col("cos_sim"), col("rk"))
  }

  /** Semi-hard triplet mining — the FaceNet selection rule: per
    * anchor (probe), the HARDEST POSITIVE (same label, lowest
    * cosine: the worst-case in-class pair the loss must pull
    * together) and the SEMI-HARD NEGATIVE (different label, highest
    * cosine that is still BELOW the positive's — outside the
    * violating zone, so training signal without the label-noise
    * instability that fully-hard negatives inject). Together with
    * [[hardNegatives]] (which mines the violating zone itself) this
    * is the triplet-batch construction pass of a contrastive
    * training pipeline; `margin` = pos_cos − neg_cos is the slack
    * the loss would push on.
    *
    * Scale shape: same broadcast-probe scan as [[topKBruteForce]]
    * (probes bounded, corpus streams once per branch); the positive
    * pick is a per-probe window, the negative branch joins the
    * |probes|-row positive relation back as a broadcast and windows
    * under the cos < pos_cos gate. A probe with no same-label
    * neighbor yields no triplet (nothing to pull); a probe with no
    * admissible negative keeps null neg columns (anchor already
    * separated). Both cosines come off the shared quantized
    * relation, so margin subtracts two bit-identical doubles.
    */
  def tripletMining(embs: DataFrame): DataFrame = {
    val lab = embs.select(col("vec_id"), col("label"))
    val qv = materialize(Vectors.quantized(embs))
    val probes = broadcast(probeSide(qv)
      .join(lab.select(col("vec_id").as("probe_id"),
        col("label").as("probe_label")), "probe_id"))
    val scored = corpusSide(qv).join(lab, "vec_id")
      .join(probes, col("vec_id") =!= col("probe_id"))
      .withColumn("cos_sim",
        Vectors.cosine(Vectors.dot(col("q_p"), col("q")), col("n2_p"), col("n2")))
    val wp = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").asc, col("vec_id"))
    val pos = scored.filter(col("label") === col("probe_label"))
      .withColumn("pk", row_number().over(wp))
      .filter(col("pk") === 1)
      .select(col("probe_id"), col("probe_label"),
        col("vec_id").as("pos_id"), col("cos_sim").as("pos_cos"))
    val wn = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    val neg = scored.filter(col("label") =!= col("probe_label"))
      .join(broadcast(pos.select(col("probe_id"), col("pos_cos"))), "probe_id")
      .filter(col("cos_sim") < col("pos_cos"))
      .withColumn("nk", row_number().over(wn))
      .filter(col("nk") === 1)
      .select(col("probe_id"), col("vec_id").as("neg_id"),
        col("cos_sim").as("neg_cos"))
    pos.join(neg, Seq("probe_id"), "left")
      .withColumn("margin", col("pos_cos") - col("neg_cos"))
      .select(col("probe_id"), col("probe_label"), col("pos_id"),
        col("pos_cos"), col("neg_id"), col("neg_cos"), col("margin"))
      .orderBy(col("probe_id"))
  }

  val IvfNProbe = 2
  val IvfCurveProbes: Seq[Int] = Seq(1, 2, 4)

  /** nProbe tuning curve for the IVF index: recall@k of each probe
    * at nProbe ∈ {1, 2, 4} against the exact ranking — the
    * cost/recall trade an ANN deployment tunes FIRST (each probed
    * cell is a proportional share of the scan budget; the curve says
    * where recall saturates). Per-(nProbe, probe) exact ratios, no
    * cross-engine double summation.
    *
    * Scale shape: the exact baseline computes once; each curve point
    * rides the same cached quantized relation and bounded cell
    * broadcasts as [[topKAnnIvf]].
    */
  def ivfRecallCurve(embs: DataFrame): DataFrame = {
    val qv = materialize(Vectors.quantized(embs))
    val lab = embs.select(col("vec_id"), col("label"))
    val exact = graft.CacheScope.lazyPersist(topKOn(qv))
    IvfCurveProbes.map { np =>
      recallAtK(exact, topKAnnIvfOn(qv, lab, np))
        .withColumn("n_probe", lit(np.toLong))
    }.reduce(_ unionByName _)
      .select(col("n_probe"), col("probe_id"), col("recall_at_k"))
      .orderBy(col("n_probe"), col("probe_id"))
  }

  /** IVF-style ANN: a coarse quantizer assigns vectors to cells (the
    * corpus `label` column stands in for a trained k-means
    * assignment), each probe searches only its `IvfNProbe` nearest
    * cells, and exact cosine ranks within the probed cells.
    *
    * Cell "centroids" are ROUNDED-MEAN integer components
    * (m_i = round(sum_i / n), as in [[kmeansAssign]]): bounded by the
    * quantization scale whatever the cell size, so Σm² and every dot
    * stay inside int64 at any corpus scale (raw SUMS would overflow
    * the squared norm beyond ~4·10⁵ vectors per cell). Candidate
    * selection stays in exact integer math; only the final cosines
    * are (deterministic) double ops.
    *
    * Scale: cells are tiny (#cells × dim rows) and broadcast; the
    * corpus is touched once to build cells and once per probed cell
    * subset — never cross-joined.
    */
  def topKAnnIvf(embs: DataFrame): DataFrame =
    topKAnnIvf(embs, IvfNProbe)

  def topKAnnIvf(embs: DataFrame, nProbe: Int): DataFrame =
    topKAnnIvfOn(materialize(Vectors.quantized(embs)),
      embs.select(col("vec_id"), col("label")), nProbe)

  /** IVF ranking over an already-quantized relation — shared by the
    * fixed-nProbe operator and [[ivfRecallCurve]], which reuses ONE
    * materialized quantized relation across all its points. */
  /** Coarse-quantizer cell selection shared by the IVF rankers: per
    * probe, its `nProbe` nearest cells by rounded-mean-centroid
    * cosine — (probe_id, label) rows, NumProbes·nProbe of them.
    */
  private[graft] def ivfTopCells(
      qv: DataFrame, lab: DataFrame, nProbe: Int): DataFrame =
    ivfCellRanks(qv, lab).filter(col("crk") <= nProbe)
      .select(col("probe_id"), col("label"))

  /** The full per-probe cell ranking [[ivfTopCells]] cuts at nProbe
    * — kept separate so a consumer sweeping several nProbe values
    * ([[annFrontier]]) ranks the cells ONCE and filters per point.
    */
  private def ivfCellRanks(qv: DataFrame, lab: DataFrame): DataFrame = {
    val flat = qv.select(col("vec_id"), posexplode(col("q")).as(Seq("i", "v")))
    // rounded-mean components per cell: #cells × dim rows
    val comp = flat.join(lab, "vec_id")
      .groupBy(col("label"), col("i"))
      .agg(round(sum(col("v")).cast("double") / count(lit(1)))
        .cast("long").as("s"))
    val cells = comp.groupBy(col("label"))
      .agg(greatest(sum(col("s") * col("s")), lit(1L)).as("sn2"))
    // probe→cell cosine via the component join (comp broadcasts)
    val pc = flat.filter(col("vec_id") < NumProbes)
      .join(broadcast(comp), "i")
      .groupBy(col("vec_id").as("probe_id"), col("label"))
      .agg(sum(col("v") * col("s")).as("dotpc"))
    // probe norms only — the unfiltered corpus relation would shuffle
    // n rows into a join that keeps NumProbes of them
    val norms = probeSide(qv).select(col("probe_id"), col("n2_p"))
    val scoredCells = pc
      .join(norms, "probe_id")
      .join(broadcast(cells), "label")
      .withColumn("cell_cos",
        Vectors.cosine(col("dotpc"), col("n2_p"), col("sn2")))
    val wc = Window.partitionBy(col("probe_id"))
      .orderBy(col("cell_cos").desc, col("label"))
    scoredCells.withColumn("crk", row_number().over(wc))
      .select(col("probe_id"), col("label"), col("crk"))
  }

  private def topKAnnIvfOn(
      qv: DataFrame, lab: DataFrame, nProbe: Int): DataFrame = {
    val cands = ivfTopCells(qv, lab, nProbe)
      .join(lab.toDF("vec_id", "label"), "label")
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"))
    val scored = cands
      .join(corpusSide(qv), "vec_id")
      .join(broadcast(probeSide(qv)), "probe_id")
      .withColumn("cos_sim",
        Vectors.cosine(Vectors.dot(col("q_p"), col("q")), col("n2_p"), col("n2")))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= TopK)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        col("cos_sim"), col("rk"))
  }

  /** Recall@k of an approximate neighbor result against the exact
    * brute-force top-k — the quality gauge every ANN deployment ships
    * next to its index (tune bands/rows-per-band against measured
    * recall, not hope). Left join on (probe, neighbor), fraction
    * found; the denominator is the probe's ACTUAL exact-neighbor
    * count (≤ k — a corpus smaller than k must still score 1.0 on a
    * perfect match). Both inputs are tiny (probes × k rows), so the
    * join is trivially broadcast at any corpus scale.
    */
  def recallAtK(exact: DataFrame, approx: DataFrame): DataFrame =
    exact.select(col("probe_id"), col("neighbor_id"))
      .join(
        // defensively distinct: a duplicate (probe, neighbor) in a
        // future approx producer would multiply matched exact rows
        // through the join and silently inflate the gauge
        approx.select(col("probe_id").as("p2"), col("neighbor_id").as("n2"))
          .distinct(),
        col("probe_id") === col("p2") && col("neighbor_id") === col("n2"),
        "left")
      .groupBy(col("probe_id"))
      .agg((count(col("n2")).cast("double") /
        count(lit(1)).cast("double")).as("recall_at_k"))

  val PairTau = 0.4

  /** All similar pairs above a cosine threshold WITHIN a blocking
    * key (the `label` column — a cluster/shard assignment in a real
    * pipeline). The quadratic blow-up is bounded by the largest
    * block, not the corpus: both sides shuffle once on the block key
    * and pairs never cross blocks — the standard blocked
    * similarity-join shape at 100 TB (vs. the ANN operators, whose
    * candidates come from LSH buckets and may cross blocks). Exact
    * integer dot products; one double division per surviving pair.
    */
  def pairsAboveThreshold(embs: DataFrame, tau: Double = PairTau): DataFrame = {
    // n2 > 0: a zero-quantized vector's cosine is NaN, which passes
    // the >= tau filter under NaN-greatest semantics (see probeSide)
    val qv = materialize(Vectors.quantized(embs)
      .filter(col("n2") > 0)
      .join(embs.select(col("vec_id"), col("label")), "vec_id"))
    val a = qv.select(col("label"), col("vec_id").as("vec_id_a"),
      col("q").as("q_a"), col("n2").as("n2_a"))
    val b = qv.select(col("label").as("label_b"), col("vec_id").as("vec_id_b"),
      col("q").as("q_b"), col("n2").as("n2_b"))
    a.join(b, col("label") === col("label_b") &&
        col("vec_id_a") < col("vec_id_b"))
      .withColumn("cos_sim",
        Vectors.cosine(Vectors.dot(col("q_a"), col("q_b")), col("n2_a"), col("n2_b")))
      .filter(col("cos_sim") >= tau)
      .select(col("label"), col("vec_id_a"), col("vec_id_b"), col("cos_sim"))
  }

  /** Int8 re-quantization report: each (already int64-quantized)
    * vector is scaled to int8 range by its own max-abs component, and
    * the per-label reconstruction error is reported in parts-per-
    * million of the signal energy. Everything up to the final ratio
    * is EXACT int64 math — err_num = Σ(q·127 − q8·m)² and den =
    * 127²·‖q‖² per vector, both summed per label before ONE double
    * multiply+divide — so group aggregation order can't move the
    * result. Per-row array math rides codegen; one shuffle on label.
    */
  def int8QuantStats(embs: DataFrame): DataFrame = {
    val qv = Vectors.quantized(embs)
      .join(embs.select(col("vec_id"), col("label")), "vec_id")
    val m = greatest(aggregate(transform(col("q"), x => abs(x)), lit(0L),
      (acc, x) => greatest(acc, x)), lit(1L))
    val scaled = qv.withColumn("m", m)
      .withColumn("q8", transform(col("q"),
        x => round((x * 127).cast("double") / col("m")).cast("long")))
    val errNum = aggregate(
      zip_with(col("q"), col("q8"), (x, y) => {
        val d = x * 127 - y * col("m")
        d * d
      }),
      lit(0L), (acc, x) => acc + x)
    // per-row err_num/den reach ~1e12, so an int64 group sum would
    // wrap beyond ~9M rows per label — sum in DECIMAL(38,0) (exact,
    // order-independent, matches DuckDB's int128 sum) and cast once
    val numD =
      sum(col("err_num").cast("decimal(38,0)")).cast("double") * lit(1000000.0)
    val denD = sum(col("den").cast("decimal(38,0)")).cast("double")
    scaled.withColumn("err_num", errNum)
      .withColumn("den", lit(127L * 127L) * col("n2"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        // a label whose vectors are ALL zero-quantized has den = 0;
        // 0/0 would report NaN where "no signal, no error" is 0
        when(denD > 0, numD / denD).otherwise(lit(0.0)).as("err_ppm"),
        (sum(col("m")).cast("double") /
          count(lit(1)).cast("double")).as("avg_scale"))
  }

  /** Per-label centroid of the quantized embeddings via the native
    * element-wise vector-sum aggregate ([[graft.functions.VecSumLong]])
    * — the E-step of k-means / the class-prototype builder.
    *
    * Scale shape: ONE pass, ONE group-by shuffle whose payload is
    * |labels| · dim longs (map-side partial buffers), versus the
    * posexplode twin that would multiply the shuffled relation by the
    * dimensionality. The tiny |labels|-row result is then exploded
    * (driver-light) to (label, dim) rows so the output is scalar
    * columns. Sums are exact int64; the centroid value is ONE double
    * division per (label, dim).
    */
  def labelCentroids(embs: DataFrame): DataFrame = {
    val summed = Vectors.spread(embs)
      .select(col("label"), Vectors.quantize(col("embedding")).as("q"))
      .groupBy(col("label"))
      .agg(graft.functions.VecSum.vecSum(col("q")).as("sums"),
        count(lit(1)).as("n_vecs"))
    summed
      .select(col("label"), col("n_vecs"),
        posexplode(col("sums")).as(Seq("dim", "sum_q")))
      .select(col("label"), col("dim").cast("long").as("dim"), col("sum_q"),
        col("n_vecs"),
        (col("sum_q").cast("double") /
          (col("n_vecs") * lit(Vectors.Scale.toLong)).cast("double"))
          .as("centroid"))
  }

  /** Per-label embedding cohesion — the silhouette-style readout
    * (how tight is each label vs how close it sits to the rest)
    * EXACTLY from per-label vector sums, never a pairwise join:
    *
    *   Σ_{i≠j∈l} q_i·q_j  = ‖S_l‖² − Σ_{i∈l}‖q_i‖²   (ordered pairs)
    *   Σ_{i∈l, j∉l} q_i·q_j = S_l·(S_total − S_l)
    *
    * so mean intra-label and inter-label dot products (unnormalized —
    * the standard sums trick; per-pair cosine would need the pair)
    * and their margin cost ONE vec_sum pass (|labels|·dim longs of
    * partials). A positive margin says the label is more similar to
    * itself than to the rest — the label-quality gate an embedding
    * pipeline reads before trusting labels for hard-negative mining.
    *
    * Exactness/bounds: components ≤ n_l·Scale, so every sums-trick
    * term is bounded by d·Scale²·n_l·max(n_l, N−n_l) ≤ d·Scale²·n_l·N
    * — int64-exact while n_l·N ≤ 2⁶³/(d·Scale²) (~1.4·10¹¹ at d=64,
    * Scale=1000; one label holding the whole corpus is exact to
    * ~3.8·10⁵ vectors); beyond that, shard labels before summing.
    * The bound is ENFORCED in-plan (a raise_error branch on the
    * intra numerator), not just documented: past it the dot products
    * would wrap silently and the intra/inter sums would be wrong
    * with no error. Output |labels| rows.
    */
  def labelCohesion(embs: DataFrame): DataFrame = {
    val q = Vectors.spread(embs)
      .select(col("label"), Vectors.quantize(col("embedding")).as("q"))
    val per = graft.CacheScope.materialize(
      q.groupBy(col("label"))
        .agg(graft.functions.VecSum.vecSum(col("q")).as("s"),
          count(lit(1)).as("n_vecs"),
          sum(Vectors.norm2(col("q"))).as("sum_norm2")))
    val tot = per.agg(graft.functions.VecSum.vecSum(col("s")).as("s_tot"),
      sum(col("n_vecs")).as("n_total"))
    // in-plan exactness gate: the double-compare has orders-of-
    // magnitude headroom as a GUARD (the bound is enforced with ~2⁻⁵³
    // relative slack, the overflow it prevents needs 1×), and the
    // branch lives on an output column so column pruning cannot
    // drop it
    val exactBound = lit(Long.MaxValue.toDouble) /
      (size(col("s")).cast("double") *
        lit(Vectors.Scale.toDouble * Vectors.Scale))
    val intraNum = when(
      col("n_vecs").cast("double") * col("n_total").cast("double") > exactBound,
      raise_error(concat(
        lit("labelCohesion: label "), col("label").cast("string"),
        lit(" holds "), col("n_vecs").cast("string"),
        lit(" of "), col("n_total").cast("string"),
        lit(" vectors — past the int64-exact sums bound "),
        lit("n_l*N <= 2^63/(d*Scale^2); shard labels before summing")))
        .cast("long"))
      .otherwise(Vectors.dot(col("s"), col("s")) - col("sum_norm2"))
    per.crossJoin(broadcast(tot))
      .withColumn("intra_num", intraNum)
      .withColumn("intra_pairs", col("n_vecs") * (col("n_vecs") - 1L))
      .withColumn("inter_num",
        Vectors.dot(col("s"), col("s_tot")) - Vectors.dot(col("s"), col("s")))
      .withColumn("inter_pairs", col("n_vecs") * (col("n_total") - col("n_vecs")))
      .withColumn("mean_intra",
        when(col("intra_pairs") > 0L,
          col("intra_num").cast("double") / col("intra_pairs").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("mean_inter",
        when(col("inter_pairs") > 0L,
          col("inter_num").cast("double") / col("inter_pairs").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("margin", col("mean_intra") - col("mean_inter"))
      .select(col("label"), col("n_vecs"), col("intra_num"),
        col("intra_pairs"), col("inter_num"), col("inter_pairs"),
        col("mean_intra"), col("mean_inter"), col("margin"))
  }

  /** Shared E-step core: (qv, perVec) where qv = (vec_id, label, q)
    * and perVec = (vec_id, label, assigned_cell, q) — the per-vector
    * best-cell assignment against the rounded-mean integer cells.
    * [[kmeansAssign]] reduces it to the confusion matrix;
    * [[kmeansUpdate]] feeds it into the M-step.
    */
  private def eStep(embs: DataFrame): DataFrame = {
    // spread first: the ×|cells| dot-product fan-out below is the
    // heaviest per-row math in the file and would otherwise run at
    // the input-split parallelism (see Vectors.quantized)
    val qv = Vectors.spread(embs).select(col("vec_id"), col("label"),
      Vectors.quantize(col("embedding")).as("q"))
    val cells = qv.groupBy(col("label").as("cell"))
      .agg(graft.functions.VecSum.vecSum(col("q")).as("s"),
        count(lit(1)).as("n"))
      .withColumn("m", transform(col("s"),
        x => round(x.cast("double") / col("n")).cast("long")))
      .withColumn("sn2", greatest(Vectors.norm2(col("m")), lit(1L)))
      .select(col("cell"), col("m"), col("sn2"))
    qv.crossJoin(broadcast(cells))
      .withColumn("score",
        Vectors.dot(col("q"), col("m")).cast("double") /
          sqrt(col("sn2").cast("double")))
      .groupBy(col("vec_id"), col("label"))
      .agg(max(struct(col("score"), (-col("cell")).as("neg_cell"),
        col("q").as("qq"))).as("best"))
      .select(col("vec_id"), col("label"),
        (-col("best.neg_cell")).as("assigned_cell"),
        col("best.qq").as("q"))
  }

  /** One k-means assignment step (the E-step companion of
    * [[labelCentroids]]): every vector is assigned to the centroid
    * direction it is most cosine-similar to, reported as the
    * (current label → assigned cell) transition matrix — exactly what
    * an iterative clustering driver inspects for convergence.
    *
    * Determinism: centroid directions are ROUNDED-MEAN integer
    * components m_i = round(s_i / n) — bounded by the quantization
    * scale whatever the cell size, so the per-cell squared norm and
    * every dot stay far from int64 limits at any corpus scale (raw
    * component SUMS would overflow Σm² beyond ~4·10⁵ vectors per
    * cell). The s/n division is exact-int64-to-double (s < 2⁵³ up to
    * ~10¹² rows per cell), rounded identically by both engines; the
    * per-(vector, cell) score is one double division of an exact
    * int64 dot by sqrt(int64), and argmax ties break to the smaller
    * cell id via a max-of-struct with the negated cell.
    *
    * Scale shape: cells are |labels| rows and BROADCAST; the corpus
    * fans out ×|cells| map-side, reduces back to one row per vector
    * with a map-side-combinable max-of-struct aggregate (no window
    * over the corpus), then a tiny |labels|² rollup. The corpus never
    * joins itself; shuffles carry corpus-row and |labels|²-row
    * relations only.
    */
  def kmeansAssign(embs: DataFrame): DataFrame =
    eStep(embs)
      .groupBy(col("label"), col("assigned_cell"))
      .agg(count(lit(1)).as("n_vecs"))

  /** One full k-means ITERATION gauge: after the E-step reassigns
    * every vector, the M-step recomputes each cell's rounded-mean
    * centroid — and this reports, per cell, the population change
    * and the exact integer squared DISTANCE the centroid moved. The
    * convergence signal an iterative clustering loop watches
    * (movement → 0 means the partition has settled); an empty cell
    * keeps its old centroid (shift 0), the standard convention.
    *
    * Scale shape: the E-step is [[kmeansAssign]]'s bounded-cell
    * broadcast scan; both centroid builds are `vec_sum` aggregates
    * (shuffle carries cells·dim longs); the shift reduces a
    * cells·dim component join. All integers.
    */
  def kmeansUpdate(embs: DataFrame): DataFrame = {
    val av = materialize(eStep(embs))
    def meanComp(df: DataFrame, key: String) =
      df.select(col(key).as("cell"), posexplode(col("q")).as(Seq("i", "v")))
        .groupBy(col("cell"), col("i"))
        .agg(round(sum(col("v")).cast("double") / count(lit(1)))
          .cast("long").as("s"))
    val oldComp = meanComp(av, "label")
    val newComp = meanComp(av, "assigned_cell")
    val shift = oldComp
      .join(newComp.select(col("cell"), col("i"), col("s").as("s2")),
        Seq("cell", "i"), "left")
      .withColumn("d", col("s") - coalesce(col("s2"), col("s")))
      .groupBy(col("cell"))
      .agg(sum(col("d") * col("d")).as("shift_d2"))
    val before = av.groupBy(col("label").as("cell"))
      .agg(count(lit(1)).as("n_before"))
    val after = av.groupBy(col("assigned_cell").as("cell"))
      .agg(count(lit(1)).as("n_after"))
    before.join(after, Seq("cell"), "left")
      .join(shift, Seq("cell"), "left")
      .select(col("cell"), col("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        coalesce(col("shift_d2"), lit(0L)).as("shift_d2"))
      .orderBy(col("cell"))
  }

  val KmeansIters = 3

  /** E-step against an arbitrary current assignment — the loop body
    * of [[kmeansTrain]]. `asg` is (vec_id, cell, q); returns
    * (vec_id, cell = the OLD cell, assigned_cell, q). Same
    * rounded-mean integer centroids, cosine-direction scoring, and
    * smaller-cell tie-break as [[eStep]] (which is the label-seeded
    * first iteration of this).
    */
  private def eStepFrom(asg: DataFrame): DataFrame = {
    val cells = asg.groupBy(col("cell"))
      .agg(graft.functions.VecSum.vecSum(col("q")).as("s"),
        count(lit(1)).as("n"))
      .withColumn("m", transform(col("s"),
        x => round(x.cast("double") / col("n")).cast("long")))
      .withColumn("sn2", greatest(Vectors.norm2(col("m")), lit(1L)))
      .select(col("cell").as("cand"), col("m"), col("sn2"))
    asg.crossJoin(broadcast(cells))
      .withColumn("score",
        Vectors.dot(col("q"), col("m")).cast("double") /
          sqrt(col("sn2").cast("double")))
      .groupBy(col("vec_id"), col("cell"))
      .agg(max(struct(col("score"), (-col("cand")).as("neg_cell"),
        col("q").as("qq"))).as("best"))
      .select(col("vec_id"), col("cell"),
        (-col("best.neg_cell")).as("assigned_cell"),
        col("best.qq").as("q"))
  }

  /** Iterated k-means trainer: label-seeded cells refined for
    * `nIter` full E/M rounds — the loop `sim_kmeans_update` gauges
    * ONE round of, run to an actual trained coarse quantizer (what
    * the IVF docs call "a trained k-means assignment"; the trained
    * cells feed `sim_ann_ivf_trained`). Output: per iteration the
    * number of vectors that changed cells and the live-cell count —
    * the convergence curve a clustering driver watches.
    *
    * Scale shape: each round is the [[eStep]] shape — |cells|-row
    * broadcast centroids (`vec_sum` aggregates), corpus ×|cells|
    * map-side fan-out, max-of-struct reduce, no corpus self-join;
    * the per-round assignment is materialized (the BPE-trainer
    * pattern) so round r+1 reads a cached |corpus|-row relation, and
    * the per-round stats are 1-row aggregates unioned lazily.
    */
  def kmeansTrain(embs: DataFrame, nIter: Int = KmeansIters): DataFrame =
    kmeansLoop(embs, nIter)._1

  /** The trained assignment after [[kmeansTrain]]'s rounds, in the
    * (vec_id, label) shape the IVF rankers take as their coarse
    * quantizer. */
  def kmeansTrainedCells(embs: DataFrame, nIter: Int = KmeansIters): DataFrame =
    kmeansLoop(embs, nIter)._2.select(col("vec_id"),
      col("cell").as("label"))

  private def kmeansLoop(
      embs: DataFrame, nIter: Int): (DataFrame, DataFrame) = {
    var asg = materialize(Vectors.spread(embs).select(col("vec_id"),
      col("label").as("cell"), Vectors.quantize(col("embedding")).as("q")))
    val stats = (1 to nIter).map { it =>
      val next = materialize(eStepFrom(asg))
      val s = next.agg(
        lit(it.toLong).as("iter"),
        sum(when(col("cell") =!= col("assigned_cell"), 1L).otherwise(0L))
          .as("n_moved"),
        countDistinct(col("assigned_cell")).as("n_live_cells"))
      asg = next.select(col("vec_id"), col("assigned_cell").as("cell"),
        col("q"))
      s
    }
    (stats.reduce(_ unionByName _).orderBy(col("iter")), asg)
  }

  /** IVF index-maintenance audit over the trained coarse quantizer
    * ([[kmeansTrainedCells]]): per seed cell its posting-list
    * occupancy and load ratio vs perfect balance (n_vecs·|cells| /
    * n_total — 1.0 = balanced), plus the maintenance verdict the
    * index operator acts on: 'dead' (the cell lost every vector —
    * reclaim the centroid), 'split' (load ratio above 2 — the hot
    * cell whose posting list starts to dominate every probe's scan
    * cost), 'merge' (below ½ — wasted centroid budget), else 'ok'.
    * The operational companion of the recall gauges: they say how
    * well the index ANSWERS, this says when to RE-SHARD it — the
    * `cdc_reshard` decision applied to the vector index.
    *
    * Determinism: verdicts compare integer cross-products
    * (n_vecs·n_cells vs 2·n_total) — no float thresholds; the load
    * ratio is one double division at the end.
    *
    * Scale shape: rides [[kmeansLoop]]'s E/M rounds (bounded
    * broadcast centroids, corpus×|cells| map-side fan-out, no corpus
    * self-join); the audit itself is a |cells|-row aggregate, a
    * broadcast 1-row total, and a broadcast |labels|-row seed join.
    * Output |cells| rows.
    */
  def ivfBalance(embs: DataFrame): DataFrame = {
    val occ = kmeansTrainedCells(embs)
      .groupBy(col("label").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_vecs"))
    val seeds = embs.select(col("label").cast("long").as("cell")).distinct()
    val aud = seeds.join(occ, Seq("cell"), "left")
      .select(col("cell"), coalesce(col("n_vecs"), lit(0L)).as("n_vecs"))
    val tot = aud.agg(sum(col("n_vecs")).as("n_total"),
      count(lit(1)).as("n_cells"))
    aud.crossJoin(broadcast(tot))
      .select(col("cell"), col("n_vecs"),
        ((col("n_vecs") * col("n_cells")).cast("double") /
          col("n_total").cast("double")).as("load_ratio"),
        when(col("n_vecs") === 0, "dead")
          .when(col("n_vecs") * col("n_cells") > col("n_total") * 2, "split")
          .when(col("n_vecs") * col("n_cells") * 2 < col("n_total"), "merge")
          .otherwise("ok").as("verdict"))
      .orderBy(col("cell"))
  }

  val ElbowKs = Seq(2, 4, 8, 16)
  val ElbowIters = 2

  /** Spherical-k-means model-selection curve — the k-choosing knob
    * the rest of the family leaves untuned (IVF sweeps nProbe,
    * Matryoshka sweeps width, PQ sweeps code budget; nothing sweeps
    * k itself): for each k ∈ [[ElbowKs]], seed cells by `vec_id % k`,
    * run [[ElbowIters]] E/M refinement rounds, recompute the final
    * centroids from the final assignment, and report the cohesion
    * objective Σ dot(q, m(cell)) — an EXACT integer total (the
    * spherical-k-means analogue of inertia; order-independent across
    * engines/partitions where a float inertia sum is not) plus the
    * per-vector mean as one double division. The elbow reads the
    * CURVATURE of cohesion across k — two refinement rounds shape
    * the curve; absolute convergence is `sim_kmeans_train`'s job.
    *
    * Scale shape: each round is the [[eStepFrom]] shape (k-row
    * broadcast centroids, corpus×k map-side fan-out, max-of-struct
    * reduce); the objective is one more |cells|-row broadcast join +
    * a single map-side-combined aggregate. The k sweep multiplies
    * passes, not shuffle width — 4 bounded-loop trainings over the
    * same cached quantized relation.
    */
  def kmeansElbow(embs: DataFrame): DataFrame = {
    val spread = materialize(Vectors.spread(embs)
      .select(col("vec_id"), Vectors.quantize(col("embedding")).as("q")))
    // The 4 k-trainings are data-independent chains over ONE cached
    // relation, but each chain runs ElbowIters eager materializations
    // — serially that is 8 barrier jobs in a row. Overlapping the
    // chains (guide §2.6, graft.Par) makes the sweep's wall the
    // LONGEST chain instead of the sum; per-chain math (and thus the
    // result) is unchanged (before/after numbers: OPTIMIZATION_r15.md).
    Par.run[DataFrame](ElbowKs.map { k => () =>
      var asg = spread
        .withColumn("cell", col("vec_id") % k)
        .select(col("vec_id"), col("cell"), col("q"))
      (1 to ElbowIters).foreach { _ =>
        asg = materialize(eStepFrom(asg).select(col("vec_id"),
          col("assigned_cell").as("cell"), col("q")))
      }
      val cells = asg.groupBy(col("cell"))
        .agg(graft.functions.VecSum.vecSum(col("q")).as("s"),
          count(lit(1)).as("n"))
        .withColumn("m", transform(col("s"),
          x => round(x.cast("double") / col("n")).cast("long")))
        .select(col("cell"), col("m"))
      asg.join(broadcast(cells), "cell")
        .select(col("cell"), Vectors.dot(col("q"), col("m")).as("dt"))
        .agg(lit(k.toLong).as("k"),
          countDistinct(col("cell")).as("n_live_cells"),
          sum(col("dt")).as("total_dot"),
          (sum(col("dt")).cast("double") / count(lit(1))).as("avg_dot"))
    }).reduce(_ unionByName _).orderBy(col("k"))
  }

  /** IVF recall with the TRAINED coarse quantizer: the same
    * cell-prune + exact-rank + recall gauge as `sim_ann_ivf_recall`,
    * but over [[kmeansTrainedCells]] instead of the corpus label
    * stand-in — closing the loop the IVF docs left open. Comparing
    * this row against the label-seeded gauge prices what actual
    * training buys the index on this corpus.
    */
  def ivfTrainedRecall(embs: DataFrame, nProbe: Int = IvfNProbe): DataFrame = {
    // the quantized-relation build and the k-means training loop (a
    // 4-job materialize chain over its own spread relation) share no
    // data dependency — overlap them (guide §2.6)
    val (qv, trained) = Par.run2(
      () => materialize(Vectors.quantized(embs)),
      () => kmeansTrainedCells(embs))
    recallAtK(topKOn(qv), topKAnnIvfOn(qv, trained, nProbe))
      .orderBy(col("probe_id"))
  }

  /** Majority-label kNN classification of the probe set: each probe
    * takes the most frequent label among its exact top-k cosine
    * neighbors (ties → the label holding the best-ranked neighbor,
    * then the smaller label — fully deterministic).
    *
    * Scale shape: the neighbor ranking is [[topKBruteForce]]'s output
    * — probes × k rows, tiny at any corpus size — so it BROADCASTS
    * into the label lookup (the corpus label relation streams once,
    * never shuffles on the probe side), and the vote count + argmax
    * window run on probes × ≤k rows.
    */
  def knnClassify(embs: DataFrame): DataFrame = {
    val nn = topKBruteForce(embs)
    val votes = broadcast(nn)
      .join(embs.select(col("vec_id").as("neighbor_id"), col("label")),
        "neighbor_id")
      .groupBy(col("probe_id"), col("label"))
      .agg(count(lit(1)).as("votes"), min(col("rk")).as("best_rk"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("votes").desc, col("best_rk"), col("label"))
    votes.withColumn("pick", row_number().over(w))
      .filter(col("pick") === 1)
      .select(col("probe_id"), col("label").as("predicted_label"),
        col("votes"))
  }

  /** SRP-LSH ANN: candidates are corpus vectors sharing any band
    * bucket with the probe; exact cosine ranks within candidates.
    * Same bucket structure as Dedup.embeddingPairs.
    */
  def topKAnnLsh(embs: DataFrame): DataFrame = {
    // identical plan to Dedup.embeddingPairs' view — shared cache
    val qv = materialize(Vectors.quantizedWithBuckets(embs,
      Dedup.EmbBands, Dedup.EmbRowsPerBand, Dedup.EmbDim))
    val flat = qv.select(col("vec_id"), posexplode(col("buckets")).as(Seq("band", "bucket")))
    val probeFlat = broadcast(flat.filter(col("vec_id") < NumProbes)
      .select(col("vec_id").as("probe_id"), col("band").as("band_p"),
        col("bucket").as("bucket_p")))
    val cands = flat.join(probeFlat,
        col("band") === col("band_p") && col("bucket") === col("bucket_p") &&
          col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id")).distinct()
    val scored = cands
      .join(corpusSide(qv), "vec_id")
      .join(broadcast(probeSide(qv)), "probe_id")
      .withColumn("cos_sim",
        Vectors.cosine(Vectors.dot(col("q_p"), col("q")), col("n2_p"), col("n2")))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= TopK)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        col("cos_sim"), col("rk"))
  }

  /** Multi-probe SRP-LSH ANN (the Lv et al. multi-probe trick): each
    * probe queries its own band bucket PLUS every Hamming-1 bucket
    * code per band — the candidates a single bit-flip of the sign
    * pattern would have landed in. Near-threshold vectors sit one
    * flipped hyperplane away far more often than chance, so recall
    * rises WITHOUT more hash tables (bands) or a bigger index —
    * memory stays identical to [[topKAnnLsh]]; only the probe
    * fan-out grows, ×(1+rowsPerBand) per band. The plain-LSH
    * candidate set is a strict subset by construction, so
    * recall(multiprobe) ≥ recall(lsh) per probe — spec-pinned.
    *
    * Scale shape: identical to topKAnnLsh — the probe relation
    * (broadcast) carries the extra variant rows; the corpus-side
    * bucket relation and the equi-join key are unchanged, so the
    * index side never fans out.
    */
  /** A band bucket code plus its rowsPerBand Hamming-1 variants —
    * the multi-probe fan-out, ONE definition for the standalone
    * ranker and the frontier's config row.
    */
  private def multiprobeVariants(bucket: Column): Column =
    array(bucket +: (0 until Dedup.EmbRowsPerBand)
      .map(b => bucket.bitwiseXOR(lit(1L << b))): _*)

  def topKAnnMultiprobe(embs: DataFrame): DataFrame = {
    val qv = materialize(Vectors.quantizedWithBuckets(embs,
      Dedup.EmbBands, Dedup.EmbRowsPerBand, Dedup.EmbDim))
    val flat = qv.select(col("vec_id"),
      posexplode(col("buckets")).as(Seq("band", "bucket")))
    val probeFlat = broadcast(flat.filter(col("vec_id") < NumProbes)
      .select(col("vec_id").as("probe_id"), col("band").as("band_p"),
        explode(multiprobeVariants(col("bucket"))).as("bucket_p")))
    val cands = flat.join(probeFlat,
        col("band") === col("band_p") && col("bucket") === col("bucket_p") &&
          col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id")).distinct()
    val scored = cands
      .join(corpusSide(qv), "vec_id")
      .join(broadcast(probeSide(qv)), "probe_id")
      .withColumn("cos_sim",
        Vectors.cosine(Vectors.dot(col("q_p"), col("q")), col("n2_p"),
          col("n2")))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= TopK)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        col("cos_sim"), col("rk"))
  }

  /** Sign-bit binary signatures: component i of the quantized vector
    * contributes bit (i mod 32) of the lo (i < 32) / hi (i ≥ 32)
    * half. Two NON-NEGATIVE int32-range longs instead of one int64 —
    * bit 63 would sign-flip a single long and the two engines'
    * shift/sum conventions diverge on negative packs. Map-only.
    */
  private def binaryHalf(q: Column, from: Int): Column =
    (0 until 32).map(i =>
      when(element_at(q, from + i + 1) >= 0, lit(1L << i)).otherwise(0L))
      .reduce(_ + _)

  /** Binary-Hamming ANN — the 1-BIT budget point completing the
    * quantization ladder (float64 exact → int scalar
    * `embed_quantize_recall` → PQ codes `sim_ann_pq` → THIS, 64 bits
    * per vector, a 64× memory cut vs float64): rank the corpus by
    * Hamming distance between sign-bit signatures (for SRP-style
    * sign patterns, P[bit mismatch] = θ/π — Hamming is a monotone
    * cosine proxy in expectation). `embed_binary_recall` prices what
    * that last compression step costs in recall@k; at 100 TB the
    * signature relation is 16 bytes/vector and the scan is
    * popcount-only — the re-rank-free candidate pass a billion-scale
    * index runs FIRST.
    *
    * Deterministic: (hamming asc, neighbor_id) tie-break; same
    * probe/corpus direction contract as every ranker here (zero-norm
    * vectors excluded — their sign pattern is all-ones noise).
    */
  def topKAnnHamming(embs: DataFrame): DataFrame =
    topKAnnHammingCands(materialize(Vectors.quantized(embs)), TopK)

  val RerankCandidates = 32

  /** Two-stage binary-prefilter retrieval — THE production serving
    * pattern at billion scale: stage 1 scans the 16-byte sign
    * signatures and keeps each probe's [[RerankCandidates]] best by
    * Hamming distance (popcount-only, no float math touches the
    * corpus); stage 2 re-ranks ONLY those candidates by exact
    * quantized cosine. Memory reads float vectors for 32 candidates
    * per probe instead of the corpus; recall recovers most of what
    * the 1-bit cut lost ([[topKAnnHamming]]'s gauge vs this one —
    * spec-pinned: rerank recall ≥ plain-Hamming recall per probe,
    * since the Hamming top-k is inside the candidate set and exact
    * cosine can only promote true neighbors within it).
    */
  def topKAnnHammingRerank(embs: DataFrame): DataFrame = {
    val qv = materialize(Vectors.quantized(embs))
    val cands = topKAnnHammingCands(qv, RerankCandidates)
      .select(col("probe_id"), col("neighbor_id").as("vec_id"))
    val scored = cands
      .join(corpusSide(qv), "vec_id")
      .join(broadcast(probeSide(qv)), "probe_id")
      .withColumn("cos_sim",
        Vectors.cosine(Vectors.dot(col("q_p"), col("q")), col("n2_p"),
          col("n2")))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= TopK)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        col("cos_sim"), col("rk"))
  }

  /** Hamming top-`c` candidate stage over an already-quantized
    * relation — shared by [[topKAnnHamming]] (c = TopK, emitted) and
    * the re-rank pipeline (c = RerankCandidates, consumed).
    */
  private def topKAnnHammingCands(qv: DataFrame, c: Int): DataFrame = {
    val sigs = qv.filter(col("n2") > 0).select(col("vec_id"),
      binaryHalf(col("q"), 0).as("lo"), binaryHalf(col("q"), 32).as("hi"))
    val probes = broadcast(sigs.filter(col("vec_id") < NumProbes)
      .select(col("vec_id").as("probe_id"), col("lo").as("lo_p"),
        col("hi").as("hi_p")))
    val scored = sigs.join(probes, col("vec_id") =!= col("probe_id"))
      .withColumn("hamming",
        (bit_count(col("lo").bitwiseXOR(col("lo_p"))) +
          bit_count(col("hi").bitwiseXOR(col("hi_p")))).cast("long"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("hamming"), col("vec_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= c)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        col("hamming"), col("rk"))
  }

  val KnnGraphK = 3

  /** Per-SRP-bucket member cap for [[knnEdges]]' candidate join —
    * see the guardrail note there. The shared SRP default
    * (Dedup.SrpBucketCap = 512, also embeddingPairs') sits an order
    * of magnitude above any benign bucket at bench scale while
    * bounding a clone-planted hot bucket's candidate work to O(cap²).
    */
  val KnnBucketCap: Int = Dedup.SrpBucketCap

  /** Dropped-candidate census for [[knnEdges]]' capped SRP bucket
    * join at [[KnnBucketCap]]: per band, the hot buckets and the
    * candidate-pair mass the cap removes (Dedup.capCensus — same
    * order, same arithmetic as the selection itself). All-zero
    * dropped columns = the cap is a no-op at this corpus.
    */
  def knnCapCensus(embs: DataFrame): DataFrame = {
    val qv = Vectors.quantizedWithBuckets(embs,
      Dedup.EmbBands, Dedup.EmbRowsPerBand, Dedup.EmbDim)
    Dedup.capCensus(
      qv.select(col("vec_id"),
        posexplode(col("buckets")).as(Seq("band", "bucket"))),
      "vec_id", Seq("band", "bucket"), KnnBucketCap)
  }

  /** Mutual-kNN census over the LSH candidate graph: every vector's
    * top-k neighbors among its SRP-bucket candidates, and the share
    * of edges that are reciprocated. A high mutual-kNN rate means
    * the corpus clusters cleanly (mutual edges are what
    * density/agglomerative cluster steps keep); a low rate flags
    * hubness — a few vectors absorbing everyone's edges — which
    * degrades both ANN recall and semantic-dedup grouping. Per-label
    * rollup.
    *
    * Scale shape: the candidate relation is the O(Σ bucket²) band
    * equi-join every LSH operator here pays (never all-pairs); the
    * per-node top-k is WindowGroupLimit-prunable; the reciprocity
    * probe joins the |V|·k edge relation against its own flip on the
    * (src, dst) key. No driver-side anything.
    */
  /** The kNN candidate-graph edge set every graph operator here
    * shares: per vector, its top-k SRP-bucket candidates by exact
    * cosine (deterministic (cos desc, dst) tie-break). Materialized
    * — [[knnGraphStats]] consumes it twice (edges + flip) and
    * [[pageRank]] walks it every iteration.
    */
  def knnEdges(embs: DataFrame, k: Int = KnnGraphK): DataFrame = {
    val qv = materialize(Vectors.quantizedWithBuckets(embs,
      Dedup.EmbBands, Dedup.EmbRowsPerBand, Dedup.EmbDim))
    // Hot-bucket guardrail: a clone-heavy corpus puts a corpus-
    // fraction of vectors into ONE SRP bucket and the candidate join
    // goes quadratic in it (the planted-hub rehearsal measured the
    // whole graph family paying 1.9-2.8x for a 10% clone plant). Cap
    // each bucket at KnnBucketCap fair-ordered members — far above
    // any benign bucket at bench scale (sf0.1 max is 68), so results
    // are unchanged there (and the oracle mirrors the cap exactly
    // regardless); a pathological bucket is bounded to O(cap²) work.
    // The dropped mass is REPORTED by [[knnCapCensus]] — never
    // capped silently.
    // Score INSIDE the bucket join: both sides of the (band, bucket)
    // self-join carry their quantized vectors, the cosine is computed
    // in the join's own projection, and only slim (src, dst, cos)
    // rows ever leave the stage. The alternative — distinct the slim
    // pairs, then join the corpus relation back on twice to attach
    // q_s/q_d — shuffles the PAIR-mass relation with arrays aboard
    // whenever the corpus side outgrows the broadcast threshold
    // (measured: a 14 GiB dst-key exchange on the 22k-vector hub
    // corpus, 2× the whole query). Here the vectors shuffle once,
    // keyed by bucket (linear in corpus × bands), and the pair mass
    // only moves as 3 scalars per row. A (src, dst) seen in several
    // bands scores identically each time (same q's), so the
    // band-dedup is a max() aggregate instead of a pre-scoring
    // distinct — the dot work on band-duplicate candidates (≤ bands×)
    // is codegen'd map-side arithmetic, cheaper than a second wide
    // exchange. Zero-norm vectors are filtered AFTER the cap so the
    // capped membership matches the oracle's (which caps the raw
    // bucket relation), then dropped from both sides exactly as the
    // old corpusSide inner joins did.
    val flatQ = Dedup.capBucketMembers(
      qv.select(col("vec_id"), col("q"), col("n2"),
        posexplode(col("buckets")).as(Seq("band", "bucket"))),
      "vec_id", Seq("band", "bucket"), KnnBucketCap)
      .filter(col("n2") > 0)
    val scored = flatQ
      .select(col("vec_id").as("src"), col("q").as("q_s"),
        col("n2").as("n2_s"), col("band"), col("bucket"))
      .join(flatQ.select(col("vec_id").as("dst"), col("q").as("q_d"),
        col("n2").as("n2_d"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        Vectors.cosine(Vectors.dot(col("q_s"), col("q_d")),
          col("n2_s"), col("n2_d")).as("cos_dup"))
      .groupBy(col("src"), col("dst"))
      .agg(max(col("cos_dup")).as("cos_sim"))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cos_sim").desc, col("dst"))
    materialize(scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("src"), col("dst")))
  }

  def knnGraphStats(embs: DataFrame, k: Int = KnnGraphK): DataFrame = {
    val edges = knnEdges(embs, k)
    val flipped = edges.select(col("dst").as("src"), col("src").as("dst"))
      .withColumn("mut", lit(1L))
    edges.join(flipped, Seq("src", "dst"), "left")
      .join(embs.select(col("vec_id").as("src"), col("label")), "src")
      .groupBy(col("label"))
      .agg(countDistinct(col("src")).as("n_nodes"),
        count(lit(1)).as("n_edges"),
        sum(coalesce(col("mut"), lit(0L))).as("n_mutual"),
        (sum(coalesce(col("mut"), lit(0L))).cast("double") /
          count(lit(1)).cast("double")).as("reciprocity"))
      .orderBy(col("label"))
  }

  val GraphSearchBeam = 8 // ≥ TopK, so the recall gauge can reach 1.0
  val GraphSearchHops = 4
  val GraphSearchDegree = 8 // out-degree of the search graph

  /** Graph-walk ANN — the DiskANN/HNSW-family search path, the third
    * index geometry next to the partition family (IVF) and the hash
    * family (LSH): start every probe at a fixed entry vertex of the
    * [[knnEdges]] graph and run a T-hop BEAM SEARCH (expand the
    * frontier's out-neighbors, re-score against the probe, keep the
    * best `beam` — visited-best included, so the beam never
    * regresses). Returns each probe's final beam ranked by cosine.
    * Deterministic: fixed entry (lowest non-probe vector with a
    * direction), (cos desc, node) tie-breaks, exact integer dots.
    *
    * SEEDING: the frontier starts from one entry per LABEL cluster
    * (lowest non-probe vector of each label) rather than a single
    * global entry — the kNN candidate graph is DISCONNECTED by
    * construction (SRP buckets don't span clusters), so a lone entry
    * can never escape its own component and recall collapses to the
    * entry's cluster (measured ~0 with one entry). One seed per
    * cluster is the IVF-seeded graph search; a production DiskANN
    * buys the same reachability with long-range edges instead.
    *
    * Scale shape: per hop ONE join of the |probes|·beam frontier
    * against the edge relation plus a re-score join against the
    * cached probe-cosine relation (probes bounded → both sides
    * tiny); frontier checkpoint-truncated per hop (the pageRank
    * lineage rule). A production graph index walks exactly this
    * plan shape with the graph sharded by vertex key; the
    * |labels|-row seed relation broadcasts.
    */
  def graphSearch(
      embs: DataFrame,
      beam: Int = GraphSearchBeam,
      hops: Int = GraphSearchHops): DataFrame = {
    val frontier = walkFrontiers(embs, beam, hops).snapshots(hops)
    frontier.withColumn("rk", row_number().over(
        Window.partitionBy(col("probe_id"))
          .orderBy(col("cos_sim").desc, col("node"))).cast("long"))
      .select(col("probe_id"), col("node").as("neighbor_id"),
        col("cos_sim"), col("rk"))
      .orderBy(col("probe_id"), col("rk"))
  }

  /** Everything a consumer of the beam walk can reuse: the per-hop
    * frontier snapshots, the cached probe-corpus cosine relation,
    * the search graph's edges, and the per-label entry vertices
    * ([[annFrontier]] rebuilds the walk's scored set from these).
    */
  private case class GraphWalk(
      snapshots: Map[Int, DataFrame],
      pcos: DataFrame,
      edges: DataFrame,
      entries: DataFrame)

  /** The walk itself, snapshotting the frontier after every hop —
    * [[graphSearch]] reads the last snapshot, [[graphSearchCurve]]
    * reads several from ONE walk (each snapshot is already
    * checkpoint-materialized, so reading three costs nothing extra).
    * Also returns the cached probe-cosine relation: it IS the exact
    * probe-corpus scoring, so the recall gauges rank THEIR exact
    * side from it instead of paying topKBruteForce's second
    * quantize-and-score corpus scan.
    */
  private def walkFrontiers(
      embs: DataFrame, beam: Int, hops: Int): GraphWalk = {
    import org.apache.spark.sql.graft.ExpressionBridge.checkpointTruncated
    val qv = materialize(Vectors.quantized(embs))
    // the graph build (bucketed self-join + per-src top-k) and the
    // probe-cosine scan share no data dependency — overlap their
    // eager materializations (guide §2.6) instead of paying the two
    // barrier chains back to back
    val (edges, pcos) = Par.run2(
      () => knnEdges(embs, GraphSearchDegree),
      () => materialize(corpusSide(qv)
        .join(broadcast(probeSide(qv)), col("vec_id") =!= col("probe_id"))
        .withColumn("cos_sim",
          Vectors.cosine(Vectors.dot(col("q_p"), col("q")), col("n2_p"), col("n2")))
        .select(col("probe_id"), col("vec_id").as("node"), col("cos_sim"))))
    val entries = corpusSide(qv).filter(col("vec_id") >= NumProbes)
      .join(embs.select(col("vec_id"), col("label")), "vec_id")
      .groupBy(col("label")).agg(min(col("vec_id")).as("node"))
      .select(col("node"))
    val w0 = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").desc, col("node"))
    var frontier = checkpointTruncated(
      pcos.join(broadcast(entries), Seq("node"))
        .withColumn("rk", row_number().over(w0))
        .filter(col("rk") <= beam)
        .select(col("probe_id"), col("node"), col("cos_sim")))
    val snapshots = scala.collection.mutable.Map(0 -> frontier)
    for (h <- 1 to hops) {
      val candidates = frontier.select(col("probe_id"), col("node"))
        .join(edges, col("node") === col("src"))
        .select(col("probe_id"), col("dst").as("node"))
        .union(frontier.select(col("probe_id"), col("node")))
        .distinct()
        .join(pcos, Seq("probe_id", "node"))
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(col("cos_sim").desc, col("node"))
      frontier = checkpointTruncated(candidates
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= beam)
        .select(col("probe_id"), col("node"), col("cos_sim")))
      snapshots(h) = frontier
    }
    GraphWalk(snapshots.toMap, pcos, edges, entries)
  }

  /** Exact top-k per probe from the walk's cached cosine relation —
    * the same ranking topKBruteForce produces (identical quantized
    * cosines, identical (cos desc, id) tie-break), without a second
    * corpus scan.
    */
  private def exactFromPcos(pcos: DataFrame): DataFrame =
    pcos.withColumn("rk", row_number().over(
        Window.partitionBy(col("probe_id"))
          .orderBy(col("cos_sim").desc, col("node"))))
      .filter(col("rk") <= TopK)
      .select(col("probe_id"), col("node").as("neighbor_id"))

  val GraphCurveHops: Seq[Int] = Seq(1, 2, 4)

  /** The graph index's tuning curve — recall@k per WALK LENGTH
    * (hops ∈ {1, 2, 4}), the efSearch-style cost/recall trade a
    * graph-ANN deployment tunes first (each hop is one more
    * frontier expansion of scan budget; the curve says where recall
    * saturates). Sibling of `sim_ann_ivf_curve`'s nProbe sweep and
    * `embed_prefix_curve`'s width sweep: every index family here
    * carries its own knob curve on the same measuring stick.
    *
    * ONE walk serves every point: the per-hop frontiers are already
    * checkpoint-materialized by [[walkFrontiers]], so the curve
    * reads three snapshots of a single traversal instead of
    * re-walking per hop count.
    */
  def graphSearchCurve(
      embs: DataFrame, hopsList: Seq[Int] = GraphCurveHops): DataFrame = {
    val walk = walkFrontiers(embs, GraphSearchBeam, hopsList.max)
    val (snapshots, pcos) = (walk.snapshots, walk.pcos)
    val exact = materialize(exactFromPcos(pcos))
    hopsList.map { h =>
      recallAtK(exact,
        snapshots(h).select(col("probe_id"), col("node").as("neighbor_id")))
        .withColumn("hops", lit(h.toLong))
    }.reduce(_ unionByName _)
      .select(col("hops"), col("probe_id"), col("recall_at_k"))
      .orderBy(col("hops"), col("probe_id"))
  }

  /** Recall@k of [[graphSearch]]'s final beam against the exact
    * ranking — the graph index's gauge beside `sim_ann_recall`
    * (LSH), `sim_ann_ivf_recall` (IVF) and `sim_ann_pq_recall`
    * (PQ): four index geometries, one measuring stick.
    */
  def graphSearchRecall(embs: DataFrame): DataFrame = {
    val walk = walkFrontiers(embs, GraphSearchBeam, GraphSearchHops)
    recallAtK(exactFromPcos(walk.pcos),
        walk.snapshots(GraphSearchHops)
          .select(col("probe_id"), col("node").as("neighbor_id")))
      .orderBy(col("probe_id"))
  }

  /** Cross-geometry cost/recall Pareto frontier — the serving-config
    * chooser that puts the family's four index geometries on ONE
    * stick: for each configuration (the exact scan, SRP-LSH buckets,
    * IVF at every nProbe of [[IvfCurveProbes]], the PQ-ADC full code
    * scan, and the beam-walk graph index at every hop count of
    * [[GraphCurveHops]] — prefixes of ONE materialized traversal)
    * the micro-averaged recall@k against the exact cosine baseline
    * next to the number of candidates each configuration actually
    * SCORED, plus the Pareto verdict: a config is on the frontier unless some other
    * config reaches ≥ its recall at ≤ its cost with one inequality
    * strict. This is the table an ANN deployment reads to pick its
    * index; the per-geometry knob curves (`sim_ann_ivf_curve`,
    * `sim_ann_graph_curve`, …) sweep WITHIN a geometry, this
    * compares ACROSS them.
    *
    * Determinism: recall is micro-averaged from integer totals
    * (Σ matched / Σ exact — no cross-row double sums), candidate
    * counts are exact integers, and the Pareto dominance test
    * compares only integers, so the whole table is reproducible to
    * the last bit (a per-probe-mean double recall would depend on
    * partition summation order).
    *
    * Scale shape: every candidate relation reuses the family's own
    * bounded construction (broadcast probes, bucket/cell equi-joins,
    * materialized walk snapshots) — nothing new shuffles; the
    * corpus-sized scored relations (hamming, PQ) are deliberately NOT
    * cached — each feeds the ONE shared WindowGroupLimit-pruned top-k
    * pass (the rk <= TopK filter sits AT the window, so ≤k rows per
    * ((method, param, probe), input partition) cross the exchange —
    * no probe's corpus-sized candidate set ever lands on one task)
    * and the ONE shared map-side count, both recomputed from the
    * already-cached quantized relation rather than pinning
    * probes×corpus rows in memory. The frontier itself is a ≤7-row
    * relation; its dominance join is trivial.
    */
  def annFrontier(embs: DataFrame): DataFrame = {
    val lab = embs.select(col("vec_id"), col("label"))
    // Phase 1 (guide §2.6): the three base relations every geometry
    // hangs off — plain quantized, SRP-bucketed, PQ-normalized — are
    // data-independent scans of the same parquet; materialize them
    // concurrently instead of as three back-to-back barrier jobs.
    val phase1 = Par.run[Any](Seq(
      () => materialize(Vectors.quantized(embs)),
      () => materialize(Vectors.quantizedWithBuckets(embs,
        Dedup.EmbBands, Dedup.EmbRowsPerBand, Dedup.EmbDim)),
      () => pqParts(embs, normalized = true, withProbeLut = true)))
    val qv = phase1(0).asInstanceOf[DataFrame]
    val qvB = phase1(1).asInstanceOf[DataFrame]
    val (_, _, chosen, pqLutOpt) = phase1(2)
      .asInstanceOf[(DataFrame, DataFrame, DataFrame, Option[DataFrame])]
    val spark0 = embs.sparkSession
    import spark0.implicits._

    // Phase 2 (unchanged from r15): the per-geometry eager builds
    // that consume phase 1's caches but not each other — the exact
    // ranking, the IVF cell ranking, and the graph walk — overlap
    // (§2.6). An r16 experiment additionally materialized the whole
    // tagged scoring pass inside this group (off the walk's path);
    // MEASURED WORSE and reverted: the scoring pass was never
    // actually waiting on the walk — AQE materializes the final
    // action's independent stages concurrently — so the extra
    // barrier only added jobs (`Audit jobs` 153 → 176; the r15 kcore
    // lesson again: a cache handoff on the critical path loses to
    // recompute-inside-one-job whose stages run in parallel).
    val phase2 = Par.run[Any](Seq(
      () => materialize(
        topKOn(qv).select(col("probe_id"), col("neighbor_id"))),
      () => materialize(ivfCellRanks(qv, lab)),
      () => walkFrontiers(embs, GraphSearchBeam, GraphCurveHops.max)))
    val exactK = phase2(0).asInstanceOf[DataFrame]
    val cellRanks = phase2(1).asInstanceOf[DataFrame]
    val walk = phase2(2).asInstanceOf[GraphWalk]
    val hitK = broadcast(exactK.withColumn("hit", lit(1L)))
    val nExact = exactK.agg(count(lit(1)).as("n_exact"))

        // exact: matched = exact by construction; the scan size has
        // the closed form |probes with direction| · (|corpus with
        // direction| − 1) — no second probes×corpus pass to count it
        val eExact = nExact
          .crossJoin(probeSide(qv).agg(count(lit(1)).as("np")))
          .crossJoin(corpusSide(qv).agg(count(lit(1)).as("nc")))
          .select(lit("exact").as("method"), lit(0L).as("param"),
            col("n_exact").as("n_matched"), col("n_exact"),
            (col("np") * (col("nc") - 1)).as("n_candidates"))

        // SRP-LSH + multi-probe in ONE bucket join (r16, §2.4): the
        // multiprobe variant list CONTAINS the original bucket, so an
        // exact-bucket match is both an lsh and a multiprobe candidate
        // while a variant-only match is multiprobe-only — tag each
        // matched row with the method(s) it belongs to and distinct
        // ONCE over (method, probe, vec), instead of two joins + two
        // distincts over the same flattened relation. Sets identical:
        // lsh = pairs with ≥1 exact-bucket match, multiprobe = pairs
        // with ≥1 variant match, exactly as the two private branches
        // computed them.
        val flatB = qvB.select(col("vec_id"),
          posexplode(col("buckets")).as(Seq("band", "bucket")))
        val mpProbeFlat = broadcast(flatB.filter(col("vec_id") < NumProbes)
          .select(col("vec_id").as("probe_id"), col("band").as("band_p"),
            col("bucket").as("bucket0"),
            explode(multiprobeVariants(col("bucket"))).as("bucket_p")))
        val lshTagged = flatB.join(mpProbeFlat,
            col("band") === col("band_p") &&
              col("bucket") === col("bucket_p") &&
              col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("vec_id"),
            explode(when(col("bucket_p") === col("bucket0"),
              array(lit("lsh"), lit("lsh_multiprobe")))
              .otherwise(array(lit("lsh_multiprobe")))).as("method"))
          .select(col("method"), lit(0L).as("param"), col("probe_id"),
            col("vec_id"))
          .distinct()

        // IVF candidates (r16, §2.4): cell membership is a PREFIX
        // property (a candidate at rank crk belongs to every curve
        // point np ≥ crk), so ONE join at the maximum nProbe carries
        // crk and explodes to its curve points — replaces
        // |IvfCurveProbes| separate joins of the same two relations.
        // Per-np sets identical: param = np emitted iff crk <= np.
        val ivfTagged = cellRanks
          .filter(col("crk") <= IvfCurveProbes.max)
          .join(lab.toDF("vec_id", "label"), "label")
          .filter(col("vec_id") =!= col("probe_id"))
          .select(lit("ivf").as("method"),
            explode(filter(
              typedlit(IvfCurveProbes.map(_.toLong)),
              np => np >= col("crk").cast("long"))).as("param"),
            col("probe_id"), col("vec_id"))

        // ONE scored pass for EVERY non-graph geometry. r15 merged
        // the six cosine-scored branches (lsh, multiprobe, the IVF
        // nProbe sweep) into one tagged join+window+aggregate keyed
        // by (method, param, probe_id) — guide §2.4, share the
        // exchange. r16 folds the two remaining private pipelines —
        // the binary-Hamming popcount scan and the PQ-ADC code scan
        // — into the SAME tagged pass: each scored relation is
        // reduced to (method, param, probe_id, neighbor_id, skey)
        // where skey is that geometry's ranking key mapped to one
        // ascending double. The mapping preserves each geometry's
        // exact order: hamming (0..64) and approx_d2 (bounded by the
        // per-vector quantization scale, « 2^53) are exact in a
        // double; cosine negates (IEEE negation is exact, both sides
        // filter n2 > 0 so no NaN, and a -0.0/0.0 collision is
        // order-equalized by Spark's normalization with the
        // neighbor_id tie-break deciding — as it already did). The
        // rk <= TopK filter still sits AT the window, so the partial
        // WindowGroupLimit prunes below the single exchange for all
        // geometries at once. The literal (method, param) frame
        // left-join preserves the old per-branch aggregate semantics
        // for an empty geometry (n_matched = n_candidates = 0).
        val cosCands = lshTagged.unionByName(ivfTagged)
        val cosScored = cosCands
          .join(corpusSide(qv), "vec_id")
          .join(broadcast(probeSide(qv)), "probe_id")
          .withColumn("skey",
            -Vectors.cosine(Vectors.dot(col("q_p"), col("q")),
              col("n2_p"), col("n2")))
          .select(col("method"), col("param"), col("probe_id"),
            col("vec_id").as("neighbor_id"), col("skey"))

        // binary Hamming: the full popcount scan — exact's candidate
        // count at 1-bit precision, the ladder's cheapest scorer
        val hSigs = qv.filter(col("n2") > 0).select(col("vec_id"),
          binaryHalf(col("q"), 0).as("lo"), binaryHalf(col("q"), 32).as("hi"))
        val hProbes = broadcast(hSigs.filter(col("vec_id") < NumProbes)
          .select(col("vec_id").as("probe_id"), col("lo").as("lo_p"),
            col("hi").as("hi_p")))
        val hamScored = hSigs
          .join(hProbes, col("vec_id") =!= col("probe_id"))
          .select(lit("hamming").as("method"), lit(0L).as("param"),
            col("probe_id"), col("vec_id").as("neighbor_id"),
            (bit_count(col("lo").bitwiseXOR(col("lo_p"))) +
              bit_count(col("hi").bitwiseXOR(col("hi_p"))))
              .cast("double").as("skey"))

        // PQ-ADC full code scan (topKAnnPq's scored relation; model
        // AND probe LUT built in phase 1, the LUT overlapped with the
        // chosen barrier inside pqParts)
        val codes = chosen.select(col("vec_id"), col("sub"), col("code"))
        val pqScored = codes.join(broadcast(pqLutOpt.get), Seq("sub", "code"))
          .filter(col("vec_id") =!= col("probe_id"))
          .groupBy(col("probe_id"), col("vec_id").as("neighbor_id"))
          .agg(sum(col("pd2")).as("approx_d2"))
          .select(lit("pq").as("method"), lit(0L).as("param"),
            col("probe_id"), col("neighbor_id"),
            col("approx_d2").cast("double").as("skey"))

        val scoredAll = Seq(cosScored, hamScored, pqScored)
          .reduce(_ unionByName _)
        val top = scoredAll
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("method"), col("param"), col("probe_id"))
              .orderBy(col("skey"), col("neighbor_id"))))
          .filter(col("rk") <= TopK)
        val matched = top
          .join(hitK, Seq("probe_id", "neighbor_id"), "left")
          .groupBy(col("method"), col("param"))
          .agg(sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("nm"))
        val counts = scoredAll.groupBy(col("method"), col("param"))
          .agg(count(lit(1)).as("ncand"))
        val frame = (Seq(("lsh", 0L), ("lsh_multiprobe", 0L),
          ("hamming", 0L), ("pq", 0L)) ++
          IvfCurveProbes.map(np => ("ivf", np.toLong)))
          .toDF("method", "param")
        // LAZY by design: the summary computes inside the final
        // action, whose independent stages AQE materializes
        // concurrently with the graph branch — no extra barrier
        val ngRows = eExact.unionByName(frame
          .join(matched, Seq("method", "param"), "left")
          .join(counts, Seq("method", "param"), "left")
          .crossJoin(nExact)
          .select(col("method"), col("param"),
            coalesce(col("nm"), lit(0L)).as("n_matched"), col("n_exact"),
            coalesce(col("ncand"), lit(0L)).as("n_candidates")))

    // graph at every walk length of the curve: recall from that
    // hop's beam, cost from the visited-so-far set (entry vertices +
    // every frontier expansion through hop h that reached the cosine
    // relation) — the walk snapshots are already materialized, so
    // the sweep reads prefixes of ONE traversal (phase 2's walk),
    // mirroring the IVF nProbe sweep.
    val pcKeys = walk.pcos.select(col("probe_id"), col("node"))
    // visited-so-far accumulates ONCE across hops (each prefix
    // extends the previous union — the graph twin of "rank the
    // cells once, cut per nProbe"); the per-point distinct + pc
    // join runs on the lazily-shared prefix
    val visitedAt = (1 to GraphCurveHops.max)
      .scanLeft(pcKeys.join(broadcast(walk.entries), Seq("node"))
        .select(col("probe_id"), col("node"))) { (acc, h) =>
        val prev = walk.snapshots(h - 1).select(col("probe_id"), col("node"))
        acc.union(prev.join(walk.edges, col("node") === col("src"))
          .select(col("probe_id"), col("dst").as("node")))
          .union(prev)
      }
    // the three hop points merge into ONE tagged recall pass and ONE
    // tagged visited-count pass (same §2.4 shared-exchange move as the
    // cosine geometries; the per-hop distinct stays per-hop because
    // `param` rides the distinct key)
    val hopTagged = GraphCurveHops.map { h =>
      walk.snapshots(h).select(lit(h.toLong).as("param"),
        col("probe_id"), col("node").as("neighbor_id"))
    }.reduce(_ unionByName _)
    val gMatched = hopTagged
      .join(hitK, Seq("probe_id", "neighbor_id"), "left")
      .groupBy(col("param"))
      .agg(sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("nm"))
    val visTagged = GraphCurveHops.map { h =>
      visitedAt(h).select(lit(h.toLong).as("param"),
        col("probe_id"), col("node"))
    }.reduce(_ unionByName _)
    val gCounts = visTagged.distinct()
      .join(pcKeys, Seq("probe_id", "node"))
      .groupBy(col("param")).agg(count(lit(1)).as("ncand"))
    val gFrame = GraphCurveHops.map(_.toLong).toDF("param")
    val graphRows = gFrame
      .join(gMatched, Seq("param"), "left")
      .join(gCounts, Seq("param"), "left")
      .crossJoin(nExact)
      .select(lit("graph").as("method"), col("param"),
        coalesce(col("nm"), lit(0L)).as("n_matched"), col("n_exact"),
        coalesce(col("ncand"), lit(0L)).as("n_candidates"))

    val allC = materialize(ngRows.unionByName(graphRows))
    val others = allC.select(col("method").as("m2"), col("param").as("p2"),
      col("n_matched").as("nm2"), col("n_candidates").as("nc2"))
    allC.join(others,
        (col("m2") =!= col("method") || col("p2") =!= col("param")) &&
          col("nm2") >= col("n_matched") &&
          col("nc2") <= col("n_candidates") &&
          (col("nm2") > col("n_matched") ||
            col("nc2") < col("n_candidates")),
        "left")
      .groupBy(col("method"), col("param"), col("n_matched"),
        col("n_exact"), col("n_candidates"))
      .agg((count(col("m2")) === 0).as("pareto"))
      .select(col("method"), col("param"), col("n_matched"),
        col("n_exact"), col("n_candidates"),
        (col("n_matched").cast("double") / col("n_exact").cast("double"))
          .as("recall"),
        col("pareto"))
      .orderBy(col("method"), col("param"))
  }

  val PageRankIters = 3
  val PageRankScale = 1000000000000L // 1e12 fixed-point units
  val PageRankTopN = 20

  /** PageRank over the kNN candidate graph ([[knnEdges]]) — the
    * centrality pass of graph-based corpus curation: high-rank
    * vectors are the hub exemplars every neighborhood points at
    * (dedup canonicals, coreset picks), rank mass concentrating on a
    * few nodes is the same hubness pathology [[knnGraphStats]]'s
    * reciprocity flags, seen from the stationary-distribution side.
    * Standard damping 0.85 with uniform teleport and uniform
    * dangling-mass redistribution; [[PageRankIters]] synchronous
    * iterations from a uniform start.
    *
    * FIXED-POINT determinism: ranks live in integer 1e-12 units
    * ([[PageRankScale]]); every division is floored back to a
    * BIGINT, so per-destination inflow sums are EXACT integer
    * aggregates — order-independent across engines and partitions —
    * and the only float ops are per-row double divisions/products of
    * exact integers, identical bit-for-bit in the oracle. A raw
    * double PageRank would hash-mismatch on summation order alone.
    *
    * Scale shape: per iteration, contributions are a map over the
    * edge relation joined to the |V|-row rank relation (shuffle on
    * src, then dst — the Pregel exchange), the dangling/N scalars
    * are 1-row broadcasts, and the plan grows linearly in the FIXED
    * iteration count. Output is the top-[[PageRankTopN]] hubs via
    * TakeOrderedAndProject (no global sort materializes); the
    * row_number runs over those bounded rows only.
    */
  def pageRank(embs: DataFrame, iters: Int = PageRankIters): DataFrame = {
    val top = pageRankRanks(knnEdges(embs), iters)
      .join(embs.select(col("vec_id"), col("label")),
        col("v") === col("vec_id"))
      .select(col("vec_id"), col("label"), col("r").as("rank_fp"))
      .orderBy(col("rank_fp").desc, col("vec_id"))
      .limit(PageRankTopN)
    top.withColumn("rk", row_number().over(
        Window.orderBy(col("rank_fp").desc, col("vec_id"))).cast("long"))
      .orderBy(col("rk"))
  }

  /** The fixed-point iteration on an arbitrary (src, dst) edge
    * relation — the unit the random-graph property suite pins
    * against a driver-side simulation. Returns the full (v, r)
    * rank relation in [[PageRankScale]] units.
    */
  def pageRankRanks(edges: DataFrame, iters: Int = PageRankIters): DataFrame = {
    // each round's rank relation is CHECKPOINT-TRUNCATED, not merely
    // persisted: the round-t plan embeds round-(t−1)'s full lineage
    // in three places (contrib join, dangling agg, final select), so
    // an uncut plan grows exponentially and Catalyst re-optimization
    // dominates wall-clock by round 3 (measured 3.1 → 6.2 → 28.5 s
    // per round at sf0.1 before the cut; constant ~1 s after) — the
    // same pathology the union-find contraction documents
    // (Dedup.scala: ExpressionBridge.checkpointTruncated).
    import org.apache.spark.sql.graft.ExpressionBridge.checkpointTruncated
    val nodes = materialize(edges.select(col("src").as("v"))
      .union(edges.select(col("dst").as("v"))).distinct())
    val outd = materialize(edges.groupBy(col("src"))
      .agg(count(lit(1)).as("outdeg")))
    // |V| and the per-round dangling mass are DRIVER SCALARS (the
    // k-means-update 1-row-collect pattern): folding them in as
    // literals keeps each round's plan at one join + one select —
    // the crossJoin(broadcast(1-row-agg)) alternative re-plans two
    // broadcast subqueries per round and measured ~3× slower. The
    // driver-side floor chain is the same IEEE double math both
    // engines run, so determinism is unchanged.
    val n = nodes.count()
    val base = math.floor(0.15 * (PageRankScale.toDouble / n)).toLong
    var ranks = checkpointTruncated(nodes.select(col("v"),
      lit(math.floor(PageRankScale.toDouble / n).toLong).as("r")))
    for (_ <- 1 to iters) {
      val dang = ranks
        .join(outd.select(col("src").as("v")), Seq("v"), "left_anti")
        .agg(coalesce(sum(col("r")), lit(0L))).head.getLong(0)
      val dShare = math.floor(dang.toDouble / n).toLong
      val contrib = edges
        .join(ranks.select(col("v").as("src"), col("r")), "src")
        .join(outd, "src")
        .select(col("dst").as("v"),
          floor(col("r").cast("double") / col("outdeg").cast("double"))
            .as("c"))
      val inflow = contrib.groupBy(col("v")).agg(sum(col("c")).as("inflow"))
      ranks = checkpointTruncated(ranks.select(col("v"))
        .join(inflow, Seq("v"), "left")
        .select(col("v"),
          (lit(base) + floor(lit(0.85) *
            (coalesce(col("inflow"), lit(0L)) + lit(dShare))
              .cast("double"))).as("r")))
    }
    ranks
  }

  /** Per-label norm/shape profile of the embedding corpus — the
    * sanity gate run before any similarity math: dimension agreement
    * (dim_lo = dim_hi or the corpus is mixed-model), zero-norm count
    * (vectors cosine can't score), and the quantized-L2 spread. A
    * drifted encoder shows up here as an rms_norm shift per label
    * long before recall@k degrades.
    *
    * All stats up to the final rms are EXACT integer math in the
    * quantized space (norms summed in decimal(38,0), so group order
    * can't move the result); ONE scan, ONE shuffle on label with
    * map-side partials, |labels|-row output.
    */
  def normProfile(embs: DataFrame): DataFrame = {
    val qv = Vectors.spread(embs)
      .select(col("label"),
        size(col("embedding")).cast("long").as("dim"),
        Vectors.norm2(Vectors.quantize(col("embedding"))).as("n2"))
    qv.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("dim")).as("dim_lo"),
        max(col("dim")).as("dim_hi"),
        sum(when(col("n2") === 0L, 1L).otherwise(0L)).as("n_zero"),
        min(col("n2")).as("min_n2"),
        max(col("n2")).as("max_n2"),
        sqrt(sum(col("n2").cast("decimal(38,0)")).cast("double") /
          count(lit(1)).cast("double")).as("rms_norm"))
  }

  val KcoreK = 3
  val KcoreRounds = 4

  /** k-core peeling census of the kNN graph — the density skeleton:
    * each round removes vertices with fewer than k surviving
    * undirected neighbors, so the rounds trace how much of the
    * corpus lives in densely-knit neighborhoods (the part
    * clustering/dedup can act on) vs loose periphery (the part ANN
    * recall suffers on). A FIXED number of rounds, not
    * run-to-convergence: the census after round r is itself the
    * signal (how fast the graph erodes), and a fixed unroll keeps
    * the oracle a finite CTE chain. Same per-round invariants as
    * every iterative operator here: checkpoint-truncated survivor
    * relation, bounded joins only.
    *
    * Output: (round, n_alive, n_edges) for round 0 (intact graph)
    * through [[KcoreRounds]].
    */
  def knnKcore(
      embs: DataFrame,
      k: Int = KcoreK,
      rounds: Int = KcoreRounds): DataFrame =
    kcoreCensus(knnEdges(embs), k, rounds)

  /** The peeling census on an arbitrary directed (src, dst) edge
    * relation (symmetrized internally) — the unit the random-graph
    * property suite pins against a driver-side peel.
    */
  def kcoreCensus(
      e: DataFrame,
      k: Int = KcoreK,
      rounds: Int = KcoreRounds): DataFrame = {
    import org.apache.spark.sql.graft.ExpressionBridge.checkpointTruncated
    val sym = materialize(e.select(col("src"), col("dst"))
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    var alive = checkpointTruncated(sym.select(col("src").as("v")).distinct())
    val census = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // NOT persisted, deliberately (r15 sf0.1 A/B: 1.3–1.7× slower
    // persisted; r16 sf1 A/B: 9.6–11.1 s unpersisted vs 11.5–12.4 s
    // persisted, control stable): the census and next-round-peel
    // consumers of aliveE recompute inside jobs whose branches run as
    // parallel stages ≈ free on idle cores, while a persist puts the
    // cache write on the critical path. Re-examine only on a real
    // cluster where cores stop being idle.
    for (r <- 0 to rounds) {
      val aliveE = sym
        .join(alive.select(col("v").as("src")), "src")
        .join(alive.select(col("v").as("dst")), "dst")
      census += alive.agg(count(lit(1)).as("n_alive"))
        .crossJoin(aliveE.agg((count(lit(1)) / 2).cast("long").as("n_edges")))
        .select(lit(r.toLong).as("round"), col("n_alive"), col("n_edges"))
      if (r < rounds) {
        alive = checkpointTruncated(aliveE.groupBy(col("src"))
          .agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= k)
          .select(col("src").as("v")))
      }
    }
    census.reduce(_ unionByName _).orderBy(col("round"))
  }

  /** Triangle/wedge closure census of the kNN graph per label — the
    * local-density gauge between [[knnGraphStats]]'s reciprocity
    * (are edges mutual?) and [[knnKcore]]'s erosion (does a dense
    * core exist?): how often a node's two neighbors are themselves
    * neighbors. High closure ⇒ the SRP candidate graph locally
    * agrees with itself (bucket neighborhoods are real clusters);
    * closure ≈ 0 with healthy degrees ⇒ bucket co-membership is
    * hash noise and graph-walk ANN will wander.
    *
    * Counting is DEGREE-ORIENTED (the compact-forward / node-
    * iterator-with-orientation plan): each undirected edge points
    * from its (degree, id)-smaller endpoint to the larger, wedges
    * are enumerated only among a node's ORIENTED out-neighbors, and
    * each triangle is found exactly once at its orientation-minimum
    * corner. That bounds the wedge join by Σ outdeg² = O(E^1.5)
    * REGARDLESS of hubs — a kNN graph has out-degree k but
    * unbounded IN-degree, so the naive per-center neighbor-pair
    * join is quadratic in hub degree; the oriented plan is the
    * difference between a graph census that survives 100 TB and one
    * that dies on its first celebrity node. Per-node wedge counts
    * need no enumeration at all: deg·(deg−1)/2 exactly.
    *
    * Output per label: nodes, degree-≥2 nodes, wedges, closed
    * wedges (= 3·triangles summed over corners), and the closure
    * ratio (one double division; null when the label has no wedge).
    */
  def knnTriangles(embs: DataFrame): DataFrame =
    triangleCensus(knnEdges(embs),
      embs.select(col("vec_id"), col("label")))

  /** The oriented-wedge closure census on an arbitrary directed
    * (src, dst) edge relation (symmetrized internally) — the unit
    * the random-graph property suite pins against a driver-side
    * count.
    */
  def triangleCensus(e: DataFrame, labels: DataFrame): DataFrame = {
    // the ONLY persisted relation: everything downstream is one job,
    // so the repeated deg/or subtrees land as ReusedExchange instead
    // of extra persist+count round-trips (measured 6.5 s → ~3 s at
    // sf0.1 vs materializing each)
    val sym = materialize(e.select(col("src"), col("dst"))
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    val deg = sym.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))
    // canonical undirected edges with both endpoint degrees, then
    // re-oriented low→high by (deg, id): a DAG whose out-degrees are
    // O(√E) by the arboricity bound, hub or no hub
    val und = sym.filter(col("src") < col("dst"))
      .join(deg.select(col("v").as("src"), col("deg").as("deg_s")), "src")
      .join(deg.select(col("v").as("dst"), col("deg").as("deg_d")), "dst")
    val lowFirst = col("deg_s") < col("deg_d") ||
      (col("deg_s") === col("deg_d") && col("src") < col("dst"))
    val or = und.select(
      when(lowFirst, col("src")).otherwise(col("dst")).as("lo"),
      when(lowFirst, col("dst")).otherwise(col("src")).as("hi"))
    // oriented wedges at lo: out-neighbor pairs (b, c), b < c by id;
    // the wedge closes iff {b, c} is an edge (canonical id order —
    // closure is about the UNDIRECTED graph, not the orientation;
    // the probe side is the E-row canonical half of sym)
    val wedges = or.select(col("lo").as("a"), col("hi").as("b"))
      .join(or.select(col("lo").as("a"), col("hi").as("c")), "a")
      .filter(col("b") < col("c"))
    val tri = wedges.join(
      sym.filter(col("src") < col("dst"))
        .select(col("src").as("b"), col("dst").as("c")), Seq("b", "c"),
      "left_semi")
    // each triangle closes exactly one wedge at each of its three
    // corners: explode and count per node
    val perNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("v"), "left")
      .join(labels.select(col("vec_id").as("v"), col("label")), "v")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(when(col("deg") >= 2, 1L).otherwise(0L)).as("n_deg_ge2"),
        sum(col("deg") * (col("deg") - 1)).as("wedges2"),
        sum(coalesce(col("n_tri"), lit(0L))).as("n_closed"))
      .select(col("label"), col("n_nodes"), col("n_deg_ge2"),
        (col("wedges2") / 2).cast("long").as("n_wedges"),
        col("n_closed"),
        when(col("wedges2") > 0,
          col("n_closed").cast("double") * 2.0 /
            col("wedges2").cast("double"))
          .as("closure"))
      .orderBy(col("label"))
  }

  /** Per-label anisotropy — the common-direction artifact gauge
    * (Ethayarajh's "how contextual are contextualized
    * representations" measurement, reduced to its first moment):
    * anisotropy = ‖mean vector‖² / mean‖v‖². An isotropic cloud
    * scores ≈ 1/n (the mean cancels); encoder output with a shared
    * dominant direction — the classic "all cosines are ~0.9"
    * pathology that wrecks cosine retrieval until the mean is
    * subtracted — scores ≈ 1. mean_shift = √anisotropy is the same
    * number in norm units. Next to embed_pca_power (top-PC energy)
    * this separates "one shared offset" from "one dominant
    * subspace".
    *
    * EXACT integer math end-to-end: per-component sums Σqᵢ and the
    * norm sum Σ‖q‖² reduce as integers (Σ(Σqᵢ)² widened to
    * decimal(38,0) — the long product overflows ~10⁵× beyond sf1),
    * then ONE double expression — both engines convert the same
    * exact integers to the same doubles. Two shuffles, both bounded:
    * (label, i) components and the |labels|-row rollup.
    */
  def anisotropy(embs: DataFrame): DataFrame = {
    val qv = Vectors.spread(embs)
      .select(col("label"), Vectors.quantize(col("embedding")).as("q"))
      .withColumn("n2", Vectors.norm2(col("q")))
    val comp = qv
      .select(col("label"), posexplode(col("q")).as(Seq("i", "v")))
      .groupBy(col("label"), col("i"))
      .agg(sum(col("v")).as("s"))
    val num = comp.groupBy(col("label"))
      .agg(sum(col("s").cast("decimal(38,0)") *
        col("s").cast("decimal(38,0)")).as("num"))
    val den = qv.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("n2").cast("decimal(38,0)")).as("sum_n2"))
    den.join(num, "label")
      .withColumn("anisotropy",
        col("num").cast("double") /
          (col("n_vecs").cast("double") * col("sum_n2").cast("double")))
      .withColumn("mean_shift", sqrt(col("anisotropy")))
      .select(col("label"), col("n_vecs"), col("anisotropy"),
        col("mean_shift"))
      .orderBy(col("label"))
  }

  /** Per-label embedding outliers by quantized squared distance to
    * the label's own centroid: vectors with d² > 4× the label mean
    * (the integer test d²·n > 4·Σd² — no division, engine-exact).
    * The per-cluster companion to [[normProfile]]'s global gate: a
    * label whose outlier share jumps is a label whose upstream
    * encoder (or labeling) drifted.
    *
    * All-int64 arithmetic: d² = q·q − 2·q·m + m·m over the quantized
    * vectors and the rounded-mean integer centroid (the same bounded
    * centroid construction as [[kmeansAssign]]); one double division
    * per label for the reported mean.
    *
    * Scale shape: centroids are a |labels|-row broadcast; the d²
    * relation is computed once (lazy-persisted — its stats consumer
    * is reached only through the broadcast-back join, the same
    * contract as events_churn) and reduced map-side twice; no window
    * over the corpus, no self-join.
    *
    * The synthetic embeddings concentrate tightly (healthy-encoder
    * regime: zero outliers), so drift is PLANTED deterministically —
    * vectors with vec_id % 97 == 0 are tripled, the
    * magnitude-blowup failure mode — and the gate must find exactly
    * those (cdc_validation's planted-drift convention; the oracle
    * replants identically).
    */
  def embedOutliers(embs: DataFrame): DataFrame = {
    val qv = Vectors.spread(embs).select(col("vec_id"), col("label"),
      when(col("vec_id") % 97 === 0,
        transform(Vectors.quantize(col("embedding")), x => x * 3L))
        .otherwise(Vectors.quantize(col("embedding"))).as("q"))
    val cents = qv.groupBy(col("label"))
      .agg(graft.functions.VecSum.vecSum(col("q")).as("s"),
        count(lit(1)).as("n"))
      .withColumn("m", transform(col("s"),
        x => round(x.cast("double") / col("n")).cast("long")))
      .select(col("label"), col("m"))
    val d2 = graft.CacheScope.lazyPersist(
      qv.join(broadcast(cents), "label")
        .withColumn("d2",
          Vectors.norm2(col("q")) - lit(2L) * Vectors.dot(col("q"), col("m"))
            + Vectors.norm2(col("m")))
        .select(col("label"), col("vec_id"), col("d2")))
    val stats = d2.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("d2")).as("sum_d2"))
    d2.join(broadcast(stats), "label")
      .groupBy(col("label"))
      .agg(max(col("n_vecs")).as("n_vecs"),
        sum(when(col("d2") * col("n_vecs") > lit(4L) * col("sum_d2"), 1L)
          .otherwise(0L)).as("n_outliers"),
        max(col("d2")).as("max_d2"),
        (max(col("sum_d2")).cast("double") / max(col("n_vecs")).cast("double"))
          .as("mean_d2"))
      .orderBy(col("label"))
  }

  // --- product quantization --------------------------------------

  /** PQ geometry: 64-dim vectors split into `PqSub` contiguous
    * sub-vectors of `PqWidth` components; each subspace's codebook
    * has 2^`PqBits` entries. A stored code is PqSub·PqBits = 16 bits
    * vs 64 float32s — the 128× memory cut that lets a 100 TB ANN
    * index hold its quantized corpus in executor memory.
    */
  val PqSub = 4
  val PqBits = 4
  val PqWidth: Int = Dedup.EmbDim / PqSub

  /** Deterministic per-subspace SRP hyperplane (seed family "pq", one
    * plane per (subspace, bit)); same [-1000,1000] weight law as
    * [[Vectors.srpPlanes]], regenerated identically by the oracle.
    */
  def pqPlane(j: Int, p: Int): Seq[Long] =
    (0 until PqWidth).map(i =>
      Vectors.jvmPHash(s"pq#$j#$p#$i") % 2001 - 1000)

  /** Product-quantization codebook report. Codebooks are built
    * deterministically, not by iterative k-means: sub-vectors get an
    * initial cell from PqBits SRP sign bits (data-dependent,
    * reproducible), each cell takes the ROUNDED-MEAN integer
    * sub-centroid (bounded by the quantization scale at any cell
    * size — the [[topKAnnIvf]] overflow argument), and one refine
    * E-step reassigns every sub-vector to its nearest centroid by
    * exact integer d². The report grades the codebook: per (subspace,
    * code) the population and reconstruction error — the
    * calibration a pipeline reads before replacing floats with codes.
    *
    * Scale shape: sign bits and slices are per-row codegen math (the
    * planes are literals); centroids are ONE (sub, code, component)
    * shuffle of the flattened corpus; the refine fan-out joins the
    * ≤ PqSub·2^PqBits·PqWidth-row centroid relation BROADCAST, then
    * one (vec, sub) reduce. The corpus never self-joins, and output
    * is bounded at PqSub·2^PqBits rows.
    */
  def pqReport(embs: DataFrame): DataFrame = {
    val (_, _, chosen, _) = pqParts(embs)
    chosen
      .groupBy(col("sub").cast("long").as("subspace"), col("code"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("d2")).as("sum_d2"),
        (sum(col("d2")).cast("double") / count(lit(1))).as("avg_d2"))
      .orderBy(col("subspace"), col("code"))
  }

  /** Shared PQ model builder: (flat sub-components, codebook,
    * chosen assignment, optional probe LUT). `flat` is (vec_id, sub,
    * il, v); `comp` the rounded-mean codebook (sub, code, il, m),
    * ≤ PqSub·2^PqBits·PqWidth rows; `chosen` the refined per-(vec,
    * sub) assignment with its reconstruction d². comp and chosen are
    * materialized — [[pqReport]] reads chosen once, [[topKAnnPq]]
    * reads all three.
    *
    * `withProbeLut = true` additionally builds the probes'
    * asymmetric-distance lookup table (probe_id, sub, code, pd2) the
    * ADC rankers share, and — since the LUT depends only on flat+comp
    * while `chosen` pays its own window barrier on the corpus — the
    * two materialize CONCURRENTLY (guide §2.6): the LUT build rides
    * the chosen barrier instead of serializing after it on the
    * consumer's critical path (it used to build lazily inside the
    * consumer's final action, gating the broadcast every ADC scan
    * waits on).
    */
  private def pqParts(embs: DataFrame,
      normalized: Boolean = false, withProbeLut: Boolean = false)
      : (DataFrame, DataFrame, DataFrame, Option[DataFrame]) = {
    // materialized: the 16 sign-bit dots + the flatten each reference
    // `q`, and CollapseProject would otherwise inline the (for the
    // normalized path, sqrt-per-element) quantize transform into
    // EVERY reference — measured 12× on the ADC scan
    val qv = materialize(
      if (normalized) Vectors.quantizedNormalized(embs)
      else Vectors.quantized(embs).select(col("vec_id"), col("q")))
    // initial code per subspace: PqBits sign bits over the sub-slice
    val codeCols = (0 until PqSub).map { j =>
      val sub = slice(col("q"), j * PqWidth + 1, PqWidth)
      (0 until PqBits).map { p =>
        when(Vectors.dot(sub, typedlit(pqPlane(j, p))) >= 0,
          lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ + _).as(s"c$j")
    }
    val coded = qv.select(col("vec_id") +: col("q") +: codeCols: _*)
    val flat = coded
      .select(col("vec_id"),
        array((0 until PqSub).map(j => col(s"c$j")): _*).as("codes"),
        posexplode(col("q")).as(Seq("i", "v")))
      .select(col("vec_id"),
        (col("i") / PqWidth).cast("int").as("sub"),
        (col("i") % PqWidth).as("il"),
        element_at(col("codes"), (col("i") / PqWidth).cast("int") + 1)
          .as("code0"),
        col("v"))
    val comp = materialize(flat
      .groupBy(col("sub"), col("code0").as("code"), col("il"))
      .agg(round(sum(col("v")).cast("double") / count(lit(1)))
        .cast("long").as("m")))
    val d2 = flat
      .join(broadcast(comp), Seq("sub", "il"))
      .groupBy(col("vec_id"), col("sub"), col("code"))
      .agg(sum((col("v") - col("m")) * (col("v") - col("m"))).as("d2"))
    val w = Window.partitionBy(col("vec_id"), col("sub"))
      .orderBy(col("d2"), col("code"))
    val chosenDf = d2.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("sub"), col("code"), col("d2"))
    if (!withProbeLut) (flat, comp, materialize(chosenDf), None)
    else {
      val lutDf = flat.filter(col("vec_id") < NumProbes)
        .select(col("vec_id").as("probe_id"), col("sub"), col("il"),
          col("v"))
        .join(broadcast(comp), Seq("sub", "il"))
        .groupBy(col("probe_id"), col("sub"), col("code"))
        .agg(sum((col("v") - col("m")) * (col("v") - col("m"))).as("pd2"))
      val (chosen, lut) = Par.run2(
        () => materialize(chosenDf), () => materialize(lutDf))
      (flat, comp, chosen, Some(lut))
    }
  }

  /** PQ-ADC approximate top-k: the payoff of [[pqReport]]'s codebook.
    * Each probe precomputes an asymmetric-distance lookup table —
    * exact integer d² from its own sub-vector to EVERY codebook
    * centroid (≤ PqSub·2^PqBits entries per probe) — and a
    * candidate's approximate distance is then the SUM of 4 table
    * lookups keyed by its stored codes, never a touch of its floats.
    * This is how a 100 TB corpus ranks under a per-node memory
    * budget: the scan reads 16-bit codes (the 128× cut), the LUT
    * rides broadcast, and only the emitted top-k would ever fetch
    * full vectors for re-ranking.
    *
    * The scan runs on NORMALIZED-quantized vectors
    * ([[Vectors.quantizedNormalized]]): on the unit sphere L2 is a
    * monotone proxy for cosine (‖a−b‖² = 2−2cosθ), so the ADC
    * ranking targets the same order the exact cosine baseline
    * produces — `sim_ann_pq_recall` measures what the 16-bit
    * compression still loses.
    */
  def topKAnnPq(embs: DataFrame): DataFrame = {
    // the probe LUT materializes concurrently with `chosen` inside
    // pqParts (§2.6) instead of building lazily under this ranking's
    // final action, where its broadcast gated the code scan
    val (_, _, chosen, lutOpt) =
      pqParts(embs, normalized = true, withProbeLut = true)
    val codes = chosen.select(col("vec_id"), col("sub"), col("code"))
    val lut = lutOpt.get
    val scored = codes.join(broadcast(lut), Seq("sub", "code"))
      .filter(col("vec_id") =!= col("probe_id"))
      .groupBy(col("probe_id"), col("vec_id").as("neighbor_id"))
      .agg(sum(col("pd2")).as("approx_d2"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("approx_d2"), col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= TopK)
      .select(col("probe_id"), col("neighbor_id"), col("approx_d2"), col("rk"))
  }

  /** IVF-PQ composed index: the coarse quantizer prunes the corpus to
    * each probe's `nProbe` nearest cells ([[ivfTopCells]] — the same
    * cell selection `sim_ann_ivf` ranks exactly within), and the
    * ADC code scan ([[topKAnnPq]]'s LUT) ranks ONLY those cells'
    * members by summed sub-quantizer distances — no candidate's
    * floats are ever touched. This is the shape a 100 TB ANN
    * deployment actually runs: IVF bounds the scan to
    * nProbe/#cells of the corpus, PQ bounds the bytes per scanned
    * row to the code width, and the recall gauge
    * (`sim_ann_ivf_pq_recall`) prices the two approximations
    * together against the exact ranking.
    *
    * Scale shape: candidates come from an equi-join of the
    * (probes·nProbe)-row cell list against the cell-keyed corpus
    * (never a cross join); the codebook LUT rides broadcast
    * (≤ probes·PqSub·2^PqBits rows); the only corpus-sized
    * exchanges are the code join on vec_id and one
    * (probe, candidate) reduce bounded by the probed-cell mass.
    */
  def topKAnnIvfPq(embs: DataFrame, nProbe: Int = IvfNProbe): DataFrame = {
    val lab = embs.select(col("vec_id"), col("label"))
    // the coarse quantizer's relation and the PQ model share no data
    // dependency until the scored join — materialize them
    // concurrently (§2.6) instead of paying the coarse barrier, then
    // the model's three barriers, back to back; the probe LUT rides
    // the model's chosen barrier inside pqParts
    val (coarseQv, pqm) = Par.run2(
      () => materialize(Vectors.quantized(embs)),
      () => pqParts(embs, normalized = true, withProbeLut = true))
    val topCells = ivfTopCells(coarseQv, lab, nProbe)
    val cands = topCells
      .join(lab.toDF("vec_id", "label"), "label")
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"))
    val (_, _, chosen, lutOpt) = pqm
    val codes = chosen.select(col("vec_id"), col("sub"), col("code"))
    val lut = lutOpt.get
    val scored = cands
      .join(codes, "vec_id")
      .join(broadcast(lut), Seq("probe_id", "sub", "code"))
      .groupBy(col("probe_id"), col("vec_id").as("neighbor_id"))
      .agg(sum(col("pd2")).as("approx_d2"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("approx_d2"), col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= TopK)
      .select(col("probe_id"), col("neighbor_id"), col("approx_d2"), col("rk"))
  }

  /** Embedding covariance matrix (upper triangle) in ONE pass: the
    * d×d second-moment statistic every whitening / PCA / Mahalanobis
    * step downstream of an embedding corpus starts from. Sufficient
    * statistics — n, Σx (native vec_sum) and Σxxᵀ (native
    * vec_outer_sum) — aggregate over the int64-quantized vectors, so
    * every matrix entry is EXACT and order-independent; the sample
    * covariance is then ONE fixed double expression per entry
    * ((n·Σxᵢxⱼ − Σxᵢ·Σxⱼ) / (n·(n−1)), in quantized units²),
    * bit-identical cross-engine.
    *
    * Scale shape: one scan, no shuffle of row-sized data at all —
    * map-side partials carry a d(d+1)/2 long buffer (16 KB at d=64)
    * and merge pairwise to a 1-row relation; the (i,j) grid explode
    * runs on that single row. The relational twin (self-join of the
    * component explode) would shuffle n·d²/2 rows — this is the
    * aggregate-pushdown the custom TypedImperativeAggregate exists
    * for.
    */
  def covariance(embs: DataFrame): DataFrame = {
    val q = embs.select(Vectors.quantize(col("embedding")).as("q"))
    val agg = q.agg(count(lit(1)).as("n"),
      graft.functions.VecSum.vecSum(col("q")).as("s"),
      graft.functions.VecOuterSum.vecOuterSum(col("q")).as("oo"))
    agg
      .select(col("n"), col("s"), col("oo"),
        explode(sequence(lit(0L), size(col("s")).cast("long") - 1L)).as("i"))
      .select(col("n"), col("s"), col("oo"), col("i"),
        explode(sequence(col("i"), size(col("s")).cast("long") - 1L)).as("j"))
      .withColumn("sum_i", element_at(col("s"), (col("i") + 1).cast("int")))
      .withColumn("sum_j", element_at(col("s"), (col("j") + 1).cast("int")))
      .withColumn("sum_ij", element_at(col("oo"),
        (col("i") * size(col("s")).cast("long")
          - expr("(i * (i - 1)) DIV 2") + col("j") - col("i") + 1L).cast("int")))
      .withColumn("cov",
        (col("n").cast("double") * col("sum_ij").cast("double")
          - col("sum_i").cast("double") * col("sum_j").cast("double"))
          / (col("n").cast("double") * (col("n") - 1).cast("double")))
      .select(col("i"), col("j"), col("n"), col("sum_i"), col("sum_j"),
        col("sum_ij"), col("cov"))
      .orderBy(col("i"), col("j"))
  }

  /** Dominant eigenvector of the embedding second-moment matrix by
    * fixed-iteration power method — the top-PCA-direction step a
    * whitening / drift-monitoring pipeline runs after
    * [[covariance]]. Engine-reproducible because EVERY step is exact
    * integer arithmetic: M = Σqqᵀ from the one-pass vec_outer_sum
    * statistic (int64), v₀ = 1000·𝟙, iterate u = M·v then
    * renormalize v ← (u·1000) div max|u| (truncating integer
    * division — identical toward-zero semantics in Spark `div` and
    * DuckDB `//`; no sqrt, no float accumulation anywhere). The
    * Rayleigh quotient ships as the exact int64 pair
    * (ray_num = vᵀMv, ray_den = vᵀv) plus their ONE double division
    * — both casts are long→double, correctly rounded in both
    * engines.
    *
    * Overflow headroom (int64): u ≤ d·max|M|·1000 and
    * ray_num ≤ d·1000·max|u| — at d=64 that holds to max|M| ≈ 1.4e11
    * (≈ 5e6 rows of unit vectors at quantize scale 1000); beyond
    * that, widen the two sums to decimal as the covariance Scaladoc
    * prescribes. The driver loop itself uses multiplyExact/addExact,
    * so exceeding the headroom throws an ArithmeticException naming
    * the operator — never a silent wrap.
    *
    * Scale shape: the corpus is touched ONCE (the same partial-
    * aggregate scan as [[covariance]]); the d² statistic is a
    * BOUNDED collect (≤ 17 KB at d=64, independent of corpus size)
    * and the iteration is driver-local long arithmetic — the same
    * bounded-relation exemption the IVF centroid rounding uses.
    */
  def pcaPower(embs: DataFrame, iters: Int = 3): DataFrame = {
    val spark = embs.sparkSession
    val q = embs.select(Vectors.quantize(col("embedding")).as("q"))
    // ONE distributed pass reduces the corpus to the d(d+1)/2
    // sufficient statistic; collecting it is a BOUNDED collect
    // (≤ 17 KB at d=64, independent of corpus size — the same
    // bounded-relation rule the IVF centroids follow). Iterating
    // d×d×iters on the driver beats 4·iters tiny Spark stages
    // (measured: 0.4 s vs 2.3 s at sf0.1 — the cluster work is the
    // scan; the iteration is microseconds of long arithmetic).
    val row = q.agg(
      graft.functions.VecOuterSum.vecOuterSum(col("q")).as("oo"))
      .collect()(0)
    val oo = row.getAs[collection.Seq[Long]]("oo")
    // recover d from the triangle length d(d+1)/2
    val d = ((math.sqrt(8.0 * oo.length + 1) - 1) / 2).round.toInt
    require(d * (d + 1) / 2 == oo.length,
      s"vec_outer_sum length ${oo.length} is not a triangle number")
    val m = Array.ofDim[Long](d, d)
    var k = 0
    for (i <- 0 until d; j <- i until d) {
      m(i)(j) = oo(k); m(j)(i) = oo(k); k += 1
    }
    var v = Array.fill(d)(1000L)
    // every product/sum is -Exact: past the documented headroom the
    // iteration must fail loudly, not wrap into a wrong eigenvector
    def mv(row: Int, vec: Array[Long]): Long = {
      var s = 0L; var j = 0
      while (j < d) {
        try s = Math.addExact(s, Math.multiplyExact(m(row)(j), vec(j)))
        catch { case _: ArithmeticException =>
          throw new ArithmeticException(
            "pcaPower: int64 overflow in M*v — corpus exceeds the " +
              "documented headroom; widen the moment sums to decimal") }
        j += 1
      }
      s
    }
    for (_ <- 1 to iters) {
      val u = Array.tabulate(d)(i => mv(i, v))
      val mx = u.map(math.abs).max
      // multiplyExact here too: the ×1000 renormalize is the FIRST
      // product to overflow past the headroom (|u| > 9.2e15), and an
      // unchecked wrap would quietly corrupt the eigenvector
      v = u.map(x =>
        if (mx == 0) 0L else Math.multiplyExact(x, 1000L) / mx)
    }
    val ul = Array.tabulate(d)(i => mv(i, v))
    val num = (0 until d).map(i => Math.multiplyExact(v(i), ul(i)))
      .reduce(Math.addExact(_, _))
    val den = v.map(x => Math.multiplyExact(x, x)).reduce(Math.addExact(_, _))
    val lambda = num.toDouble / den.toDouble
    import spark.implicits._
    (0 until d).map(i => (i.toLong, v(i), num, den, lambda))
      .toDF("i", "v", "ray_num", "ray_den", "lambda")
      .orderBy(col("i"))
  }

  /** Per-label energy along the dominant principal axis: project
    * every quantized vector onto [[pcaPower]]'s integer eigenvector
    * (exact int64 dot), then per label report the projection's
    * count/Σ/Σ² and mean/variance — the subspace-collapse monitor
    * (a label whose variance along the top axis collapses is
    * duplicating content; one whose mean drifts is shifting
    * semantics). Projections are exact; Σs² aggregates in decimal so
    * no float ordering enters; mean/var are fixed double expressions
    * over the exact sums.
    *
    * Scale shape: the eigenvector is a d-long broadcast literal
    * (driver-bounded by d, like the IVF centroids); projection is
    * map-only native long_dot inside codegen; ONE label-keyed
    * aggregate with map-side partials.
    */
  def subspaceEnergy(embs: DataFrame): DataFrame = {
    val v = pcaPower(embs).collect().sortBy(_.getAs[Long]("i"))
      .map(_.getAs[Long]("v"))
    val vLit = array(v.map(lit(_)): _*)
    val proj = embs.select(col("label"),
      Vectors.dot(Vectors.quantize(col("embedding")), vLit).as("s"))
    proj.groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(col("s")).as("sum_s"),
        // decimal sum, narrowed back to the EXACT int64 (overflow
        // surfaces as NULL, not a wrap; headroom ~2e18 ≈ 500k rows
        // at these norms — widen the output column beyond that)
        sum(col("s").cast("decimal(22,0)") * col("s").cast("decimal(15,0)"))
          .cast("long").as("sum_s2"))
      .withColumn("mean_s",
        col("sum_s").cast("double") / col("n").cast("double"))
      .withColumn("var_s",
        when(col("n") > 1,
          (col("n").cast("double") * col("sum_s2").cast("double")
            - col("sum_s").cast("double") * col("sum_s").cast("double"))
            / (col("n").cast("double") * (col("n") - 1).cast("double"))))
      .orderBy(col("label"))
  }

  /** Per-dimension drift between the corpus's two ingestion epochs
    * (first half vs second half of the vec_id range): the
    * distribution monitor that catches a silent encoder swap or
    * preprocessing change mid-ingestion before it poisons training.
    * Epoch assignment is exact integer math against a 1-row
    * broadcast of the id bounds; per-epoch means are ONE double
    * division each over exact int sums.
    *
    * Scale shape: one pass, one 2-group vec_sum aggregate (shuffle
    * carries 2·dim longs), dims explode from the 2-row result;
    * output is d rows.
    */
  def epochDrift(embs: DataFrame): DataFrame = {
    val bounds = embs.agg(min(col("vec_id")).as("lo"), max(col("vec_id")).as("hi"))
    val q = embs.crossJoin(broadcast(bounds))
      .withColumn("epoch", expr("((vec_id - lo) * 2) div (hi - lo + 1)"))
      .select(col("epoch"), Vectors.quantize(col("embedding")).as("q"))
    val agg = q.groupBy(col("epoch"))
      .agg(count(lit(1)).as("n"),
        graft.functions.VecSum.vecSum(col("q")).as("s"))
    val dims = agg.select(col("epoch"), col("n"),
      posexplode(col("s")).as(Seq("i", "sum_q")))
    val a = dims.filter(col("epoch") === 0)
      .select(col("i").cast("long").as("i"),
        col("n").as("n_a"), col("sum_q").as("sum_a"))
    val b = dims.filter(col("epoch") === 1)
      .select(col("i").cast("long").as("i"),
        col("n").as("n_b"), col("sum_q").as("sum_b"))
    a.join(b, "i")
      .withColumn("mean_a", col("sum_a").cast("double") / col("n_a").cast("double"))
      .withColumn("mean_b", col("sum_b").cast("double") / col("n_b").cast("double"))
      .withColumn("delta", col("mean_b") - col("mean_a"))
      .orderBy(col("i"))
  }
}
