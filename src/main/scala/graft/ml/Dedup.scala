package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Portable

/** Deduplication family for a training-data pipeline (SURVEY.md §2C):
  * exact, MinHash+LSH, SimHash, n-gram Jaccard verification, and
  * embedding-cosine near-dup — all LSH-bucketed, never all-pairs.
  *
  * Scale design (the 100 TB gate):
  *  - Candidate generation is ALWAYS a bucket equi-join (LSH band
  *    hash or SimHash/SRP bucket) — cost O(Σ bucket²), never O(n²).
  *  - Signatures are one explode + one groupBy per doc (a single
  *    shuffle on doc_id); band hashes are per-row math after that.
  *  - Exact verification (Jaccard / cosine) runs only on candidate
  *    pairs, which the band join has already made tiny.
  *  - Hot buckets (boilerplate docs) are the classic skew source:
  *    AQE skew-join handles them; band hashes are 60-bit so benign
  *    buckets don't alias.
  */
object Dedup {

  val NumHashes = 8
  val Bands = 4
  val RowsPerBand = NumHashes / Bands // 2
  val ShingleN = 3

  // --- exact ------------------------------------------------------

  /** Exact-dup groups: md5 fingerprint of normalized text. Emits one
    * row per fingerprint group (singletons included — the canonical
    * selection is what downstream keeps), with group size and the
    * kept (minimum) doc id.
    */
  def exactGroups(docs: DataFrame): DataFrame =
    docs.withColumn("fp", md5(Portable.normText(col("text"))))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical_id"))

  /** Incremental dedup: a NEW batch of documents (odd doc ids here;
    * in production the day's crawl) deduped against an existing
    * corpus snapshot's fingerprint set (even doc ids), then within
    * itself. Per source: batch size, dups already in the snapshot,
    * dups repeated inside the batch, and the net-new unique docs.
    *
    * Scale shape: the snapshot side reduces to DISTINCT fingerprints
    * before the join (at 100 TB that set is the dedup index you'd
    * keep materialized); one left join + one window, both keyed on
    * fp, then a tiny per-source aggregate. No full-corpus re-dedup
    * to ingest a batch.
    */
  def incrementalSummary(docs: DataFrame): DataFrame = {
    val fp = docs.select(col("doc_id"), col("source"),
      md5(Portable.normText(col("text"))).as("fp"))
    val snap = fp.filter(col("doc_id") % 2 === 0)
      .select(col("fp")).distinct().withColumn("in_snap", lit(1))
    val batch = fp.filter(col("doc_id") % 2 === 1)
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    batch.join(snap, Seq("fp"), "left")
      .withColumn("rn", row_number().over(w))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_batch"),
        sum(when(col("in_snap").isNotNull, 1L).otherwise(0L))
          .as("n_dup_vs_snapshot"),
        sum(when(col("in_snap").isNull && col("rn") > 1, 1L).otherwise(0L))
          .as("n_dup_within_batch"),
        sum(when(col("in_snap").isNull && col("rn") === 1, 1L).otherwise(0L))
          .as("n_new_unique"))
  }

  // --- shingling + MinHash ----------------------------------------

  /** Explicit-width repartition: the per-row lambda/hash work below
    * is CPU-heavy but byte-light, so AQE's size-based coalescing
    * (and a single input split) would serialize it on one core —
    * an explicit partition count pins the parallelism.
    */
  private def spread(df: DataFrame, key: Column): DataFrame =
    df.repartition(
      df.sparkSession.sessionState.conf.numShufflePartitions, key)

  /** Word `ShingleN`-gram shingles of normalized text, one row per
    * (doc_id, shingle). Shingles (not unigrams) are what make MinHash
    * discriminative: random docs share words but not word-triples.
    *
    * Implemented as a per-row array transform with the tokenizer
    * MATERIALIZED below an exchange: the naive single-select lambda
    * form lets CollapseProject inline the tokenizer (split+regexp)
    * into every element_at, recomputing it ~3·len times per doc — but
    * projecting the token array first and repartitioning pins the
    * tokenize below the exchange (projects can't collapse across it),
    * so each doc tokenizes once and the shingle lambda reads the
    * materialized array. This beats the earlier window/lead
    * formulation ~3×: no exploded 3·len-row relation to sort per doc,
    * no window state — one explode of ready-made shingles.
    */
  def shingles(docs: DataFrame): DataFrame = {
    val toks = spread(
      docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks")),
      col("doc_id"))
    toks.select(col("doc_id"), explode(shingleArray(col("toks"))).as("shingle"))
  }

  /** The `ShingleN`-gram array over a materialized token array —
    * shared by [[shingles]] and Corpus.sourceOverlap (which carries a
    * different key through the explode). sequence() needs the size
    * guard: docs with < ShingleN tokens would get a DESCENDING
    * sequence (negative stop), not an empty one.
    */
  def shingleArray(toks: Column): Column = shingleArrayN(toks, ShingleN)

  /** [[shingleArray]] at an arbitrary width — the contamination
    * curve sweeps the gate's n-gram size over one tokenized corpus.
    */
  def shingleArrayN(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n), i =>
        concat_ws(" ",
          (0 until n).map(j => element_at(toks, i + j + 1)): _*)))
      .otherwise(array())

  /** DuckDB twin of `shingles` as a CTE body over `documents`. */
  def duckShingles: String = duckShinglesN(ShingleN)

  /** DuckDB twin of width-`n` shingling (string concat with a NULL
    * lead is NULL, so the trailing incomplete windows drop in the
    * WHERE — same row set as [[shingleArrayN]]'s size guard).
    * `rel` names the document relation — "documents" normally, a
    * hash-gated CTE for the sample-bounded curve oracles.
    */
  def duckShinglesN(n: Int, rel: String = "documents"): String = {
    val parts = (0 until n)
      .map(j => if (j == 0) "tok" else s"lead(tok, $j) OVER w")
      .mkString(" || ' ' || ")
    s"""SELECT doc_id, shingle FROM (
       |  SELECT doc_id, $parts AS shingle
       |  FROM (
       |    SELECT doc_id, generate_subscripts(l, 1) AS i, unnest(l) AS tok
       |    FROM (SELECT doc_id, ${TextAnalysis.duckTokens("text")} AS l FROM $rel))
       |  WINDOW w AS (PARTITION BY doc_id ORDER BY i))
       |WHERE shingle IS NOT NULL""".stripMargin
  }

  /** MinHash signatures: per doc, min over its shingles of the
    * Kirsch-Mitzenmacher family h_i = h1 + i·h2, where (h1, h2) come
    * from ONE md5 per shingle (Portable.pHashPair) — the md5+conv
    * digest was the hottest loop, so the family is derived
    * arithmetically instead of hashing NumHashes times. One shuffle
    * on doc_id; the mins are map-side partial aggregates.
    */
  def minhashSignatures(sh: DataFrame): DataFrame =
    withHashPair(sh).groupBy(col("doc_id"))
      .agg(
        min(famHash(0)).as("mh0"),
        (1 until NumHashes).map(i => min(famHash(i)).as(s"mh$i")): _*)

  private def withHashPair(sh: DataFrame): DataFrame = {
    val (h1, h2) = Portable.pHashPair(col("shingle"))
    sh.select(col("doc_id"), h1.as("h1"), h2.as("h2"))
  }

  private def famHash(i: Int): Column = col("h1") + lit(i.toLong) * col("h2")

  /** Signatures + set size in ONE aggregation over an already
    * DISTINCT shingle relation. (Folding a countDistinct into the
    * same aggregate instead is ~20× slower: the distinct-aggregate
    * EXPAND doubles every row through all the min-aggregates.)
    */
  def signaturesWithSize(shDistinct: DataFrame): DataFrame =
    withHashPair(shDistinct).groupBy(col("doc_id"))
      .agg(
        min(famHash(0)).as("mh0"),
        (1 until NumHashes).map(i => min(famHash(i)).as(s"mh$i")) :+
          count(lit(1)).as("set_size"): _*)

  /** LSH banding: hash each band's minhash slice to a bucket id.
    * Output: (doc_id, band, bh) — the join key for candidates.
    * One posexplode pass (NOT a per-band union, which would re-run
    * the whole upstream signature pipeline once per band).
    */
  def bandBuckets(sigs: DataFrame): DataFrame = {
    val bandCols = (0 until Bands).map { b =>
      val slice = (0 until RowsPerBand)
        .map(j => col(s"mh${b * RowsPerBand + j}").cast("string"))
      Portable.pHash(concat_ws(",", slice: _*))
    }
    sigs.select(col("doc_id"),
      posexplode(array(bandCols: _*)).as(Seq("band", "bh")))
  }

  /** The ONE place candidate pairs materialize: self-join a
    * (id, band-key...) relation on its band key, canonical order
    * id_a < id_b, distinct. Every candidate generator in the file
    * (minhash banding, SimHash pigeonhole bands, SRP buckets) is an
    * instance, so a skew/strategy change lands in all of them at
    * once.
    */
  private[ml] def bucketJoinPairs(
      buckets: DataFrame, idCol: String, keyCols: Seq[String],
      outPrefix: String, cap: Int = NoCap): DataFrame = {
    val kept = capBucketMembers(buckets, idCol, keyCols, cap)
    val a = kept.select(
      keyCols.map(col) :+ col(idCol).as(s"${outPrefix}_a"): _*)
    val b = kept.select(
      keyCols.map(c => col(c).as(s"${c}_b")) :+
        col(idCol).as(s"${outPrefix}_b"): _*)
    val cond = keyCols.map(c => col(c) === col(s"${c}_b"))
      .reduce(_ && _) && col(s"${outPrefix}_a") < col(s"${outPrefix}_b")
    a.join(b, cond)
      .select(col(s"${outPrefix}_a"), col(s"${outPrefix}_b"))
      .distinct()
  }

  /** Sentinel: no per-bucket candidate cap. */
  val NoCap: Int = Int.MaxValue

  /** The deterministic fair order a capped bucket keeps its members
    * in: portable hash of "id:key..." (bucket-DEPENDENT, so a member
    * ranked out of one oversized bucket is independently re-drawn in
    * its other bands' buckets — an id-only order would evict the same
    * ids everywhere), id tie-break. Exposed as a function so the
    * DuckDB oracle and specs compute the identical order.
    */
  private[graft] def capOrder(idCol: String, keyCols: Seq[String]): Column =
    Portable.pHash(concat_ws(":",
      (col(idCol) +: keyCols.map(col)).map(_.cast("string")): _*))

  /** Per-bucket member cap — the guardrail on the O(bucket²) hot
    * bucket every LSH candidate generator is exposed to (a 100 TB
    * corpus with near-constant boilerplate makes one bucket hold a
    * corpus-fraction of docs; AQE splits the wall-clock but the WORK
    * stays quadratic). A bucket with m ≤ cap members is untouched; an
    * oversized bucket keeps exactly `cap` members in the [[capOrder]]
    * fair order. Work per bucket is then O(cap²) and total candidate
    * work O(n·cap) — linear in the corpus.
    *
    * NEVER silent: pair it with [[capCensus]] (the dropped-mass
    * report) — the census and this selection share the order and the
    * arithmetic, so the report prices exactly what the cap drops.
    *
    * Scale shape: the row_number ≤ cap filter is WindowGroupLimit-
    * prunable (map-side top-cap per bucket BEFORE the exchange), so
    * a hot bucket is trimmed before it is ever shuffled. The trailing
    * repartition(id) restores the id-hash partitioning the input
    * carried out of its cached upstream — WITHOUT it the window's
    * (bucket-key) exchange becomes the relation's partitioning, the
    * downstream pair-distinct and per-id joins each re-shuffle the
    * PAIR relation (corpus² mass, measured 6× on sim_knn_graph at a
    * 20k-vector corpus: 3.3 s → 20.6 s as AQE demoted the scoring
    * join to a 589 MiB sort-merge), while re-hashing the capped
    * MEMBER relation costs one narrow 3-long-per-row exchange.
    *
    * BENIGN-DATA FAST PATH: before building the window, one map-side-
    * combined bucket-size aggregate (capCensus's first half — slim
    * (key, count) rows, LIMIT-1 after the over-cap filter) asks
    * whether ANY bucket exceeds the cap. If none does, the window
    * would keep every row — so it, its bucket-key exchange, and the
    * restore-repartition are SKIPPED and the input relation passes
    * through untouched (result-identical; the uncapped cap==NoCap
    * path already hands downstream consumers this same partitioning).
    * The minhash-skew A/B had priced the always-on window at ~0.5 s
    * FIXED overhead per capped generator on data the cap never
    * bites; the pre-census replaces that with one cheap aggregate.
    * On HOT data the census is pure overhead, but it is one linear
    * slim aggregate against the quadratic candidate join the cap is
    * about to bound — noise at the scales where the cap matters.
    * Callers materialize the bucket relation's upstream (signatures
    * / quantized vectors), so the census does not recompute the
    * expensive pipeline, only the bucket projection.
    *
    * EAGER-COMPOSITION CONTRACT (documented, deliberate): this is a
    * plan BUILDER that runs one Spark job (the pre-census) at
    * construction time, and the plan it returns is therefore
    * data-dependent at build time — a plan-only flow (`df.explain`,
    * `Audit explain`) executes the census even if the returned frame is
    * never acted on, and the benign/hot decision is FROZEN into the
    * returned plan. Both properties are the point: the decision must
    * precede planning to delete the window + two exchanges, and the
    * inputs are immutable snapshots within a query scope. The verdict
    * is memoized via [[graft.CacheScope.memoize]] keyed on the
    * CANONICALIZED bucket plan + keys + cap, so every capped
    * generator over the same bucket relation (and every re-build of
    * the same query in one scope) pays the census job once;
    * [[graft.CacheScope.releaseAll]] — the same boundary that
    * releases the materialized upstream — drops the memo, so a
    * handle re-used across scopes over CHANGED underlying data
    * re-derives rather than keeping a stale cap path.
    */
  private[graft] def capBucketMembers(
      buckets: DataFrame, idCol: String, keyCols: Seq[String],
      cap: Int): DataFrame = {
    require(cap >= 2, s"a candidate cap below 2 generates no pairs: $cap")
    if (cap == NoCap) buckets
    else {
      val anyHot = graft.CacheScope.memoize(
        ("capBucketMembers.anyHot",
          buckets.queryExecution.analyzed.canonicalized, keyCols, cap)) {
        !buckets.groupBy(keyCols.map(col): _*)
          .agg(count(lit(1)).as("m"))
          .filter(col("m") > cap)
          .isEmpty
      }
      if (!anyHot) buckets
      else {
        val w = Window.partitionBy(keyCols.map(col): _*)
          .orderBy(capOrder(idCol, keyCols), col(idCol))
        buckets.withColumn("cap_rk", row_number().over(w))
          .filter(col("cap_rk") <= cap)
          .drop("cap_rk")
          .repartition(col(idCol))
      }
    }
  }

  /** Dropped-candidate census for a capped bucket join (the "no
    * silent caps" report): per band — bucket count, over-cap (hot)
    * buckets, member mass kept/dropped, and the candidate-pair mass
    * before/after the cap (Σ m(m−1)/2 vs Σ min(m,cap)(min(m,cap)−1)/2,
    * exact integers via shift). The pair columns price the JOIN WORK
    * the generator would do, pre-distinct — the quantity the cap
    * exists to bound. Output |bands| rows off one bucket-key
    * aggregate; never materializes a pair.
    */
  def capCensus(buckets: DataFrame, idCol: String, keyCols: Seq[String],
      cap: Int): DataFrame = {
    require(cap >= 2, s"a candidate cap below 2 generates no pairs: $cap")
    val band = keyCols.head
    val sizes = buckets.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("m"))
    val keptM = least(col("m"), lit(cap.toLong))
    // band → long: a stable census schema whatever integer width the
    // generator's posexplode produced
    sizes.groupBy(col(band).cast("long").as(band))
      .agg(
        count(lit(1)).as("n_buckets"),
        sum(when(col("m") > cap, 1L).otherwise(0L)).as("n_hot_buckets"),
        sum(col("m")).as("n_members"),
        sum(col("m") - keptM).as("n_members_dropped"),
        sum(shiftright(col("m") * (col("m") - 1), 1)).as("n_pairs_uncapped"),
        sum(shiftright(keptM * (keptM - 1), 1)).as("n_pairs_capped"))
      .withColumn("dropped_pair_share",
        when(col("n_pairs_uncapped") > 0,
          (col("n_pairs_uncapped") - col("n_pairs_capped")).cast("double") /
            col("n_pairs_uncapped").cast("double")).otherwise(0.0))
      .orderBy(col(band))
  }

  /** Candidate pairs: docs sharing any band bucket. The self-join is
    * an equi-join on (band, bh) — the only pairs ever materialized.
    */
  def candidatePairs(buckets: DataFrame): DataFrame =
    bucketJoinPairs(buckets, "doc_id", Seq("band", "bh"), "doc_id")

  /** Multi-consumer intermediates go through CacheScope.materialize
    * so the caller can release them once the query result has been
    * consumed.
    */
  private def materialize(df: DataFrame): DataFrame =
    graft.CacheScope.materialize(df)

  /** Join both endpoints' minhash columns onto candidate pairs and
    * count agreeing positions as `n_match` — shared by the Jaccard
    * estimate ([[minhashPairs]]) and the precision curve
    * ([[lshCalibration]]) so the agreement fold can't desynchronize
    * between them. `extra` names trailing non-signature columns the
    * sigs relation carries (renamed per side to <name>_a / <name>_b).
    */
  private def withAgreement(
      cands: DataFrame, sigs: DataFrame, extra: Seq[String]): DataFrame = {
    val sa = sigs.toDF("doc_id_a" +:
      (0 until NumHashes).map(i => s"a_mh$i") ++: extra.map(_ + "_a"): _*)
    val sb = sigs.toDF("doc_id_b" +:
      (0 until NumHashes).map(i => s"b_mh$i") ++: extra.map(_ + "_b"): _*)
    val matches = (0 until NumHashes)
      .map(i => when(col(s"a_mh$i") === col(s"b_mh$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    cands.join(sa, "doc_id_a").join(sb, "doc_id_b")
      .withColumn("n_match", matches)
  }

  /** Distinct shingles + signature/set-size aggregate for the
    * operators that need exact set semantics (n-gram Jaccard).
    */
  private def distinctSigs(docs: DataFrame): (DataFrame, DataFrame) = {
    val sh = materialize(shingles(docs).distinct())
    // sigs persists lazily: every consumer branch derives it from the
    // already-cached sh with one cheap aggregation, so the races a
    // lazy persist allows only ever recompute that aggregation — not
    // the shingle pipeline — and we save an eager job per query
    (sh, graft.CacheScope.register(signaturesWithSize(sh).persist()))
  }

  /** MinHash near-dup pairs with estimated Jaccard = fraction of
    * agreeing minhashes (computed on candidates only).
    */
  def minhashPairs(docs: DataFrame): DataFrame = minhashPairs(docs, NoCap)

  /** [[minhashPairs]] with a per-bucket candidate cap ([[
    * capBucketMembers]]): the production shape for a boilerplate-
    * heavy corpus where one band bucket can hold a corpus-fraction
    * of docs. Report the dropped mass with [[minhashCapCensus]] at
    * the same cap — never cap silently.
    */
  def minhashPairs(docs: DataFrame, cap: Int): DataFrame = {
    // min-over-shingles is duplicate-insensitive, so the signatures
    // skip the distinct() shuffle the set-semantics operators pay;
    // minhashPairs does not output set sizes
    val sigs = materialize(minhashSignatures(shingles(docs)))
    val cands = bucketJoinPairs(bandBuckets(sigs), "doc_id",
      Seq("band", "bh"), "doc_id", cap)
    withAgreement(cands, sigs, Nil)
      .withColumn("est_jaccard",
        col("n_match").cast("double") / lit(NumHashes.toDouble))
      .select(col("doc_id_a"), col("doc_id_b"), col("n_match"), col("est_jaccard"))
  }

  /** [[capCensus]] over the minhash band buckets — what a cap of
    * `cap` would drop from [[minhashPairs]]' candidate generation.
    */
  def minhashCapCensus(docs: DataFrame, cap: Int): DataFrame =
    capCensus(bandBuckets(minhashSignatures(shingles(docs))),
      "doc_id", Seq("band", "bh"), cap)

  /** Incremental NEAR-dup ingest: [[incrementalSummary]]'s MinHash
    * sibling, the production shape for a standing dedup index
    * receiving a batch. The corpus splits into a standing snapshot
    * (even doc_id — the indexed past) and an incoming batch (odd);
    * ONLY batch docs probe the band index, so per-ingest candidate
    * work is batch-bucket × index-bucket plus within-batch — never a
    * recompute of snapshot×snapshot (the whole point: the index side
    * is 100 TB, the batch is a day). Per source, the batch's
    * candidate mass and verified near-dups (est-Jaccard ≥ 0.5 as the
    * exact integer n_match ≥ [[NearDupMatches]]) split by WHERE the
    * duplicate lives — against the snapshot (re-ingested content) vs
    * within the batch (self-duplication) — plus the clean count an
    * admit gate passes through.
    *
    * Scale shape: signatures aggregate once over the whole corpus
    * (the standing index is amortized in production; here it prices
    * the full rebuild honestly); the probe join is a band/bucket
    * equi-join keyed like every other candidate generator (cap-able
    * via [[capBucketMembers]] the same way); verification is
    * candidate-bounded; explicit zeros for batch docs with no
    * candidates (including too-short-to-shingle).
    */
  def incrementalMinhash(docs: DataFrame): DataFrame = {
    val sigs = materialize(minhashSignatures(shingles(docs)))
    val buckets = bandBuckets(sigs)
    val newB = buckets.filter(pmod(col("doc_id"), lit(2)) === 1)
      .select(col("doc_id").as("doc_id_a"), col("band"), col("bh"))
    val allB = buckets
      .select(col("doc_id").as("doc_id_b"), col("band"), col("bh"))
    val cands = newB.join(allB, Seq("band", "bh"))
      .filter(col("doc_id_a") =!= col("doc_id_b"))
      .select(col("doc_id_a"), col("doc_id_b")).distinct()
    val scored = withAgreement(cands, sigs, Nil)
      .withColumn("vs_snap", pmod(col("doc_id_b"), lit(2)) === 0)
      .withColumn("neardup", col("n_match") >= NearDupMatches)
    val perDoc = scored.groupBy(col("doc_id_a"))
      .agg(
        sum(when(col("vs_snap"), 1L).otherwise(0L)).as("cand_snap"),
        sum(when(!col("vs_snap"), 1L).otherwise(0L)).as("cand_batch"),
        max(when(col("vs_snap") && col("neardup"), 1L).otherwise(0L))
          .as("dup_snap"),
        max(when(!col("vs_snap") && col("neardup"), 1L).otherwise(0L))
          .as("dup_batch"))
    docs.filter(pmod(col("doc_id"), lit(2)) === 1)
      .select(col("doc_id").as("doc_id_a"), col("source"))
      .join(perDoc, Seq("doc_id_a"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_batch"),
        sum(coalesce(col("cand_snap"), lit(0L))).as("n_cand_vs_snapshot"),
        sum(coalesce(col("cand_batch"), lit(0L))).as("n_cand_within_batch"),
        sum(coalesce(col("dup_snap"), lit(0L))).as("n_dup_vs_snapshot"),
        sum(coalesce(col("dup_batch"), lit(0L))).as("n_dup_within_batch"),
        sum(when(coalesce(col("dup_snap"), lit(0L)) === 0L &&
            coalesce(col("dup_batch"), lit(0L)) === 0L, 1L).otherwise(0L))
          .as("n_clean"))
  }

  /** Cap widths swept by [[capRecallCurve]]; a real deployment sweeps
    * up to its production cap.
    */
  val CapCurveCaps: Seq[Int] = Seq(2, 3, 4, 6, 8)

  /** "Near-dup" for the recall curve: est_jaccard ≥ 0.5 ⇔ at least
    * [[NearDupMatches]] of the [[NumHashes]] minhashes agree — exact
    * integer threshold, no float compare.
    */
  val NearDupMatches = 4

  /** Registry rate for the sample-bounded curve variants: 500‰ —
    * low enough that the deterministic gate visibly thins the
    * testdata corpus (the oracle exercises the gate), high enough
    * that the small cap widths still bite on what remains. */
  val CurveSamplePerMille = 500

  /** Per-cap recall tuning curve — the number that JUSTIFIES a cap
    * choice: for each cap width, how many candidate pairs and (more
    * importantly) how many actual near-dup pairs survive, vs the
    * uncapped generator. The census ([[capCensus]]) prices the WORK a
    * cap drops; this prices the RESULT it drops.
    *
    * Mechanics: rank every bucket member in the [[capOrder]] fair
    * order (the exact order [[capBucketMembers]] keeps), then for
    * each uncapped candidate pair compute `cap_needed` = min over
    * shared buckets of max(rank_a, rank_b) — the smallest cap under
    * which the pair still survives (CapSpec pins the equivalence:
    * survives `minhashPairs(docs, c)` ⇔ cap_needed ≤ c). One ranked
    * self-join + one aggregate then serves every cap width.
    *
    * Scale note: this is the one cap query that deliberately PAYS the
    * uncapped O(bucket²) candidate join — it exists to measure what a
    * cap would discard, so it cannot run capped. At 100 TB it runs on
    * a bounded sample, not the corpus: `samplePerMille` gates the
    * DOCUMENT set through the same deterministic (source, doc_id)
    * portable-hash gate as Corpus.sampled / corpus_sample BEFORE any
    * signature work, so the uncapped join's pair mass shrinks
    * quadratically in the rate (a planted hub of h clones contributes
    * ~(rate/1000)²·h²/2 pairs instead of h²/2) while the curve stays
    * the exact curve OF the sampled sub-corpus — identical to running
    * the full pipeline on the pre-filtered documents, so the full-
    * corpus oracle semantics carry over verbatim. The registry runs
    * the full-corpus variant at bench scale where the uncapped join
    * is the measured-safe shape, plus a sampled variant
    * ([[CurveSamplePerMille]]) as the production shape.
    */
  def capRecallCurve(
      docs: DataFrame, caps: Seq[Int] = CapCurveCaps,
      samplePerMille: Int = 1000): DataFrame = {
    require(caps.nonEmpty && caps.forall(_ >= 2),
      s"cap widths below 2 generate no pairs: $caps")
    require(samplePerMille >= 1 && samplePerMille <= 1000,
      s"samplePerMille out of (0, 1000]: $samplePerMille")
    val base =
      if (samplePerMille >= 1000) docs
      else Corpus.sampled(docs, Map.empty, samplePerMille)
    val sigs = materialize(minhashSignatures(shingles(base)))
    val w = Window.partitionBy(col("band"), col("bh"))
      .orderBy(capOrder("doc_id", Seq("band", "bh")), col("doc_id"))
    val ranked = bandBuckets(sigs).withColumn("rk", row_number().over(w))
    val pairs = ranked.select(col("band"), col("bh"),
        col("doc_id").as("doc_id_a"), col("rk").as("rk_a"))
      .join(ranked.select(col("band"), col("bh"),
        col("doc_id").as("doc_id_b"), col("rk").as("rk_b")),
        Seq("band", "bh"))
      .filter(col("doc_id_a") < col("doc_id_b"))
      .select(col("doc_id_a"), col("doc_id_b"),
        greatest(col("rk_a"), col("rk_b")).as("need"))
      .groupBy(col("doc_id_a"), col("doc_id_b"))
      .agg(min(col("need")).as("cap_needed"))
    val scored = withAgreement(pairs, sigs, Nil)
      .select(col("cap_needed"), col("n_match"))
    scored
      .select(explode(array(caps.map(lit): _*)).as("cap"),
        col("cap_needed"), col("n_match"))
      .groupBy(col("cap"))
      .agg(
        sum(when(col("cap_needed") <= col("cap"), 1L).otherwise(0L))
          .as("n_pairs_kept"),
        count(lit(1)).as("n_pairs_total"),
        sum(when(col("cap_needed") <= col("cap")
            && col("n_match") >= NearDupMatches, 1L).otherwise(0L))
          .as("n_neardup_kept"),
        sum(when(col("n_match") >= NearDupMatches, 1L).otherwise(0L))
          .as("n_neardup_total"))
      .withColumn("neardup_recall",
        when(col("n_neardup_total") > 0,
          col("n_neardup_kept").cast("double") /
            col("n_neardup_total").cast("double")).otherwise(1.0))
      .orderBy(col("cap"))
  }

  /** Exact shingle-set intersection count per candidate pair: two
    * co-keyed joins against the DISTINCT shingle relation. Every LSH
    * candidate shares a band ⇒ shares its argmin shingle, so the
    * intersection is never empty and an inner join is exact; sh is
    * distinct, so a plain count is the set intersection. Shared by
    * the Jaccard / containment / calibration verifies.
    *
    * Both join sides are first semi-joined down to CANDIDATE docs:
    * only docs that survived banding can contribute to an
    * intersection, so the (doc_id, shingle)-keyed join shuffles the
    * candidates' shingles instead of the whole corpus vocabulary — a
    * strict volume reduction at any scale (AQE broadcasts the reduced
    * sides locally; at 100 TB they shuffle co-partitioned, still
    * candidate-bounded, never corpus-bounded).
    */
  private def intersections(cands: DataFrame, sh: DataFrame): DataFrame = {
    val candA = cands.select(col("doc_id_a"))
    val candB = cands.select(col("doc_id_b"))
    val shA = sh.toDF("doc_id_a", "shingle")
      .join(candA.distinct(), Seq("doc_id_a"), "left_semi")
    val shB = sh.toDF("id_b2", "shingle_b")
      .join(candB.distinct().toDF("id_b2"), Seq("id_b2"), "left_semi")
    cands
      .join(shA, "doc_id_a")
      .join(shB,
        col("doc_id_b") === col("id_b2") && col("shingle") === col("shingle_b"))
      .groupBy(col("doc_id_a"), col("doc_id_b"))
      .agg(count(lit(1)).as("n_inter"))
  }

  /** Join both endpoints' set sizes onto the intersection counts. */
  private def withSizes(inter: DataFrame, sigs: DataFrame): DataFrame = {
    val sizes = sigs.select(col("doc_id"), col("set_size"))
    inter
      .join(sizes.toDF("doc_id_a", "size_a"), "doc_id_a")
      .join(sizes.toDF("doc_id_b", "size_b"), "doc_id_b")
  }

  /** Exact n-gram Jaccard verification on the LSH candidates: the
    * verify step of the dedup pipeline. Set sizes and intersections
    * are computed with joins over the (distinct) shingle relation —
    * only for candidate docs.
    */
  def ngramJaccardPairs(docs: DataFrame): DataFrame = {
    val (sh, sigs) = distinctSigs(docs)
    val cands = candidatePairs(bandBuckets(sigs))
    withSizes(intersections(cands, sh), sigs)
      .withColumn("jaccard", col("n_inter").cast("double") /
        (col("size_a") + col("size_b") - col("n_inter")).cast("double"))
      .select(col("doc_id_a"), col("doc_id_b"), col("n_inter"),
        col("size_a"), col("size_b"), col("jaccard"))
  }

  /** Thresholds (in hundredths of Jaccard) the yield curve sweeps. */
  val CurveTaus: Seq[Int] = Seq(50, 60, 70, 80, 90, 95)

  /** Dedup yield curve: for each Jaccard threshold τ, how many LSH
    * candidate pairs survive (integer keep test 100·|∩| ≥ τ·|∪|) and
    * how many documents they touch — the tuning curve that decides
    * where to set the near-dup cutoff (what fraction of the corpus a
    * given τ would collapse) before running the actual dedup.
    *
    * Scale shape: rides the SAME candidate-bounded verify pipeline as
    * `dedup_ngram_jaccard` (banding equi-join, co-keyed intersection
    * joins — never all-pairs); the τ sweep is a bounded ×|τ| fan-out
    * of the candidate relation with every τ kept in the aggregate
    * (zero-survivor thresholds still emit a row); distinct touched
    * docs per τ is a two-phase distinct over the endpoint explode.
    * Pairs double under the endpoint explode, so n_pairs = Σkeep/2
    * (exact — every pair contributes two rows).
    */
  def jaccardCurve(docs: DataFrame): DataFrame = {
    val pairs = ngramJaccardPairs(docs)
    val fan = pairs
      .select(col("doc_id_a"), col("doc_id_b"), col("n_inter"),
        (col("size_a") + col("size_b") - col("n_inter")).as("n_union"),
        explode(array(CurveTaus.map(t => lit(t.toLong)): _*)).as("tau"))
      .withColumn("keep",
        lit(100L) * col("n_inter") >= col("tau") * col("n_union"))
    fan
      .select(col("tau"), col("keep"),
        explode(array(col("doc_id_a"), col("doc_id_b"))).as("d"))
      .groupBy(col("tau"))
      .agg(
        (sum(when(col("keep"), 1L).otherwise(0L)) / 2).cast("long")
          .as("n_pairs"),
        countDistinct(when(col("keep"), col("d"))).as("n_docs"))
      .orderBy(col("tau"))
  }

  val EmbCurveTaus: Seq[Long] = Seq(40L, 60L, 80L, 90L)

  /** Semantic-dedup yield curve: the embedding twin of
    * [[jaccardCurve]] — per cosine threshold τ ∈ {.40,.60,.80,.90},
    * the surviving near-dup pairs and docs touched, decided BEFORE a
    * semantic dedup is committed. Thresholds compare as
    * `cos ≥ τ/100` with the division done identically in both
    * engines (correctly-rounded IEEE — same double as the literal).
    *
    * Scale shape: rides [[embeddingPairs]]' SRP-bucketed candidates
    * (its fixed τ=0.40 IS the curve's floor, so the sweep adds no
    * candidates); the ×|τ| fan-out and endpoint explode aggregate in
    * one pass, pairs doubling under the explode (n_pairs = Σkeep/2).
    */
  def embeddingYieldCurve(embs: DataFrame): DataFrame =
    embeddingPairs(embs)
      .select(col("vec_id_a"), col("vec_id_b"), col("cos_sim"),
        explode(array(EmbCurveTaus.map(lit): _*)).as("tau"))
      .withColumn("keep",
        col("cos_sim") >= col("tau").cast("double") / lit(100.0))
      .select(col("tau"), col("keep"),
        explode(array(col("vec_id_a"), col("vec_id_b"))).as("d"))
      .groupBy(col("tau"))
      .agg(
        (sum(when(col("keep"), 1L).otherwise(0L)) / 2).cast("long")
          .as("n_pairs"),
        countDistinct(when(col("keep"), col("d"))).as("n_docs"))
      .orderBy(col("tau"))

  /** Containment verification on the LSH candidates: one-sided
    * overlap |A∩B|/|A| (and /|B|) — the inclusion detector. A short
    * document fully quoted inside a long one scores near-zero
    * symmetric Jaccard (the union is dominated by the long side) but
    * containment ≈ 1 on the short side; passage-extraction and
    * quote-dedup pipelines filter on this, not Jaccard. The
    * `contained` verdict is integer-exact (5·|∩| ≥ 4·min size).
    *
    * Same scale shape as the Jaccard verify: intersections only for
    * banding candidates, sizes from the one-pass signature aggregate.
    */
  def containmentPairs(docs: DataFrame): DataFrame = {
    val (sh, sigs) = distinctSigs(docs)
    val cands = candidatePairs(bandBuckets(sigs))
    withSizes(intersections(cands, sh), sigs)
      .withColumn("containment_a",
        col("n_inter").cast("double") / col("size_a").cast("double"))
      .withColumn("containment_b",
        col("n_inter").cast("double") / col("size_b").cast("double"))
      .withColumn("contained",
        col("n_inter") * 5 >= least(col("size_a"), col("size_b")) * 4)
      .select(col("doc_id_a"), col("doc_id_b"), col("n_inter"),
        col("containment_a"), col("containment_b"), col("contained"))
  }

  /** Edit-distance verification on the LSH candidate pairs: exact
    * Levenshtein distance over the normalized texts, with a relative
    * near-dup verdict (distance ≤ 20% of the longer text, tested in
    * integers: 5·lev ≤ max len). The character-level verify
    * complements the n-gram set Jaccard — it penalizes token
    * reorderings a bag-of-shingles comparison can't see.
    *
    * Scale shape: candidates come from the banding equi-join (never
    * all-pairs); the O(len·len) distance — Spark's codegen'd builtin
    * — runs once per candidate pair only.
    */
  def fuzzyVerifiedPairs(docs: DataFrame): DataFrame = {
    val sigs = materialize(minhashSignatures(shingles(docs)))
    val cands = candidatePairs(bandBuckets(sigs))
    val nt = docs.select(col("doc_id"), Portable.normText(col("text")).as("nt"))
    cands
      .join(nt.toDF("doc_id_a", "nt_a"), "doc_id_a")
      .join(nt.toDF("doc_id_b", "nt_b"), "doc_id_b")
      .withColumn("lev", levenshtein(col("nt_a"), col("nt_b")).cast("long"))
      .select(col("doc_id_a"), col("doc_id_b"), col("lev"),
        (col("lev") * 5L <=
          greatest(length(col("nt_a")), length(col("nt_b"))).cast("long"))
          .as("near"))
  }

  /** LSH calibration: per minhash-agreement bucket (n_match ∈ 0..8),
    * how many candidate pairs the exact verify confirms as near-dups
    * (Jaccard ≥ ½, tested in INTEGERS: 3·|∩| ≥ |A|+|B|) — the
    * precision curve you tune bands/rows against. Everything is
    * counts until ONE double ratio per bucket, so aggregation order
    * can't move results. Same LSH-candidate scale shape as the
    * verify step; output is ≤ NumHashes+1 rows.
    */
  def lshCalibration(docs: DataFrame): DataFrame = {
    val (sh, sigs) = distinctSigs(docs)
    val cands = candidatePairs(bandBuckets(sigs))
    val inter = intersections(cands, sh)
    withAgreement(inter, sigs, Seq("size"))
      .withColumn("near_dup",
        when(col("n_inter") * 3 >= col("size_a") + col("size_b"), 1L)
          .otherwise(0L))
      .groupBy(col("n_match"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("near_dup")).as("n_near_dup"))
      .withColumn("est_jaccard",
        col("n_match").cast("double") / lit(NumHashes.toDouble))
      .withColumn("precision",
        col("n_near_dup").cast("double") / col("n_pairs").cast("double"))
      .select(col("n_match"), col("est_jaccard"), col("n_pairs"),
        col("n_near_dup"), col("precision"))
  }

  /** Safety bound on contraction passes. Each filtering pass collapses
    * every partition-local component to a star, so the surviving
    * cross-partition chain depth shrinks at least geometrically — the
    * LSH testdata graph converges in 4 passes where the previous
    * min-label + pointer-jump formulation needed 24 join rounds. The
    * bound only exists so a bug cannot loop forever.
    */
  val MaxClusterRounds = 24

  /** One "filtering" contraction pass (the local-aggregation step of
    * CC-over-MapReduce, cf. Kiveris et al., "Connected Components in
    * MapReduce and Beyond"): hash-partition the symmetric edge list by
    * src — so every edge incident to a vertex v is co-located in
    * p(v) — then run an in-memory union-find per PARTITION and emit
    * one star edge (node → local component minimum) per node the
    * partition saw. The per-partition state is one hashmap entry per
    * distinct vertex in that partition, bounded by the partition's
    * input size (maxPartitionBytes on a real cluster), not by |V|.
    *
    * Connectivity is preserved across the contraction: the partition
    * that processed edge (u,v) emits u→m and v→m for its shared local
    * minimum m, so u-m-v survives into the next pass's graph.
    */
  private def localContractPass(edges: DataFrame, n: Int): DataFrame = {
    val sp = edges.sparkSession
    import sp.implicits._
    edges.repartition(n, col("src"))
      .select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        val parent = new java.util.HashMap[Long, Long]()
        // union by min with path compression: the root of every set is
        // its minimum member, so emitted labels are already the local
        // component minima
        def find(x: Long): Long = {
          var r = x
          while (parent.get(r) != r) r = parent.get(r)
          var c = x
          while (c != r) { val nx = parent.get(c); parent.put(c, r); c = nx }
          r
        }
        def add(x: Long): Unit = if (!parent.containsKey(x)) parent.put(x, x)
        it.foreach { case (s, d) =>
          add(s); add(d)
          val rs = find(s); val rd = find(d)
          if (rs != rd) { if (rs < rd) parent.put(rd, rs) else parent.put(rs, rd) }
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        parent.keySet().forEach(v => out += ((v, find(v))))
        out.iterator
      }.toDF("v", "label")
  }

  /** TRUE connected-component labels over a symmetric edge list:
    * iterated filtering contraction (partition-local union-find, see
    * [[localContractPass]]) run to convergence. Each pass rebuilds the
    * graph from the previous pass's star edges (symmetrized, so a
    * node's stars from different partitions meet) and contracts again;
    * the label of a node only ever decreases, and the per-node label
    * sum — strictly decreasing while anything merges — is the exact,
    * overflow-proof (decimal(38,0)) convergence metric. At the fixed
    * point every component carries exactly one label, its minimum
    * vertex id: exact connected components, not an r-hop
    * approximation.
    *
    * Why this beats min-label propagation with pointer jumping (the
    * previous implementation): a propagation round moves information
    * one join-hop (plus one jump) per SHUFFLE, so sparse chains
    * through shared boilerplate paid ~24 scheduler-bound rounds on
    * the LSH testdata graph; a filtering pass collapses whole
    * partition-local components in a single mapPartitions, converging
    * in 4 passes on the same graph (measured: 12.9 s → 6.6 s at
    * sf0.1, identical labels). Per-pass scale shape: one shuffle
    * (hash repartition of a relation that never exceeds the input
    * edge count) + map-side union-find + a tiny groupBy-sum action.
    *
    * Each pass checkpoints via
    * ExpressionBridge.checkpointTruncated: the plan must be truncated
    * (the symmetrized rebuild references the previous pass twice, so
    * an unchecked plan grows 2^r) AND inherited size estimates must
    * be dropped (localCheckpoint alone carries them over and the
    * per-round products grow without bound); on a real cluster use
    * reliable checkpoint() for lineage fault tolerance.
    */
  def clusterLabels(
      edges: DataFrame, knownEdgeCount: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.graft.ExpressionBridge.checkpointTruncated
    // Size the iterative phase's shuffles by the MEASURED edge count
    // (callers that already know it — clusters() holds the cached
    // candidate relation — pass it in so the sizing never re-scans):
    // the star relation never grows past the input edge
    // list, and full-width shuffles of a few-10k-row graph are pure
    // scheduler overhead — each pass is one job whose fixed cost
    // scales with task count, not data. ~100k edges per partition,
    // floor 2 (still distributed), capped at the session parallelism
    // so a billion-edge graph on a real cluster still fans out fully.
    val conf = edges.sparkSession.sessionState.conf.numShufflePartitions
    val n = math.min(conf.toLong,
      math.max(2L, knownEdgeCount.getOrElse(edges.count()) / 100000L + 1L)).toInt
    def labelSum(stars: DataFrame): java.math.BigDecimal =
      Option(stars.groupBy(col("v")).agg(min(col("label")).as("label"))
        .agg(sum(col("label").cast("decimal(38,0)"))).collect()(0)
        .getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO)
    def sym(stars: DataFrame): DataFrame =
      stars.select(col("v").as("src"), col("label").as("dst"))
        .union(stars.select(col("label").as("src"), col("v").as("dst")))
    // TWO contraction passes per checkpoint/convergence round: the
    // passes pipeline into one job (exchange → union-find → exchange
    // → union-find → checkpoint), so at small scale the fixed per-job
    // scheduling cost is paid half as often (measured 6.6 s → 5.3 s
    // for the sf0.1 loop), and at large scale the lineage depth per
    // checkpoint stays a constant 2. Convergence on the fused round
    // is still exact: labels only ever decrease, so an unchanged sum
    // across the double pass means the single pass is a fixed point
    // too.
    var stars = checkpointTruncated(localContractPass(sym(localContractPass(edges, n)), n))
    var prevSum = labelSum(stars)
    var round = 0
    var converged = false
    while (!converged && round < MaxClusterRounds) {
      round += 1
      stars = checkpointTruncated(localContractPass(sym(localContractPass(sym(stars), n)), n))
      val s = labelSum(stars)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
    }
    // a node can appear in several partitions' star sets; the final
    // label is the (converged, therefore consistent) minimum
    stars.groupBy(col("v")).agg(min(col("label")).as("label"))
  }

  /** Duplicate clusters: connected components over the LSH candidate
    * graph — the step that turns verified pairs into the keep/drop
    * decision a dedup pipeline actually ships. Exact (run to
    * convergence, see [[clusterLabels]]); the DuckDB oracle computes
    * the same components via recursive reachability, so the match is
    * independent of either engine's iteration order.
    */
  def clusters(docs: DataFrame): DataFrame = {
    // persisted: the candidate self-join consumes bandBuckets twice,
    // which would otherwise run the shingle pipeline twice
    val sigs = materialize(minhashSignatures(shingles(docs)))
    val cands = materialize(candidatePairs(bandBuckets(sigs)))
    // symmetric edge view over the cached pairs — two cheap scans,
    // not worth a second persist
    val edges =
      cands.select(col("doc_id_a").as("src"), col("doc_id_b").as("dst"))
        .union(cands.select(col("doc_id_b").as("src"), col("doc_id_a").as("dst")))
    // shuffle sizing: one count of the cached pairs, not a re-scan
    // of the 2-way union
    clusterLabels(edges, knownEdgeCount = Some(2L * cands.count()))
      .groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("n_docs"), max(col("v")).as("max_doc_id"))
  }

  // --- SimHash ----------------------------------------------------

  val SimHashBits = 16

  /** 16-bit SimHash over token occurrences: per bit, sum ±1 weighted
    * by whether the token hash has that bit set; the sign becomes the
    * fingerprint bit. One explode + one groupBy (single shuffle);
    * bucket size via a window over the fingerprint.
    */
  def simhash(docs: DataFrame): DataFrame = {
    val toks = spread(docs, col("doc_id"))
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .withColumn("h", Portable.pHash(col("tok"), 201))
    val bitSums = toks.groupBy(col("doc_id"))
      .agg(
        sum(bitSign(0)).as("s0"),
        (1 until SimHashBits).map(b => sum(bitSign(b)).as(s"s$b")): _*)
    val sig = (0 until SimHashBits)
      .map(b => when(col(s"s$b") >= 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    val withSig = bitSums.select(col("doc_id"), sig.as("simhash"))
    withSig.withColumn("n_bucket",
      count(lit(1)).over(Window.partitionBy(col("simhash"))))
  }

  private def bitSign(b: Int): Column =
    when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, lit(1L))
      .otherwise(lit(-1L))

  // --- wide SimHash near-dup pairs --------------------------------

  val WideBits = 60      // fits a positive int64 in both engines
  val WideBands = 4      // pigeonhole: hamming ≤ WideBands-1 ⇒ some band equal
  val WideBandBits = WideBits / WideBands // 15
  val MaxHamming = 3

  /** 60-bit SimHash per doc: bit b's ±1 sums come from bit b of the
    * token's (h1, h2) portable hash pair (one md5 per token, same
    * seed as the 16-bit fingerprint). One explode + one groupBy —
    * single shuffle on doc_id; the 60 sign folds are one codegen'd
    * aggregate.
    */
  def simhashWideSigs(docs: DataFrame): DataFrame = {
    val toks = spread(docs, col("doc_id"))
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
    val (h1, h2) = Portable.pHashPair(concat(col("tok"), lit("#201")))
    val withH = toks.select(col("doc_id"), h1.as("h1"), h2.as("h2"))
    def sgn(src: String, bit: Int): Column =
      when(shiftright(col(src), bit).bitwiseAND(lit(1L)) === 1L, lit(1L))
        .otherwise(lit(-1L))
    val sums = withH.groupBy(col("doc_id"))
      .agg(
        sum(sgn("h1", 0)).as("s0"),
        (1 until WideBits).map { b =>
          val (src, bit) = if (b < 30) ("h1", b) else ("h2", b - 30)
          sum(sgn(src, bit)).as(s"s$b")
        }: _*)
    val sig = (0 until WideBits)
      .map(b => when(col(s"s$b") >= 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    sums.select(col("doc_id"), sig.as("sig"))
  }

  /** SimHash near-dup pairs within hamming distance [[MaxHamming]]:
    * the 60-bit signature splits into 4 disjoint 15-bit bands, and by
    * pigeonhole any pair within hamming 3 agrees EXACTLY on at least
    * one band — so candidates are a band-value equi-join (never
    * all-pairs; a band value has 2^15 buckets, so benign docs don't
    * alias), verified by one integer `bit_count(xor)` per candidate.
    * Complements MinHash: SimHash hamming tracks weighted token-set
    * cosine, catching near-dups whose edits are spread thinly.
    */
  def simhashNearPairs(docs: DataFrame): DataFrame = {
    val sigs = materialize(simhashWideSigs(docs))
    val bandArr = array((0 until WideBands).map(b =>
      shiftright(col("sig"), b * WideBandBits)
        .bitwiseAND(lit((1L << WideBandBits) - 1))): _*)
    val bands = sigs.select(col("doc_id"),
      posexplode(bandArr).as(Seq("band", "bv")))
    val cand = bucketJoinPairs(bands, "doc_id", Seq("band", "bv"), "doc_id")
    cand
      .join(sigs.toDF("doc_id_a", "sig_a"), "doc_id_a")
      .join(sigs.toDF("doc_id_b", "sig_b"), "doc_id_b")
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long"))
      .filter(col("hamming") <= MaxHamming)
      .select(col("doc_id_a"), col("doc_id_b"), col("hamming"))
  }

  // --- embedding near-dup -----------------------------------------

  val EmbBands = 4
  val EmbRowsPerBand = 6
  val EmbDim = 64
  val CosineTau = 0.4

  /** Default per-bucket candidate cap for every SRP-bucketed
    * generator over embeddings ([[embeddingPairs]] and
    * Similarity.knnEdges share it, and their oracles mirror it):
    * an order of magnitude above any benign bucket at bench scale
    * (sf0.1 max 68), so benign corpora are untouched, while a
    * clone-planted hot bucket's candidate work is bounded to
    * O(cap²). Report what a corpus would drop with
    * Similarity.knnCapCensus — never cap silently.
    */
  val SrpBucketCap = 512

  /** Embedding near-dup pairs: SRP band buckets generate candidates
    * (equi-join, never all-pairs), exact integer-quantized cosine
    * verifies. Pairs with cosine ≥ τ survive.
    */
  def embeddingPairs(embs: DataFrame): DataFrame =
    embeddingPairs(embs, SrpBucketCap)

  /** [[embeddingPairs]] at an explicit per-bucket candidate cap
    * ([[capBucketMembers]] over the SRP buckets — the semantic-dedup
    * twin of the minhash cap). Scores INSIDE the bucket join: both
    * sides carry their quantized vectors, the cosine lands in the
    * join's own projection, and only slim (a, b, cos) rows leave the
    * stage — the distinct-then-rejoin alternative re-shuffles the
    * PAIR-mass relation with the arrays aboard once the corpus side
    * outgrows the broadcast threshold (measured 14 GiB on a planted
    * 10%-clone corpus in the knnEdges twin of this shape). Band
    * duplicates score identically, so the dedup is a max() aggregate
    * after the τ filter. Zero-norm vectors are filtered AFTER the
    * cap (the cap's fair-order selection runs over the raw bucket
    * relation, matching the oracle), then dropped from both sides as
    * the old inner corpus-joins did.
    */
  def embeddingPairs(embs: DataFrame, cap: Int): DataFrame = {
    // one small row per vector feeding three branches — persist so
    // quantization + 24 plane dot products run once per vector
    // identical plan to Similarity.topKAnnLsh's view, so whichever
    // operator runs first caches it for the other
    val qv = materialize(
      Vectors.quantizedWithBuckets(embs, EmbBands, EmbRowsPerBand, EmbDim))
    val flatQ = capBucketMembers(
      qv.select(col("vec_id"), col("q"), col("n2"),
        posexplode(col("buckets")).as(Seq("band", "bucket"))),
      "vec_id", Seq("band", "bucket"), cap)
      // zero-quantized vectors have no direction: their cosine is
      // 0/sqrt(0) = NaN, and NaN sorts ABOVE the threshold under both
      // engines' NaN-greatest semantics — without this guard a
      // sub-0.0005-magnitude embedding (all-ones SRP buckets, so it
      // collides everywhere) emits meaningless "near-dup" pairs
      .filter(col("n2") > 0)
    flatQ
      .select(col("vec_id").as("vec_id_a"), col("q").as("q_a"),
        col("n2").as("n2_a"), col("band"), col("bucket"))
      .join(flatQ.select(col("vec_id").as("vec_id_b"), col("q").as("q_b"),
        col("n2").as("n2_b"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .filter(col("vec_id_a") < col("vec_id_b"))
      .select(col("vec_id_a"), col("vec_id_b"),
        Vectors.cosine(Vectors.dot(col("q_a"), col("q_b")),
          col("n2_a"), col("n2_b")).as("cos_dup"))
      .filter(col("cos_dup") >= CosineTau)
      .groupBy(col("vec_id_a"), col("vec_id_b"))
      .agg(max(col("cos_dup")).as("cos_sim"))
  }

  /** Cap widths swept by [[embeddingCapRecallCurve]]: the small
    * widths BITE on the testdata's SRP buckets (so the oracle
    * exercises the fair-order selection), the last is the operative
    * [[SrpBucketCap]] — its 1.0 recall row at bench scale IS the
    * "cap never binds on benign data" evidence as a result, next to
    * the census's all-zero dropped mass as work.
    */
  val EmbCapCurveCaps: Seq[Int] = Seq(2, 4, 8, SrpBucketCap)

  /** Embedding-side cap recall curve — [[capRecallCurve]]'s twin
    * over the SRP buckets: per cap width, candidate pairs and
    * near-dup pairs (cosine ≥ [[CosineTau]]) surviving vs the
    * uncapped generator. Ranks run over the RAW bucket relation
    * (zero-norm vectors occupy their slots exactly as in
    * [[capBucketMembers]]' input, filtered only after), and the
    * cosine lands in the ranked self-join's own projection
    * ([[embeddingPairs]]' in-bucket-scoring shape) — the pair mass
    * never shuffles with vectors aboard. Like the minhash curve,
    * this deliberately PAYS the uncapped join (it measures what the
    * cap discards) — sample-bounded at production scale via
    * `samplePerMille`: a deterministic vec_id portable-hash gate
    * (the per-mille idiom of Corpus.sampled) thins the VECTOR set
    * before quantization, shrinking the uncapped pair mass
    * quadratically in the rate while the curve stays the exact curve
    * of the sampled sub-corpus.
    */
  def embeddingCapRecallCurve(
      embs: DataFrame, caps: Seq[Int] = EmbCapCurveCaps,
      samplePerMille: Int = 1000): DataFrame = {
    require(caps.nonEmpty && caps.forall(_ >= 2),
      s"cap widths below 2 generate no pairs: $caps")
    require(samplePerMille >= 1 && samplePerMille <= 1000,
      s"samplePerMille out of (0, 1000]: $samplePerMille")
    val base =
      if (samplePerMille >= 1000) embs
      else embs.filter(
        pmod(Portable.pHash(col("vec_id").cast("string")),
          lit(1000L)) < samplePerMille)
    val qv = materialize(
      Vectors.quantizedWithBuckets(base, EmbBands, EmbRowsPerBand, EmbDim))
    val w = Window.partitionBy(col("band"), col("bucket"))
      .orderBy(capOrder("vec_id", Seq("band", "bucket")), col("vec_id"))
    val ranked = qv.select(col("vec_id"), col("q"), col("n2"),
        posexplode(col("buckets")).as(Seq("band", "bucket")))
      .withColumn("rk", row_number().over(w))
    val pairs = ranked.select(col("band"), col("bucket"),
        col("vec_id").as("vec_id_a"), col("q").as("q_a"),
        col("n2").as("n2_a"), col("rk").as("rk_a"))
      .join(ranked.select(col("band"), col("bucket"),
        col("vec_id").as("vec_id_b"), col("q").as("q_b"),
        col("n2").as("n2_b"), col("rk").as("rk_b")),
        Seq("band", "bucket"))
      .filter(col("vec_id_a") < col("vec_id_b"))
      .filter(col("n2_a") > 0 && col("n2_b") > 0)
      .select(col("vec_id_a"), col("vec_id_b"),
        greatest(col("rk_a"), col("rk_b")).as("need"),
        Vectors.cosine(Vectors.dot(col("q_a"), col("q_b")),
          col("n2_a"), col("n2_b")).as("cos_dup"))
      .groupBy(col("vec_id_a"), col("vec_id_b"))
      .agg(min(col("need")).as("cap_needed"),
        max(col("cos_dup")).as("cos_sim"))
    pairs
      .select(explode(array(caps.map(lit): _*)).as("cap"),
        col("cap_needed"), col("cos_sim"))
      .groupBy(col("cap"))
      .agg(
        sum(when(col("cap_needed") <= col("cap"), 1L).otherwise(0L))
          .as("n_pairs_kept"),
        count(lit(1)).as("n_pairs_total"),
        sum(when(col("cap_needed") <= col("cap")
            && col("cos_sim") >= CosineTau, 1L).otherwise(0L))
          .as("n_neardup_kept"),
        sum(when(col("cos_sim") >= CosineTau, 1L).otherwise(0L))
          .as("n_neardup_total"))
      .withColumn("neardup_recall",
        when(col("n_neardup_total") > 0,
          col("n_neardup_kept").cast("double") /
            col("n_neardup_total").cast("double")).otherwise(1.0))
      .orderBy(col("cap"))
  }

  /** Semantic duplicate clusters: connected components over the
    * embedding near-dup graph ([[embeddingPairs]]) — the embedding
    * twin of [[clusters]], and the grouping step of SemDeDup-style
    * semantic deduplication (cluster near-identical meanings, keep
    * one representative per component). Exact CC via the same
    * convergence-checked [[clusterLabels]] contraction; the oracle
    * recomputes components by recursive reachability, independent of
    * iteration order.
    *
    * Scale shape: candidate edges are SRP-bucketed (never all-pairs);
    * the CC loop shuffles only the measured edge relation with
    * checkpoint-truncated lineage — same 100 TB story as the MinHash
    * cluster path, swapping the shingle pipeline for per-row
    * quantized-cosine math.
    */
  def embeddingClusters(embs: DataFrame): DataFrame =
    embeddingComponentLabels(embs)
      .groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("n_vecs"), max(col("v")).as("max_vec_id"))

  /** Component labels of the embedding near-dup graph — the ONE
    * construction behind both [[embeddingClusters]] and
    * [[semDedupImpact]], so the two gauges cannot disagree about
    * components (label = min vec_id reachable).
    */
  private def embeddingComponentLabels(embs: DataFrame): DataFrame = {
    val pairs = materialize(
      embeddingPairs(embs).select(col("vec_id_a"), col("vec_id_b")))
    val edges =
      pairs.select(col("vec_id_a").as("src"), col("vec_id_b").as("dst"))
        .union(pairs.select(col("vec_id_b").as("src"), col("vec_id_a").as("dst")))
    clusterLabels(edges, knownEdgeCount = Some(2L * pairs.count()))
  }

  /** Jaccard threshold (hundredths) the MinHash impact gauge keeps
    * edges at — the τ=0.80 point of [[jaccardCurve]], the common
    * production near-dup cutoff.
    */
  val MinhashImpactTau = 80L

  /** MinHash-LSH dedup impact attribution per source — the third leg
    * of the impact trio: `corpus_dedup_impact` prices VERBATIM
    * copies, `corpus_semdedup_impact` prices semantic near-copies
    * (embedding space), this prices LEXICAL near-copies (n-gram
    * space) — the removal a MinHash pipeline at the τ=0.80 verify
    * cutoff would actually perform. The three disagreeing is itself
    * the signal: exact ≪ minhash ⇒ the corpus is full of
    * lightly-edited mirrors; minhash ≪ semdedup ⇒ paraphrase mass
    * no lexical dedup can see.
    *
    * Components run over the VERIFIED edge set (exact-Jaccard keep
    * test `100·|∩| ≥ τ·|∪|`, integers only — the same keep test as
    * the yield curve, so the curve's τ=80 row predicts exactly this
    * gauge's pair set), NOT the raw banding candidates: banding
    * false positives would otherwise chain unrelated docs into one
    * component and overstate removal. Keep-rule: global min-doc_id
    * canonical per component, identical to the other two gauges, so
    * the three never disagree about survivors.
    *
    * Scale shape: candidate generation and verification are the
    * dedup_ngram_jaccard pipeline (bucketed equi-joins, candidate-
    * bounded intersections — never all-pairs); components ride
    * [[clusterLabels]]' checkpoint-truncated contraction; the
    * attribution is ONE join of the label relation onto the corpus
    * and a |sources|-row rollup.
    */
  /** Component labels (min-id canonical) over the exact-Jaccard-
    * VERIFIED near-dup graph at [[MinhashImpactTau]] — shared by the
    * impact and survivorship attributions so they can never disagree
    * about components.
    */
  private def minhashComponentLabels(docs: DataFrame): DataFrame = {
    val verified = materialize(ngramJaccardPairs(docs)
      .filter(lit(100L) * col("n_inter") >=
        lit(MinhashImpactTau) *
          (col("size_a") + col("size_b") - col("n_inter")))
      .select(col("doc_id_a"), col("doc_id_b")))
    val edges =
      verified.select(col("doc_id_a").as("src"), col("doc_id_b").as("dst"))
        .union(verified.select(col("doc_id_b").as("src"),
          col("doc_id_a").as("dst")))
    clusterLabels(edges, knownEdgeCount = Some(2L * verified.count()))
  }

  def minhashImpact(docs: DataFrame): DataFrame = {
    val lab = minhashComponentLabels(docs)
    docs.select(col("doc_id"), col("source"), col("n_chars"))
      .join(lab.select(col("v").as("doc_id"), col("label")), Seq("doc_id"),
        "left")
      .withColumn("keep",
        col("label").isNull || col("label") === col("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(!col("keep"), 1L).otherwise(0L)).as("n_removed"),
        sum(col("n_chars")).as("chars_total"),
        sum(when(!col("keep"), col("n_chars")).otherwise(0L))
          .as("chars_removed"))
      .select(col("source"), col("n_docs"), col("n_removed"),
        col("chars_total"), col("chars_removed"),
        (col("n_removed").cast("double") / col("n_docs").cast("double"))
          .as("docs_removed_share"),
        (col("chars_removed").cast("double") /
          col("chars_total").cast("double")).as("chars_removed_share"))
      .orderBy(col("source"))
  }

  /** Dup-survivorship direction matrix — WHO keeps the canonical
    * when near-dup components cross sources: per ordered
    * (winner_source, loser_source), the documents and character mass
    * the loser would surrender to the winner's canonical under the
    * same global min-id rule as [[minhashImpact]]. The asymmetry IS
    * the signal: a mirror/scraper loses consistently to its
    * originator (its ids arrive later), while a symmetric pair is
    * genuine cross-posting; the diagonal rows are ordinary
    * intra-source duplication. Shares the component labels with the
    * impact gauge, so the two attributions can never disagree.
    *
    * Scale shape: the label relation (near-dup nodes only) joins
    * documents twice — winners (label = doc) and losers — then ONE
    * |sources|²-bounded rollup.
    */
  def minhashSurvivorship(docs: DataFrame): DataFrame = {
    // lazyPersist, not materialize (r16): the winners and losers
    // branches both consume lab inside the ONE final rollup job, so
    // the eager count bought nothing but a barrier — worst case the
    // branches race-recompute a cheap groupBy over the contraction's
    // checkpointed stars (§2.6 discipline: no cache handoff on the
    // critical path)
    val lab = graft.CacheScope.lazyPersist(minhashComponentLabels(docs))
    val labeled = docs.select(col("doc_id"), col("source"), col("n_chars"))
      .join(lab.select(col("v").as("doc_id"), col("label")), "doc_id")
    val winners = labeled.filter(col("doc_id") === col("label"))
      .select(col("label"), col("source").as("winner_source"))
    labeled.filter(col("doc_id") =!= col("label"))
      .join(winners, "label")
      .groupBy(col("winner_source"), col("source").as("loser_source"))
      .agg(count(lit(1)).as("n_docs_lost"),
        sum(col("n_chars")).as("chars_lost"))
      .orderBy(col("winner_source"), col("loser_source"))
  }

  /** SemDeDup impact attribution per source — the near-dup twin of
    * `corpus_dedup_impact`: what SEMANTIC dedup (the
    * [[embeddingClusters]] components over the SRP near-dup graph,
    * keep the min-doc_id representative per component — vec_id and
    * doc_id share an id space) would remove from each source, in
    * documents and character mass. Exact dedup prices verbatim
    * copies; this prices paraphrase/near-copy mass — the removal a
    * SemDeDup pass actually performs, attributed before anyone runs
    * it. A document with no near-dup edge is its own component and
    * survives; a cross-source component keeps its GLOBAL canonical,
    * so a paraphrasing mirror shows ~100% removal while the
    * originating source keeps its copy — the same canonical rule as
    * the exact-impact gauge, so the two never disagree about
    * survivors.
    *
    * Scale shape: the component labels ride [[clusterLabels]]'s
    * checkpoint-truncated contraction over SRP-bucketed edges (never
    * all-pairs); the attribution is ONE broadcast-ready join of the
    * (near-dup nodes only) label relation onto the corpus and a
    * |sources|-row rollup. Shares divide exact BIGINTs once.
    */
  def semDedupImpact(embs: DataFrame, docs: DataFrame): DataFrame = {
    val lab = embeddingComponentLabels(embs)
    docs.select(col("doc_id"), col("source"), col("n_chars"))
      .join(lab.select(col("v").as("doc_id"), col("label")), Seq("doc_id"),
        "left")
      .withColumn("keep",
        col("label").isNull || col("label") === col("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(!col("keep"), 1L).otherwise(0L)).as("n_removed"),
        sum(col("n_chars")).as("chars_total"),
        sum(when(!col("keep"), col("n_chars")).otherwise(0L))
          .as("chars_removed"))
      .select(col("source"), col("n_docs"), col("n_removed"),
        col("chars_total"), col("chars_removed"),
        (col("n_removed").cast("double") / col("n_docs").cast("double"))
          .as("docs_removed_share"),
        (col("chars_removed").cast("double") /
          col("chars_total").cast("double")).as("chars_removed_share"))
      .orderBy(col("source"))
  }
}
