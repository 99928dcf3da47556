package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline, over the
  * `documents` / `embeddings` test tables (TESTDATA.md).
  *
  * Reference scope: pb-etl has no dedup surface; these are the
  * north-star extensions (SURVEY.md §2.9). Every variant is designed
  * scale-first:
  *
  *  - exact: one hash-aggregate shuffle on the text key.
  *  - n-gram Jaccard: the exact quadratic-verify baseline — shuffle on
  *    shingle, pair counts via self-equi-join. Correct but O(pairs
  *    sharing a shingle); at 100 TB you run `minhashNearDup` instead and
  *    reserve this for verify-on-candidates.
  *  - MinHash+LSH: per-row signature in whole-stage codegen (no
  *    explode until the band join), candidates from band-bucket
  *    equi-joins, exact Jaccard verify only on candidates — the linear
  *    scale path.
  *  - SimHash: per-row 32-bit signature in codegen; pairing is blocked
  *    on 7 signature chunks (pigeonhole guarantees every Hamming ≤ 6
  *    pair shares a chunk) — candidates from a chunk equi-join, exact
  *    Hamming verify on candidates, result identical to all-pairs.
  *  - Embedding cosine: hyperplane-LSH bucket candidates + exact cosine
  *    verify on candidates (oracle reproduces the buckets); the exact
  *    all-pairs twin survives only as DedupSpec's recall baseline.
  */
object Dedup {
  import TextOps._

  /** Exact dedup by normalized text: keep the smallest doc_id per
    * distinct text, report group size. Single hash-agg shuffle;
    * map-side partial aggregation applies. */
  def exact(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .groupBy(lower(col("text")).as("key"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))
      .orderBy(col("keep_id"))

  /** Per-doc distinct 3-gram shingle-hash sets (shared by the Jaccard
    * variants). Stays entirely in per-row codegen. The repartition
    * spreads the hash work across cores — the test fixtures are single
    * row-group parquet files, which scan as one task; a production
    * corpus arrives in many splits and would not need it. */
  private[graft] def shingleSets(spark: SparkSession, d: String): DataFrame =
    shingleSetsDf(Tables.documents(spark, d)
      .repartition(spark.sparkContext.defaultParallelism))

  private def shingleSetsDf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), shingleHashSet(col("text"), NearDupShingleN).as("hs"))
      .filter(size(col("hs")) > 0)

  /** Exact pairwise n-gram Jaccard ≥ 0.6 via the shingle inverted
    * index: explode sets, self-equi-join on shingle hash, count common
    * per pair. Cost is Σ_shingle C(df,2) pair instances — optimal for a
    * corpus with uniform shingle frequencies (this one: ~41-word vocab,
    * df ≈ const, so PPJoin-style rarest-first prefix filtering prunes
    * almost nothing while adding two joins; measured slower). At 100 TB
    * with skewed df, the mitigations are (a) prefix filtering, which
    * pays off exactly when df is skewed, and (b) MinHash banding
    * (`minhashNearDup`) when approximate candidates are acceptable. */
  def ngramJaccard(spark: SparkSession, d: String): DataFrame = {
    val sets = CacheScope.cached(shingleSets(spark, d))
    val sh = sets.select(col("doc_id"), explode(col("hs")).as("h"))
    val common = sh.as("a")
      .join(sh.as("b"), col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("cm"))
    val sz = sets.select(col("doc_id"), size(col("hs")).as("sz"))
    pairJaccard(common, sz, 0.6)
  }

  /** jaccard = |∩| / (|A| + |B| − |∩|), thresholded — the ONE
    * definition of the dedup family's similarity formula (q22/q46/q23,
    * ingest dedup, the streaming funnel). `common` carries (doc_a,
    * doc_b, cm); the size relations are (doc_id, sz) — ONE ROW PER
    * DOCUMENT, i.e. corpus-cardinality, so they must NOT carry a
    * forced broadcast() hint (an instruction, not a hint: at 100 TB
    * it would OOM the driver). Plain equi-joins on the doc key let
    * AQE broadcast at runtime exactly when the relation is genuinely
    * small; PlanSweepSpec pins that no doc-keyed size relation is
    * statically broadcast in the pair-join family. */
  private[graft] def jaccardPairs(common: DataFrame, szA: DataFrame,
      szB: DataFrame, thr: Double): DataFrame =
    common
      .join(szA.toDF("doc_a", "sa"), "doc_a")
      .join(szB.toDF("doc_b", "sb"), "doc_b")
      .withColumn("jacc", col("cm") / (col("sa") + col("sb") - col("cm")))
      .filter(col("jacc") >= thr)

  /** The shaped variant: rounded score, deterministic pair order. */
  private def pairJaccard(common: DataFrame, sz: DataFrame, thr: Double): DataFrame =
    jaccardPairs(common, sz, sz, thr)
      .select(col("doc_a"), col("doc_b"), round(col("jacc"), 6).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** q138: asymmetric CONTAINMENT pairs — C(A,B) = |A∩B| / min(|A|,|B|)
    * ≥ 0.8 in exact integer permille. Symmetric Jaccard (q22/q23) is
    * structurally blind to the sub-document duplicate: a 30-shingle doc
    * fully embedded in a 300-shingle doc has J ≈ 0.1 (invisible at any
    * sane threshold) but containment 1.0 — quoted articles, boilerplate
    * wrappers, and excerpt spam all live there, and a real curation
    * pipeline flags them on containment, not Jaccard. Output carries
    * both scores so the gap is auditable (pairs here with low
    * jaccard_permille are exactly what q22 cannot see).
    *
    * Shape: identical to q22 — the shingle inverted index produces
    * (pair, |∩|) once; the min-size denominator is one integer
    * expression on the same doc-keyed size relation (plain equi-join,
    * AQE broadcasts if small). Same Σ C(df,2) cost model, and the SAME
    * production knob as q123's gram index: `dfCap` drops shingles whose
    * posting list exceeds the cap BEFORE the self-join, bounding pair
    * instances per shingle at cap². The price, stated exactly: a pair's
    * |∩| undercounts by its corpus-ubiquitous shingles, so a containment
    * hit is missed only when ≥20% of the smaller doc's shingles are
    * ubiquitous — boilerplate mass that exact dedup (q21) or the
    * minhash hot-bucket cap already owns. q138 runs uncapped (exact);
    * q142 runs the cap REAL and is hash-checked under it. */
  def containmentPairs(spark: SparkSession, d: String): DataFrame =
    containmentPairsDf(Tables.documents(spark, d)
      .repartition(spark.sparkContext.defaultParallelism))

  /** q142: q138 with the stop-shingle df cap active (q123's knob
    * threaded into the containment posting index). */
  def containmentPairsCapped(spark: SparkSession, d: String): DataFrame =
    containmentPairsDf(Tables.documents(spark, d)
      .repartition(spark.sparkContext.defaultParallelism),
      dfCap = Some(ContainDfCap))

  private[graft] val ContainDfCap = 64L

  /** DataFrame-in variant over (doc_id, text). */
  private[graft] def containmentPairsDf(docs: DataFrame,
      dfCap: Option[Long] = None): DataFrame = {
    val sets = CacheScope.cached(shingleSetsDf(docs))
    val allSh = sets.select(col("doc_id"), explode(col("hs")).as("h"))
    val sh = dfCap.fold(allSh) { cap =>
      // one partial-agg count per shingle; stop-shingles leave the
      // index before the pair join (cache: the df aggregate + semi-join
      // subtree feeds both sides of the self-join)
      val keep = allSh.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= cap).select(col("h"))
      CacheScope.cached(allSh.join(keep, "h"))
    }
    val common = sh.as("a")
      .join(sh.as("b"), col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("cm"))
    val sz = sets.select(col("doc_id"), size(col("hs")).cast("long").as("sz"))
    common
      .join(sz.toDF("doc_a", "sa"), "doc_a")
      .join(sz.toDF("doc_b", "sb"), "doc_b")
      .withColumn("containment_permille", expr("(1000 * cm) div least(sa, sb)"))
      .filter(col("containment_permille") >= 800)
      .select(col("doc_a"), col("doc_b"), col("cm"), col("sa"), col("sb"),
        col("containment_permille"),
        expr("(1000 * cm) div (sa + sb - cm)").as("jaccard_permille"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Prefix-filtered exact n-gram Jaccard (PPJoin-style, Xiao et al.
    * WWW'08) — same semantics and oracle as `ngramJaccard`, different
    * candidate generation: shingles are globally ordered by document
    * frequency (rarest first), each doc contributes only its first
    * |s| − ⌈t·|s|⌉ + 1 shingles to the inverted index, and a qualifying
    * pair (J ≥ t) provably shares a prefix shingle. On a uniform-df
    * corpus this prunes little and costs two extra joins (why q22 keeps
    * the plain index); on the skewed df of a REAL corpus the stop-shingle
    * postings — exactly the Σ C(df,2) blow-up — fall out of the index,
    * which is the 100 TB exact-verify path. Equality with `ngramJaccard`
    * is asserted in DedupSpec; the driver hash-checks it as q46. */
  def ngramJaccardPrefix(spark: SparkSession, d: String): DataFrame = {
    val thr = 0.6
    val sets = CacheScope.cached(shingleSets(spark, d))
    val sz = sets.select(col("doc_id"), size(col("hs")).as("sz"))
    val sh = sets.select(col("doc_id"), explode(col("hs")).as("h"))
    val dfreq = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
    // rarest-first ranking WITHOUT a window: a row_number window sorts
    // every shuffle partition of the exploded postings; collecting each
    // doc's (df, h) pairs through a hash-agg and sorting the (small,
    // per-doc) array row-locally does the same ranking with the same
    // single shuffle and no partition-wide sort. Set size via the
    // doc-keyed sz relation (plain join; AQE broadcasts when small).
    val prefix = sh.join(dfreq, "h")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("ranked"))
      .join(sz.withColumnRenamed("sz", "s"), "doc_id")
      .select(col("doc_id"),
        explode(slice(col("ranked"), lit(1),
          (col("s") - ceil(lit(thr) * col("s")) + 1).cast("int"))).as("p"))
      .select(col("doc_id"), col("p.h").as("h"))
    // candidates via COMBINATIONS-EXPLODE over per-shingle doc arrays
    // (r14 — the q290/q257/q192 adjacency-array trick): one h-keyed
    // collect + posexplode×slice instead of the equi-self-join, so the
    // prefix relation is shuffled ONCE. Pair mass is the same
    // Σ C(prefix_df, 2); the collected array (size = prefix_df) is the
    // LINEAR factor of the same quantity the old join already paid
    // quadratically, and prefix postings exclude stop shingles by
    // construction (a high-df shingle ranks last in every doc, so it
    // never enters a prefix). doc_ids are unique per h (per-doc
    // shingle sets are distinct), so i<j is the old a<b predicate.
    val cand = prefix.groupBy(col("h"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(col("ds"), posexplode(col("ds")).as(Seq("i", "doc_a")))
      .select(col("doc_a"),
        explode(slice(col("ds"), col("i") + lit(2),
          size(col("ds")) - col("i") - lit(1))).as("doc_b"))
      .distinct()
    // verify on candidates from the persisted ARRAYS (one codegen
    // array_intersect per pair) instead of re-joining the full posting
    // lists — the postings were only ever needed to find candidates
    val common = cand
      .join(sets.select(col("doc_id").as("doc_a"), col("hs").as("ha")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("hs").as("hb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("ha"), col("hb"))).cast("long").as("cm"))
    pairJaccard(common, sz, thr)
  }

  /** MinHash (k=16) + LSH (4 bands × 4 rows) candidate generation, then
    * exact Jaccard verify on candidates only, threshold 0.5.
    *
    * The signature pipeline (shingle set → 16 minhashes → 4 band keys)
    * is one narrow projection per row; the only shuffles are the band
    * equi-join and the verify join — this is the shape that scales
    * linearly to 100 TB (vs `ngramJaccard`'s inverted-index join). */
  def minhashNearDup(spark: SparkSession, d: String): DataFrame =
    minhashNearDupFromSets(shingleSets(spark, d))

  /** DataFrame-in variant over (doc_id, text) docs — the form pipeline
    * stages compose (CurateDag). */
  private[graft] def minhashNearDupDf(docs: DataFrame): DataFrame =
    minhashNearDupFromSets(shingleSetsDf(docs))

  /** Hot-bucket-capped variant — the skew knob for a real corpus. A
    * "stop band" (a band key shared by B documents — boilerplate
    * headers, templated pages) contributes C(B,2) candidate pairs; one
    * viral template can dominate the whole join. Dropping buckets with
    * more than `maxBucket` members bounds per-bucket work at
    * C(maxBucket,2) and keeps the join linear-ish under adversarial
    * skew. Cost, stated honestly: a pair visible ONLY through hot
    * buckets is lost — for near-identical template docs that mass
    * belongs to exact dedup (q21) upstream anyway. DedupSpec pins
    * capped ≡ uncapped whenever no bucket exceeds the cap, and bounded
    * candidate work on an adversarial hot-bucket corpus. */
  private[graft] def minhashNearDupDfCapped(docs: DataFrame, maxBucket: Int): DataFrame =
    minhashNearDupFromSets(shingleSetsDf(docs), Some(maxBucket))

  private def minhashNearDupFromSets(shingled: DataFrame,
      maxBucket: Option[Int] = None): DataFrame = {
    val (common, sz) = minhashCommonSz(shingled, maxBucket)
    pairJaccard(common, sz, 0.5)
  }

  /** The q23 candidate + verify relations BEFORE the Jaccard shaping:
    * (common = per-candidate intersection counts, sz = per-doc set
    * sizes). Factored so q266's threshold sweep can filter in exact
    * integer arithmetic (10·cm ≥ t10·union) over the same verified
    * relation the driver checks. */
  private[graft] def minhashCommonSz(shingled: DataFrame,
      maxBucket: Option[Int] = None): (DataFrame, DataFrame) = {
    val sets = CacheScope.cached(shingled
      .select(col("doc_id"), col("hs"), nearDupBandKeys(col("hs")).as("bands")))
    val allBands = sets.select(col("doc_id"), posexplode(col("bands")).as(Seq("b", "key")))
    val bands = maxBucket.fold(allBands) { cap =>
      // one partial-agg count per bucket; hot buckets leave the index
      val hot = allBands.groupBy(col("b"), col("key"))
        .agg(count(lit(1)).as("n")).filter(col("n") > cap)
        .select(col("b"), col("key"))
      allBands.join(hot, Seq("b", "key"), "left_anti")
    }
    val cand = bands.as("x")
      .join(bands.as("y"),
        col("x.b") === col("y.b") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val h = sets.select(col("doc_id"), explode(col("hs")).as("h"))
    val common = cand
      .join(h.as("p"), col("doc_a") === col("p.doc_id"))
      .join(h.as("q"), col("doc_b") === col("q.doc_id") && col("p.h") === col("q.h"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("cm"))
    val sz = sets.select(col("doc_id"), size(col("hs")).as("sz"))
    (common, sz)
  }

  /** q182: LSH CANDIDATE-GENERATION quality eval — the q23 band
    * scheme (16 minhashes, 4 bands × 4 rows) measured against ground
    * truth: every pair with exact Jaccard ≥ 0.5 (the full inverted
    * index, q22's machinery at q23's threshold) versus every pair the
    * bands propose. Reports candidate recall (dup pairs the bands
    * surface — the pairs LSH dedup can ever delete) and precision
    * (candidate pairs worth the exact verify). This is the dedup twin
    * of q146's ANN-recall eval: the measurement a pipeline owner runs
    * before trusting a band configuration, and reruns when shingle
    * statistics drift.
    *
    * Shape: composes two verified plans (q22 exact pairs, q23
    * candidates) plus three one-row aggregates; the exact baseline is
    * the expensive half — by design, an eval runs on a sampled slice
    * at 100 TB (the operator takes the corpus it is given), while the
    * candidate side is the production-linear plan. */
  def lshEval(spark: SparkSession, d: String): DataFrame = {
    val sets = CacheScope.cached(shingleSets(spark, d)
      .select(col("doc_id"), col("hs"), nearDupBandKeys(col("hs")).as("bands")))
    val bands = sets.select(col("doc_id"), posexplode(col("bands")).as(Seq("b", "key")))
    val cand = CacheScope.cached(bands.as("x")
      .join(bands.as("y"),
        col("x.b") === col("y.b") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct())
    val sh = sets.select(col("doc_id"), explode(col("hs")).as("h"))
    val common = sh.as("a")
      .join(sh.as("b"), col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("cm"))
    val sz = sets.select(col("doc_id"), size(col("hs")).as("sz"))
    val exact = CacheScope.cached(
      jaccardPairs(common, sz, sz, 0.5).select(col("doc_a"), col("doc_b")))
    val nEx = exact.agg(count(lit(1)).as("n_exact"))
    val nCa = cand.agg(count(lit(1)).as("n_candidates"))
    val nHit = exact.join(cand, Seq("doc_a", "doc_b"))
      .agg(count(lit(1)).as("n_hit"))
    nEx.crossJoin(nCa).crossJoin(nHit)
      .select(col("n_exact"), col("n_candidates"), col("n_hit"),
        expr("(1000 * n_hit) div greatest(n_exact, 1)").as("recall_pm"),
        expr("(1000 * n_hit) div greatest(n_candidates, 1)").as("precision_pm"))
  }

  /** q183: MinHash estimator CALIBRATION curve — for every q23
    * candidate pair, the signature-agreement estimate (k matching
    * minhashes out of 16 → est ≈ k/16) laid against the exact Jaccard
    * of the pair, grouped by agreement level. A well-behaved
    * estimator shows mean_exact_pm tracking est_pm with tight spread;
    * a drifting shingle distribution (or a broken hash family) shows
    * up as systematic bias long before dedup quality visibly decays.
    * Together with q182 this is the dedup observability pair:
    * q182 scores the CANDIDATES, q183 scores the ESTIMATOR.
    *
    * Shape: candidates and signatures come from the q23 pipeline
    * (cached once); per-pair agreement is one zip_with/aggregate fold
    * over two 16-long arrays — candidate-bounded, never corpus² —
    * and the exact intersection joins only candidate pairs (the q23
    * verify shape). Output ≤ 17 rows. */
  def minhashCalibration(spark: SparkSession, d: String): DataFrame = {
    val K = NearDupMinhashK
    val sets = CacheScope.cached(shingleSets(spark, d)
      .select(col("doc_id"), col("hs"),
        graft.functions.GraftFunctions.minhashes(col("hs"), K).as("mh"),
        nearDupBandKeys(col("hs")).as("bands")))
    val bands = sets.select(col("doc_id"), posexplode(col("bands")).as(Seq("b", "key")))
    val cand = bands.as("x")
      .join(bands.as("y"),
        col("x.b") === col("y.b") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val sh = sets.select(col("doc_id"), explode(col("hs")).as("h"))
    val common = cand
      .join(sh.as("p"), col("doc_a") === col("p.doc_id"))
      .join(sh.as("q"), col("doc_b") === col("q.doc_id") && col("p.h") === col("q.h"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("cm"))
    val sz = sets.select(col("doc_id"), size(col("hs")).as("sz"))
    val mh = sets.select(col("doc_id"), col("mh"))
    val scored = cand
      .join(mh.toDF("doc_a", "mha"), "doc_a")
      .join(mh.toDF("doc_b", "mhb"), "doc_b")
      .withColumn("agreement",
        aggregate(zip_with(col("mha"), col("mhb"),
            (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (acc, x) => acc + x))
      .join(common, Seq("doc_a", "doc_b"), "left")
      .join(sz.toDF("doc_a", "sa"), "doc_a")
      .join(sz.toDF("doc_b", "sb"), "doc_b")
      .withColumn("epm", expr(
        "(1000 * coalesce(cm, 0)) div (sa + sb - coalesce(cm, 0))"))
    scored.groupBy(col("agreement"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(epm) div count(1)").as("mean_exact_pm"),
        min(col("epm")).as("min_exact_pm"),
        max(col("epm")).as("max_exact_pm"))
      .withColumn("est_pm", expr(s"(1000 * agreement) div $K"))
      .orderBy(col("agreement"))
  }

  /** 32-bit SimHash signature per doc + chunk-blocked Hamming ≤ 6
    * pairing (Manku et al., WWW'07 style).
    *
    * The signature is a per-row fold (32 bit-votes over token hashes) —
    * zero shuffle. Pairing is candidate-blocked by pigeonhole: the
    * signature splits into 7 chunks, and any pair within Hamming 6 has
    * ≤ 6 differing bits, so at least one of the 7 chunks is bit-equal.
    * Candidates come from a chunk equi-join (hash join on small
    * (chunk_idx, chunk_val) keys), Hamming is verified on candidates
    * only, and the result is provably IDENTICAL to all-pairs — the same
    * oracle hash-checks it. No BroadcastNestedLoopJoin anywhere
    * (pinned in PlanSpec).
    *
    * Scale note: 32-bit signatures (forced here by the oracle's 30-bit
    * token-hash entropy) give only 4-5-bit chunks, so blocking prunes
    * ~7/32 of the pair space plus the full equal-signature mass. A
    * production deployment widens to 64-bit fingerprints → 9-bit chunks
    * → 512-way blocking per chunk, same plan shape. */
  def simhash(spark: SparkSession, d: String): DataFrame = {
    // single native pass over the token hashes (BitVote32Expr): each
    // hash votes ±1 on all 32 bits; bit set iff votes positive
    val th = transform(toks(col("text")), t => polyHash(t))
    val sig = Tables.documentsDist(spark, d)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.bitvote32(th).as("simhash"))
    // 7 chunks: 4×5 bits + 3×4 bits (shift, mask)
    val chunkDefs = Seq((0, 31L), (5, 31L), (10, 31L), (15, 31L),
      (20, 15L), (24, 15L), (28, 15L))
    val chunks = sig.select(col("doc_id"), col("simhash"),
      posexplode(array(chunkDefs.map { case (sh, m) =>
        shiftright(col("simhash"), sh).bitwiseAND(lit(m))
      }: _*)).as(Seq("c", "v")))
    chunks.as("a")
      .join(chunks.as("b"),
        col("a.c") === col("b.c") && col("a.v") === col("b.v") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("dist"))
      .filter(col("dist") <= 6)
      // a qualifying pair collides in every equal chunk — dedup candidates
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** 64-bit SimHash near-dup — the production-width variant of q24.
    *
    * The 32-bit mode exists because the DuckDB oracle's token hashes
    * carry only ~30 bits of entropy; this variant splitmix64-mixes each
    * token hash inside the native BitVote64Expr kernel and blocks on 7
    * signature chunks of 10+9×6 bits. Pigeonhole is identical: any pair
    * within Hamming 6 differs in ≤ 6 bits, so at least one of the 7
    * chunks is bit-equal — candidates from a chunk equi-join, exact
    * Hamming verify, result provably IDENTICAL to all-pairs (pinned in
    * DedupSpec against a driver-side all-pairs recompute). The wider
    * chunks (9-10 bits vs 4-5) give 512-1024-way blocking per chunk —
    * the pruning that makes the chunk join linear-ish on a real corpus.
    * splitmix64 is not expressible in the oracle's strict signed-BIGINT
    * arithmetic → rows-only driver check; equivalence lives in the spec. */
  def simhash64(spark: SparkSession, d: String): DataFrame =
    simhash64Df(Tables.documentsDist(spark, d))

  private[graft] def simhash64Df(docs: DataFrame): DataFrame = {
    val th = transform(toks(col("text")), t => polyHash(t))
    val sig = docs.select(col("doc_id"),
      graft.functions.GraftFunctions.bitvote64(th).as("simhash"))
    // 7 chunks: 1×10 bits + 6×9 bits (shift, mask) = 64
    val chunkDefs = Seq((0, 1023L), (10, 511L), (19, 511L), (28, 511L),
      (37, 511L), (46, 511L), (55, 511L))
    val chunks = sig.select(col("doc_id"), col("simhash"),
      posexplode(array(chunkDefs.map { case (sh, m) =>
        shiftright(col("simhash"), sh).bitwiseAND(lit(m))
      }: _*)).as(Seq("c", "v")))
    chunks.as("a")
      .join(chunks.as("b"),
        col("a.c") === col("b.c") && col("a.v") === col("b.v") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("dist"))
      .filter(col("dist") <= 6)
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Embedding near-dup, LSH-blocked: candidate pairs share at least
    * one of 4 random-hyperplane LSH buckets (Similarity.lshBuckets, the
    * same deterministic planes as q27), then exact cosine ≥ 0.4 verify
    * on candidates only — the candidates→verify shape of minhashNearDup,
    * linear in corpus size instead of the all-pairs cartesian. The
    * DuckDB oracle reproduces the identical buckets, so the result is
    * hash-checked end-to-end; recall vs the exact all-pairs baseline
    * (`embeddingNearDupExact`) is measured in DedupSpec. */
  def embeddingNearDup(spark: SparkSession, d: String): DataFrame = {
    // referenced by the explode and both verify-join sides: cached so the
    // norm + 16 plane projections compute once per row; released by the
    // CacheScope listener after the caller's terminal action
    val e = CacheScope.cached(Similarity.withNorm(Tables.embeddings(spark, d))
      .withColumn("buckets", Similarity.lshBuckets(col("v"))))
    val b = e.select(col("vec_id"), posexplode(col("buckets")).as(Seq("t", "bucket")))
    val cand = b.as("x")
      .join(b.as("y"),
        col("x.t") === col("y.t") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    cand
      .join(e.select(col("vec_id").as("vec_a"), col("v").as("va"), col("nn").as("na")), "vec_a")
      .join(e.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("nn").as("nb")), "vec_b")
      .withColumn("cos", Similarity.cosine(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("cos") >= 0.4)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cosine"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** q115: SemDeDup-style semantic deduplication — cluster the
    * embedding space, then prune near-identical pairs WITHIN each
    * cluster only (the published SemDeDup recipe: k-means partitions
    * the O(n²) search so each point compares against its cluster
    * alone). Reuses q33's PERSISTED IVF index (same nlist/seed →
    * same salted dir), so a warm call runs ZERO KMeans iterations and
    * the cell assignment — hence the output — is deterministic across
    * sessions.
    *
    * A document drops when ANY smaller-id document in its cell has
    * cosine ≥ 0.4 with it; its representative is the smallest such
    * partner (min(struct) aggregate — deterministic, no per-cell
    * sort). The cell self-join is an EQUI-join on cell id: per-cell
    * work is |cell|², the knob a 100 TB deployment turns via nlist
    * (nlist ∝ n/targetCellSize keeps per-cell pairs bounded, so total
    * work stays linear with a targetCellSize² constant — same contract
    * as the paper's k ≈ n/avg_cluster). Learned centroids ⇒ no SQL
    * oracle; DedupSpec pins a local exact recompute from the persisted
    * cells, drop ⊆ all-pairs-dup soundness, and the zero-refit warm
    * path. */
  def semDedup(spark: SparkSession, d: String): DataFrame = {
    // corpus-proportional cells (≡ 16 at driver SFs; see scaledNlist)
    val (_, corpus) =
      IvfIndex.buildOrLoad(spark, d, IvfIndex.scaledNlist(spark, d))
    // both self-join sides; released by the CacheScope listener
    val e = CacheScope.cached(corpus)
    val cos = Similarity.cosine(col("a.v"), col("b.v"), col("a.nn"), col("b.nn"))
    e.as("a").join(e.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", cos)
      .filter(col("cos") >= 0.4)
      .select(col("b.vec_id").as("vec_id"), col("b.cell").cast("int").as("cell"),
        col("a.vec_id").as("partner"), round(col("cos"), 6).as("cosine"))
      .groupBy(col("vec_id"), col("cell"))
      .agg(min(struct(col("partner"), col("cosine"))).as("m"))
      .select(col("vec_id"), col("cell"),
        col("m.partner").as("dup_of"), col("m.cosine").as("cosine"))
      .orderBy(col("vec_id"))
  }

  /** q121: content-defined chunking (CDC) duplicate-block detection —
    * the storage-dedup technique applied to text: chunk boundaries are
    * DECLARED BY THE CONTENT (a token position starts a new chunk when
    * its 3-gram rolling hash ≡ 0 mod 8, the Rabin-style cut rule with
    * expected chunk length 8), so a shared passage chunks identically
    * in every document that contains it REGARDLESS of its offset —
    * insertion/deletion before a passage never breaks its chunk
    * identity, which fixed-stride blocking cannot offer. The report is
    * every chunk appearing ≥ 2 times corpus-wide: the shared-block
    * inventory a long-document partial-dedup or storage layer keeps.
    *
    * Shape: the positional hash stream comes from the
    * `graft_shingle_stream` generator (one pass, no hash arrays);
    * token rows join boundary flags on (doc_id, position) — an
    * equi-join co-partitioned by doc — and chunk ids are one running
    * sum per document. Chunk identity is the polyhash of the
    * space-joined chunk tokens (order pinned by sort_array, never
    * collect_list order), aggregated corpus-wide in one hash-agg.
    * Every step is linear; the only per-doc state is the running
    * boundary count. */
  def cdcChunkDups(spark: SparkSession, d: String): DataFrame =
    cdcChunkDupsDf(Tables.documentsDist(spark, d))

  private[graft] def cdcChunkDupsDf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toksDf = docs.select(col("doc_id"),
      posexplode(toks(col("text"))).as(Seq("i", "w")))
    // the boundary side re-aliases doc_id — fresh exprId, so the
    // (doc, position) equi-join below is an unambiguous hash join
    // (the q196 lesson: a shared-lineage key dedups into a
    // trivially-true predicate and fires the Column warning)
    val bnd = docs.select(col("doc_id").as("b_doc"),
        graft.functions.GraftFunctions.shingleStream(col("text"), 3).as(Seq("p", "h")))
      .filter(col("p") >= 1 && col("h") % 8 === 0)
      .select(col("b_doc"), col("p"), lit(1L).as("b"))
    val wRun = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    val chunks = toksDf
      .join(bnd, col("doc_id") === col("b_doc") && col("i") === col("p"), "left")
      .select(col("doc_id"), col("i"), col("w"), coalesce(col("b"), lit(0L)).as("b"))
      .withColumn("chunk_id", sum(col("b")).over(wRun))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(sort_array(collect_list(struct(col("i"), col("w")))).as("tw"))
      .select(col("doc_id"),
        polyHash(array_join(transform(col("tw"), x => x.getField("w")), " ")).as("chunk_hash"),
        size(col("tw")).cast("long").as("n_tok"))
    chunks
      .groupBy(col("chunk_hash"))
      .agg(min(col("n_tok")).as("n_tok"),
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2)
      .orderBy(col("chunk_hash"))
  }

  /** Near-dup cluster assignment: connected components over the
    * MinHash/LSH pair graph (q23), labels = min doc_id of the
    * component; singletons are their own cluster. This is the step a
    * real pipeline runs after pair generation — "keep one canonical doc
    * per duplicate cluster" needs components, not pairs (A~B, B~C must
    * collapse to one cluster even when A~C was never emitted).
    *
    * Algorithm: alternating large-star/small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond") — the edge set
    * itself contracts toward a star forest rooted at each component's
    * minimum:
    *
    *  - large-star(u): every neighbor v > u re-attaches to
    *    m = min(Γ(u) ∪ u) — emit (v, m);
    *  - small-star(u): every neighbor v ≤ u, and u itself, attach to m.
    *
    * Each phase is one partial-agg groupBy (per-node min) + one hash
    * join + distinct; rounds are O(log n) REGARDLESS of graph diameter
    * (vs diameter rounds for plain min-label propagation — an
    * adversarial long-chain component is pinned in DedupSpec at ≤ 15
    * rounds on a diameter-400 chain). Fewer driver-synchronized rounds
    * also de-amplifies bench sensitivity to transient host contention.
    * Convergence = the edge set is unchanged by a full LS+SS iteration;
    * the fixpoint is exactly the star forest, so labels read off the
    * final edges directly. Each phase is materialized via persist +
    * full count (truncating recomputation); long jobs would
    * periodically checkpoint to cut lineage. */
  /** The corpus entry persists its labels as a salted stage (the
    * IvfIndex/DedupIndex pattern): clustering is the most expensive
    * recurring artifact in the dedup family, and THREE operators
    * consume the same labels (q49 itself, q152's leakage-safe split,
    * q154's canonical selection). The star-CC rounds run once per
    * corpus version; warm consumers read one parquet relation
    * (zero-rebuild pinned via `clusterBuilds` in DedupSpec). The
    * Df-in variant below stays unpersisted — it serves arbitrary
    * survivor sets (CurateDag) and the convergence specs. */
  def nearDupClusters(spark: SparkSession, d: String): DataFrame = {
    val p = SaltedIndex.dir(spark, "clusters", ClusterIdxVersion,
      s"$d/documents.parquet",
      Seq("corpus" -> d, "shingleN" -> NearDupShingleN.toString,
        "jaccard" -> "0.5", "bands" -> s"$NearDupBands x $NearDupRows"))
    SaltedIndex.ensureBuilt(spark, p) {
      clusterLabels(Tables.documents(spark, d), minhashNearDup(spark, d))
        .write.mode("overwrite").parquet(s"$p/labels")
      clusterBuilds += 1
      SaltedIndex.markSuccess(spark, p)
    }
    withSizes(spark.read.parquet(s"$p/labels"))
  }

  private val ClusterIdxVersion = "0.0.1"

  /** Observability for specs: corpus-side cluster builds this JVM ran. */
  @volatile var clusterBuilds: Int = 0

  /** Observability for specs: rounds (full LS+SS iterations) the last
    * nearDupClustersDf call took to converge. */
  @volatile var lastClusterRounds: Int = 0

  /** DataFrame-in variant: components of an arbitrary (doc_a, doc_b)
    * pair graph over an arbitrary doc set (CurateDag runs it on the
    * post-filter survivor set). */
  private[graft] def nearDupClustersDf(docs: DataFrame, pairDf: DataFrame): DataFrame =
    withSizes(clusterLabels(docs, pairDf))

  /** The shared (doc_id, cluster_id, cluster_n) result epilogue. */
  private def withSizes(labels: DataFrame): DataFrame = {
    val sizes = labels.groupBy("cluster_id").agg(count(lit(1)).as("cluster_n"))
    labels.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_n"))
      .orderBy(col("doc_id"))
  }

  /** The label assignment alone — (doc_id, cluster_id), no size/order
    * epilogue — for callers that only need the mapping
    * (incrementalClusters' contracted-graph remap). */
  /** Adaptive driver fast-path bound for `clusterLabels`: when the
    * (already counted) edge relation is at or under this many edges,
    * components collapse to a driver union-find over a
    * RUNTIME-BOUNDED collect — on small graphs the star-CC rounds'
    * driver-synchronized jobs dominate wall time (measured: q266's
    * four ≤256-edge sweeps at sf0.1 spent ~17 s in round scheduling
    * alone; the driver path is milliseconds). ≤100k edges is ≤1.6 MB
    * of longs; above the bound the distributed star-CC runs
    * unchanged, so the 100 TB path is untouched. Opt-in per call
    * site (default 0 = always distributed): q49's persisted stage,
    * q250 and the incremental remap keep their existing physics, and
    * DedupSpec's diameter-chain round-bound pin still measures the
    * distributed algorithm. q266's common path does NOT ride this —
    * its one-scan sweep uses its own INCREMENTAL driver union-find
    * (edges arrive across nested thresholds; this path re-solves from
    * scratch) — but q266's >100k-edge distributed fallback passes the
    * bound down so its small high-τ subgraphs do. Driver ≡
    * distributed is spec-pinned. */
  val DriverCcMaxEdges = 100000L

  private[graft] def clusterLabels(docs: DataFrame, pairDf: DataFrame,
      driverMaxEdges: Long = 0L): DataFrame = {
    val spark = docs.sparkSession
    // Lineage truncation: phase() references its input ~4× (symmetrized
    // union + per-node min + re-attach join), so building round N+1
    // directly on round N's DataFrame grows the LOGICAL plan ~16× per
    // round — exponential, and the driver OOMs on plan analysis long
    // before the data is big. Rebuilding from the persisted RDD makes
    // each round's plan start at a leaf (the round is already
    // materialized by the count below, so the RDD reads the cache).
    def truncate(df: DataFrame): DataFrame =
      spark.createDataFrame(df.rdd, df.schema)
    // canonical undirected edges (x, y) with y < x, deduped
    var eP = pairDf
      .select(greatest(col("doc_a"), col("doc_b")).as("x"),
        least(col("doc_a"), col("doc_b")).as("y"))
      .filter(col("x") =!= col("y")).distinct().persist()
    // count() computes EVERY partition, fully populating the cache
    // before a predecessor is dropped (isEmpty would early-exit,
    // leaving most partitions uncached and recomputing lineage)
    var eCount = eP.count()
    var e = truncate(eP)
    if (eCount > 0L && eCount <= driverMaxEdges) {
      // runtime-bounded collect: the count above IS the guard
      val collected = e.select(col("x"), col("y")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      eP.unpersist()
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x0: Long): Long = {
        var r0 = x0
        while (parent.getOrElse(r0, r0) != r0) r0 = parent(r0)
        var c = x0
        while (parent.getOrElse(c, c) != r0) {
          val nx = parent(c); parent(c) = r0; c = nx
        }
        r0
      }
      // union-by-min: the root is always the component's smallest id,
      // matching star-CC's min-label contract exactly
      collected.foreach { case (x, y) =>
        val rx = find(x); val ry = find(y)
        if (rx != ry) parent(math.max(rx, ry)) = math.min(rx, ry)
      }
      lastClusterRounds = 0
      import spark.implicits._
      val lab = collected.flatMap { case (x, y) => Seq(x, y) }.distinct
        .map(n => (n, find(n))).toSeq.toDF("doc_id", "cid")
      return docs.select(col("doc_id"))
        .join(broadcast(lab), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cid"), col("doc_id")).as("cluster_id"))
    }
    var converged = eCount == 0L
    var rounds = 0

    /** One star phase: per-node min over neighbors, re-attach the
      * selected side. `large` keeps v > u (re-root big neighbors),
      * small keeps v < u plus u itself. Output stays (x, y), y < x. */
    def phase(edges: DataFrame, large: Boolean): DataFrame = {
      val n = edges.select(col("x").as("u"), col("y").as("v"))
        .union(edges.select(col("y").as("u"), col("x").as("v")))
      val mins = n.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val reattached =
        if (large)
          n.join(mins, "u").filter(col("v") > col("u"))
            .select(col("v").as("x"), col("m").as("y")) // m <= u < v
        else
          n.join(mins, "u").filter(col("v") < col("u"))
            .select(col("v").as("x"), col("m").as("y"))
            .filter(col("x") =!= col("y")) // v could BE the min
            .union(mins.filter(col("m") < col("u"))
              .select(col("u").as("x"), col("m").as("y")))
      reattached.distinct()
    }

    while (!converged && rounds < 60) {
      // the large-star intermediate is NOT materialized: with e a
      // cached leaf, embedding its plan (twice) inside the small-star
      // phase stays bounded, and skipping its persist+count removes one
      // driver-synchronized job per round — the whole LS+SS iteration
      // computes in a single job from the previous round's cache
      val ssP = phase(phase(e, large = true), large = false).persist()
      val ssCount = ssP.count()
      val ss = truncate(ssP)
      // unchanged-by-iteration ⟺ star forest reached: both sets are
      // distinct, so equal counts + empty anti-join ⟹ set equality
      // (&& short-circuits: the anti-join job only runs on count ties)
      converged = ssCount == eCount &&
        ss.join(e, Seq("x", "y"), "left_anti").isEmpty
      eP.unpersist()
      eP = ssP
      e = ss
      eCount = ssCount
      rounds += 1
    }
    require(converged,
      s"components not converged after $rounds star rounds — raise the cap " +
        "(expected O(log n): this indicates a defect, not a deep graph)")
    lastClusterRounds = rounds
    // the final star forest backs the caller's label reads; the
    // CacheScope listener releases it after the caller's terminal
    // action (no reliance on a session-level clearCache)
    CacheScope.adopt(eP)
    // star forest: every non-root x has exactly one edge (x, root)
    val lab = e.select(col("x").as("doc_id"), col("y").as("cid"))
    docs.select(col("doc_id"))
      .join(lab, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cid"), col("doc_id")).as("cluster_id"))
  }

  /** Incremental cluster maintenance — the ingest-time companion of
    * `nearDupClustersDf`: a standing corpus already carries component
    * labels; a batch arrives with new documents and newly-discovered
    * near-dup edges (batch↔batch, batch↔corpus, or late corpus↔corpus
    * pairs). Recomputing components from scratch rescans the corpus;
    * this updates ONLY what the new edges touch.
    *
    * Correctness rests on contraction: an existing component is
    * internally connected, so for connectivity it can collapse to its
    * label node. Each new edge maps its endpoints to their current
    * labels (new docs label themselves), components run on that
    * contracted label graph — bounded by the new edges, independent of
    * corpus size — and the resulting label→label remap (small, by the
    * batch≪corpus assumption: broadcast) rewrites the standing labels
    * in one map-side join. Untouched components never shuffle. Labels
    * stay "min doc_id of the component": a contracted node IS the min
    * of its old component, and star CC takes the min over contracted
    * nodes. Equivalence with from-scratch clustering on the unioned
    * graph is pinned in DedupSpec (including the two-old-components
    * merge case).
    *
    * `labels`: (doc_id, cluster_id) standing assignment;
    * `newDocs`: (doc_id) arriving batch (e.g. q56's survivors);
    * `newPairs`: (doc_a, doc_b) newly-discovered edges. */
  def incrementalClusters(labels: DataFrame, newDocs: DataFrame,
      newPairs: DataFrame): DataFrame = {
    val all = labels.select(col("doc_id"), col("cluster_id"))
      .union(newDocs.select(col("doc_id"), col("doc_id").as("cluster_id")))
    // contract: each edge endpoint → its current label
    val contracted = newPairs.select(col("doc_a"), col("doc_b"))
      .join(all.select(col("doc_id").as("doc_a"), col("cluster_id").as("ca")), "doc_a")
      .join(all.select(col("doc_id").as("doc_b"), col("cluster_id").as("cb")), "doc_b")
      .select(col("ca").as("doc_a"), col("cb").as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
    val touched = contracted.select(col("doc_a").as("doc_id"))
      .union(contracted.select(col("doc_b").as("doc_id"))).distinct()
    // star CC on the contracted graph only — its output maps an old
    // label to the merged component's label (labels alone: the size
    // epilogue would be discarded work here)
    val remap = clusterLabels(touched, contracted)
      .select(col("doc_id").as("cluster_id"), col("cluster_id").as("merged"))
    // referenced by both the size agg and the final join — cached so the
    // standing-label scan + remap join runs once, released after the
    // caller's terminal action
    val updated = CacheScope.cached(
      all.join(broadcast(remap), Seq("cluster_id"), "left")
        .select(col("doc_id"),
          coalesce(col("merged"), col("cluster_id")).as("cluster_id")))
    withSizes(updated)
  }

  /** Eval-set decontamination: flag corpus documents sharing any
    * 4-gram with the held-out benchmark set (doc_id ≡ 0 mod 97 stands
    * in for the eval suite). This is the training-data hygiene pass
    * run before every pretraining job — benchmark leakage is measured
    * by verbatim n-gram overlap, not similarity.
    *
    * Shape: the eval side is tiny (benchmarks are thousands of docs vs
    * a 100 TB corpus), so its distinct shingle hashes BROADCAST and
    * the corpus side is a scan → per-row shingles → broadcast
    * hash-semi-join → per-doc count. No corpus-side shuffle except the
    * final aggregation on the (few) contaminated docs. */
  /** The held-out-eval split rule (doc_id ≡ 0 mod EvalMod) and the
    * decontamination shingle shape — ONE definition each, shared by
    * q55, q90, and the curation DAG so the exact and bloom paths can
    * never silently diverge. */
  val EvalMod = 97

  private def deconShingles(df: DataFrame): DataFrame =
    df.select(col("doc_id"), explode(shingleHashSet(col("text"), 4)).as("h"))

  private def evalSplit(spark: SparkSession, d: String): (DataFrame, DataFrame) = {
    val docs = Tables.documentsDist(spark, d)
    (docs.filter(col("doc_id") % EvalMod =!= 0),
      docs.filter(col("doc_id") % EvalMod === 0))
  }

  def decontaminate(spark: SparkSession, d: String): DataFrame = {
    val (corpus, eval_) = evalSplit(spark, d)
    decontaminateDf(corpus, eval_)
  }

  /** DataFrame-in variant: flag `docs` sharing any 4-gram with
    * `evalDocs` (both (doc_id, text)). */
  private[graft] def decontaminateDf(docs: DataFrame, evalDocs: DataFrame): DataFrame = {
    val ev = deconShingles(evalDocs).select(col("h")).distinct()
    deconShingles(docs)
      .join(broadcast(ev), "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared")) // per-doc shingles are distinct
      .orderBy(col("doc_id"))
  }

  /** BFS rounds for q139 — fixed so the recurrence stays one lazy plan
    * and the oracle chains the same number of expansion CTEs. */
  val RadiusHops = 2

  /** q139: TRANSITIVE contamination blast radius. q55 flags documents
    * that directly share eval 4-grams — but a paraphrased copy of a
    * flagged doc shares the *flagged doc's* shingles, not the eval
    * set's, and survives direct decontamination. Real pipelines
    * therefore expand the contaminated seed set over the near-duplicate
    * graph: hops=0 are q55's direct hits, hops=k are docs within k
    * near-dup edges (q23's MinHash pairs at J ≥ 0.5) of a hit — the
    * set a conservative decontamination actually removes, and the
    * "blast radius" number a leakage audit reports.
    *
    * Shape: the composition is entirely reused plans — q55's broadcast
    * shingle probe for seeds, q23's banded candidate join for edges —
    * plus q131's frontier-delta BFS (settled docs never re-expand,
    * per-round work ∝ frontier degree mass, lineage truncated per
    * round). Nothing here introduces a new scale surface: at 100 TB it
    * costs exactly one decontamination pass + one near-dup pass + 2
    * sparse frontier joins on the (tiny) contaminated subgraph. */
  def contamRadius(spark: SparkSession, d: String): DataFrame = {
    val (corpus, eval_) = evalSplit(spark, d)
    contamRadiusDf(corpus, eval_)
  }

  /** DataFrame-in variant over (doc_id, text) corpus/eval relations. */
  private[graft] def contamRadiusDf(corpus: DataFrame, eval_ : DataFrame): DataFrame = {
    val direct = decontaminateDf(corpus, eval_)
      .select(col("doc_id"), lit(0L).as("hops"))
    val pairs = minhashNearDupDf(corpus)
    val edges = CacheScope.cached(
      pairs.select(col("doc_a").as("s"), col("doc_b").as("t"))
        .union(pairs.select(col("doc_b").as("s"), col("doc_a").as("t"))))
    var dist = CacheScope.cached(direct)
    var frontier = dist
    for (k <- 1 to RadiusHops) {
      val nf = CacheScope.cached(
        frontier.join(edges, col("doc_id") === col("s"))
          .select(col("t").as("doc_id")).distinct()
          .join(dist, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), lit(k.toLong).as("hops")))
      dist = dist.union(nf) // disjoint by construction
      frontier = nf
    }
    dist.orderBy(col("doc_id"))
  }

  /** q107: longest contaminated span — the length-thresholded refinement
    * of q55. Real decontamination pipelines flag on VERBATIM overlap
    * length (e.g. "any 50-token span shared with a benchmark"), not on
    * mere shingle intersection: a stray idiom shares a 4-gram, a leaked
    * benchmark item shares a long run. Per contaminated doc: the number
    * of maximal contaminated runs, the longest run of CONSECUTIVE
    * shared 4-gram positions, and its token length (run + 3).
    *
    * Shape: positional 4-gram hashes are one row-local projection
    * (sequence+transform, the q89 chunking idea); the eval side stays a
    * tiny broadcast; runs come from one gaps-and-islands window over
    * the (few) matched positions — corpus-side work is scan + probe,
    * with shuffles only on matched rows. Pure integer arithmetic ⇒ the
    * oracle replays it exactly. */
  def contamSpans(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (corpus, eval_) = evalSplit(spark, d)
    val ev = deconShingles(eval_).select(col("h")).distinct()
    val hits = corpus
      .select(col("doc_id"),
        posexplode(transform(shingles(toks(col("text")), 4), s => polyHash(s)))
          .as(Seq("pos", "h")))
      .join(broadcast(ev), "h")
      .select(col("doc_id"), col("pos"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    hits
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp")).agg(count(lit(1)).as("run"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"), max(col("run")).as("max_run"))
      .select(col("doc_id"), col("n_spans"),
        col("max_run"), (col("max_run") + 3).as("span_tokens"))
      .orderBy(col("doc_id"))
  }

  /** q109: cross-document verbatim overlap — the ExactSubstr idea
    * (public dedup literature: verbatim ≥k-token substrings shared
    * BETWEEN training documents, the overlap MinHash can only
    * approximate). For every doc pair sharing any 8-gram: the number of
    * maximal shared verbatim regions and the longest one, in tokens.
    *
    * Shape: positional 8-gram hashes (row-local projection) feed an
    * inverted-index self-equi-join on the gram hash — candidates are
    * only position pairs that ALREADY share an 8-gram, never all pairs.
    * Two matched positions are contiguous verbatim text iff they sit on
    * the same DIAGONAL (pos_a − pos_b constant), so the longest common
    * span is one gaps-and-islands window per (pair, diagonal) over
    * matched positions. At 100 TB the posting list of a stop-8-gram is
    * the blow-up risk — the production knob is a df cap on the gram
    * index (drop grams with df > B, bounding pairs per gram at B², at
    * the cost of missing spans made ONLY of ubiquitous grams), exactly
    * PPJoin's stop-shingle argument (q46). Pure integer arithmetic ⇒
    * hash-checked end-to-end. */
  def verbatimOverlap(spark: SparkSession, d: String): DataFrame =
    overlapFromGrams(gramIndex(spark, d))

  /** q123: q109 with the production df cap REAL — grams whose posting
    * list exceeds `GramDfCap` fall out of the index before the
    * self-join, bounding pair instances per gram at cap² (PPJoin's
    * stop-shingle argument, q46). The price, stated exactly: a shared
    * span is missed only when EVERY 8-gram inside it is corpus-
    * ubiquitous (df > cap) — spans with any distinctive gram survive.
    * Same diagonal machinery; the df filter is one re-aggregation of
    * the gram relation joined back on the gram key. */
  def verbatimOverlapCapped(spark: SparkSession, d: String): DataFrame =
    verbatimOverlapCappedDf(Tables.documentsDist(spark, d))

  private[graft] def verbatimOverlapCappedDf(docs: DataFrame): DataFrame = {
    val grams = gramIndexDf(docs)
    val keep = grams.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= GramDfCap)
      .select(col("h"))
    // cache the CAPPED index — the relation the pair join actually
    // self-joins — so the corpus-wide df aggregate + semi-join subtree
    // computes once structurally, not via optimizer exchange reuse
    overlapFromGrams(CacheScope.cached(grams.join(keep, "h")))
  }

  private[graft] val GramDfCap = 16L

  /** q132: duplicated-span LOCALIZATION — q109/q123 report which PAIRS
    * overlap; the operator a span-level cleaner actually consumes is
    * per-document: WHICH token ranges of each doc are verbatim
    * duplicated elsewhere in the corpus (the "cut the duplicated
    * substring, keep the rest" step of the ExactSubstr recipe, vs the
    * doc-level drop of q21/q23). A position is covered iff its 8-gram
    * also occurs in at least one OTHER document (within-doc repetition
    * alone doesn't flag — that's q61's signal); adjacent covered
    * positions merge into maximal islands via one gaps-and-islands
    * window per doc.
    *
    * Shape: the positional gram index (row-local projection), a gram-
    * keyed two-phase distinct-doc count to find cross-doc grams, one
    * hash join back on the gram key, and a doc-keyed window — every
    * shuffle is keyed and linear in the gram count; NO pair join at
    * all, so unlike q109 this is safe against stop-gram posting blowup
    * (a df cap is unnecessary: df only enters as a count). At 100 TB
    * the gram index is ~|tokens| rows — the same relation q109 already
    * budgets for — and the output is bounded by it. */
  def dupSpans(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = gramIndexDf(Tables.documentsDist(spark, d))
    val crossDoc = grams.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select(col("h"))
    val hits = grams.join(crossDoc, "h").select(col("doc_id"), col("pos"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    hits.withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("span_start"), col("n_grams"),
        (col("n_grams") + 7).as("span_tokens"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** Positional 8-gram hash index (row-local projection), shared by
    * q109 (uncapped) and q123 (df-capped). */
  private def gramIndex(spark: SparkSession, d: String): DataFrame =
    gramIndexDf(Tables.documentsDist(spark, d))

  private def gramIndexDf(docs: DataFrame): DataFrame =
    CacheScope.cached(docs
      .select(col("doc_id"),
        posexplode(transform(shingles(toks(col("text")), 8), s => polyHash(s)))
          .as(Seq("pos", "h"))))

  private def overlapFromGrams(grams: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = grams.as("a")
      .join(grams.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.pos").as("pa"), (col("a.pos") - col("b.pos")).as("diag"))
    val w = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("pa"))
    m.withColumn("grp", col("pa") - row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("grp"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_regions"), max(col("run")).as("max_run"))
      .select(col("doc_a"), col("doc_b"), col("n_regions"),
        col("max_run"), (col("max_run") + 7).as("span_tokens"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q112: multi-suite decontamination — q55 refined to the report a
    * pipeline owner actually reads: benchmark leakage is tracked PER
    * EVAL SUITE (which benchmark leaked, how badly), not as one pooled
    * flag. The eval split partitions into 3 deterministic suites; each
    * contaminated corpus doc reports its shared-shingle count per suite
    * plus how many distinct suites it touches. Shape is q55's exactly:
    * (suite, shingle) pairs stay a tiny broadcast; per-suite counts are
    * conditional aggregations in the one per-doc hash-agg — adding
    * suites adds columns, never passes. */
  def deconSuites(spark: SparkSession, d: String): DataFrame = {
    val (corpus, eval_) = evalSplit(spark, d)
    val ev = eval_
      .withColumn("suite", expr(s"(doc_id div $EvalMod) % 3")) // exact int div
      .select(col("suite"), explode(shingleHashSet(col("text"), 4)).as("h"))
      .distinct()
    deconShingles(corpus)
      .join(broadcast(ev), "h")
      .groupBy(col("doc_id"))
      .agg(
        count(when(col("suite") === 0, 1)).as("n_suite0"),
        count(when(col("suite") === 1, 1)).as("n_suite1"),
        count(when(col("suite") === 2, 1)).as("n_suite2"),
        countDistinct(col("suite")).as("n_suites"))
      .orderBy(col("doc_id"))
  }

  /** q90: bloom-filter decontamination — the 100 TB shape of q55 when
    * the benchmark shingle set outgrows an exact broadcast. The eval
    * set's 4-gram hashes build ONE mergeable bloom filter (Spark's own
    * BloomFilterAggregate — map-side partials OR-merge); the corpus
    * pass probes it with the codegen might_contain kernel, reading no
    * eval-side data at all. The probe is one-sided: never a false
    * negative, so every truly-contaminated doc is flagged; false
    * positives (~2.2% per probe at the 8 bits/item sizing below —
    * (1−e^{−6/8})^6 with the optimal 6 hashes) only add review work.
    * Flag counts are therefore an UPPER bound on q55's exact counts —
    * approximate ⇒ rows-only check; DedupSpec pins no-false-negative
    * vs q55 and bounds the FP overhead. */
  def deconBloom(spark: SparkSession, d: String): DataFrame = {
    import graft.functions.Bloom._
    val (corpus, eval_) = evalSplit(spark, d)
    val ev = deconShingles(eval_).select(col("h")).distinct().persist()
    // capacity = max(observed distinct shingles, 100k floor) at 8
    // bits/item: the floor keeps per-probe FPP effectively zero on
    // small eval sets (a corpus doc probes hundreds of shingles, so
    // even 2% per-probe FPP would flag nearly every doc), and growing
    // with the OBSERVED count means an eval set outgrowing the floor
    // can never silently saturate the filter past the ~2.2% ceiling
    // ((1−e^{−6/8})^6 with the optimal 6 hashes). The count is an
    // extra action over the (tiny, persisted) eval side only.
    val nItems = math.max(ev.count(), 100000L)
    // one-row filter collected to the driver and re-entering the plan
    // as a constant — the same lifecycle as a broadcast variable, and
    // what might_contain's constant-input rule requires
    val bf = ev.agg(bloomAgg(col("h"), nItems, 8L * nItems).as("bf"))
      .head().getAs[Array[Byte]](0)
    ev.unpersist()
    deconShingles(corpus)
      .filter(mightContain(lit(bf), col("h")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_flagged"))
      .orderBy(col("doc_id"))
  }

  /** Incremental ingest dedup: a new batch (source index ≥ 15) joins a
    * standing corpus (source index < 15); new documents are dropped
    * when they exactly match a corpus text OR near-match one at
    * Jaccard ≥ 0.5 via the q23 MinHash/LSH band machinery — candidates
    * only from cross-set band collisions, exact verify on candidates.
    * Survivors are what the pipeline appends.
    *
    * This is the steady-state shape of corpus maintenance at 100 TB:
    * the CORPUS side (exact keys, shingle sets, band keys) comes from
    * the persisted salted DedupIndex stage, paid once per corpus
    * version — an ingest invocation scans only the batch, computes only
    * the batch's signatures, and probes (zero corpus-side shingle work
    * when the index is warm; asserted via `DedupIndex.builds` in
    * DedupSpec). Both sides are blocked by band keys (the corpus never
    * self-joins), and the exact-text pass catches sub-shingle-length
    * docs the MinHash path can't see. */
  def ingestDedup(spark: SparkSession, d: String): DataFrame =
    ingestDedupDf(Tables.documentsDist(spark, d).filter(!DedupIndex.isCorpus), spark, d)

  /** Batch-in variant: dedup an arriving (doc_id, lang, …, text) batch
    * against the persisted standing-corpus index. Because the batch is
    * ONLY compared to the corpus (never to itself — within-batch dups
    * are the upstream exact/near-dup stages' job), the operator is
    * embarrassingly parallel across batches: any partition of the
    * arriving docs into micro-batches yields the same union of
    * survivors, which is what makes the STREAMING twin (DocStream
    * foreachBatch) trivially ≡ batch (DocStreamSpec). */
  private[graft] def ingestDedupDf(fresh: DataFrame, spark: SparkSession,
      d: String): DataFrame = {
    val (corpusKeys, corpusSets, corpusBands) = DedupIndex.buildOrLoad(spark, d)
    // 1. exact text match against the persisted corpus keys (anti-join)
    val s1 = fresh.join(corpusKeys, lower(fresh("text")) === col("k"), "left_anti")
    // 2. near-dup vs corpus: batch-side signatures only; read by the
    // band probe and the verify join; released by the CacheScope
    // listener after the caller's terminal action
    val newSets = CacheScope.cached(fresh
      .select(col("doc_id"), shingleHashSet(col("text"), NearDupShingleN).as("hs"))
      .filter(size(col("hs")) > 0)
      .withColumn("bands", nearDupBandKeys(col("hs"))))
    val newBands = newSets
      .select(col("doc_id"), posexplode(col("bands")).as(Seq("b", "key")))
    val cand = newBands.as("x")
      .join(corpusBands.as("y"), Seq("b", "key"))
      .select(col("x.doc_id").as("did"), col("y.doc_id").as("cid"))
      .distinct()
    // verify-side pruning: only corpus docs that actually appear as
    // candidates matter to the exact-Jaccard join — semi-join the
    // (100 TB) sets relation down to them FIRST, via a broadcast of the
    // (small: bounded by batch × band collisions) candidate id set, so
    // the corpus-side shingle explode shuffles candidate rows only,
    // never the full corpus postings
    val candCorpus = corpusSets.join(
      broadcast(cand.select(col("cid").as("doc_id")).distinct()), "doc_id")
    val hNew = newSets.select(col("doc_id"), explode(col("hs")).as("h"))
    val hCorp = candCorpus.select(col("doc_id"), explode(col("hs")).as("h"))
    val common = cand
      .join(hNew.as("p"), col("did") === col("p.doc_id"))
      .join(hCorp.as("q"), col("cid") === col("q.doc_id") && col("p.h") === col("q.h"))
      .groupBy(col("did").as("doc_a"), col("cid").as("doc_b"))
      .agg(count(lit(1)).as("cm"))
    // both size relations are candidate-bounded after the pruning
    val szNew = newSets.select(col("doc_id"), size(col("hs")).as("sz"))
    val szCorp = candCorpus.select(col("doc_id"), size(col("hs")).as("sz"))
    val nearDup = jaccardPairs(common, szNew, szCorp, 0.5)
      .select(col("doc_a").as("doc_id")).distinct()
    s1.join(nearDup, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }

  /** Exact all-pairs cosine ≥ 0.4 — the quadratic ground-truth twin of
    * `embeddingNearDup`, kept for DedupSpec's recall measurement (it is
    * deliberately NOT a `queries` entry: its BroadcastNestedLoopJoin is
    * the canonical 100×-scale killer). */
  def embeddingNearDupExact(spark: SparkSession, d: String): DataFrame = {
    val e = Similarity.withNorm(Tables.embeddings(spark, d))
    val cos = Similarity.cosine(col("a.v"), col("b.v"), col("a.nn"), col("b.nn"))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", cos)
      .filter(col("cos") >= 0.4)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(col("cos"), 6).as("cosine"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** q145: paragraph-granularity exact dedup (Dolma-style) — the
    * sub-document twin of q21. The synthetic corpus has no paragraph
    * delimiters, so the paragraph unit is a deterministic fixed-width
    * chunk: 16-token windows at stride 16. Corpus-wide, the first
    * occurrence of each chunk (smallest (doc_id, chunk_idx)) is the
    * keeper; every later copy is dropped, and the per-document report
    * counts surviving chunks/tokens — what the pipeline would write
    * back as the pruned corpus.
    *
    * Shape at 100 TB: chunking is per-row codegen (split + slice, row
    * amplification n_tok/16); keeper election is ONE hash-agg shuffle
    * on the chunk hash with map-side partial min(struct), then one
    * equi-join back on the hash and one per-doc agg — no windows, no
    * self-join, no corpus-sized broadcast. The keeper key packs
    * (doc_id, chunk_idx) into one BIGINT (chunk_idx < 2^20 ⇔ docs
    * under ~16M tokens — asserted range, not assumed). */
  def chunkDedup(spark: SparkSession, d: String): DataFrame =
    chunkDedupDf(Tables.documents(spark, d)
      .repartition(spark.sparkContext.defaultParallelism))

  private[graft] val ChunkW = 16

  /** Per-row 16-token chunking shared by q145/q150: (doc_id, [extra
    * passthrough cols], cidx, ctok, h). split + slice + posexplode
    * only — row amplification n_tok/16, no shuffle. */
  private[graft] def chunkRows(docs: DataFrame, extra: String*): DataFrame = {
    val keep = extra.map(col)
    docs
      .select(col("doc_id") +: toks(col("text")).as("tk") +: keep: _*)
      .select(col("doc_id") +: col("tk") +: (keep :+
        posexplode(expr(s"sequence(0, (size(tk) + ${ChunkW - 1}) div $ChunkW - 1)"))
          .as(Seq("p", "cidx"))): _*)
      .select(col("doc_id") +: col("cidx").cast("long").as("cidx") +:
        expr(s"slice(tk, cidx * $ChunkW + 1, $ChunkW)").as("ctk") +: keep: _*)
      .select(col("doc_id") +: col("cidx") +:
        size(col("ctk")).cast("long").as("ctok") +:
        polyHash(array_join(col("ctk"), " ")).as("h") +: keep: _*)
  }

  private[graft] def chunkDedupDf(docs: DataFrame): DataFrame = {
    val chunks = chunkRows(docs)
      .withColumn("ckey", col("doc_id") * lit(1048576L) + col("cidx"))
    val keeper = chunks.groupBy(col("h")).agg(min(col("ckey")).as("keep_key"))
    chunks.join(keeper, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("ckey") === col("keep_key"), 1L).otherwise(0L)).as("kept_chunks"),
        sum(when(col("ckey") === col("keep_key"), col("ctok")).otherwise(0L)).as("kept_tokens"),
        sum(col("ctok")).as("n_tokens"))
      .select(col("doc_id"), col("n_chunks"), col("kept_chunks"),
        (col("n_chunks") - col("kept_chunks")).as("dup_chunks"),
        col("n_tokens"), col("kept_tokens"))
      .orderBy(col("doc_id"))
  }

  /** q155: ingest-time paragraph (chunk) dedup — the arriving batch's
    * 16-token chunks probed against the PERSISTED standing-corpus
    * chunk index (q145's deployment shape, exactly as q56 is q23's):
    * per new document, how many of its chunks the corpus already
    * holds, and the fresh token mass an append would actually add.
    * Within-batch duplication is deliberately out of scope (q145's
    * job upstream) — the batch compares only to the corpus, so the
    * operator is embarrassingly parallel across micro-batches.
    *
    * Shape at 100 TB: the corpus side is ONE distinct chunk-hash
    * relation from the salted DedupIndex stage, paid once per corpus
    * version (warm = zero corpus work, pinned via DedupIndex.builds);
    * an ingest chunk-hashes only the batch and probes with one
    * hash-equi-join. */
  def ingestChunkDedup(spark: SparkSession, d: String): DataFrame = {
    val fresh = Tables.documentsDist(spark, d).filter(!DedupIndex.isCorpus)
    val idx = DedupIndex.buildOrLoadChunks(spark, d).withColumn("in_corpus", lit(1L))
    chunkRows(fresh)
      .join(idx, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("in_corpus").isNotNull, 1L).otherwise(0L)).as("corpus_dup_chunks"),
        sum(col("ctok")).as("n_tokens"),
        sum(when(col("in_corpus").isNull, col("ctok")).otherwise(0L)).as("fresh_tokens"))
      .select(col("doc_id"), col("n_chunks"), col("corpus_dup_chunks"),
        (col("n_chunks") - col("corpus_dup_chunks")).as("fresh_chunks"),
        col("n_tokens"), col("fresh_tokens"),
        expr("(1000 * corpus_dup_chunks) div n_chunks").as("dup_permille"))
      .orderBy(col("doc_id"))
  }

  /** q149: per-document novelty scoring — of a document's distinct
    * 8-gram shingles, the fraction whose corpus-wide FIRST occurrence
    * (minimum doc_id over holders) is this document. The
    * dataset-growth audit: novelty ≈ 0 marks a doc that adds nothing
    * the corpus didn't already have (the aggregate view of what
    * q145/q109 flag pairwise), and the permille stream over ingest
    * order shows when a source stops contributing.
    *
    * Shape at 100 TB: distinct shingle sets are per-row codegen
    * (native kernel); first-holder election is ONE hash-agg min on
    * the gram hash; one equi-join back + one per-doc agg — the q145
    * keeper shape on the q31 gram unit. Docs shorter than 8 tokens
    * have no 8-gram and drop out (mirrored in the oracle). */
  def docNovelty(spark: SparkSession, d: String): DataFrame =
    docNoveltyDf(Tables.documents(spark, d)
      .repartition(spark.sparkContext.defaultParallelism))

  private[graft] def docNoveltyDf(docs: DataFrame): DataFrame = {
    val grams = docs
      .select(col("doc_id"), explode(shingleHashSet(col("text"), 8)).as("h"))
    val first = grams.groupBy(col("h")).agg(min(col("doc_id")).as("first_doc"))
    grams.join(first, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        expr("(1000 * n_novel) div n_grams").as("novelty_permille"))
      .orderBy(col("doc_id"))
  }

  /** q150: cross-source duplication matrix — for every source pair,
    * how many distinct 16-token chunks they share verbatim, plus the
    * overlap as a permille of the smaller source's chunk inventory.
    * The mirror-detection report: q63 says two sources use the same
    * WORDS; q150 says they carry the same CONTENT (syndication,
    * scraped mirrors, boilerplate families).
    *
    * Shape at 100 TB: chunking is row-local (shared q145 kernel);
    * the per-(source, chunk) relation is distinct-collapsed BEFORE
    * the pair join (aggregate-before-join, the q63 discipline), and a
    * boilerplate chunk held by more than `SourceDfCap` sources leaves
    * the index before the self-join (the q123/q142 stop-key cap —
    * without it one universal header contributes |sources|² pair
    * instances). Output is source-pair bounded, never corpus-sized. */
  def crossSourceDup(spark: SparkSession, d: String): DataFrame =
    crossSourceDupDf(Tables.documentsDist(spark, d))

  private[graft] val SourceDfCap = 16L

  private[graft] def crossSourceDupDf(docs: DataFrame): DataFrame = {
    val ch = CacheScope.cached(
      chunkRows(docs, "source").select(col("source"), col("h")).distinct())
    val perSrc = ch.groupBy(col("source")).agg(count(lit(1)).as("sz"))
    val keep = ch.groupBy(col("h")).agg(count(lit(1)).as("nsrc"))
      .filter(col("nsrc") <= SourceDfCap).select(col("h"))
    val chc = CacheScope.cached(ch.join(keep, "h"))
    val shared = chc.as("a")
      .join(chc.as("b"), col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("shared_chunks"))
    shared
      .join(perSrc.toDF("src_a", "sa"), "src_a")
      .join(perSrc.toDF("src_b", "sb"), "src_b")
      .select(col("src_a"), col("src_b"), col("shared_chunks"),
        col("sa"), col("sb"),
        expr("(1000 * shared_chunks) div least(sa, sb)").as("overlap_permille"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Eval-carve size for q156 — FIXED (not a corpus fraction), which is
    * what makes the eval side broadcastable at any corpus size. */
  private[graft] val EmbedDecontamEvalK = 64

  /** q156: EMBEDDING-SPACE decontamination — the semantic twin of q55.
    * n-gram decontamination (q55/q107/q90) catches verbatim and
    * near-verbatim eval leakage; it is blind to paraphrases, which live
    * in embedding space. Here a held-out eval set is carved from the
    * vector table (the `EmbedDecontamEvalK` vec_ids ranking first by
    * the salted content hash — deterministic, size-FIXED by
    * construction, the q120 carve idea on the vector side) and every
    * corpus vector with cosine ≥ 0.4 to ANY eval vector is flagged
    * with its hit count and best-matching eval item.
    *
    * Shape at 100 TB: the eval relation is 64 rows by construction —
    * the broadcast is bounded by the carve constant, never the corpus
    * (same legitimacy argument as q55's eval shingles). The corpus
    * pass is a map-only broadcast nested scan (64 exact dot products
    * per row, linear in N) followed by one vec_id-keyed hash-agg of
    * the ≥τ survivors. A deployment with a larger eval set swaps the
    * brute pass for the IVF cell restriction (q33's index): probe only
    * cells whose centroid is within the τ-ball bound — plan shape
    * unchanged. Exact double cosine (the q25/q26 discipline: positional
    * fold = DuckDB list_dot_product, identical order) keeps it fully
    * oracle-checked. */
  def embedDecontam(spark: SparkSession, d: String): DataFrame = {
    // eval carve + corpus anti side read the same normed relation once
    val e = CacheScope.cached(Similarity.withNorm(Tables.embeddings(spark, d)))
    // TakeOrderedAndProject: per-partition top-64 + driver merge — no
    // global sort, result total-ordered by (h, vec_id) so deterministic
    val ev = e
      .withColumn("h", polyHash(concat(lit("ed:"), col("vec_id").cast("string"))))
      .orderBy(col("h"), col("vec_id")).limit(EmbedDecontamEvalK)
      .select(col("vec_id").as("eval_id"), col("v").as("ev"), col("nn").as("en"))
    val corpus = e.join(ev.select(col("eval_id").as("vec_id")), Seq("vec_id"), "left_anti")
    corpus.crossJoin(broadcast(ev))
      .withColumn("cos",
        Similarity.cosine(col("v"), col("ev"), col("nn"), col("en")))
      .filter(col("cos") >= 0.4)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_eval_hits"),
        // best match = highest cosine, ties to the SMALLEST eval id
        max(struct(col("cos").as("c"), (-col("eval_id")).as("nid"))).as("best"))
      .select(col("vec_id"), col("n_eval_hits"),
        (-col("best.nid")).as("eval_id"),
        round(col("best.c"), 6).as("cosine"))
      .orderBy(col("vec_id"))
  }

  /** q221: DEDUP-WEIGHTED TOKEN YIELD — per source: raw documents and
    * tokens vs the EFFECTIVE token mass after near-dup down-weighting
    * (each document weighted 1/|its q49 cluster|, in exact milli:
    * (1000·n_tok) div cluster_n). "10 TB of source X" can be 9 TB or
    * 2 TB of effective training signal depending on its duplication
    * structure — this is the number a mixture designer budgets with,
    * and the per-source view attributes the loss. Rides the PERSISTED
    * q49 cluster labels (warm consumers read one parquet relation).
    *
    * Shape at 100 TB: token counts row-local; one doc-keyed join to
    * the label stage; one source-keyed agg. */
  def dedupYield(spark: SparkSession, d: String): DataFrame = {
    val labels = nearDupClusters(spark, d)
      .select(col("doc_id").as("ld"), col("cluster_n"))
    Tables.documentsDist(spark, d)
      .select(col("doc_id"), col("source"),
        size(toks(col("text"))).cast("long").as("n_tok"))
      .join(labels, col("doc_id") === col("ld"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("raw_tokens"),
        sum(when(col("cluster_n") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
        sum(expr("(1000 * n_tok) div cluster_n")).as("eff_tokens_milli"))
      .select(col("source"), col("n_docs"), col("raw_tokens"),
        col("n_dup_docs"), col("eff_tokens_milli"),
        expr("eff_tokens_milli div raw_tokens").as("yield_pm"))
      .orderBy(col("source"))
  }

  /** q222: LSH BUCKET-BALANCE AUDIT — per band of the q23 scheme
    * (16 minhashes, 4 bands × 4 rows): bucket count, the largest
    * bucket, singleton buckets (docs proposing no candidate through
    * this band), and the candidate-pair mass Σ C(|bucket|,2) the band
    * contributes to the q23 join. This is the direct COST MODEL of
    * LSH dedup — the number that says whether a banding choice (or a
    * boilerplate-polluted corpus) is about to quadratically explode
    * the candidate join, and the evidence behind the q23 hot-bucket
    * cap. Read BEFORE running dedup at 100 TB, the same way q200 is
    * read before a skewed join.
    *
    * Shape at 100 TB: one (band, key) count agg (map-side partials),
    * then a 4-row band agg; pair mass in DECIMAL(38,0) — one viral
    * bucket's C(n,2) overflows Long past ~4.3e9 members. */
  def lshBucketBalance(spark: SparkSession, d: String): DataFrame = {
    val bands = shingleSets(spark, d)
      .select(col("doc_id"), nearDupBandKeys(col("hs")).as("bands"))
      .select(posexplode(col("bands")).as(Seq("b", "key")))
    bands.groupBy(col("b"), col("key")).agg(count(lit(1)).as("n"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("n_buckets"),
        max(col("n")).as("max_bucket"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_singletons"),
        sum(expr("(CAST(n AS DECIMAL(38,0)) * (n - 1)) div 2"))
          .cast("long").as("cand_pairs"))
      .select(col("b").cast("long").as("band"), col("n_buckets"),
        col("max_bucket"), col("n_singletons"), col("cand_pairs"))
      .orderBy(col("band"))
  }

  /** q238: CROSS-LANGUAGE DUPLICATE CLUSTERS — for every multi-doc
    * near-dup cluster (persisted q49 labels), how many PREDICTED
    * languages (q28 heuristic) it mixes, the majority language (count
    * desc, then lexicographically-last on ties — the max(struct) order,
    * documented), and the minority share in permille. A cluster that
    * spans languages is either a translation pair (keep both!) or a
    * language-ID error — exactly the rows a curation owner must review
    * before dedup deletes "duplicates" that are actually parallel text.
    *
    * Shape at 100 TB: warm consumers read the persisted salted label
    * stage (zero-rebuild, the q152/q154/q221 contract); the langid
    * side is one row-local scan; everything downstream is
    * cluster-keyed aggs on the multi-doc subset. Output ≤ |multi-doc
    * clusters|. */
  def clusterLangMix(spark: SparkSession, d: String): DataFrame = {
    val labels = nearDupClusters(spark, d)
      .filter(col("cluster_n") > 1)
      .select(col("doc_id").as("ld"), col("cluster_id"), col("cluster_n"))
    val pred = TextAnalysis.langId(spark, d).select(col("doc_id"), col("pred"))
    val byLang = labels.join(pred, col("ld") === col("doc_id"))
      .groupBy(col("cluster_id"), col("pred"))
      .agg(count(lit(1)).as("n"))
    byLang.groupBy(col("cluster_id"))
      .agg(sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_langs"),
        max(struct(col("n"), col("pred"))).as("mj"))
      .select(col("cluster_id"), col("n_docs"), col("n_langs"),
        col("mj.pred").as("maj_lang"),
        expr("(1000 * (n_docs - mj.n)) div n_docs").as("minority_pm"))
      .orderBy(col("cluster_id"))
  }

  /** Cluster-size cap for q243's within-cluster pair enumeration —
    * C(64,2) = 2,016 pairs max per cluster; larger clusters are
    * boilerplate blobs q214 already characterizes. */
  val DiffStatsMaxCluster = 64L

  /** q243: NEAR-DUP CLUSTER GEOMETRY — for every multi-doc cluster
    * (2 ≤ size ≤ 64): the pairwise mean absolute LENGTH delta in
    * milli-chars and how many pairs are byte-identical (polyhash
    * equal). This is the threshold-tuning evidence a dedup owner reads
    * before moving the Jaccard bar: clusters full of exact-equal pairs
    * say the threshold could tighten for free; clusters with big
    * length deltas say near-dup is catching containment (one doc
    * embeds another — q138's relation), not redundancy.
    *
    * Shape at 100 TB: warm persisted labels; ONE row-local scan for
    * (length, polyhash) per doc; the pair enumeration is a
    * cluster-keyed self-join with the size cap bounding every group at
    * C(64,2) — never quadratic in an unbounded hot cluster (the
    * q123/q142 cap discipline; the capped-out tail is exactly the
    * q214 boilerplate population, reported by its own operator). */
  def clusterDiffStats(spark: SparkSession, d: String): DataFrame = {
    val labels = nearDupClusters(spark, d)
      .filter(col("cluster_n") >= 2 && col("cluster_n") <= DiffStatsMaxCluster)
      .select(col("doc_id").as("ld"), col("cluster_id"), col("cluster_n"))
    val docs = Tables.documentsDist(spark, d).select(col("doc_id"),
      col("n_chars"), TextOps.polyHash(col("text")).as("fp"))
    val j = CacheScope.cached(labels.join(docs, col("ld") === col("doc_id"))
      .select(col("cluster_id"), col("ld"), col("n_chars"), col("fp")))
    val a = j.select(col("cluster_id").as("ca"), col("ld").as("da"),
      col("n_chars").as("la"), col("fp").as("fa"))
    val b = j.select(col("cluster_id").as("cb"), col("ld").as("db"),
      col("n_chars").as("lb"), col("fp").as("fb"))
    a.join(b, col("ca") === col("cb") && col("da") < col("db"))
      .groupBy(col("ca").as("cluster_id"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(abs(col("la") - col("lb"))).as("ld_sum"),
        sum(when(col("fa") === col("fb"), 1L).otherwise(0L))
          .as("n_exact_pairs"))
      .select(col("cluster_id"), col("n_pairs"),
        expr("(1000 * ld_sum) div n_pairs").as("mean_len_delta_milli"),
        col("n_exact_pairs"))
      .orderBy(col("cluster_id"))
  }

  /** q266 threshold grid in permille. The corpus's verified pairs all
    * sit in J ∈ [0.90, 0.99] (synthetic near-dups are heavy-overlap),
    * so the informative part of the dial is the top of the range —
    * 500 anchors the production bar, 900/950/980 discriminate. */
  val PercolationGridPm: Seq[Long] = Seq(500L, 900L, 950L, 980L)

  /** q266: DEDUP-THRESHOLD PERCOLATION CURVE — what the corpus graph
    * looks like at every Jaccard bar on the table: for τ on the permille
    * grid above, the operational pair set (q23's verified candidates,
    * threshold applied in EXACT integers: 1000·cm ≥ τ‰·(|A|+|B|−cm)),
    * its connected components (the q49 star-CC recurrence, rerun per
    * threshold), and the merge evidence: edges, multi-doc clusters,
    * docs swallowed into clusters, largest cluster. Moving a dedup
    * threshold is a percolation decision — too low and transitive
    * chains glue the corpus into one blob (largest_cluster explodes),
    * too high and real duplicates survive (n_docs_in_multi
    * collapses); this is the curve that decision should read
    * (q259/q262/q263's tuning-curve discipline applied to q49).
    *
    * Shape at 100 TB: ONE candidate+verify pass (the q23 plan,
    * cached) feeds all four thresholds — the sweep re-filters and
    * re-clusters but never re-shingles; each CC run is the O(log n)
    * star recurrence on a graph that only SHRINKS with τ. Per-τ
    * statistics are one cluster-keyed agg collapsed to a 1-row
    * collect (bounded, q223 discipline); output is |grid| rows. */
  def dedupThresholdCurve(spark: SparkSession, d: String): DataFrame = {
    val (common, sz) = minhashCommonSz(shingleSets(spark, d))
    val pc = CacheScope.cached(common
      .join(sz.toDF("doc_a", "sa"), "doc_a")
      .join(sz.toDF("doc_b", "sb"), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("cm"),
        (col("sa") + col("sb") - col("cm")).cast("long").as("un")))
    // every edge tagged with the HIGHEST grid bar it clears — the
    // grids are nested, so one scan prices all four thresholds
    val tier = PercolationGridPm.sorted.reverse.tail
      .foldLeft(when(col("cm") * 1000L >=
          col("un") * PercolationGridPm.max, PercolationGridPm.max)) {
        (acc, tpm) => acc.when(col("cm") * 1000L >= col("un") * tpm, tpm)
      }
      .otherwise(PercolationGridPm.min) // total: rows are pre-filtered ≥ min
    val tagged = pc
      .filter(col("cm") * 1000L >= col("un") * PercolationGridPm.min)
      .select(col("doc_a"), col("doc_b"), tier.as("tier"))
    val nBase = tagged.count()
    val rows: Seq[(Long, Long, Long, Long, Long)] =
      if (nBase <= DriverCcMaxEdges) {
        // runtime-bounded collect (the count IS the guard): the whole
        // sweep then runs as ONE incremental driver union-find —
        // thresholds descend, edges only ARRIVE, and union-find is
        // exactly the structure that absorbs edge arrivals in near-
        // constant time. Component sizes merge on union; every
        // touched node enters via an edge, so all roots are ≥2-doc
        // clusters and the summary fields fall out of running state.
        val collected = tagged.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        val size = scala.collection.mutable.Map.empty[Long, Long]
        var nComp = 0L; var nDocs = 0L; var nEdges = 0L; var largest = 1L
        def find(x0: Long): Long = {
          var r0 = x0
          while (parent.getOrElse(r0, r0) != r0) r0 = parent(r0)
          var c = x0
          while (parent.getOrElse(c, c) != r0) {
            val nx = parent(c); parent(c) = r0; c = nx
          }
          r0
        }
        def add(x: Long): Unit =
          if (!parent.contains(x)) {
            parent(x) = x; size(x) = 1L; nComp += 1L; nDocs += 1L
          }
        val byTier = collected.groupBy(_._3)
        val out = PercolationGridPm.sorted.reverse.map { tpm =>
          byTier.getOrElse(tpm, Array.empty).foreach { case (a, b, _) =>
            add(a); add(b); nEdges += 1L
            val ra = find(a); val rb = find(b)
            if (ra != rb) {
              val (lo, hi) = (math.min(ra, rb), math.max(ra, rb))
              parent(hi) = lo
              size(lo) = size(lo) + size(hi); size.remove(hi)
              nComp -= 1L
              if (size(lo) > largest) largest = size(lo)
            } else if (size(ra) > largest) largest = size(ra)
          }
          (tpm, nEdges, nComp, nDocs, if (nDocs == 0L) 1L else largest)
        }
        out.sortBy(_._1)
      } else {
        // distributed fallback above the bound: per-τ star-CC over
        // the touched subgraph (the 100 TB path, value-identical).
        // Each per-τ subgraph still passes DriverCcMaxEdges down —
        // the grids are nested, so the HIGH-τ sweeps can be far under
        // the bound even when the τ=min base graph is far over it,
        // and those small rounds ride clusterLabels' adaptive driver
        // union-find instead of paying star-CC round scheduling.
        PercolationGridPm.map { tpm =>
          val pairsT = tagged.filter(col("tier") >= tpm)
            .select(col("doc_a"), col("doc_b"))
          val touched = pairsT.select(col("doc_a").as("doc_id"))
            .union(pairsT.select(col("doc_b").as("doc_id"))).distinct()
          val sizes = clusterLabels(touched, pairsT, DriverCcMaxEdges)
            .groupBy(col("cluster_id")).agg(count(lit(1)).as("n"))
          val nEdges = pairsT.count()
          val s = sizes.agg(
            sum(lit(1L)).as("nm"), sum(col("n")).as("dm"),
            max(col("n")).as("lg")).head()
          if (s.isNullAt(0)) (tpm, nEdges, 0L, 0L, 1L)
          else (tpm, nEdges, s.getLong(0), s.getLong(1), s.getLong(2))
        }
      }
    import spark.implicits._
    rows.toDF("tau_pm", "n_edges", "n_multi_clusters",
        "n_docs_in_multi", "largest_cluster")
      .orderBy(col("tau_pm"))
  }

  /** q270: TEXT NEAR-DUP METHOD AGREEMENT — the q23 (MinHash-LSH,
    * verified Jaccard ≥ 0.5) and q24 (32-bit SimHash, Hamming ≤ 6)
    * pair sets compared head-to-head, with every pair in the union
    * ARBITRATED by its exact 3-gram Jaccard (permille, the shared
    * shingle sets both methods approximate): per agreement category
    * (both / minhash_only / simhash_only) the pair count and the
    * mean/min/max exact Jaccard. This is the q255 modality-agreement
    * question asked WITHIN the text modality, plus the column q255
    * lacks: the disagreement pairs' true similarity tells you which
    * method erred — minhash_only pairs with high exact J are SimHash
    * misses (token-frequency blindness), simhash_only pairs with low
    * exact J are SimHash false candidates — the evidence for choosing
    * ONE method when running both is too expensive.
    *
    * Shape at 100 TB: both inputs are banded candidate+verify
    * operators (never all-pairs); the union is near-dup-pair-mass
    * bounded, the arbiter is two doc-keyed joins onto the shingle-set
    * relation plus per-row array_intersect (sets are doc-length
    * bounded), and the output is a 3-key agg. Exactness: cm/un are
    * exact integers over the SAME polyhash shingle sets as q22/q23,
    * so the oracle replays them bit-for-bit. */
  def textMethodAgreement(spark: SparkSession, d: String): DataFrame = {
    val mh = minhashNearDup(spark, d).select(col("doc_a"), col("doc_b"))
      .withColumn("in_mh", lit(1L))
    val sh = simhash(spark, d).select(col("doc_a"), col("doc_b"))
      .withColumn("in_sh", lit(1L))
    val u = mh.join(sh, Seq("doc_a", "doc_b"), "full_outer")
      .select(col("doc_a"), col("doc_b"),
        coalesce(col("in_mh"), lit(0L)).as("im"),
        coalesce(col("in_sh"), lit(0L)).as("ish"))
      .withColumn("cat",
        when(col("im") === 1L && col("ish") === 1L, "both")
          .when(col("im") === 1L, "minhash_only")
          .otherwise("simhash_only"))
    val hs = shingleSets(spark, d)
    u.join(hs.select(col("doc_id").as("doc_a"), col("hs").as("ha")), "doc_a")
      .join(hs.select(col("doc_id").as("doc_b"), col("hs").as("hb")), "doc_b")
      .withColumn("cm", size(array_intersect(col("ha"), col("hb"))).cast("long"))
      .withColumn("un",
        size(col("ha")).cast("long") + size(col("hb")).cast("long") - col("cm"))
      .withColumn("j_pm", expr("(1000 * cm) div un"))
      .groupBy(col("cat"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("j_pm")).as("sj"),
        min(col("j_pm")).as("min_j_pm"), max(col("j_pm")).as("max_j_pm"))
      .select(col("cat"), col("n_pairs"),
        expr("sj div n_pairs").as("mean_j_pm"),
        col("min_j_pm"), col("max_j_pm"))
      .orderBy(col("cat"))
  }

  /** q278: DEDUP-WEIGHTED EFFECTIVE DATASET SIZE — per source, the
    * "count each unique document once" correction every training-mix
    * planner applies on top of near-dup clustering: each doc weighs
    * 1/|its q49 cluster|, so a source whose docs are all copies of one
    * page contributes ~1 effective doc no matter how many rows it
    * ships. Emitted per source: raw docs, owned canonical docs (the
    * cluster's min-id rep — q49's labels ARE min-ids, so rep ⟺
    * doc_id = cluster_id), effective size in milli (Σ 1000 div
    * cluster_n — the PER-DOC floor is the defined semantic, identical
    * in both engines; the ≤1‰-per-doc floor loss is documented, not
    * hidden), singleton docs, and the inflation ratio
    * (1 000 000·n_docs) div eff_milli (≥1000; 1000 = dup-free). The
    * mix-weight view q221/q222's dup-economics tables stop short of:
    * THE number you divide a source's token budget by before q63's
    * mixture sampling.
    *
    * Shape at 100 TB: rides the PERSISTED cluster-label stage (q49's
    * salted index — no recluster), one doc-keyed join to documents
    * for the source column, one source-keyed hash-agg. Nothing here
    * scales past the label relation itself. */
  def dedupEffectiveSize(spark: SparkSession, d: String): DataFrame = {
    val labels = nearDupClusters(spark, d) // (doc_id, cluster_id, cluster_n)
    val src = Tables.documents(spark, d).select(col("doc_id"), col("source"))
    labels.join(src, "doc_id")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") === col("cluster_id"), 1L).otherwise(0L))
          .as("n_canonical"),
        sum(expr("1000 div cluster_n")).as("eff_milli"),
        sum(when(col("cluster_n") === 1L, 1L).otherwise(0L))
          .as("n_singletons"))
      .withColumn("inflation_milli",
        expr("(1000000 * n_docs) div eff_milli"))
      .orderBy(col("source"))
  }

  /** q290 ablation grid: the shingle orders worth pricing — 3 (the
    * q22/q23 default), 5, and 8 (the q109/q214 span grain). */
  val AblationNs: Seq[Int] = Seq(3, 5, 8)

  /** q290 stop-shingle bar — the q123/q264 df-cap discipline applied
    * uniformly across the grid so the curve prices DISTINCTIVENESS,
    * not the cap. */
  val AblationDfCap = 64L

  /** q290: SHINGLE-SIZE ABLATION — the choose-your-n evidence every
    * dedup config hardcodes blind: for n ∈ {3,5,8}, the distinct
    * n-gram count, how many fall to the df cap (corpus-ubiquitous =
    * useless for identity), and the doc pairs sharing a KEPT gram,
    * split within/cross source. Small n: everything collides (high
    * pair mass, high cap loss — recall-rich, precision-poor); large
    * n: only verbatim spans survive. The ablation-family question
    * (q263's, asked of the dedup axis): q22/q23 fix n = 3 and q109
    * fixes 8 — this prices the space between, so the threshold-curve
    * reading of q266 gets its horizontal twin.
    *
    * Shape at 100 TB: per n ONE kernel shingle pass (per-doc distinct
    * hashes), a gram-keyed df agg, and the pair instances generated by
    * COMBINATIONS-EXPLODE over per-gram doc arrays (r14 — the q127
    * adjacency-array trick applied to the dedup axis): one gram-keyed
    * collect + posexplode×slice instead of the equi-self-join, so the
    * kept-gram relation is shuffled ONCE (the self-join shuffled both
    * copies and sort-merged them; measured at sf0.1: 2.16 → 1.51 s at
    * n=3, identical counts at every grid point). Pair mass is the same
    * Σ C(min(df,cap),2) bound — the df cap bounds every array at the
    * cap, so no collected gram list can exceed it (the PPJoin
    * stop-shingle argument). 2 one-row aggregates folded on the
    * driver (bounded collects). Output is |grid| = 3 rows. */
  def shingleSizeAblation(spark: SparkSession, d: String): DataFrame = {
    // MANUAL persist lifecycle, not CacheScope.cached (r13): each grid
    // point runs TWO internal actions (df stats, pair stats), and the
    // CacheScope contract releases a registered cache after the FIRST
    // completed action — so the expensive pair join was recomputing
    // the shingle pass uncached. The kernel shingle relation and the
    // df relation are persisted across both actions and released when
    // the grid point finishes — in a finally, so a failed action
    // can't leak them for the session lifetime (r13 ADVICE).
    //
    // The grid points are INDEPENDENT (each reads only the corpus and
    // its own persists), so they run as concurrent driver-submitted
    // jobs (guide §2.6 overlap): sequentially the query paid
    // |grid| × 2 driver-synchronized action barriers and each job's
    // straggler tail left the executor idle; concurrently the wall
    // cost is ~the slowest grid point and the next point's tasks
    // back-fill the tail. |grid| = 3 bounds both the threads and
    // the peak persist footprint (3 shingle relations ≤ 3× the n=8
    // one the sequential form already held).
    def gridPoint(n: Int): (Long, Long, Long, Long, Long, Long) = {
      val g = Tables.documentsDist(spark, d)
        .select(col("doc_id"), col("source"),
          explode(graft.functions.GraftFunctions.shingleHashes(
            split(col("text"), " "), n)).as("h"))
        .persist()
      val dfRel = g.groupBy(col("h")).agg(count(lit(1)).as("df")).persist()
      try {
        val dfStats = dfRel.agg(count(lit(1)),
          sum(when(col("df") > AblationDfCap, 1L).otherwise(0L))).head()
        val kept = dfRel.filter(col("df") <= AblationDfCap).select(col("h"))
        val gi = g.join(kept, "h")
        // per-gram doc list (sorted by doc_id — unique per gram, the
        // per-doc hashes are distinct), then all i<j combinations via
        // posexplode + slice: a.doc_id < b.doc_id exactly like the old
        // join predicate
        val byGram = gi.groupBy(col("h"))
          .agg(sort_array(collect_list(struct(col("doc_id"), col("source"))))
            .as("ds"))
          .filter(size(col("ds")) >= 2)
        val pairStats = byGram
          .select(col("ds"), posexplode(col("ds")).as(Seq("i", "a")))
          .select(col("a"),
            explode(slice(col("ds"), col("i") + lit(2),
              size(col("ds")) - col("i") - lit(1))).as("b"))
          .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
            (col("a.source") === col("b.source")).as("same"))
          .distinct()
          .agg(sum(when(col("same"), 1L).otherwise(0L)),
            sum(when(!col("same"), 1L).otherwise(0L))).head()
        val within = if (pairStats.isNullAt(0)) 0L else pairStats.getLong(0)
        val cross = if (pairStats.isNullAt(1)) 0L else pairStats.getLong(1)
        (n.toLong, dfStats.getLong(0), dfStats.getLong(1), within, cross,
          if (within + cross == 0L) 0L else 1000L * cross / (within + cross))
      } finally { g.unpersist(); dfRel.unpersist() }
    }
    // a failing grid point cancels the other two's jobs and surfaces
    // its own error
    val rows = Parallel.all(spark.sparkContext, AblationNs.map(n => () => gridPoint(n)))
    val s = spark
    import s.implicits._
    rows.toDF("n", "grams_distinct", "grams_dropped", "pairs_within",
        "pairs_cross", "cross_share_pm")
      .orderBy(col("n"))
  }

  /** q318: DUPLICATION SIZE SPECTRUM — per near-dup cluster size k
    * (from the persisted q49 labels): how many clusters, how many
    * documents and tokens they hold, and each mass's corpus share in
    * permille. The SHAPE of the duplication problem, which every
    * aggregate view collapses: q221 prices total yield, q278 the
    * count-once correction, q266 the threshold sensitivity — none say
    * whether the dup mass sits in two mega-clusters (one boilerplate
    * source to fix upstream) or a long tail of pairs (LSH-parameter
    * territory). k = 1 reads the never-duplicated baseline share.
    *
    * Shape at 100 TB: the persisted label stage joined once to the
    * row-local token counts, one k-keyed agg over the |distinct
    * sizes|-bounded grid, one one-row totals broadcast. */
  def dupSizeSpectrum(spark: SparkSession, d: String): DataFrame = {
    val labels = nearDupClusters(spark, d)
      .select(col("doc_id"), col("cluster_id"), col("cluster_n"))
    val nt = Tables.documentsDist(spark, d)
      .select(col("doc_id"), size(toks(col("text"))).cast("long").as("n_tok"))
    // cached: the spectrum rollup and the corpus totals both consume it
    val g = CacheScope.cached(labels.join(nt, "doc_id")
      .groupBy(col("cluster_n").as("k"))
      .agg(countDistinct(col("cluster_id")).as("n_clusters"),
        count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens")))
    val tot = g.agg(sum(col("n_docs")).as("td"), sum(col("n_tokens")).as("tt"))
    g.crossJoin(broadcast(tot))
      .select(col("k"), col("n_clusters"), col("n_docs"),
        expr("(1000 * n_docs) div td").as("docs_share_pm"),
        col("n_tokens"),
        expr("(1000 * n_tokens) div tt").as("tokens_share_pm"))
      .orderBy(col("k"))
  }

  /** q344: McNEMAR TEST on the dedup-method disagreement — q270
    * reports the 2×2 (both / minhash_only / simhash_only) with each
    * side's exact-Jaccard arbitration; this runs the PAIRED test that
    * table implies: McNemar's χ²(1df) on the discordant counts,
    * z² = (b−c)²/(b+c) in milli, the discordant odds b/c in milli,
    * and the direction. The question it answers is the method
    * DECISION q270 motivates: "do the two detectors disagree
    * SYSTEMATICALLY (one strictly catches more), or symmetrically
    * (random misses both ways)?" — a significant McNemar with
    * b ≫ c says SimHash is leaving recall on the table, not just
    * behaving differently. Degenerate (b + c = 0 or c = 0) report
    * NULL via div-NULL on both engines.
    *
    * Shape at 100 TB: both inputs are the banded candidate+verify
    * operators (never all-pairs); one full-outer join on the
    * near-dup-pair-bounded sets, one 1-row agg. */
  def mcnemarDedup(spark: SparkSession, d: String): DataFrame = {
    val mh = minhashNearDup(spark, d).select(col("doc_a"), col("doc_b"))
      .withColumn("im", lit(1L))
    val sh = simhash(spark, d).select(col("doc_a"), col("doc_b"))
      .withColumn("ish", lit(1L))
    mh.join(sh, Seq("doc_a", "doc_b"), "full_outer")
      .select(coalesce(col("im"), lit(0L)).as("im"),
        coalesce(col("ish"), lit(0L)).as("ish"))
      .agg(sum(expr("im * ish")).as("n_both"),
        sum(expr("im * (1 - ish)")).as("n_mh_only"),
        sum(expr("ish * (1 - im)")).as("n_sh_only"))
      .select(col("n_both"), col("n_mh_only"), col("n_sh_only"),
        expr("""CASE WHEN n_mh_only + n_sh_only > 0 THEN
             (1000 * (n_mh_only - n_sh_only) * (n_mh_only - n_sh_only))
             div (n_mh_only + n_sh_only) END"""
          .stripMargin.replace("\n", " ")).as("z2_milli"),
        expr("CASE WHEN n_sh_only > 0 THEN" +
          " (1000 * n_mh_only) div n_sh_only END").as("odds_milli"),
        expr("CAST(CASE WHEN n_mh_only > n_sh_only THEN 1" +
          " WHEN n_mh_only < n_sh_only THEN -1 ELSE 0 END AS BIGINT)")
          .as("direction"))
  }
}
